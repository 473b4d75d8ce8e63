"""The deterministic entity extractor exists three times: the Python
callable, its Column form (what the entity queries run), and the
DuckDB twin ``ENTITIES_CTE`` (what the oracle runs). These tests pin
all three to one another on the titles where string functions
disagree most easily across engines."""

import duckdb
import pytest

from pyspark.sql import functions as F

from simple_etl_spark.operators.entities import (
    ENTITIES_CTE,
    ENTITY_SCHEMA,
    deterministic_extractor,
    extract_entities,
)
from simple_etl_spark.operators.medallion import GOLD_CTE
from simple_etl_spark.planinfo import plan_summary

TITLES = [
    # non-ASCII (BMP) and astral (U+1D518) first letters
    ("a1", "École Überall 𝔘niversal 𝔘𝔘𝔘𝔘𝔘 Zebra"),
    # repeated words: one entity, positioned at the first occurrence
    ("a2", "Jakarta banjir Jakarta lagi Jakarta"),
    # a word whose first occurrence is inside an earlier word
    ("a3", "refinding finding perusahaan usaha"),
    # runs of spaces, leading and trailing
    ("a4", "  double   spaced  title   words  "),
    ("a5", ""),
    ("a6", None),
    # case variants are distinct words
    ("a7", "PRESIDEN Presiden presiden"),
]


def _python_rows(min_confidence: float) -> set[tuple]:
    return {
        (aid, word, etype, conf, start, end)
        for aid, text in TITLES
        if text is not None
        for word, etype, conf, start, end in deterministic_extractor(text)
        if conf >= min_confidence
    }


def _duckdb_rows(min_confidence: float) -> set[tuple]:
    """``ENTITIES_CTE``'s own entity clause, over the test titles in
    place of the gold table."""
    con = duckdb.connect()
    con.execute("CREATE TABLE titles (id VARCHAR, title VARCHAR)")
    con.executemany("INSERT INTO titles VALUES (?, ?)", TITLES)
    entities_clause = ENTITIES_CTE[len(GOLD_CTE):]
    assert entities_clause.lstrip().startswith(", entities AS")
    rows = con.execute(
        "WITH gold AS (SELECT * FROM titles)" + entities_clause
        + "SELECT article_id, entity_text, entity_type,"
        " cast(confidence_score AS DOUBLE) FROM entities"
        f" WHERE confidence_score >= {min_confidence}"
    ).fetchall()
    return set(rows)


@pytest.mark.parametrize("min_confidence", [0.5, 0.8])
def test_python_column_and_sql_extractors_agree(spark, min_confidence):
    articles = spark.createDataFrame(TITLES, "id string, title string")
    ents = extract_entities(
        articles, extractor=deterministic_extractor, min_confidence=min_confidence
    )
    assert [(f.name, f.dataType) for f in ents.schema.fields] == [
        (f.name, f.dataType) for f in ENTITY_SCHEMA.fields
    ]
    summary = plan_summary(ents)
    assert summary["map_in_pandas"] == summary["arrow_eval_python"] == 0

    column_rows = {tuple(r) for r in ents.collect()}
    python_rows = _python_rows(min_confidence)
    assert column_rows == python_rows
    # the oracle twin carries no positions
    assert {r[:4] for r in python_rows} == _duckdb_rows(min_confidence)

    # the cases above really occur in the compared rows
    by_word = {(r[0], r[1]): r for r in python_rows}
    if min_confidence == 0.5:
        assert by_word[("a1", "Überall")][2:4] == ("ORG", 0.69)
        assert by_word[("a1", "𝔘niversal")][2:4] == ("PER", 0.51)
        assert by_word[("a1", "Zebra")][4] == 30  # code points, not UTF-16
        assert by_word[("a2", "Jakarta")][4] == 0
        assert by_word[("a3", "finding")][4] == 2  # inside "refinding"
        assert by_word[("a3", "usaha")][4] == 21  # inside "perusahaan"
        assert by_word[("a4", "double")][4] == 2
    else:
        # the filter drops rows in every form, not only in one
        assert 0 < len(python_rows) < len(_python_rows(0.5))


def test_model_backed_extractor_keeps_the_python_lane(spark):
    """A callable without a Column form runs through mapInPandas."""
    articles = spark.createDataFrame(TITLES, "id string, title string")
    ents = extract_entities(
        articles, extractor=lambda text: deterministic_extractor(text)
    )
    assert plan_summary(ents)["map_in_pandas"] == 1
    native = extract_entities(articles, extractor=deterministic_extractor)
    assert ents.exceptAll(native).count() == 0
    assert native.exceptAll(ents).count() == 0
    assert ents.filter(F.col("article_id") == "a6").count() == 0
