"""SQL-facing API surface: SQL scalar functions generated from the
Column rule tables and in-flight observe() metrics — each pinned
against its DataFrame twin.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_sql_functions_match_column_twins(spark):
    from simple_etl_spark.functions.clean import (
        clean_content,
        clean_title,
        gen_id,
        register_sql_functions,
    )

    names = register_sql_functions(spark)
    assert names == ["clean_title_sql", "clean_content_sql", "article_id_sql"]
    rows = [
        ("  A\n\ntitle  ", "Jakarta, CNN Indonesia -- Body ADVERTISEMENT junk "
         "SCROLL TO CONTINUE WITH CONTENT more (FOTO: x) [Gambas:Video CNN] "
         "Lihat Juga : teaser\nrest", "https://x/a"),
        ("plain", "no boilerplate at all", "https://x/b"),
    ]
    df = spark.createDataFrame(rows, "title string, content string, link string")
    df.createOrReplaceTempView("bronze_sqlfn")
    via_sql = spark.sql(
        "SELECT clean_title_sql(title) AS t, clean_content_sql(content) AS c, "
        "article_id_sql(link) AS i FROM bronze_sqlfn"
    ).collect()
    via_col = df.select(
        clean_title("title").alias("t"),
        clean_content("content").alias("c"),
        gen_id("link").alias("i"),
    ).collect()
    assert [tuple(r) for r in via_sql] == [tuple(r) for r in via_col]


def test_promote_with_metrics_single_action(spark, tmp_path):
    from simple_etl_spark.observability import promote_with_metrics

    bronze = spark.createDataFrame(
        [(1, "ok"), (2, None), (3, "ok"), (4, "")],
        "id bigint, content string",
    )
    out = str(tmp_path / "silver")

    stats = promote_with_metrics(
        bronze,
        promote=lambda b: b.filter(
            F.col("content").isNotNull() & (F.col("content") != "")
        ),
        sink=lambda s: s.write.mode("overwrite").parquet(out),
    )
    assert stats == {"bronze_rows": 4, "silver_rows": 2, "dropped": 2}
    assert spark.read.parquet(out).count() == 2


def test_observed_counts(spark):
    from simple_etl_spark.observability import observed_counts

    df, obs = observed_counts(spark.range(37), "n")
    df.write.format("noop").mode("overwrite").save()
    assert obs.get["rows"] == 37
