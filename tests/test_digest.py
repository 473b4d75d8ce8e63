"""The distributed order-independent digest (tools/digest.py) is the
clean-vs-faulted / cfgA-vs-cfgB identity check at sf10, where
collect+canonicalize would land ~10M rows on a 6 GB driver
(SCALE.md §8c). Its contract: partitioning- and order-independent,
null-exact, last-ulp-float-stable, and change-sensitive."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from digest import agg_hash, digest_queries  # noqa: E402


@pytest.fixture(scope="module")
def frames(spark):
    rows = [(i, f"s{i % 7}", float(i) / 3.0 if i % 5 else None)
            for i in range(500)]
    schema = "k int, s string, v double"
    return spark, rows, schema


def test_partitioning_and_order_independent(frames):
    spark, rows, schema = frames
    a = spark.createDataFrame(rows, schema).repartition(1)
    b = spark.createDataFrame(list(reversed(rows)), schema).repartition(17, "s")
    ha, na = agg_hash(a)
    hb, nb = agg_hash(b)
    assert ha == hb and na == nb == 500


def test_null_position_not_collided(frames):
    """concat_ws skips nulls; the sentinel must keep (a,NULL,b) and
    (a,b,NULL) distinct."""
    spark, _, _ = frames
    a = spark.createDataFrame([("a", None, "b")], "x string, y string, z string")
    b = spark.createDataFrame([("a", "b", None)], "x string, y string, z string")
    assert agg_hash(a)[0] != agg_hash(b)[0]


def test_null_not_collided_with_literal_null_string(frames):
    spark, _, _ = frames
    a = spark.createDataFrame([(None,)], "v double")
    b = spark.createDataFrame([(float("nan"),)], "v double")
    assert agg_hash(a)[0] != agg_hash(b)[0]


def test_float_last_ulp_reorder_stable(frames):
    """A fault-induced recompute may reorder a float aggregation and
    move the last ulp — that must NOT read as a mismatch (ADVICE
    r11), while a real change must."""
    spark, _, _ = frames
    a = spark.createDataFrame([(1, 0.1 + 0.2), (2, None)], "k int, v double")
    b = spark.createDataFrame([(2, None), (1, 0.3)], "k int, v double")
    assert agg_hash(a)[0] == agg_hash(b)[0]
    c = spark.createDataFrame([(1, 0.3001), (2, None)], "k int, v double")
    assert agg_hash(a)[0] != agg_hash(c)[0]


def test_change_and_duplicate_sensitive(frames):
    spark, rows, schema = frames
    base = spark.createDataFrame(rows, schema)
    edited = spark.createDataFrame(
        [(k, ("zz" if k == 250 else s), v) for k, s, v in rows], schema
    )
    assert agg_hash(base)[0] != agg_hash(edited)[0]
    # xor alone would cancel a duplicated row pair; count+sum catch it
    doubled = base.union(spark.createDataFrame(rows[:2], schema))
    assert agg_hash(base)[0] != agg_hash(doubled)[0]


def test_digest_queries_match_agg_hash(spark, sf_dir):
    """``python tools/digest.py <dir> <query>...`` prints exactly the
    registered queries' ``agg_hash``, one record per query, in order."""
    from simple_etl_spark import queries

    names = ["llm_resize", "m_clean_roundtrip"]
    want = []
    for name in names:
        h, n = agg_hash(queries.queries()[name](spark, sf_dir))
        want.append({"query": name, "dir": sf_dir, "rows": n, "hash": h})
    assert digest_queries(spark, sf_dir, names) == want


def test_cluster_validate_mode_cutover(tmp_path, monkeypatch):
    """The sweep retires the collect path above ~100 MB of input and
    honors the env override both ways."""
    import importlib

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    import cluster_validate as cv

    importlib.reload(cv)
    small = tmp_path / "t.parquet"
    small.write_bytes(b"x" * 1024)
    assert cv._hash_mode() == "collect"
    with open(tmp_path / "big.parquet", "wb") as fh:
        fh.truncate(cv._AGG_CUTOVER_BYTES + 1)
    assert cv._hash_mode() == "agg"
    monkeypatch.setenv("SPARK_GRAFT_CLUSTER_HASH", "collect")
    assert cv._hash_mode() == "collect"
    monkeypatch.setenv("SPARK_GRAFT_CLUSTER_HASH", "agg")
    assert cv._hash_mode() == "agg"
