"""Session tuning must be reversible: a session latency-tuned for a
small input dir has to return to its built (at-scale) posture when
re-tuned against large data — conf.unset alone would fall back to
Spark's hard defaults (200 shuffle partitions), not the session's."""

from __future__ import annotations

import os

import pytest

from simple_etl_spark.engine import SMALL_INPUT_BYTES, tune_for_input


@pytest.fixture()
def big_dir(tmp_path):
    """A directory whose .parquet members sum past the small-input bar
    (sparse file — no real IO)."""
    p = tmp_path / "big.parquet"
    with open(p, "wb") as fh:
        fh.truncate(SMALL_INPUT_BYTES + 1)
    return str(tmp_path)


def test_retune_large_restores_pretune_posture(spark, sf_dir, big_dir):
    built = spark.conf.get("spark.sql.shuffle.partitions")

    tune_for_input(spark, sf_dir)  # sf0.001 is far below 1 GiB
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == str(4 << 20)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    tune_for_input(spark, big_dir)
    assert spark.conf.get("spark.sql.shuffle.partitions") == built
    # never explicitly set at build time -> restored to engine default
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") != str(4 << 20)
    # AQE flag rides the stash too: built with true, restored to true
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    # and tuning small again still works after the round-trip
    tune_for_input(spark, sf_dir)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    tune_for_input(spark, big_dir)
    assert spark.conf.get("spark.sql.shuffle.partitions") == built


def test_tune_missing_dir_is_noop(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    tune_for_input(spark, os.path.join("/nonexistent", "nowhere"))
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_cluster_posture_carries_decommission_knobs():
    """The at-scale posture must include the graceful-decommission
    family AND the forceKillTimeout: without the timeout a drained
    executor lingers in the decommissioned state indefinitely
    (observed across three fault-matrix cells, SCALE.md §8b) — a slot
    leak a real fleet would rediscover the hard way. Pinning the dict
    keeps the posture from silently losing a knob."""
    from simple_etl_spark.engine import CLUSTER_POSTURE

    assert CLUSTER_POSTURE["spark.decommission.enabled"] == "true"
    assert CLUSTER_POSTURE["spark.storage.decommission.enabled"] == "true"
    assert (
        CLUSTER_POSTURE["spark.storage.decommission.shuffleBlocks.enabled"]
        == "true"
    )
    assert (
        CLUSTER_POSTURE["spark.storage.decommission.rddBlocks.enabled"]
        == "true"
    )
    # any positive bound is fine; absence is the bug
    assert CLUSTER_POSTURE[
        "spark.executor.decommission.forceKillTimeout"
    ].rstrip("s").isdigit()


def test_get_spark_session_carries_the_codegen_cache_cap(spark):
    from simple_etl_spark.engine import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_codegen_stats_keys(spark):
    from simple_etl_spark.observability import codegen_stats

    before = codegen_stats(spark)
    assert set(before) == {"compiles", "compile_ms_mean", "classes_loaded"}
    assert isinstance(before["compiles"], int)
    assert isinstance(before["classes_loaded"], int)
    assert before["compile_ms_mean"] >= 0
    spark.range(7).selectExpr("sum(id * 3 + 11) AS s").collect()
    after = codegen_stats(spark)
    assert after["compiles"] >= before["compiles"]
    assert after["classes_loaded"] >= before["classes_loaded"]


def test_query_mix_repeat_compiles_no_classes(spark, sf_dir):
    """The six query_mix views need more generated classes than Spark's
    default cache (100 entries, segmented LRU) keeps, so at the default
    every cycle recompiled part of them (109 classes in this session);
    the engine's cap holds them, so a second cycle compiles nothing."""
    from perfbench.workloads import QUERY_MIX
    from simple_etl_spark.observability import codegen_stats
    from simple_etl_spark.queries import queries

    fns = queries()

    def cycle():
        for q in QUERY_MIX:
            fns[q](spark, sf_dir).collect()

    cycle()
    before = codegen_stats(spark)
    cycle()
    after = codegen_stats(spark)
    assert after["compiles"] - before["compiles"] == 0
