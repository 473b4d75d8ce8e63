"""Stats-manifest data skipping: manifest correctness, conservative
pruning, and composition with Z-order compaction (narrow per-file
intervals → real file skipping with identical results)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from simple_etl_spark.sources.manifest import (
    load_manifest,
    prune_files,
    read_pruned,
    write_manifest,
)
from simple_etl_spark.sources.table_store import (
    compact,
    table_path,
    write_table,
)


@pytest.fixture()
def ztable(spark, tmp_path):
    base = str(tmp_path / "zt")
    side = 32
    df = spark.range(side * side).select(
        (F.col("id") % side).alias("x"),
        ((F.col("id") / side).cast("bigint") % side).alias("y"),
    )
    write_table(df, base)
    compact(spark, base, target_file_bytes=1500, zorder_by=["x", "y"], zorder_bits=5)
    return base, side


def test_commit_writes_manifest(spark, tmp_path):
    base = str(tmp_path / "t")
    write_table(spark.range(10).select(F.col("id").alias("v")), base)
    m = load_manifest(table_path(base))
    assert m is not None and m["files"]
    mins = [f["columns"]["v"]["min"] for f in m["files"].values()]
    maxs = [f["columns"]["v"]["max"] for f in m["files"].values()]
    assert min(mins) == 0 and max(maxs) == 9
    assert sum(f["rows"] for f in m["files"].values()) == 10


def test_prune_is_conservative_and_effective(spark, ztable):
    base, side = ztable
    snap = table_path(base)
    kept, total = prune_files(snap, "y", 3, 3)
    assert total >= 4
    assert 0 < len(kept) < total  # skips real files, keeps some
    # every matching row survives pruning
    got = read_pruned(spark, snap, "y", 3, 3)
    assert got.count() == side  # one full row of the grid
    full = (
        spark.read.parquet(snap).filter(F.col("y").between(3, 3)).count()
    )
    assert got.count() == full


def test_prune_empty_interval_returns_zero_rows(spark, ztable):
    base, _ = ztable
    snap = table_path(base)
    assert read_pruned(spark, snap, "y", 10_000, 20_000).count() == 0


def test_missing_column_stats_keep_file(spark, tmp_path):
    base = str(tmp_path / "m")
    write_table(spark.range(5).select(F.col("id").alias("v")), base)
    snap = table_path(base)
    kept, total = prune_files(snap, "no_such_col", 0, 1)
    assert len(kept) == total  # conservative: unknown stats never skip


def test_string_stats_roundtrip(spark, tmp_path):
    base = str(tmp_path / "s")
    write_table(
        spark.createDataFrame(
            [("alpha",), ("beta",), ("gamma",)], "name string"
        ),
        base,
    )
    snap = table_path(base)
    m = load_manifest(snap)
    stats = [
        f["columns"]["name"] for f in m["files"].values() if f["columns"]
    ]
    assert min(s["min"] for s in stats) == "alpha"
    assert max(s["max"] for s in stats) == "gamma"
    # the interval [delta, epsilon] intersects [beta, gamma]-ish files
    kept, total = prune_files(snap, "name", "delta", "epsilon")
    assert 0 < len(kept) <= total


def test_manifest_survives_hive_partitioning(spark, tmp_path):
    base = str(tmp_path / "h")
    df = spark.range(20).select(
        (F.col("id") % 2).alias("p"), F.col("id").alias("v")
    )
    write_table(df, base, partition_by=["p"])
    m = load_manifest(table_path(base))
    assert m and all("v" in f["columns"] for f in m["files"].values())


def test_hive_partition_columns_survive_pruned_read(spark, tmp_path):
    base = str(tmp_path / "hp")
    df = spark.range(20).select(
        (F.col("id") % 2).alias("p"), F.col("id").alias("v")
    )
    write_table(df, base, partition_by=["p"])
    snap = table_path(base)
    got = read_pruned(spark, snap, "v", 3, 8)
    assert set(got.columns) == {"p", "v"}  # partition column preserved
    assert got.count() == 6
    # filtering on the PARTITION column resolves too (manifest has no
    # stats for it → conservative keep-all, basePath restores the col)
    assert read_pruned(spark, snap, "p", 1, 1).count() == 10
    # empty-interval branch returns the same schema
    assert set(read_pruned(spark, snap, "v", 999, 999).columns) == {"p", "v"}


# -- the manifest as the metadata path: read schema and row counts ---------


def _typed_frame(spark):
    """Rows covering nested, decimal, temporal and binary types, with
    non-nullable columns (the footer records them ``nullable: false``;
    Spark reads every column nullable)."""
    return spark.range(40).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("grp"),
        F.lit(7).alias("const"),
        (F.col("id") / 3).cast("decimal(18,6)").alias("dec"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("day"),
        F.col("id").cast("timestamp").alias("ts"),
        F.array(F.col("id"), F.lit(1)).alias("arr"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("st"),
        F.col("id").cast("string").cast("binary").alias("bin"),
    )


def _commit_plain(spark, base):
    write_table(_typed_frame(spark), base)


def _commit_partitioned(spark, base):
    write_table(_typed_frame(spark), base, partition_by=["grp"])


def _commit_compacted(spark, base):
    write_table(_typed_frame(spark).repartition(8), base)
    compact(spark, base)


def _commit_zordered(spark, base):
    write_table(_typed_frame(spark), base)
    compact(spark, base, target_file_bytes=2000, zorder_by=["id", "const"],
            zorder_bits=6)


def _commit_rollup(spark, base):
    from simple_etl_spark.operators.rollup_store import upsert_rollup

    events = spark.range(60).select(
        F.col("id").alias("user_id"),
        (F.col("id") * 3600).cast("timestamp").alias("ts"),
        (F.col("id") / 7).alias("value"),
    )
    upsert_rollup(spark, base, events.filter("user_id < 30"))
    upsert_rollup(spark, base, events.filter("user_id >= 30"))


def _commit_deleted(spark, base):
    from simple_etl_spark.sources.table_store import delete_by_keys

    write_table(_typed_frame(spark), base)
    keys = spark.createDataFrame([("1",), ("3",)], "grp string")
    delete_by_keys(spark, base, keys, ["grp"])


@pytest.mark.parametrize(
    "commit",
    [_commit_plain, _commit_partitioned, _commit_compacted, _commit_zordered,
     _commit_rollup, _commit_deleted],
    ids=["plain", "hive_partitioned", "compact", "compact_zorder", "rollup",
         "delete_by_keys"],
)
def test_read_schema_equals_inferred_schema(spark, tmp_path, commit):
    """Every snapshot kind reads with exactly the schema Spark's own
    inference gives, and the manifest's row count is exact."""
    from simple_etl_spark.sources.table_store import read_table, table_rows

    base = str(tmp_path / "t")
    commit(spark, base)
    snap = table_path(base)
    inferred = spark.read.parquet(snap)
    assert read_table(spark, base).schema == inferred.schema
    assert table_rows(spark, base) == inferred.count()


def test_schema_recorded_only_for_unpartitioned_snapshots(spark, tmp_path):
    """A partitioned snapshot keeps Spark's directory-name type
    inference: its manifest records no schema."""
    _commit_plain(spark, str(tmp_path / "flat"))
    _commit_partitioned(spark, str(tmp_path / "hive"))
    flat = load_manifest(table_path(str(tmp_path / "flat")))
    hive = load_manifest(table_path(str(tmp_path / "hive")))
    assert all(f["nullable"] for f in flat["schema"]["fields"])
    assert "schema" not in hive


def test_manifest_less_snapshot_still_reads(spark, tmp_path):
    """Snapshots without a manifest (written before the store wrote
    one) infer and count as before."""
    from simple_etl_spark.sources.manifest import MANIFEST_NAME
    from simple_etl_spark.sources.table_store import read_table, table_rows

    base = str(tmp_path / "bare")
    _commit_plain(spark, base)
    snap = table_path(base)
    os.remove(os.path.join(snap, MANIFEST_NAME))
    got = read_table(spark, base)
    assert got.schema == spark.read.parquet(snap).schema
    assert got.count() == table_rows(spark, base) == 40


def test_manifest_error_aborts_the_commit(spark, tmp_path, monkeypatch):
    """A manifest that cannot be written fails the commit before the
    pointer swap: the table stays at its prior version and rows, and a
    retried commit succeeds."""
    from simple_etl_spark.sources import table_store
    from simple_etl_spark.sources.table_store import (
        current_version,
        read_table,
        table_rows,
    )

    base = str(tmp_path / "abort")
    write_table(spark.range(5).select(F.col("id").alias("v")), base)

    def broken(path, source_version=None):
        raise OSError("disk full")

    monkeypatch.setattr(table_store, "write_manifest", broken)
    with pytest.raises(OSError, match="disk full"):
        write_table(spark.range(9).select(F.col("id").alias("v")), base)
    assert current_version(base) == 1
    assert sorted(r["v"] for r in read_table(spark, base).collect()) == list(range(5))

    monkeypatch.undo()
    write_table(spark.range(9).select(F.col("id").alias("v")), base)
    assert current_version(base) == 2
    assert load_manifest(table_path(base)) is not None
    assert table_rows(spark, base) == 9
    assert sorted(r["v"] for r in read_table(spark, base).collect()) == list(range(9))


def _jobs_in_group(spark, body) -> int:
    """Spark jobs ``body`` launches, counted under a fresh job group."""
    import uuid

    group = f"jobs-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        body()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_table_and_table_rows_launch_no_job(spark, tmp_path):
    from simple_etl_spark.sources.table_store import read_table, table_rows

    base = str(tmp_path / "nojob")
    _commit_plain(spark, base)

    def resolve():
        assert read_table(spark, base).columns[0] == "id"
        assert table_rows(spark, base) == 40

    assert _jobs_in_group(spark, resolve) == 0
    # the inferring read it replaces launches one
    snap = table_path(base)
    assert _jobs_in_group(spark, lambda: spark.read.parquet(snap)) == 1


@pytest.mark.parametrize("partitioned", [True, False],
                         ids=["partition_drop", "filter_rewrite"])
def test_purged_snapshot_has_manifest(spark, tmp_path, partitioned):
    """Both purge modes commit a manifest: read_pruned and the
    row count work on the purged table."""
    import datetime as dt

    from simple_etl_spark.sources.table_store import purge_older_than, table_rows

    base = str(tmp_path / "events")
    df = spark.range(30).select(
        F.col("id").alias("n"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   (F.col("id") % 10).cast("int")).alias("d"),
    )
    write_table(df, base, partition_by=["d"] if partitioned else None)
    out = purge_older_than(spark, base, "d", days=3, anchor=dt.date(2024, 1, 10))
    assert out["mode"] == ("partition-drop" if partitioned else "filter-rewrite")
    snap = table_path(base)
    assert load_manifest(snap) is not None
    assert table_rows(spark, base) == 12  # days 07..10, 3 rows each
    assert read_pruned(spark, snap, "n", 0, 9).count() == 4  # n = 6..9


def test_partition_drop_purge_ignores_crashed_leftovers(spark, tmp_path):
    """A crashed uncommitted write can leave the next version's
    directory behind; the purge that reuses that version number must
    not carry its files (or their rows) into the committed snapshot."""
    import datetime as dt
    import shutil

    from simple_etl_spark.sources.table_store import purge_older_than, table_rows

    base = str(tmp_path / "events")
    df = spark.range(30).select(
        F.col("id").alias("n"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   (F.col("id") % 10).cast("int")).alias("d"),
    )
    write_table(df, base, partition_by=["d"])
    # leftover v2: a copy of a kept partition under the v2 name
    shutil.copytree(os.path.join(table_path(base), "d=2024-01-10"),
                    os.path.join(base, "v2", "d=2024-01-10"),
                    ignore=shutil.ignore_patterns("_*", ".*"))
    for f in os.listdir(os.path.join(base, "v2", "d=2024-01-10")):
        os.rename(os.path.join(base, "v2", "d=2024-01-10", f),
                  os.path.join(base, "v2", "d=2024-01-10", "stale-" + f))
    out = purge_older_than(spark, base, "d", days=3, anchor=dt.date(2024, 1, 10))
    assert out["version"] == 2
    assert table_rows(spark, base) == 12
    assert spark.read.parquet(table_path(base)).count() == 12
