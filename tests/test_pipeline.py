"""E1 end-to-end pipeline tests (SURVEY §3): the full crawl →
transport → bronze → silver → gold → index run with injected
deterministic fetchers, plus re-run idempotency and the snapshot
store's atomicity contract.
"""

from __future__ import annotations

import pytest

from simple_etl_spark.pipeline import get_statistics, run_batch_pipeline
from simple_etl_spark.sources.table_store import (
    current_version,
    purge_older_than,
    read_table,
    vacuum,
    write_table,
)

ARTICLES = {
    1: [
        {"title": "  Breaking News One  ", "link": "https://x/news/1",
         "image": "img1", "date_raw": "Senin, 01 Januari 2024 10:00 WIB", "topic": "nasional"},
        {"title": "Tech Story", "link": "https://x/news/2",
         "image": "No image", "date_raw": "Selasa, 02 Januari 2024 11:30 WIB", "topic": "teknologi"},
    ],
    2: [
        {"title": "Economy Update", "link": "https://x/news/3",
         "image": "img3", "date_raw": "Rabu, 03 Januari 2024 09:15 WIB", "topic": "ekonomi"},
        {"title": "Dead Link", "link": "https://x/news/404",
         "image": None, "date_raw": "Rabu, 03 Januari 2024 09:20 WIB", "topic": "nasional"},
    ],
}

CONTENT = {
    "https://x/news/1": "Isi berita pertama. " * 20,
    "https://x/news/2": "Konten teknologi hari ini. " * 30,
    "https://x/news/3": "Analisis ekonomi terkini. " * 25,
    # /news/404 → None (fetch failure is dropped, crawler/cnn.py:77-79)
}


# bronze-shaped article rows, as the streaming consumer reads them
STREAM_SCHEMA = (
    "id string, title string, link string, image string, date_raw string, "
    "topic string, content string, source string, created_at timestamp"
)


def _listing(page: int) -> list[dict]:
    return ARTICLES.get(page, [])



@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "wh")


def test_batch_pipeline_end_to_end(spark, warehouse):
    tally = run_batch_pipeline(
        spark, warehouse, pages=2, listing_fetcher=_listing, content_fetcher=CONTENT.get
    )
    assert tally["crawled"] == 3  # dead link dropped at fetch
    assert tally["kafka_sent"] == 3
    assert tally["bronze_saved"] == 3
    assert tally["silver_processed"] == 3
    assert tally["gold_processed"] == 3  # all pass validation
    stats = get_statistics(spark, warehouse)
    assert stats["total_articles"] == 3
    assert stats["recent_articles"] == 3
    assert stats["by_topic"][0]["count"] == 1  # three distinct topics

    # gold rows carry the derived analytics columns
    gold = read_table(spark, f"{warehouse}/gold")
    row = gold.filter(gold.link == "https://x/news/1").collect()[0]
    assert row["title"] == "Breaking News One"  # clean_title trimmed
    assert row["word_count"] > 0
    assert row["has_image"]

    # search index has postings for obvious tokens
    postings = read_table(spark, f"{warehouse}/search_index")
    assert postings.filter(postings.token == "teknologi").count() >= 1


def test_pipeline_rerun_is_idempotent(spark, warehouse):
    t1 = run_batch_pipeline(
        spark, warehouse, pages=2, listing_fetcher=_listing, content_fetcher=CONTENT.get
    )
    t2 = run_batch_pipeline(
        spark, warehouse, pages=2, listing_fetcher=_listing, content_fetcher=CONTENT.get
    )
    # re-crawl of identical articles is a no-op in every layer
    assert t2["bronze_saved"] == t1["bronze_saved"] == 3
    assert t2["silver_processed"] == 3
    assert t2["gold_processed"] == 3
    # snapshot store advanced versions without disturbing readers
    assert current_version(f"{warehouse}/bronze") == 2


def test_table_store_pointer_swap_and_vacuum(spark, tmp_path):
    base = str(tmp_path / "tbl")
    df1 = spark.range(5)
    df2 = spark.range(9)
    write_table(df1, base)
    assert read_table(spark, base).count() == 5
    # merge-style read-modify-write of the same logical table
    merged = read_table(spark, base).union(df2)
    write_table(merged, base)
    assert read_table(spark, base).count() == 14
    assert current_version(base) == 2
    removed = vacuum(base, keep=1)
    assert len(removed) == 1 and removed[0].endswith("v1")
    assert read_table(spark, base).count() == 14


def test_purge_older_than_partition_drop(spark, tmp_path):
    """S12 retention purge as a mutation: date-partition drop through
    a new snapshot — old partitions gone from the committed view, old
    snapshot intact until vacuum, commit atomic (pointer swap last)."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    base = str(tmp_path / "events")
    days = [(dt.date(2024, 1, 1) + dt.timedelta(days=i)) for i in range(10)]
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(days) for _ in range(3)], ["n", "d"]
    ).withColumn("d", F.col("d").cast("date"))
    write_table(df, base, partition_by=["d"])
    assert read_table(spark, base).count() == 30

    out = purge_older_than(
        spark, base, "d", days=3, anchor=dt.date(2024, 1, 10)
    )
    # cutoff 2024-01-07: days 01..06 dropped, 07..10 kept
    assert out["mode"] == "partition-drop"
    assert len(out["dropped_partitions"]) == 6
    assert current_version(base) == 2

    kept = read_table(spark, base)
    assert kept.count() == 12  # 4 days x 3 rows
    assert kept.agg(F.min("d")).collect()[0][0] == dt.date(2024, 1, 7)

    # old snapshot still on disk (readers mid-scan unaffected)...
    assert os.path.isdir(os.path.join(base, "v1"))
    removed = vacuum(base, keep=1)
    # ...until vacuum reclaims it
    assert [p for p in removed if p.endswith("v1")]
    assert read_table(spark, base).count() == 12


def test_purge_older_than_filter_rewrite_fallback(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    base = str(tmp_path / "flat")
    days = [(dt.date(2024, 1, 1) + dt.timedelta(days=i)) for i in range(10)]
    df = spark.createDataFrame([(d,) for d in days], ["d"]).withColumn(
        "d", F.col("d").cast("date")
    )
    write_table(df, base)  # unpartitioned
    out = purge_older_than(spark, base, "d", days=3, anchor=dt.date(2024, 1, 10))
    assert out["mode"] == "filter-rewrite"
    assert read_table(spark, base).count() == 4


def test_streaming_pipeline_end_to_end(spark, tmp_path):
    import datetime as dt

    from simple_etl_spark.pipeline import run_streaming_pipeline

    wh = str(tmp_path / "swh")
    src = str(tmp_path / "stream_src")
    t = dt.datetime(2024, 2, 5, 8, 0)
    rows = [
        ("id1", "Uji Satu", "https://x/n/1", "i1",
         "Senin, 05 Februari 2024 08:00 WIB", "nasional", "Konten uji. " * 30,
         "cnn", t),
        ("id2", "Uji Dua", "https://x/n/2", "i2",
         "Senin, 05 Februari 2024 09:00 WIB", "teknologi", "Konten lain. " * 30,
         "cnn", t),
    ]
    spark.createDataFrame(rows, STREAM_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(STREAM_SCHEMA).parquet(src)
    tally = run_streaming_pipeline(
        spark, stream, wh, checkpoint=str(tmp_path / "ckpt")
    )
    assert tally == {"bronze_saved": 2, "silver_processed": 2, "gold_processed": 2}


def test_gold_is_date_partitioned_and_prunes(spark, warehouse):
    import os

    from simple_etl_spark.sources.table_store import read_table, table_path

    run_batch_pipeline(
        spark, warehouse, pages=2, listing_fetcher=_listing, content_fetcher=CONTENT.get
    )
    snap = table_path(f"{warehouse}/gold")
    parts = [d for d in os.listdir(snap) if d.startswith("publish_date=")]
    assert len(parts) >= 2  # one dir per publish date
    gold = read_table(spark, f"{warehouse}/gold")
    plan = (
        gold.filter(gold.publish_date == "2024-01-01")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the date predicate must reach the scan as a partition filter
    # (pruned directory listing), not a post-scan row filter
    pf = plan[plan.find("PartitionFilters") :].split("]", 1)[0]
    assert "publish_date" in pf


def test_concurrent_commits_serialize_one_winner_each(spark, tmp_path):
    """Two writers racing the same table must serialize on the commit
    lock: distinct versions, no v{N} collision, pointer at the last
    committed snapshot, both snapshots complete."""
    from concurrent.futures import ThreadPoolExecutor

    from simple_etl_spark.sources import table_store as ts

    base = str(tmp_path / "race_tbl")

    def commit(tag: int) -> str:
        df = spark.range(100).selectExpr("id", f"{tag} AS writer")
        return ts.write_table(df, base)

    with ThreadPoolExecutor(max_workers=2) as ex:
        paths = list(ex.map(commit, [1, 2]))

    assert sorted(paths) == [f"{base}/v1", f"{base}/v2"]
    assert ts.current_version(base) == 2
    # both snapshots are complete, readable parquet
    for p in paths:
        assert spark.read.parquet(p).count() == 100
    # the winner's snapshot is homogeneous — no interleaved writers
    winners = ts.read_table(spark, base).select("writer").distinct().collect()
    assert len(winners) == 1
    # lockfile released
    import os

    assert not os.path.exists(os.path.join(base, "_COMMIT_LOCK"))


def test_commit_lock_timeout_names_stale_lock(tmp_path):
    import os

    import pytest as pt

    from simple_etl_spark.sources import table_store as ts

    base = str(tmp_path / "stale_tbl")
    os.makedirs(base)
    with open(os.path.join(base, "_COMMIT_LOCK"), "w") as fh:
        fh.write("pid=99999 acquired=2026-01-01T00:00:00Z")
    # the error surfaces the recorded holder so operators can tell a
    # stale lock (dead pid / old acquire stamp) from a slow live commit
    with pt.raises(TimeoutError, match=r"pid=99999 acquired=2026"):
        with ts.commit_lock(base, timeout=0.3):
            pass


def test_commit_lock_records_holder_metadata(tmp_path):
    import os

    from simple_etl_spark.sources import table_store as ts

    base = str(tmp_path / "meta_tbl")
    with ts.commit_lock(base):
        with open(os.path.join(base, "_COMMIT_LOCK")) as fh:
            content = fh.read()
        assert f"pid={os.getpid()}" in content
        assert "acquired=" in content
    assert not os.path.exists(os.path.join(base, "_COMMIT_LOCK"))


def test_compact_coalesces_small_files(spark, tmp_path):
    """Many tiny files in, right-sized files out, same rows, committed
    as a new snapshot (readers of the old one are never disturbed)."""
    from simple_etl_spark.sources import table_store as ts

    base = str(tmp_path / "compact_tbl")
    df = spark.range(10_000).selectExpr("id", "id % 7 AS grp")
    ts.write_table(df.repartition(64), base)  # simulate micro-batch litter
    before = ts.current_version(base)

    out = ts.compact(spark, base)
    assert out["files_before"] >= 64
    assert out["files_after"] == 1  # 10k rows ≪ 128 MiB target
    assert out["version"] == before + 1
    got = ts.read_table(spark, base)
    assert got.count() == 10_000
    assert got.selectExpr("sum(id) AS s").collect()[0]["s"] == sum(range(10_000))


def test_compact_preserves_hive_partitioning(spark, tmp_path):
    import os

    from simple_etl_spark.sources import table_store as ts

    base = str(tmp_path / "compact_part_tbl")
    df = spark.range(1_000).selectExpr(
        "id", "cast(id % 3 AS string) AS day"
    )
    ts.write_table(df.repartition(16), base, partition_by=["day"])
    out = ts.compact(spark, base, partition_by=["day"])
    parts = sorted(
        e.name for e in os.scandir(out["path"]) if e.name.startswith("day=")
    )
    assert parts == ["day=0", "day=1", "day=2"]
    assert ts.read_table(spark, base).count() == 1_000


def test_time_travel_reads_old_snapshots(spark, tmp_path):
    """Every un-vacuumed version reads exactly as committed; vacuumed
    versions fail loudly with the surviving horizon listed."""
    import pytest

    from simple_etl_spark.sources import table_store as ts

    base = str(tmp_path / "tt")
    for n in (1, 2, 3):
        ts.write_table(spark.range(n * 10).toDF("id"), base)
    assert ts.list_versions(base) == [1, 2, 3]
    assert ts.read_table_at(spark, base, 1).count() == 10
    assert ts.read_table_at(spark, base, 2).count() == 20
    assert ts.read_table(spark, base).count() == 30
    ts.vacuum(base, keep=2)
    assert ts.list_versions(base) == [2, 3]
    with pytest.raises(FileNotFoundError):
        ts.read_table_at(spark, base, 1)


def test_time_travel_hides_uncommitted_versions(spark, tmp_path):
    """A v{N} directory beyond the pointer (in-flight or crashed
    write) must never be listed or readable — its version number will
    be reused by the next commit."""
    import os

    import pytest

    from simple_etl_spark.sources import table_store as ts

    base = str(tmp_path / "tt")
    ts.write_table(spark.range(5).toDF("id"), base)
    # simulate a crashed writer: v2 exists, pointer still at 1
    os.makedirs(os.path.join(base, "v2"))
    assert ts.list_versions(base) == [1]
    with pytest.raises(FileNotFoundError):
        ts.read_table_at(spark, base, 2)
    # the next commit reuses and commits version 2 cleanly
    ts.write_table(spark.range(7).toDF("id"), base)
    assert ts.read_table_at(spark, base, 2).count() == 7


def test_snapshot_diff_tags_changes(spark, tmp_path):
    from pyspark.sql import functions as F

    from simple_etl_spark.sources.table_store import snapshot_diff, write_table

    base = str(tmp_path / "difftable")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
    )
    write_table(v1, base)
    v2 = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "k bigint, v string"
    )
    write_table(v2, base)
    diff = snapshot_diff(spark, base, 1, 2)
    got = sorted(
        (r["change"], r["k"], r["v"], r["n_old"], r["n_new"])
        for r in diff.collect()
    )
    # 2 updated (pair), 3 removed, 4 added; 1 unchanged absent
    assert got == [
        ("added", 2, "B", 0, 1),
        ("added", 4, "d", 0, 1),
        ("removed", 2, "b", 1, 0),
        ("removed", 3, "c", 1, 0),
    ]
    # schema drift is loud, not silent
    import pytest as _pytest

    write_table(v2.withColumn("extra", F.lit(1)), base)
    with _pytest.raises(ValueError):
        snapshot_diff(spark, base, 2, 3)


def test_delete_by_keys_atomic_and_vacuum_contract(spark, tmp_path):
    from simple_etl_spark.sources.table_store import (
        delete_by_keys,
        list_versions,
        read_table,
        read_table_at,
        vacuum,
    )
    from simple_etl_spark.sources.table_store import write_table

    base = str(tmp_path / "gdpr")
    df = spark.createDataFrame(
        [(i, f"u{i % 4}", f"payload{i}") for i in range(20)],
        "row_id bigint, user string, payload string",
    )
    write_table(df, base)
    keys = spark.createDataFrame([("u1",), ("u3",)], "user string")
    info = delete_by_keys(spark, base, keys, ["user"])
    assert info["rows_before"] == 20 and info["rows_after"] == 10
    cur = read_table(spark, base)
    assert cur.filter(cur["user"].isin("u1", "u3")).count() == 0
    assert cur.count() == 10
    # compliance contract: prior versions still hold the rows until
    # vacuum reclaims them
    old = read_table_at(spark, base, 1)
    assert old.filter(old["user"] == "u1").count() == 5
    vacuum(base, keep=1)
    assert list_versions(base) == [info["version"]]


def test_snapshot_diff_sees_multiplicity_changes(spark, tmp_path):
    """A dedup pass that collapses double-appended rows must be
    VISIBLE — set-style anti-joins would report an empty diff."""
    from simple_etl_spark.sources.table_store import snapshot_diff, write_table

    base = str(tmp_path / "multi")
    write_table(
        spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "k bigint, v string"),
        base,
    )
    write_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"), base
    )
    got = [
        (r["change"], r["k"], r["n_old"], r["n_new"])
        for r in snapshot_diff(spark, base, 1, 2).collect()
    ]
    assert got == [("recount", 1, 2, 1)]


def test_delete_by_keys_null_keys_and_partitions(spark, tmp_path):
    """NULL-keyed deletion requests must actually delete (null-safe
    join), and a partitioned table keeps its Hive layout."""
    import os

    from simple_etl_spark.sources.table_store import (
        delete_by_keys,
        read_table,
        table_path,
        write_table,
    )

    base = str(tmp_path / "nullkeys")
    df = spark.createDataFrame(
        [(1, "u1", "d1"), (2, None, "d1"), (3, "u2", "d2"), (4, None, "d2")],
        "id bigint, user string, part string",
    )
    write_table(df, base, partition_by=["part"])
    keys = spark.createDataFrame([(None,)], "user string")
    info = delete_by_keys(
        spark, base, keys, ["user"], partition_by=["part"]
    )
    assert info["rows_before"] == 4 and info["rows_after"] == 2
    cur = read_table(spark, base)
    assert {r["id"] for r in cur.collect()} == {1, 3}
    # Hive layout survived the rewrite
    assert any(
        n.startswith("part=") for n in os.listdir(table_path(base))
    )


def test_batch_pipeline_fetches_each_link_once(spark, warehouse, tmp_path):
    """The crawl runs once per run: its count rides the bronze write
    instead of re-running the content fan-out."""
    log = str(tmp_path / "fetches.log")
    bodies = dict(CONTENT)

    def logged_fetch(link: str) -> str | None:
        with open(log, "a") as fh:
            fh.write(link + "\n")
        return bodies.get(link)

    links = sorted(c["link"] for cards in ARTICLES.values() for c in cards)
    for run in (1, 2):
        tally = run_batch_pipeline(
            spark, warehouse, pages=2, listing_fetcher=_listing,
            content_fetcher=logged_fetch,
        )
        assert tally == {"crawled": 3, "kafka_sent": 3, "bronze_saved": 3,
                         "silver_processed": 3, "gold_processed": 3,
                         "es_saved": 3, "pg_saved": 3}
        with open(log) as fh:
            assert sorted(fh.read().split()) == sorted(links * run)


def _feed_rows(hour: int, n: int) -> list[tuple]:
    import datetime as dt

    t = dt.datetime(2024, 2, 5, hour, 0)
    return [
        (f"id{i}", f"Uji Artikel {i}", f"https://x/n/{i}", f"i{i}",
         "Senin, 05 Februari 2024 08:00 WIB", "nasional",
         f"Konten uji versi {hour}. " * 30, "cnn", t)
        for i in range(n)
    ]


def _jobs_between(spark, body) -> int:
    """Spark jobs launched while ``body`` runs, stream micro-batches
    included: job ids are sequential, so count those strictly between
    a marker job before and one after."""
    import uuid

    sc = spark.sparkContext

    def marker() -> list[int]:
        tag = f"marker-{uuid.uuid4().hex}"
        sc.setJobGroup(tag, tag)
        try:
            spark.range(1).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return sc.statusTracker().getJobIdsForGroup(tag)

    before = max(marker())
    body()
    return min(marker()) - before - 1


# Spark jobs of one drained increment over a small feed: bronze merge
# write (3), silver merge write (3), gold write (1), search-index write
# (2). Reads resolve their schema and tallies their row counts from the
# snapshot manifests, and silver is committed once. Before that, the
# same drain launched 22 jobs.
DRAIN_JOBS = 9


def _feed_and_drain(spark, tmp_path):
    """A parquet feed directory and a drain of it into one warehouse:
    returns (warehouse, publish(rows), drain())."""
    from simple_etl_spark.pipeline import run_streaming_pipeline

    wh = str(tmp_path / "swh")
    src = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")

    def publish(rows):
        spark.createDataFrame(rows, STREAM_SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)

    def drain():
        stream = spark.readStream.schema(STREAM_SCHEMA).parquet(src)
        return run_streaming_pipeline(spark, stream, wh, checkpoint=ckpt)

    return wh, publish, drain


def test_streaming_drain_job_budget_and_idle_drain(spark, tmp_path):
    wh, publish, drain = _feed_and_drain(spark, tmp_path)
    publish(_feed_rows(8, 6))
    assert drain() == {"bronze_saved": 6, "silver_processed": 6, "gold_processed": 6}

    # an increment: 3 updated articles, 2 new ones
    publish(_feed_rows(9, 8)[3:])
    tallies = []
    jobs = _jobs_between(spark, lambda: tallies.append(drain()))
    assert tallies == [{"bronze_saved": 8, "silver_processed": 8, "gold_processed": 8}]
    assert jobs <= DRAIN_JOBS

    silver = read_table(spark, f"{wh}/silver")
    assert silver.filter("NOT processed").count() == 0
    assert sorted(r["content"][:18] for r in silver.collect()) == (
        ["Konten uji versi 8"] * 3 + ["Konten uji versi 9"] * 5)

    # a drain with no new input commits no snapshot at all: silver,
    # gold and the search index keep their versions and rows, and the
    # tally is as it was
    versions = {t: current_version(f"{wh}/{t}")
                for t in ("silver", "gold", "search_index")}
    gold_rows = sorted(map(tuple, read_table(spark, f"{wh}/gold").collect()))
    silver_rows = sorted(map(tuple, silver.collect()))
    assert drain() == tallies[0]
    assert {t: current_version(f"{wh}/{t}") for t in versions} == versions
    assert sorted(map(tuple, read_table(spark, f"{wh}/silver").collect())) == silver_rows
    assert sorted(map(tuple, read_table(spark, f"{wh}/gold").collect())) == gold_rows


def test_streaming_drain_rebuilds_gold_after_a_failed_refresh(
        spark, tmp_path, monkeypatch):
    """Silver commits, then the gold write dies: the next drain, with no
    new input, must still rebuild gold and the search index from the
    silver the failed drain committed."""
    from simple_etl_spark import pipeline
    from simple_etl_spark.sources.table_store import source_version

    wh, publish, drain = _feed_and_drain(spark, tmp_path)
    publish(_feed_rows(8, 4))
    assert drain() == {"bronze_saved": 4, "silver_processed": 4, "gold_processed": 4}
    gold_v = current_version(f"{wh}/gold")
    index_v = current_version(f"{wh}/search_index")

    real_write = pipeline.write_table
    failures = []

    def gold_write_dies_once(df, base, *args, **kwargs):
        if base == f"{wh}/gold" and not failures:
            failures.append(base)
            raise OSError("gold write died")
        return real_write(df, base, *args, **kwargs)

    monkeypatch.setattr(pipeline, "write_table", gold_write_dies_once)
    publish(_feed_rows(9, 6)[2:])  # 2 updated articles, 2 new ones
    with pytest.raises(OSError, match="gold write died"):
        drain()
    silver_v = current_version(f"{wh}/silver")
    assert current_version(f"{wh}/gold") == gold_v
    assert source_version(f"{wh}/gold") != silver_v

    assert drain() == {"bronze_saved": 6, "silver_processed": 6, "gold_processed": 6}
    assert current_version(f"{wh}/silver") == silver_v
    assert current_version(f"{wh}/gold") == gold_v + 1
    assert current_version(f"{wh}/search_index") == index_v + 1
    assert source_version(f"{wh}/gold") == silver_v
    assert source_version(f"{wh}/search_index") == silver_v
    gold = read_table(spark, f"{wh}/gold")
    assert sorted(r["content"][:18] for r in gold.collect()) == (
        ["Konten uji versi 8"] * 2 + ["Konten uji versi 9"] * 4)
    index = read_table(spark, f"{wh}/search_index")
    assert {r["doc"] for r in index.collect()} == {r["id"] for r in gold.collect()}
