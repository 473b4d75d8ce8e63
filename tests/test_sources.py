"""Source-layer tests: crawl source with injected fetchers (S1/S2),
kafka serialization transform (S3), JSON-array ingest tallies (S8),
and the streaming heartbeat listener (ST8).
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def test_crawl_source_fanout(spark):
    from simple_etl_spark.sources.http_source import crawl_listing, fetch_contents

    def _fake_listing(page: int) -> list[dict]:
        return [
            {
                "title": f"Title {page}-{i}",
                "link": f"https://x/{page}/{i}",
                "image": None,
                "date_raw": "2024-01-01 00:00:00",
                "topic": "t",
            }
            for i in range(3)
        ]

    # closure (not module-level) so cloudpickle ships it by value to
    # executors — the tests package isn't importable from workers
    def _fake_content(link: str) -> str | None:
        # one dead link per page (crawler drops null content)
        return None if link.endswith("/1") else f"content of {link}"

    listing = crawl_listing(spark, pages=2, fetcher=_fake_listing)
    assert listing.count() == 6
    full = fetch_contents(listing, fetcher=_fake_content, parallelism=2)
    rows = full.collect()
    assert len(rows) == 4  # nulls dropped
    assert all(r["content"].startswith("content of ") for r in rows)


def test_crawl_listing_lands_one_partition(spark):
    """The listing is one Arrow-built partition, so the default content
    fan-out is one task; ``parallelism`` still fans it out."""
    from simple_etl_spark.sources.http_source import (
        LISTING_SCHEMA,
        crawl_listing,
        fetch_contents,
    )

    def _cards(page: int) -> list[dict]:
        return [{"title": f"T{page}-{i}", "link": f"https://x/{page}/{i}",
                 "topic": None} for i in range(5)]

    listing = crawl_listing(spark, pages=3, fetcher=_cards)
    assert listing.schema == LISTING_SCHEMA
    assert listing.rdd.getNumPartitions() == 1
    rows = listing.collect()
    assert [r["link"] for r in rows] == [
        f"https://x/{p}/{i}" for p in (1, 2, 3) for i in range(5)]
    assert all(r["image"] is None and r["topic"] is None for r in rows)
    assert fetch_contents(listing, lambda link: link).rdd.getNumPartitions() == 1
    fanned = fetch_contents(listing, lambda link: link, parallelism=3)
    assert fanned.rdd.getNumPartitions() == 3 and fanned.count() == 15

    empty = crawl_listing(spark, pages=2, fetcher=lambda page: [])
    assert empty.schema == LISTING_SCHEMA and empty.count() == 0


def test_kafka_producer_contract_matches_reference():
    """The robust-producer contract every write_batch ships
    (services/kafka_services.py:23-33, producer_services.py:19-22):
    acks=all, idempotent, snappy, linger 10 ms, batch 32 KB,
    retries 5 — pinned ungated so a broker is not needed to notice a
    contract regression."""
    from simple_etl_spark.sources.kafka import PRODUCER_CONTRACT

    assert PRODUCER_CONTRACT == {
        "kafka.acks": "all",
        "kafka.enable.idempotence": "true",
        "kafka.compression.type": "snappy",
        "kafka.linger.ms": "10",
        "kafka.batch.size": "32768",
        "kafka.retries": "5",
    }


def test_kafka_serialization_roundtrip(spark):
    from simple_etl_spark.sources.kafka import to_kafka_frame

    df = spark.createDataFrame([("a1", "hello")], ["id", "content"])
    out = to_kafka_frame(df).collect()[0]
    assert out["key"] == "a1"
    assert json.loads(out["value"]) == {"id": "a1", "content": "hello"}


def test_json_array_ingest_with_tallies(spark):
    import datetime as dt

    from simple_etl_spark.sources.json_source import ingest_json_batch, parse_json_array

    schema = StructType(
        [
            StructField("link", StringType()),
            StructField("content", StringType()),
            StructField("n", IntegerType()),
        ]
    )
    payload = json.dumps(
        [
            {"link": "a", "content": "new-a", "n": 2},
            {"link": "x", "content": None, "n": 2},  # invalid: null content
            {"link": "d", "content": "new-d", "n": 2},
        ]
    )
    batch = parse_json_array(
        spark.createDataFrame([(payload,)], ["j"]), "j", schema
    )
    existing = spark.createDataFrame(
        [("a", "old-a", 1), ("b", "old-b", 1)], ["link", "content", "n"]
    )
    merged, stats = ingest_json_batch(
        existing, batch, key="link", order_col="n", required=("link", "content")
    )
    got = {r["link"]: r["content"] for r in merged.collect()}
    assert got == {"a": "new-a", "b": "old-b", "d": "new-d"}
    s = stats.collect()[0]
    assert (s["received"], s["valid"], s["errors"]) == (3, 2, 1)
    assert (s["inserted"], s["updated"]) == (1, 1)


def test_heartbeat_listener(spark, tmp_path):
    from simple_etl_spark.streaming.listener import HeartbeatListener

    listener = HeartbeatListener()
    spark.streams.addListener(listener)
    try:
        df = spark.readStream.format("rate").option("rowsPerSecond", "100").load()
        q = (
            df.writeStream.format("memory")
            .queryName("hb_test")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        # listener callbacks are async; progress may lag termination
        import time

        for _ in range(20):
            if any(s["batches"] > 0 for s in listener.snapshot().values()):
                break
            time.sleep(0.5)
        snap = listener.snapshot()
        assert any(s["batches"] > 0 for s in snap.values())
    finally:
        spark.streams.removeListener(listener)


def test_refresh_statistics_records_rowcount(spark, tmp_path):
    from simple_etl_spark.engine import refresh_statistics

    path = str(tmp_path / "stats_tbl")
    spark.range(123).write.parquet(path)
    stats = refresh_statistics(spark, "stats_tbl_test", path)
    try:
        assert stats.get("rows") == 123
        assert stats.get("bytes", 0) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS stats_tbl_test")


def test_ensure_topic_contract_without_broker():
    from simple_etl_spark.sources.kafka import ensure_topic

    out = ensure_topic("news-articles")
    # reference layout: 3 partitions, 7-day retention
    assert out["num_partitions"] == 3
    assert out["config"]["retention.ms"] == str(7 * 24 * 3600 * 1000)
    assert out["created"] is False  # no client in this environment


def test_listing_datasource_distributed_crawl(spark):
    """S1 as a first-class Spark 4 Python Data Source: one input
    partition per page, injectable fetcher via module-path option."""
    from pyspark.sql import functions as F

    from simple_etl_spark.sources.listing_datasource import ListingDataSource

    spark.dataSource.register(ListingDataSource)
    df = (
        spark.read.format("news_listing")
        .option("pages", "4")
        .option(
            "fetcher",
            "simple_etl_spark.sources.listing_datasource:synthetic_listing_fetcher",
        )
        .load()
    )
    assert df.rdd.getNumPartitions() == 4  # a task per page
    rows = df.collect()
    assert len(rows) == 20
    assert {r["page"] for r in rows} == {1, 2, 3, 4}
    assert df.filter(F.col("topic") == "politik").count() == 4
    # projection pruning flows through the relation like any source
    assert df.select("link").distinct().count() == 20


def test_listing_datasource_bad_fetcher_fails_fast(spark):
    import pytest as _pytest

    from simple_etl_spark.sources.listing_datasource import ListingDataSource

    spark.dataSource.register(ListingDataSource)
    with _pytest.raises(Exception, match="module:attr|No module"):
        (
            spark.read.format("news_listing")
            .option("fetcher", "not-a-path")
            .load()
            .collect()
        )


def test_with_retries_transient_then_success_and_final_raise():
    from simple_etl_spark.sources.http_source import with_retries

    calls, sleeps = [], []

    def flaky(page):
        calls.append(page)
        if len(calls) < 3:
            raise ConnectionError("blip")
        return [{"title": f"p{page}"}]

    wrapped = with_retries(flaky, max_attempts=3, backoff_s=0.5,
                           sleep=sleeps.append)
    assert wrapped(7) == [{"title": "p7"}]
    assert calls == [7, 7, 7]
    assert sleeps == [0.5, 1.0]  # exponential, injectable clock

    def broken(_):
        raise ValueError("permanent")

    import pytest as _pytest

    wrapped2 = with_retries(broken, max_attempts=2, sleep=sleeps.append)
    with _pytest.raises(ValueError, match="permanent"):
        wrapped2(1)
