"""End-to-end batch pipeline (SURVEY §3 E1): the engine's twin of the
reference's `main.py` / `pipeline/cnn_news_kafka.py::run_complete_etl`.

crawl → transport serialization → bronze (insert-if-absent) →
silver (clean + validate, latest-wins) → gold promotion (processed
flag) → search index, returning the same tally dict the reference
prints, plus `get_statistics` for its post-run stats block
(`services/pg_service.py` total/recent/by-topic).

Transport note: no Kafka broker exists in the test environment, so the
batch path exercises the producer/consumer *serialization contract*
(to_kafka_frame → from_json round-trip — byte-identical to what the
broker would carry); swap in `sources.kafka.write_batch`/`read_batch`
when a broker is present. Every stage is a DataFrame→DataFrame
transform: on a cluster the crawl fan-out, cleaning, merges, and index
build all run distributed; only the tiny listing fetch sits on the
driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_etl_spark.functions.clean import gen_id
from simple_etl_spark.functions.text import build_search_index
from simple_etl_spark.observability import observed_counts
from simple_etl_spark.operators.medallion import gold_view, silver_from_bronze
from simple_etl_spark.operators.merge import insert_if_absent, upsert_latest_wins
from simple_etl_spark.sources.http_source import (
    ContentFetcher,
    ListingFetcher,
    crawl_listing,
    default_content_fetcher,
    default_listing_fetcher,
    fetch_contents,
)
from simple_etl_spark.sources.kafka import to_kafka_frame
from simple_etl_spark.sources.table_store import (
    current_version,
    read_table,
    source_version,
    table_rows,
    write_table,
)


def _transport_roundtrip(raw: DataFrame) -> DataFrame:
    """Producer→consumer serialization contract without a broker:
    JSON-encode keyed by id (S3), then parse back through the consumer
    schema (S4). What goes through is exactly the broker payload."""
    frame = to_kafka_frame(raw, key_col="id")
    return frame.select(
        F.from_json(F.col("value"), raw.schema).alias("j")
    ).select("j.*")


def run_batch_pipeline(
    spark: SparkSession,
    warehouse: str,
    pages: int = 5,
    listing_fetcher: ListingFetcher = default_listing_fetcher,
    content_fetcher: ContentFetcher = default_content_fetcher,
    source: str = "cnn",
) -> dict:
    """Run the complete E1 batch ETL; returns the reference's tally
    dict (`main.py:25-33`).

    The crawl runs once, inside the bronze write, which also counts it
    (an observation on the crawled frame); the layer tallies are the
    committed snapshots' manifest row counts, not re-scans."""
    bronze_path = os.path.join(warehouse, "bronze")
    silver_path = os.path.join(warehouse, "silver")
    gold_path = os.path.join(warehouse, "gold")
    index_path = os.path.join(warehouse, "search_index")

    # S1 + S2: listing scan (driver, tiny) + distributed content fan-out
    listing = crawl_listing(spark, pages, listing_fetcher)
    raw, crawl_obs = observed_counts(
        fetch_contents(listing, content_fetcher)
        .withColumn("id", gen_id(F.col("link")))
        .withColumn("source", F.lit(source))
        .withColumn("created_at", F.current_timestamp()),
        "crawled",
    )

    # S3/S4: transport serialization round-trip
    consumed = _transport_roundtrip(raw)

    # bronze: S6 insert-if-absent (replays/re-crawls are no-ops);
    # the snapshot store makes the read-merge-write safe and atomic
    existing_bronze = read_table(spark, bronze_path)
    bronze = (
        insert_if_absent(existing_bronze, consumed, ["id"])
        if existing_bronze is not None
        else consumed
    )
    write_table(bronze, bronze_path)
    crawled = crawl_obs.get["rows"]  # the write above ran the crawl
    kafka_sent = crawled  # every crawled row is serialized
    bronze = read_table(spark, bronze_path)

    # silver: clean + validate + S7 latest-wins upsert
    promoted = silver_from_bronze(bronze)
    existing_silver = read_table(spark, silver_path)
    silver = (
        upsert_latest_wins(existing_silver, promoted, ["id"], "updated_at")
        if existing_silver is not None
        else promoted
    )
    # gold promotion marks rows processed (ST7's flag, batch semantics)
    silver = silver.withColumn("processed", F.lit(True))
    write_table(silver, silver_path)
    silver = read_table(spark, silver_path)

    # gold: virtual view materialized for downstream consumers,
    # date-partitioned so analytics prune to their date range and
    # retention (S12) is a partition drop, not a row-level delete
    gold = gold_view(silver)
    write_table(gold, gold_path, partition_by=["publish_date"])
    gold = read_table(spark, gold_path)

    # S9: search index (the ES bulk sink as a posting-list table)
    postings = build_search_index(gold)
    write_table(postings, index_path)
    gold_processed = table_rows(spark, gold_path)
    es_saved = gold_processed  # every gold doc is indexed

    return {
        "crawled": crawled,
        "kafka_sent": kafka_sent,
        "bronze_saved": table_rows(spark, bronze_path),
        "silver_processed": table_rows(spark, silver_path),
        "gold_processed": gold_processed,
        "es_saved": es_saved,
        "pg_saved": gold_processed,
    }


def get_statistics(spark: SparkSession, warehouse: str) -> dict:
    """The reference's post-run stats block (`main.py:36-44`):
    total articles, recent (3 days relative to the data's own
    high-water mark), top topics."""
    gold = read_table(spark, os.path.join(warehouse, "gold"))
    total = gold.count()
    anchor = gold.agg(F.max("created_at").alias("m"))
    recent = (
        gold.crossJoin(F.broadcast(anchor))
        .filter(F.col("created_at") >= F.col("m") - F.expr("INTERVAL 3 DAY"))
        .count()
    )
    by_topic = [
        {"topic": r["topic"], "count": r["count"]}
        for r in gold.groupBy("topic")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), "topic")
        .limit(5)
        .collect()
    ]
    return {"total_articles": total, "recent_articles": recent, "by_topic": by_topic}


def run_streaming_pipeline(
    spark: SparkSession,
    stream_df: DataFrame,
    warehouse: str,
    checkpoint: str,
    trigger: str | None = None,
    timeout_sec: int = 300,
) -> dict:
    """E2: the reference's streaming consumer (`mainx.py` →
    `pipeline/consumer_pipeline.py`) — a continuous medallion ingest.

    ``stream_df`` is any streaming DataFrame of bronze-shaped article
    rows (Kafka via `sources.kafka.read_stream`, file streams in
    tests). Micro-batches flow through the same insert-if-absent /
    latest-wins merges as the batch path (ST1-ST6); after the stream
    drains (availableNow when ``trigger`` is None) the gold snapshot
    and search index are refreshed and the reference's stats dict is
    returned, its counts read from the committed snapshots' manifests.
    The refresh is skipped for each of the two whose manifest already
    records the current silver version: a drain with no new input
    commits nothing.
    With a processing-time ``trigger`` the query runs until
    externally stopped and the caller refreshes gold on its own
    cadence (the reference's */15 min view refresh).

    The ``processed`` flag (ST7) is set where rows enter silver: a
    drain promotes every row it merges to gold right after, so its
    silver merge writes them ``processed = true`` in the same commit;
    a continuous consumer writes ``processed = false``. Silver rows a
    drain does not merge keep the flag they were committed with."""
    from simple_etl_spark.streaming.medallion_stream import run_stream

    bronze_path = os.path.join(warehouse, "bronze")
    silver_path = os.path.join(warehouse, "silver")
    gold_path = os.path.join(warehouse, "gold")
    index_path = os.path.join(warehouse, "search_index")

    query = run_stream(
        stream_df,
        bronze_path,
        silver_path,
        checkpoint,
        clean=silver_from_bronze if trigger is not None else _silver_for_gold,
        key="id",
        order_col="created_at",
        trigger=trigger,
    )
    if trigger is not None:
        return {"query": query}
    query.awaitTermination(timeout_sec)

    # gold and the index record the silver version they were derived
    # from, so a drain that merged nothing rewrites neither, and one
    # whose refresh died after the silver commit redoes it next time
    silver_v = current_version(silver_path)
    if source_version(gold_path) != silver_v:
        write_table(gold_view(read_table(spark, silver_path)), gold_path,
                    source_version=silver_v)
    if source_version(index_path) != silver_v:
        write_table(build_search_index(read_table(spark, gold_path)),
                    index_path, source_version=silver_v)

    return {
        "bronze_saved": table_rows(spark, bronze_path),
        "silver_processed": table_rows(spark, silver_path),
        "gold_processed": table_rows(spark, gold_path),
    }


def _silver_for_gold(bronze: DataFrame) -> DataFrame:
    """A drain's silver rows: cleaned, and marked processed because
    the drain promotes them to gold right after its merge."""
    return silver_from_bronze(bronze).withColumn("processed", F.lit(True))
