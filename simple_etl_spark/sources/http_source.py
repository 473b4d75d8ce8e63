"""Pluggable HTTP crawl source (SURVEY §2.1 S1-S2).

The reference's crawler (`crawler/cnn.py:10-79`) is a paginated index
fetch (S1) followed by a concurrency-limited per-article content
fan-out (S2, `asyncio.Semaphore(10)`), producing flat article dicts.

As an engine source this is driver-side acquisition → a typed
DataFrame: listing fetches are tiny (index pages), so they run on the
driver; the per-article content fan-out — the expensive part — runs
*distributed* via mapInPandas so a 1000-executor cluster fetches in
parallel, each task rate-limited independently.

Both fetch callables are injectable; no network exists in the test
environment, so tests inject deterministic fakes and the real
implementation (requests/asyncio) is gated behind an import-try.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# article card from the listing page (crawler/cnn.py:26-34)
LISTING_SCHEMA = StructType(
    [
        StructField("title", StringType()),
        StructField("link", StringType()),
        StructField("image", StringType()),
        StructField("date_raw", StringType()),
        StructField("topic", StringType()),
    ]
)

ListingFetcher = Callable[[int], list[dict]]  # page → article cards
ContentFetcher = Callable[[str], str | None]  # link → content or None


def default_listing_fetcher(page: int) -> list[dict]:
    """Real deployments fetch+parse the index page here (S1)."""
    raise NotImplementedError("HTTP access unavailable in this environment")


def default_content_fetcher(link: str) -> str | None:
    """Real deployments fetch the article body here (S2)."""
    raise NotImplementedError("HTTP access unavailable in this environment")


def crawl_listing(
    spark: SparkSession,
    pages: int,
    fetcher: ListingFetcher = default_listing_fetcher,
) -> DataFrame:
    """S1: fetch pages 1..N on the driver (cheap, tiny payloads) and
    land them as a typed DataFrame.

    The cards are built into one Arrow table (a local relation, no
    Python-RDD hop) and land as ONE partition, so the content fan-out
    downstream starts one Python runner, not one per slice. A
    network-bound crawl fans out with
    ``fetch_contents(..., parallelism=N)``."""
    import pyarrow as pa

    rows = [card for page in range(1, pages + 1) for card in fetcher(page)]
    table = pa.table(
        {f.name: pa.array([r.get(f.name) for r in rows], pa.string())
         for f in LISTING_SCHEMA.fields}
    )
    return spark.createDataFrame(table, LISTING_SCHEMA).coalesce(1)


def fetch_contents(
    listing: DataFrame,
    fetcher: ContentFetcher = default_content_fetcher,
    parallelism: int | None = None,
) -> DataFrame:
    """S2: distributed per-article content fan-out. Each partition
    fetches its links serially (per-task politeness); cluster-wide
    concurrency = number of tasks, the distributed analog of the
    reference's Semaphore(10). Null contents are dropped
    (crawler/cnn.py:77-79).

    By default the fan-out keeps the listing's partitioning, which for
    :func:`crawl_listing` is one task: right when fetches are cheap,
    where each extra Python runner costs more than it saves. Pass
    ``parallelism`` for network-bound crawls, to fetch over that many
    tasks."""
    out_schema = StructType(listing.schema.fields + [StructField("content", StringType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["content"] = [fetcher(link) for link in pdf["link"]]
            yield pdf

    src = listing.repartition(parallelism) if parallelism else listing
    return src.mapInPandas(run, out_schema).filter(F.col("content").isNotNull())


def with_retries(
    fetcher,
    max_attempts: int = 3,
    backoff_s: float = 0.5,
    retry_on: tuple[type[Exception], ...] = (Exception,),
    sleep=None,
):
    """Wrap a fetcher with bounded retries + exponential backoff — the
    resilience layer a crawl task needs around transient HTTP/network
    failures (the reference's asyncio crawler swallows-and-continues;
    at cluster scale a task that gives up on the first 503 silently
    thins the corpus).

    The LAST failure re-raises (a permanently broken URL fails loudly
    rather than thinning data); transient blips cost
    ``backoff_s * (2^attempt - 1)`` total sleep. ``sleep`` is
    injectable for deterministic tests; the wrapper composes with any
    ListingFetcher/ContentFetcher signature since it only forwards
    ``*args``."""
    import time as _time

    do_sleep = sleep if sleep is not None else _time.sleep

    def wrapped(*args):
        delay = backoff_s
        for attempt in range(1, max_attempts + 1):
            try:
                return fetcher(*args)
            except retry_on:
                if attempt == max_attempts:
                    raise
                do_sleep(delay)
                delay *= 2

    return wrapped
