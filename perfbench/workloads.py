"""The benchmark workloads.

Each workload drives the program only through its public API
(``pipeline``, ``queries``) and has three phases: ``setup`` (inputs,
pre-load and warm-up, timed as set-up), ``measure`` (the timed loop)
and ``check`` (correctness, outside any timed region). ``measure``
fills ``self.latencies`` (seconds per operation), ``self.work`` (units
of work completed) and ``self.failures``; ``layers`` adds the
workload's own per-layer numbers to a traced run.

Sizes are fixed here, not taken from the command line, so every run of
a workload does the same work; only the seed changes the inputs.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time
import traceback

from perfbench import check, inputs
from perfbench.trace import dir_bytes

# The analyst request mix: a gold-analytics view, keyword and BM25
# search, the entity view (the mapInPandas NER boundary), and the two
# embedding curation views (the only pair-shaped LLM queries). Kept
# small so each query runs several times in a run.
DASH_QUERIES = (
    "m_daily_analytics", "m_search_bm25", "m_search_ilike",
    "m_top_entity_per_type",
)
LLM_QUERIES = ("llm_embed_near_dup", "llm_semantic_contamination")
QUERY_MIX = DASH_QUERIES + LLM_QUERIES


class Workload:
    """Shared plumbing: tracing hooks that are no-ops when untraced."""

    op_unit = "operation"
    work_unit = "operation"

    def __init__(self, spark, seed: int, work_dir: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.tracer = tracer
        self.latencies: list[float] = []
        self.work = 0
        self.attempted = 0
        self.failures: list[str] = []
        self.sizes: dict = {}

    def op(self, kind: str, name: str):
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.op(kind, name)

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def new_window(self) -> None:
        """Start a fresh measured window: what ``measure`` records so
        far (warm-up, or the untraced half of a traced run) is dropped.
        ``attempted`` and ``failures`` keep counting: every operation's
        output is checked, warm-up included."""
        self.latencies = []
        self.work = 0

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", flush=True)

    def layers(self) -> dict:
        return {}

    def details(self) -> dict:
        """Per-run detail for the stamp line, beyond the latency samples."""
        return {}

    # -- traced-run accessors ----------------------------------------------

    def op_seconds(self) -> list[float]:
        """Wall seconds of each traced operation."""
        return self.latencies

    def op_records(self) -> list[dict]:
        return self.tracer.ops

    def job_totals(self) -> tuple[int, int, int, int]:
        return self.tracer.job_totals()


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

FEED_SCHEMA = (
    "id STRING, title STRING, link STRING, image STRING, date_raw STRING, "
    "topic STRING, content STRING, source STRING, created_at TIMESTAMP"
)


class Ingest(Workload):
    """Closed loop, one client: crawl increments through the streaming
    medallion consumer, into a warehouse pre-loaded with a fixed
    article universe. Increments re-crawl that universe and never add a
    key, so bronze, silver, gold and the search index keep their size.

    One operation is one seeded re-crawl, mixing replayed and updated
    articles: the listing fetch and the distributed content fan-out
    (``sources.http_source``, with injected fetchers that derive each
    body from the seed), the articles landed as one file in the
    consumer's feed directory (the broker hop), then
    ``run_streaming_pipeline`` in drain mode: the medallion stream merges
    the new file into bronze (insert-if-absent) and silver (latest-wins)
    under its checkpoint, and gold and the search index are refreshed.

    Sizes follow the traffic this engine was sized on: 100-article
    micro-batches, as the streaming consumer sees them, into a
    2,500-article warehouse, the smallest the batch pipeline ran at.

    Why: at this size fixed per-increment costs dominate: Spark job
    launches, the streaming query's start and checkpoint log, and five
    snapshot commits per increment, each re-reading and rewriting a
    whole 2,500-row table (copy-on-write merges). Every commit is a new
    file identity, so the plan cache never hits.
    """

    op_unit = "crawl increment"
    work_unit = "article"
    UNIVERSE = 2500
    PER_INCREMENT = 100
    # increments run before timing starts. The pre-load pays nearly all
    # of the JVM's cold start (20 s against 5 s for a warm increment);
    # the one increment after it still runs about a tenth slow.
    WARM_INCREMENTS = 1

    def setup(self) -> None:
        d = self.work_dir
        self.feed = os.path.join(d, "feed")
        self.staging = os.path.join(d, "staging")
        self.checkpoint = os.path.join(d, "checkpoint")
        self.warehouse = os.path.join(d, "warehouse")
        os.makedirs(self.feed)
        self.source = inputs.CrawlSource(self.seed, self.UNIVERSE, self.PER_INCREMENT)
        self.next_increment = 0
        self.warm_s: list[float] = []
        for _ in range(1 + self.WARM_INCREMENTS):  # the pre-load, then warm-up
            self.warm_s.append(self._increment(timed=False))
        self.sizes = {"universe": self.UNIVERSE, "per_increment": self.PER_INCREMENT,
                      "warm_increments": self.WARM_INCREMENTS}
        self.new_window()

    def new_window(self) -> None:
        super().new_window()
        self.measured_input_bytes = 0

    def _increment(self, timed: bool) -> float:
        from pyspark.sql import functions as F

        from simple_etl_spark import pipeline
        from simple_etl_spark.functions.clean import gen_id
        from simple_etl_spark.sources import http_source

        i = self.next_increment
        self.next_increment += 1
        bytes_before = self.source.input_bytes
        pages, listing, content = self.source.increment(i)
        delivered = self.source.log.ops[-1]
        t0 = time.perf_counter()
        with self.op("ingest", f"increment-{i}"):
            crawled = (
                http_source.fetch_contents(
                    http_source.crawl_listing(self.spark, pages, listing), content)
                .withColumn("id", gen_id(F.col("link")))
                .withColumn("source", F.lit("cnn"))
                # the crawl's slot on a fixed clock orders the versions
                .withColumn("created_at", F.lit(inputs.crawl_time(i)).cast("timestamp"))
            )
            self._publish(crawled, f"increment-{i:05d}.json")
            stream = self.spark.readStream.schema(FEED_SCHEMA).json(self.feed)
            tally = pipeline.run_streaming_pipeline(
                self.spark, stream, self.warehouse, self.checkpoint)
        dt = time.perf_counter() - t0
        kept = self.source.log.latest_wins()
        want = {"bronze_saved": len(kept), "silver_processed": len(kept),
                "gold_processed": sum(inputs.in_gold(k) for k in kept)}
        if tally != want:
            self.fail(f"increment {i}: tally {tally}, generator log implies {want}")
        self.attempted += 1
        if timed:
            self.latencies.append(dt)
            self.work += len(delivered)
            self.measured_input_bytes += self.source.input_bytes - bytes_before
        return dt

    def _publish(self, crawled, name: str) -> None:
        """Write the crawl as one JSON file beside the feed and rename it
        in, so the consumer never lists a partial file."""
        out = os.path.join(self.staging, name)
        crawled.coalesce(1).write.mode("overwrite").json(out)
        (part,) = [f for f in os.listdir(out) if f.startswith("part-") and f.endswith(".json")]
        os.rename(os.path.join(out, part), os.path.join(self.feed, name))

    def measure(self, deadline: float) -> None:
        while not self.latencies or time.perf_counter() < deadline:
            self._increment(timed=True)

    def throughput(self) -> float:
        return self.work / sum(self.latencies)

    def details(self) -> dict:
        return {"preload_and_warm_s": self.warm_s}

    def check(self) -> None:
        from simple_etl_spark.sources.table_store import read_table

        gold = read_table(self.spark, os.path.join(self.warehouse, "gold"))
        why = check.article_mismatch(
            "gold", gold.select("id", "title").collect(),
            self.source.log.latest_wins(), gold_only=True)
        if why:
            self.fail(why)

    # -- traced run --------------------------------------------------------

    def job_totals(self) -> tuple[int, int, int, int]:
        """The operation's own jobs plus its drain query's micro-batch
        jobs, which run under the query's job group (its run id)."""
        jobs, stages, tasks, n = self.tracer.job_totals()
        for q in self.tracer.stream_queries:
            c = self.tracer.job_counts(str(q.runId))
            jobs, stages, tasks = jobs + c["jobs"], stages + c["stages"], tasks + c["tasks"]
        return jobs, stages, tasks, n

    def layers(self) -> dict:
        progress = [p for q in self.tracer.stream_queries
                    for p in q.recentProgress if p.numInputRows > 0]

        def p50(key: str) -> float:
            return statistics.median(p.durationMs.get(key, 0) for p in progress)

        live = sum(dir_bytes(_current(os.path.join(self.warehouse, t)))
                   for t in ("bronze", "silver", "gold", "search_index"))
        return {
            "stream.add_batch_ms_p50": p50("addBatch"),
            "stream.wal_commit_ms_p50": p50("walCommit"),
            "stream.commit_offsets_ms_p50": p50("commitOffsets"),
            "stream.query_planning_ms_p50": p50("queryPlanning"),
            "stream.batches_per_op": len(progress) / len(self.latencies),
            "table_store.disk_bytes_per_live_byte": dir_bytes(self.warehouse) / live,
            "table_store.bytes_written_per_input_byte":
                self.tracer.bytes_written / self.measured_input_bytes,
            # each delivered article is one changed silver row (bronze
            # keeps the first version); everything else is rewritten
            "merge.rows_changed_ratio": self.work / sum(
                self.tracer.rows_written[t] for t in ("bronze", "silver")),
        }


def _current(base: str) -> str:
    from simple_etl_spark.sources.table_store import table_path

    return table_path(base)


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


class QueryMix(Workload):
    """Closed loop over ``CLIENTS`` connections on a generated corpus, in
    cycles: a dashboard refresh, then a curation pass. A refresh runs
    every dashboard view once and a pass every curation view once, in a
    fixed order (a dashboard's panel layout), taken from a shared queue
    by the connections; the next starts when the last view returns. A
    view is built through the registry and collected; every result is
    compared with its DuckDB oracle twin afterwards.

    The reported latency is the dashboard refresh's, not a single
    request's: request latencies differ fivefold across the views, so
    their median jumps between views from run to run, while a refresh
    is the same work every time. For the same reason the order is
    fixed: a shuffled one changes which connection carries the slowest
    view, and with it a refresh's time by up to a fifth. Refreshes and
    passes alternate one to one because a refresh that follows a pass
    runs about a quarter slower than one that follows another refresh.
    Curation passes are timed on their own and count in the request
    throughput, so a change to the long curation queries shows there
    and cannot hide a change to the short dashboard reads.

    Why: the dashboard views are short, latency-bound reads where plan
    build, py4j and job count × job-launch floor dominate, the session
    plan cache hits after warm-up, and nothing is written; the curation
    views are long shuffle and Python/Arrow queries where the job floor
    is negligible, and the only reads of the ``llm`` layer.
    """

    op_unit = "dashboard refresh"
    work_unit = "request"
    N_DOCS = 1500
    N_EMB = 300
    CLIENTS = 2
    # cycles run before timing starts: enough for the JVM's JIT to
    # settle (refresh latencies fall for about five refreshes)
    WARM_CYCLES = 5

    def setup(self) -> None:
        from simple_etl_spark.engine import tune_for_input
        from simple_etl_spark.queries import oracle_sql, queries

        self.data_dir = os.path.join(self.work_dir, "corpus")
        self.sizes = inputs.write_corpus(self.data_dir, self.seed, self.N_DOCS, self.N_EMB)
        registry, sqls = queries(), oracle_sql()
        self.fns = {q: registry[q] for q in QUERY_MIX}
        self.oracle = check.Oracle(self.data_dir, {q: sqls[q] for q in QUERY_MIX})
        # the engine's own sizing for small inputs, as a server built on
        # it would apply once per data directory
        tune_for_input(self.spark, self.data_dir)
        self.results: list[tuple] = []  # (query, seconds, schema, rows)
        self.pass_s: list[float] = []
        for _ in range(self.WARM_CYCLES):
            self._cycle()
        self.new_window()

    def new_window(self) -> None:
        super().new_window()
        self.pass_s = []
        self.span_s = 0.0

    def _clients(self, body) -> None:
        errors = []

        def guarded(c: int) -> None:
            try:
                body(c)
            except BaseException as exc:
                errors.append(exc)
                raise

        threads = [threading.Thread(target=guarded, args=(c,), name=f"perfbench-client-{c}")
                   for c in range(self.CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]

    def _run(self, q: str):
        """Build ``q`` through the registry and collect it; returns
        (seconds, schema, rows)."""
        kind = "llm" if q in LLM_QUERIES else "dash"
        with self.op(kind, q) as rec:
            t0 = time.perf_counter()
            with self.span("queries.build"):
                df = self.fns[q](self.spark, self.data_dir)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
        rec.update(build_s=t1 - t0, exec_s=t2 - t1)
        return t2 - t0, df.schema, rows

    def _fan_out(self, views: list[str]) -> float:
        """Run ``views`` over the clients' connections; returns the
        seconds until the last one returned."""
        views = list(views)
        lock = threading.Lock()

        def client(_c: int) -> None:
            while True:
                with lock:
                    if not views:
                        return
                    q = views.pop(0)
                try:
                    result = (q, *self._run(q))
                except Exception:  # one failed request must not end the run
                    traceback.print_exc()
                    result = (q, None, None, None)
                with lock:
                    self.results.append(result)
                    self.attempted += 1
                    self.work += result[2] is not None

        t0 = time.perf_counter()
        self._clients(client)
        return time.perf_counter() - t0

    def _cycle(self) -> None:
        self.latencies.append(self._fan_out(DASH_QUERIES))
        self.pass_s.append(self._fan_out(LLM_QUERIES))

    def measure(self, deadline: float) -> None:
        t0 = time.perf_counter()
        while not self.latencies or time.perf_counter() < deadline:
            self._cycle()
        self.span_s += time.perf_counter() - t0

    def check(self) -> None:
        """Every result, warm-up included, against its oracle twin."""
        for q, _dt, schema, rows in self.results:
            if schema is None:
                self.fail(f"{q}: raised")
            else:
                why = self.oracle.mismatch(q, schema, rows)
                if why:
                    self.fail(why)

    def throughput(self) -> float:
        return self.work / self.span_s

    def op_seconds(self) -> list[float]:
        """Traced operations are single requests, not refreshes."""
        return [r["build_s"] + r["exec_s"] for r in self.tracer.ops]

    def details(self) -> dict:
        per_query: dict[str, list[float]] = {}
        for q, dt, schema, _rows in self.results:
            if schema is not None:
                per_query.setdefault(q, []).append(dt)
        return {"curation_pass_s": self.pass_s, "requests_checked": len(self.results),
                "query_s": per_query}


WORKLOADS = {
    "ingest": Ingest,
    "query_mix": QueryMix,
}
