"""Layer tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own files only: the public
functions of each layer are wrapped at their module boundary for the
duration of the run, and every operation runs under its own Spark job
group so the public ``StatusTracker`` can count the jobs, stages and
tasks it launched. Nothing here is installed in the untraced run, so
the end-to-end numbers never include tracing cost.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict

# (module, attribute, span name) of each wrapped layer entry point.
# Module-level functions are re-bound in every ``simple_etl_spark``
# module that imported them by name, so call sites inside the program
# reach the wrapper too.
LAYER_ENTRY_POINTS = (
    ("simple_etl_spark.engine", "session_plan", "engine.session_plan"),
    ("simple_etl_spark.sources.table_store", "write_table", "table_store.write"),
    ("simple_etl_spark.sources.table_store", "read_table", "table_store.read"),
    ("simple_etl_spark.operators.merge", "insert_if_absent", "merge.build"),
    ("simple_etl_spark.operators.merge", "upsert_latest_wins", "merge.build"),
    ("simple_etl_spark.operators.medallion", "silver_from_bronze", "medallion.build"),
    ("simple_etl_spark.operators.medallion", "gold_view", "medallion.build"),
    ("simple_etl_spark.functions.text", "build_search_index", "text.index_build"),
    ("simple_etl_spark.sources.http_source", "crawl_listing", "http_source.listing"),
    ("simple_etl_spark.streaming.medallion_stream", "run_stream", "stream.start"),
)

# Driver-side plan constructors: time spent here is not Spark execution.
BUILD_SPANS = ("queries.build", "merge.build", "medallion.build", "text.index_build")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(root, name))
    return total


def parquet_rows(path: str) -> int:
    """Rows in a written snapshot, from the parquet footers alone."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(root, name)).metadata.num_rows
        for root, _dirs, files in os.walk(path)
        for name in files if name.endswith(".parquet")
    )


class Tracer:
    """In-memory spans plus per-operation Spark counts for one run."""

    def __init__(self, spark):
        self.spark = spark
        self.tracker = spark.sparkContext.statusTracker()
        self.spans: list[tuple] = []  # (id, parent, op, name, start, end)
        self.ops: list[dict] = []
        self.plan_calls = 0
        self.plan_builds = 0
        self.bytes_written = 0
        self.rows_written: dict[str, int] = defaultdict(int)  # table → rows
        self.stream_queries: list = []  # every streaming query started
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        op = getattr(self._local, "op", None)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, parent, op, name, start, end))

    def _wrapper(self, fn, name: str):
        tracer = self

        if name == "engine.session_plan":
            def traced(spark, key, build):
                def counted_build():
                    with tracer._lock:
                        tracer.plan_builds += 1
                    return build()

                with tracer._lock:
                    tracer.plan_calls += 1
                with tracer.span(name):
                    return fn(spark, key, counted_build)
        elif name == "table_store.write":
            def traced(*args, **kwargs):
                with tracer.span(name):
                    path = fn(*args, **kwargs)
                size, rows = dir_bytes(path), parquet_rows(path)
                with tracer._lock:
                    tracer.bytes_written += size
                    tracer.rows_written[os.path.basename(os.path.dirname(path))] += rows
                return path
        elif name == "stream.start":
            def traced(*args, **kwargs):
                with tracer.span(name):
                    query = fn(*args, **kwargs)
                with tracer._lock:
                    tracer.stream_queries.append(query)
                return query
        else:
            def traced(*args, **kwargs):
                with tracer.span(name):
                    return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        """Wrap every layer entry point, and ``Catalog.__getitem__``."""
        for mod_name, attr, name in LAYER_ENTRY_POINTS:
            fn = getattr(importlib.import_module(mod_name), attr)
            wrapped = self._wrapper(fn, name)
            for mname, mod in list(sys.modules.items()):
                if mname.startswith("simple_etl_spark") and getattr(mod, attr, None) is fn:
                    self._restore.append((mod, attr, fn))
                    setattr(mod, attr, wrapped)
        from simple_etl_spark.engine import Catalog

        orig = Catalog.__getitem__
        tracer = self

        def getitem(cat, name):
            with tracer.span("engine.catalog"):
                return orig(cat, name)

        self._restore.append((Catalog, "__getitem__", orig))
        Catalog.__getitem__ = getitem

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    # -- operations --------------------------------------------------------

    @contextlib.contextmanager
    def op(self, kind: str, name: str):
        """One measured operation: its own job group, a root span, and
        exact job/stage/task counts read back from the status tracker."""
        record = {"kind": kind, "name": name}
        with self._lock:
            index = len(self.ops)
            self.ops.append(record)
        group = f"perfbench-{index}-{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, f"{kind} {name}")
        self._local.op = index
        try:
            with self.span(f"op.{kind}"):
                yield record
        finally:
            self._local.op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            record.update(self.job_counts(group))

    def job_counts(self, group: str, after: int = -1) -> dict:
        """Jobs, stages that ran tasks, and tasks of a job group; only
        jobs with an id above ``after`` count."""
        jobs = stages = tasks = 0
        for job_id in self.tracker.getJobIdsForGroup(group):
            if job_id <= after:
                continue
            info = self.tracker.getJobInfo(job_id)
            if info is None:
                continue
            jobs += 1
            for stage_id in info.stageIds:
                stage = self.tracker.getStageInfo(stage_id)
                if stage is not None and stage.numCompletedTasks > 0:
                    stages += 1
                    tasks += stage.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def job_floor_s(self, n: int = 10) -> float:
        """Same-run cost of launching one trivial Spark job (min of n)."""
        best = float("inf")
        for _ in range(n):
            t0 = time.perf_counter()
            self.spark.range(1).count()
            best = min(best, time.perf_counter() - t0)
        return best

    # -- aggregation -------------------------------------------------------

    def layer_seconds(self) -> dict[str, float]:
        """Inclusive seconds per span name, counting only the outermost
        span of each name (a layer calling itself is not double-counted)."""
        by_id = {s[0]: s for s in self.spans}
        out: dict[str, float] = defaultdict(float)
        for _sid, parent, _op, name, start, end in self.spans:
            p = parent
            while p is not None and by_id[p][3] != name:
                p = by_id[p][1]
            if p is None:
                out[name] += end - start
        return out

    def layer_calls(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for span in self.spans:
            out[span[3]] += 1
        return out

    def job_totals(self) -> tuple[int, int, int, int]:
        """(jobs, stages, tasks, operations) over the traced operations."""
        return (sum(r["jobs"] for r in self.ops), sum(r["stages"] for r in self.ops),
                sum(r["tasks"] for r in self.ops), len(self.ops))

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines (the run's trace artifact)."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for sid, parent, op, name, start, end in self.spans:
                fh.write(json.dumps({"id": sid, "parent": parent, "op": op,
                                     "name": name, "start": start,
                                     "end": end}) + "\n")
