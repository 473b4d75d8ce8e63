"""Benchmark of the news ETL engine: two seeded workloads through the
public API, with correctness checks and an optional traced run.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

Workloads (see ``workloads.py`` for why each exists):

- ``ingest``     closed loop, 1 client: crawl increments through the
                 streaming medallion consumer (crawl → feed file →
                 bronze → silver → gold → search index)
- ``query_mix``  closed loop over 2 connections: dashboard refreshes
                 (gold-analytics, search and entity views) alternating
                 with LLM-curation passes

End-to-end metrics, the same four on every workload: ``setup_s``
(session start, input generation, pre-load and warm-up),
``peak_rss_mb`` (peak resident memory of this process plus the JVM),
``throughput_per_s`` (articles ingested per second of increment time;
requests per second, curation included) and ``latency_p50_s`` (median
crawl increment; median dashboard refresh). Failed or mismatched
operations are the result's ``failed`` count.

``--trace 0`` prints the end-to-end metrics, measured with no tracing
installed. ``--trace 1`` measures the same window twice: first
untraced, then with each layer's public functions wrapped and every
operation under its own Spark job group. It prints the per-layer
metrics of the traced window, and the change in median operation
latency between the two windows as ``trace.overhead_ratio``.

The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
(``{"stamp": ...}``) labels the run with the host, versions, input
sizes and the details behind each metric, so numbers from different
hosts or core counts are never compared unlabelled.

Inputs are a pure function of ``--seed``. Seeds 1-10 were used while
the benchmark was tuned; confirm a claimed change on seed
``CONFIRM_SEED`` as well.

Every run works in a fresh directory under ``.bench_work/`` in the
checkout (warehouse, checkpoint, stream source, Spark local dirs and
temp files) and removes it at the end; traced runs leave their spans in
``.bench_out/``. The process stops the Spark JVM it started and waits
for it before exiting.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONFIRM_SEED = 7919
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
}


def per_layer_names(dash_queries, llm_queries) -> dict[str, str]:
    names = {
        "engine.session_start_s": "s",
        "engine.catalog_s": "s",
        "engine.plan_cache_hit_ratio": "ratio",
        "queries.build_s": "s",
        "spark.jobs_per_op": "count",
        "spark.stages_per_op": "count",
        "spark.tasks_per_op": "count",
        "spark.exec_s": "s",
        "spark.job_floor_s": "s",
        "table_store.write_s": "s",
        "table_store.read_s": "s",
        "table_store.commits_per_op": "count",
        "table_store.bytes_written_per_input_byte": "ratio",
        "table_store.disk_bytes_per_live_byte": "ratio",
        "merge.build_s": "s",
        "merge.rows_changed_ratio": "ratio",
        "medallion.build_s": "s",
        "text.index_build_s": "s",
        "http_source.listing_s": "s",
        "stream.add_batch_ms_p50": "ms",
        "stream.wal_commit_ms_p50": "ms",
        "stream.commit_offsets_ms_p50": "ms",
        "stream.query_planning_ms_p50": "ms",
        "stream.batches_per_op": "count",
        "trace.overhead_ratio": "ratio",
    }
    for q in llm_queries:
        names[f"llm.{q}.exec_s"] = "s"
        names[f"llm.{q}.build_s"] = "s"
        names[f"llm.{q}.jobs"] = "count"
    for q in dash_queries:
        names[f"dash.{q}.p50_s"] = "s"
        names[f"dash.{q}.jobs"] = "count"
    return names


def _prepare_environment(work: str) -> None:
    """Point everything Spark and Python write at the run's directory,
    and make the program importable by Spark's Python workers (they
    are separate processes that see PYTHONPATH, not this sys.path)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # the short-lived JVM spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        # a fixed, pre-touched heap: the JVM's resident size then no
        # longer depends on when its collector chose to grow the heap
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch'",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


def _proc_status(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine so far, from
    /proc/stat: time a virtual machine's CPUs were ready but the host
    ran something else. The stamp reports the stolen share of the
    measured window, because on a shared host it moves every timing."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of this Python process plus the JVM
    (spark-submit execs the JVM in the process the gateway launched)."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    return (_proc_status(os.getpid(), "VmHWM") + _proc_status(jvm_pid, "VmHWM")) / 1024


def _stop_spark(spark) -> None:
    """Stop the session, if one was made, then the JVM, and wait for it
    (a run stopped while the session was starting still has a JVM)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _quantiles(vals: list[float]) -> dict:
    """Median, plus the highest percentile with at least ten samples
    beyond it (none below 20 samples)."""
    s = sorted(vals)
    out = {"n": len(s), "p50": statistics.median(s)}
    for pct in (99, 95, 90, 75, 50):
        if len(s) * (100 - pct) / 100 >= 10:
            out[f"p{pct}"] = statistics.quantiles(s, n=100)[pct - 1]
            break
    return out


def layer_metrics(w, tracer, session_start_s: float, floor_s: float,
                  overhead: float) -> dict:
    from perfbench.trace import BUILD_SPANS
    from perfbench.workloads import DASH_QUERIES, LLM_QUERIES

    names = per_layer_names(DASH_QUERIES, LLM_QUERIES)
    out = dict.fromkeys(names, 0.0)
    op_s = w.op_seconds()
    n = len(op_s)
    span_s = tracer.layer_seconds()
    span_n = tracer.layer_calls()
    records = w.op_records()
    jobs, stages, tasks, n_ops = w.job_totals()

    def per_op(span: str) -> float:
        return span_s.get(span, 0.0) / n

    out.update({
        "engine.session_start_s": session_start_s,
        "engine.catalog_s": per_op("engine.catalog"),
        "engine.plan_cache_hit_ratio":
            (tracer.plan_calls - tracer.plan_builds) / tracer.plan_calls
            if tracer.plan_calls else 0.0,
        "queries.build_s": per_op("queries.build"),
        "spark.jobs_per_op": jobs / n_ops,
        "spark.stages_per_op": stages / n_ops,
        "spark.tasks_per_op": tasks / n_ops,
        "spark.exec_s": sum(op_s) / n - sum(per_op(s) for s in BUILD_SPANS),
        "spark.job_floor_s": floor_s,
        "table_store.write_s": per_op("table_store.write"),
        "table_store.read_s": per_op("table_store.read"),
        "table_store.commits_per_op": span_n.get("table_store.write", 0) / n,
        "merge.build_s": per_op("merge.build"),
        "medallion.build_s": per_op("medallion.build"),
        "text.index_build_s": per_op("text.index_build"),
        "http_source.listing_s": per_op("http_source.listing"),
        "trace.overhead_ratio": overhead,
    })
    for kind, queries, fields in (("llm", LLM_QUERIES, ("exec_s", "build_s", "jobs")),
                                  ("dash", DASH_QUERIES, ("p50_s", "jobs"))):
        for q in queries:
            recs = [r for r in records if r["kind"] == kind and r["name"] == q]
            if not recs:
                continue
            for f in fields:
                if f == "p50_s":
                    val = statistics.median(r["build_s"] + r["exec_s"] for r in recs)
                else:
                    val = statistics.median(r[f] for r in recs)
                out[f"{kind}.{q}.{f}"] = val
    out.update(w.layers())
    return {k: {"value": float(out[k]), "unit": u} for k, u in names.items()}


def stamp(args, w, spark, session_start_s, setup_s, tracer_overhead,
          steal_share) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "confirm_seed": CONFIRM_SEED,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "usable_cpus": len(os.sched_getaffinity(0)),
        "cpu_steal_share": steal_share,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_master": spark.sparkContext.master,
        "driver_memory": DRIVER_MEMORY,
        "versions": {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                     "duckdb": duckdb.__version__,
                     "python": sys.version.split()[0]},
        "inputs": w.sizes,
        "op": w.op_unit,
        "work_unit": w.work_unit,
        "latency_s": _quantiles(w.latencies) if w.latencies else None,
        "latency_samples_s": w.latencies,
        "details": w.details(),
        "session_start_s": session_start_s,
        "setup_s": setup_s,
        "failed_ratio": len(w.failures) / max(1, w.attempted),
        "failures": w.failures[:20],
        "tracing_overhead_ratio": tracer_overhead,
    }


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "simple_etl_spark", "pipeline.py")):
        print(f"perfbench: the program (simple_etl_spark) is not in {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    _prepare_environment(work)

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(work)
        return 2

    spark = None
    try:
        t0 = time.perf_counter()
        from simple_etl_spark.engine import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        session_start_s = time.perf_counter() - t0
        w = WORKLOADS[args.workload](spark, args.seed, work)
        w.setup()
        setup_s = time.perf_counter() - t0

        stolen0, total0 = cpu_ticks()
        w.measure(time.perf_counter() + args.seconds)
        tracer = None
        if args.trace:
            # the same window again with every layer wrapped: the
            # per-layer numbers come from this one, and the change in
            # median operation latency is the tracing overhead
            from perfbench.trace import Tracer

            untraced_p50 = statistics.median(w.latencies)
            w.new_window()
            tracer = Tracer(spark)
            w.tracer = tracer
            tracer.install()
            try:
                w.measure(time.perf_counter() + args.seconds)
            finally:
                tracer.uninstall()
            overhead = statistics.median(w.latencies) / untraced_p50 - 1
        stolen1, total1 = cpu_ticks()
        steal_share = (stolen1 - stolen0) / max(1, total1 - total0)
        w.check()

        if args.trace:
            metrics = layer_metrics(w, tracer, session_start_s, tracer.job_floor_s(),
                                    overhead)
            tracer.dump(os.path.join(
                ROOT, ".bench_out", f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            overhead = None
            metrics = {
                "setup_s": setup_s,
                "peak_rss_mb": peak_rss_mb(spark),
                "throughput_per_s": w.throughput(),
                "latency_p50_s": statistics.median(w.latencies),
            }
            metrics = {k: {"value": float(v), "unit": END_TO_END[k]}
                       for k, v in metrics.items()}
        info = stamp(args, w, spark, session_start_s, setup_s, overhead, steal_share)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it

    failed = len(w.failures)
    print(json.dumps({"stamp": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(w.attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
