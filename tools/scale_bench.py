"""Scale-slope measurement harness (VERDICT r7 #1).

Runs the headline bench suite plus the heavyweight dedup/ANN/linkage
operators at several scale factors and records per-query wall times
AND physical-plan shape markers, so SCALE.md can report (a) how close
each operator's time grows to linear in input size and (b) whether
any plan flips shape across scales (broadcast -> sort-merge, band
blow-ups, cartesian products).

Methodology mirrors bench.py exactly where it overlaps: same session
builder, same tune_for_input sizing, same noop sink (full computation,
no driver collect), same re-laid multi-file table layout, min-of-N
timing after warm-up. bench.py itself is deliberately untouched (the
frozen posture the driver grades); this harness is additive.

Usage:
  python tools/scale_bench.py --dirs /root/testdata/sf0.1 \
      /tmp/scaledata/sf1 [/tmp/scaledata/sf10] \
      --out /tmp/scale_results.json [--heavy-reps 2] [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The heavyweight set called out in VERDICT r7: banded/bucketed dedup,
# similarity, linkage, and the text n-gram scans — the operators whose
# 100 TB posture rests on candidate-pair bounding actually holding.
HEAVY = (
    "llm_minhash_lsh",
    "llm_simhash_hamming",
    "llm_dedup_clusters",
    "llm_winnowing_dups",
    "llm_record_linkage",
    "llm_quantized_topk",
    "llm_prefix_dups",
    "llm_hot_ngrams",
)

# Plan-shape markers whose counts flipping across scales would signal
# a strategy change worth a written justification.
MARKERS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "Exchange",
)


def _plan_shape(df) -> dict[str, int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {m: len(re.findall(re.escape(m), plan)) for m in MARKERS}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dirs", nargs="+", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--heavy-reps", type=int, default=2)
    ap.add_argument("--skip-heavy-over", type=float, default=float("inf"),
                    help="skip a heavy query at later dirs once a single "
                    "rep exceeded this many seconds")
    ap.add_argument("--concurrent", action="store_true",
                    help="also time the headline suite submitted "
                    "concurrently (workload throughput)")
    a = ap.parse_args()

    from bench import _layout_cache
    from simple_etl_spark.engine import get_spark, tune_for_input
    from simple_etl_spark.queries import REGISTRY, _load_all, bench_queries

    _load_all()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    spark = get_spark("simple-etl-spark-scale")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def timed(df) -> float:
        t0 = time.perf_counter()
        noop(df)
        return time.perf_counter() - t0

    # resumable: measurements flush to --out after every query, and a
    # re-run skips (dir, query) pairs already recorded
    results: dict[str, dict] = {}
    if os.path.exists(a.out):
        with open(a.out) as fh:
            results = json.load(fh)

    def flush() -> None:
        with open(a.out, "w") as fh:
            json.dump(results, fh, indent=1)

    too_slow: set[str] = set()
    for sf_dir in a.dirs:
        tag = os.path.basename(sf_dir.rstrip("/"))
        data_dir = _layout_cache(spark, sf_dir, cpus)
        tune_for_input(spark, sf_dir)
        entry = results.setdefault(
            tag, {"dir": sf_dir, "rows": {}, "queries": {}, "plans": {}}
        )
        entry["tuned_shuffle_partitions"] = spark.conf.get(
            "spark.sql.shuffle.partitions"
        )
        for t in ("lineitem", "orders", "events", "documents", "embeddings"):
            if t not in entry["rows"]:
                entry["rows"][t] = spark.read.parquet(
                    os.path.join(data_dir, f"{t}.parquet")
                ).count()
        flush()

        suites = [(name, spec.fn, a.reps) for name, spec in
                  bench_queries().items()]
        suites += [(name, REGISTRY[name].fn, a.heavy_reps) for name in HEAVY]
        # unmeasured pre-pass over the cheap headline suite (like
        # bench.py's warm-up rounds): without it the first measured
        # query absorbs scan/codegen/listing warm-up and reads 5-10x
        # its steady-state latency
        for name, fn, _ in suites[:10]:
            if entry["queries"].get(name) is None and name not in too_slow:
                noop(fn(spark, data_dir))
        for name, fn, reps in suites:
            if name in entry["queries"]:
                # resumed — a recorded None means "deliberately skipped
                # as too slow", which must NOT re-run the multi-hour
                # query the skip flag exists to avoid
                if entry["queries"][name] is None:
                    too_slow.add(name)
                continue
            if name in too_slow:
                entry["queries"][name] = None
                continue
            # build time matters for the iterative builders
            # (dedup_clusters' label propagation, llm_quantized_topk's
            # store resolution run DURING construction); for lazy
            # builders it is plan-assembly milliseconds
            t0 = time.perf_counter()
            df = fn(spark, data_dir)
            entry.setdefault("build_s", {})[name] = round(
                time.perf_counter() - t0, 3
            )
            entry["plans"][name] = _plan_shape(df)
            first = timed(df)  # warm-up (codegen, listing) — unmeasured
            if first > a.skip_heavy_over:
                # one cold measurement is enough evidence at this size;
                # don't re-run, and skip the query at later dirs
                too_slow.add(name)
                best = first
            else:
                best = min(timed(df) for _ in range(reps))
            entry["queries"][name] = round(best, 3)
            print(f"[{tag}] {name}: {best:.3f}s", flush=True)
            flush()

        if a.concurrent and "concurrent_s" not in entry:
            # workload throughput: the whole headline suite submitted
            # at once (bench.py's cluster-realistic headline number)
            from concurrent.futures import ThreadPoolExecutor

            dfs = [spec.fn(spark, data_dir)
                   for spec in bench_queries().values()]
            best = min(
                _concurrent_round(dfs, noop) for _ in range(3)
            )
            entry["concurrent_s"] = round(best, 3)
            print(f"[{tag}] concurrent headline: {best:.3f}s", flush=True)
            flush()

    flush()
    print(f"wrote {a.out}", flush=True)
    spark.stop()


def _concurrent_round(dfs, noop) -> float:
    from concurrent.futures import ThreadPoolExecutor

    t0 = time.perf_counter()
    with ThreadPoolExecutor(len(dfs)) as ex:
        list(ex.map(noop, dfs))
    return time.perf_counter() - t0


if __name__ == "__main__":
    main()
