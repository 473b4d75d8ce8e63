"""Round-14 optimization sweep: measure EVERY registered query.

Times each query in the registry at a given data dir (default sf0.1)
through the noop sink (full computation, no driver collect — guide
§1.4), after warm-up, min-of-N; captures the formatted physical plan
and records its shape markers as ``planinfo.plan_summary`` counts them
(exchanges, join strategies, aggregates, Python/Arrow boundary nodes;
tree nodes only, each counted once). Output: one JSON with the
session warm-up seconds (``warmup_s``), the compiled class total
(``codegen_classes``) and, under ``queries``, per-query seconds,
compile counts and marker counts; plus optional per-query plan files
for plans/r14/.

Session warm-up (first parquet listing, JIT, the first schema
resolutions) is paid once before the timed loop by an untimed build
and noop pass of the first selected query, and reported as
``warmup_s`` instead of inside that query's row.

Build-time cost is measured separately from execution: a query whose
constructor runs Spark jobs (collect of a skew profile, a sampled
threshold) pays that once per plan build, and that cost must be
visible, not folded into the steady-state number.

The code-generation layer is counted from the JVM's own counters
(``observability.codegen_stats``): each row's ``codegen_compiles`` is
the number of classes Janino compiled across the query's build and
first execution, and the top-level ``codegen_classes`` is their sum,
the registry's compiled working set under the session's codegen
cache. A row of 0 means every class it needed was still cached.

Usage:
  python tools/opt_sweep.py --out /tmp/opt_sweep.json \
      [--dir /root/testdata/sf0.1] [--reps 2] [--only q1,q2] \
      [--plans /root/repo/plans/r14 --plan-suffix before] [--skip-heavy]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Streaming drains and mutation queries are excluded from the timing
# sweep by default: they run checkpointed streams / rewrite snapshots,
# so "warm min-of-N" is not meaningful and they dominate the sweep's
# wall-clock. They are measured by their own harnesses.
STREAMING_PREFIX = "stream_"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--only", default="")
    ap.add_argument("--skip", default="")
    ap.add_argument("--plans", default="")
    ap.add_argument("--plan-suffix", default="before")
    ap.add_argument("--include-streaming", action="store_true")
    args = ap.parse_args()

    from simple_etl_spark.engine import get_spark, tune_for_input
    from simple_etl_spark.observability import codegen_stats
    from simple_etl_spark.planinfo import plan_summary, plan_text
    from simple_etl_spark import queries as q

    spark = get_spark("opt-sweep-r14")
    tune_for_input(spark, args.dir)

    names = list(q.queries())
    if args.only:
        keep = set(args.only.split(","))
        names = [n for n in names if n in keep]
    if args.skip:
        drop = set(args.skip.split(","))
        names = [n for n in names if n not in drop]
    if not args.include_streaming:
        names = [n for n in names if not n.startswith(STREAMING_PREFIX)]

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    fns = q.queries()
    t0 = time.perf_counter()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    if names:
        spark.sparkContext.setJobDescription(f"opt_sweep: warm-up {names[0]}")
        try:
            fns[names[0]](spark, args.dir).write.format("noop").mode(
                "overwrite").save()
        except Exception:  # noqa: BLE001 — its timed row reports it
            pass
    warmup_s = round(time.perf_counter() - t0, 3)

    results: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"opt_sweep: {name}")
        row: dict = {}
        try:
            compiled = codegen_stats(spark)["compiles"]
            t0 = time.perf_counter()
            df = fns[name](spark, args.dir)
            row["build_s"] = round(time.perf_counter() - t0, 3)
            row["markers"] = plan_summary(df)
            if args.plans:
                with open(
                    os.path.join(
                        args.plans, f"{name}_{args.plan_suffix}.txt"
                    ),
                    "w",
                ) as fh:
                    fh.write(plan_text(df))
            # warm-up (codegen, listing) then timed reps
            df.write.format("noop").mode("overwrite").save()
            row["codegen_compiles"] = (
                codegen_stats(spark)["compiles"] - compiled)
            best = 9e9
            for _ in range(args.reps):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            row["exec_s"] = round(best, 3)
        except Exception as exc:  # noqa: BLE001 — sweep must finish
            row["err"] = repr(exc)[:300]
        results[name] = row
        done = row.get("exec_s", row.get("err", "?"))
        print(f"{name}: {done}", flush=True)

    classes = sum(r.get("codegen_compiles", 0) for r in results.values())
    with open(args.out, "w") as fh:
        json.dump({"warmup_s": warmup_s, "codegen_classes": classes,
                   "queries": results}, fh, indent=1, sort_keys=True)
    total = sum(r.get("exec_s", 0) for r in results.values())
    builds = sum(r.get("build_s", 0) for r in results.values())
    errs = [n for n, r in results.items() if "err" in r]
    print(
        f"swept {len(results)} queries: warmup={warmup_s:.1f}s "
        f"exec_total={total:.1f}s build_total={builds:.1f}s "
        f"codegen_classes={classes} errors={errs}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
