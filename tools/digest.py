"""Distributed order-independent result digest, shared by the fault
and cluster-validation harnesses.

The collect+canonicalize hash is exact but lands the whole relation
on the driver — fine through sf1-ish result sizes, a 6 GB-driver
killer at sf10 (the ~9.5M-row gap-session relation, SCALE.md §8c).
``agg_hash`` keeps the digest on the executors: per-row md5 over
null-tagged stringified columns, reduced by count + sum + xor. It is
order- and partitioning-independent (validated against re-shuffles at
sf0.01/sf1) and change-sensitive (any row edit moves sum and xor).

Float/double columns are rounded to 9 significant digits before
hashing: a fault-induced recompute can legally reorder a
floating-point aggregation and move the last ulp, which must not read
as a clean-vs-faulted or cfgA-vs-cfgB mismatch (ADVICE r11). 9 sig
digits is far below any real signal and far above reorder noise.

Run as a script, it digests registered queries, e.g. to prove a
refactor leaves their outputs unchanged::

  python tools/digest.py <data_dir> <query> [<query> ...]

It prints one JSON line per query: ``{"query", "dir", "rows", "hash"}``.
"""

from __future__ import annotations

import json
import os
import sys


def agg_hash(df) -> tuple[str, int]:
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    # null-tagged per-column strings: concat_ws SKIPS nulls, which
    # would collide (a, NULL, b) with (a, b, NULL) — coalesce every
    # column to an explicit sentinel first.
    fp = {f.name for f in df.schema.fields
          if f.dataType.simpleString() in ("float", "double")}
    parts = [
        F.coalesce(
            # format_string renders a NULL arg as the literal "null"
            # (Java Formatter), which would collide with a real
            # string — gate it behind isNotNull so NULLs fall
            # through to the sentinel
            F.when(F.col(c).isNotNull(),
                   F.format_string("%.8e", F.col(c))) if c in fp
            else F.col(c).cast("string"),
            F.lit("\x00NULL"),
        )
        for c in cols
    ]
    h = F.md5(F.concat_ws("\x1f", *parts))
    agg = df.select(
        F.conv(F.substring(h, 1, 15), 16, 10)
        .cast("decimal(38,0)").alias("h_hi"),
        F.conv(F.substring(h, 17, 15), 16, 10).cast("long").alias("h_lo"),
    ).agg(
        F.count("*").alias("n"),
        F.sum("h_hi").alias("s"),
        F.expr("bit_xor(h_lo)").alias("x"),
    ).collect()[0]
    n = agg["n"]
    return f"agg:{repr(sorted(cols))}:{n}:{agg['s']}:{agg['x']}", n


def digest_queries(spark, data_dir: str, names) -> list[dict]:
    """``agg_hash`` of each named registered query over ``data_dir``."""
    from simple_etl_spark import queries as q

    fns = q.queries()
    out = []
    for name in names:
        h, n = agg_hash(fns[name](spark, data_dir))
        out.append({"query": name, "dir": data_dir, "rows": n, "hash": h})
    return out


def main() -> None:
    args = sys.argv[1:]
    if len(args) < 2:
        raise SystemExit(
            "usage: python tools/digest.py <data_dir> <query> [<query> ...]")
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from simple_etl_spark.engine import get_spark, tune_for_input

    data_dir, names = args[0], args[1:]
    spark = get_spark("digest")
    tune_for_input(spark, data_dir)
    try:
        for rec in digest_queries(spark, data_dir, names):
            print(json.dumps(rec), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
