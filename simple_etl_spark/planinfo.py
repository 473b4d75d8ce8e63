"""Physical-plan introspection: the numbers behind "is this the plan
I'd want at 100 TB".

`plan_summary` condenses `df.explain("formatted")` into operator
counts (shuffle/broadcast exchanges, scans, joins by strategy,
aggregates, Python/Arrow boundary nodes) so
pipelines, tests, and notebooks can ASSERT plan shape ("this query
must broadcast, one exchange max") instead of eyeballing explain
output — the programmatic face of the tests/test_plans.py discipline,
and the marker set the registry sweep (tools/opt_sweep.py) records.
Built on the public EXPLAIN statement only (thread-safe, no JVM
handle caching).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# "Exchange" alone is the shuffle node; "BroadcastExchange" is data
# movement too (a replica per executor) but a different cost class —
# counted separately so guards can bound each explicitly.
_COUNTERS = {
    "shuffle_exchanges": r"(?<![A-Za-z])Exchange\b",
    "broadcast_exchanges": r"\bBroadcastExchange\b",
    "scans": r"- Scan \w+",
    "broadcast_hash_joins": r"\bBroadcastHashJoin\b",
    "sort_merge_joins": r"\bSortMergeJoin\b",
    "broadcast_nested_loop_joins": r"\bBroadcastNestedLoopJoin\b",
    "cartesian_products": r"\bCartesianProduct\b",
    "shuffled_hash_joins": r"\bShuffledHashJoin\b",
    "sorts": r"^\s*(?:[:+]|\|)*\s*[:+]- Sort\b",
    "generates": r"\bGenerate\b",
    "window_ops": r"\bWindow\b",
    "hash_aggregates": r"\bHashAggregate\b",
    "object_hash_aggregates": r"\bObjectHashAggregate\b",
    "sort_aggregates": r"\bSortAggregate\b",
    "take_ordered_and_project": r"\bTakeOrderedAndProject\b",
    # Python/Arrow boundary nodes: rows leave the JVM here
    "batch_eval_python": r"\bBatchEvalPython\b",
    "arrow_eval_python": r"\bArrowEvalPython\b",
    "map_in_pandas": r"\bMapInPandas\b",
    "map_in_arrow": r"\bMapInArrow\b",
    "flat_map_groups_in_pandas": r"\bFlatMapGroupsInPandas\b",
}


def plan_text(df: DataFrame) -> str:
    """Formatted physical plan via the public EXPLAIN statement."""
    import uuid

    spark = df.sparkSession
    view = f"_sg_planinfo_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(view)
    try:
        rows = spark.sql(f"EXPLAIN FORMATTED SELECT * FROM `{view}`").collect()
    finally:
        spark.catalog.dropTempView(view)
    return "\n".join(str(r[0]) for r in rows)


def plan_summary(df: DataFrame) -> dict[str, int]:
    """Operator counts for the frame's physical plan. Tree nodes are
    counted once (the formatted details section repeats each node as
    ``(N) Name`` — only dash-prefixed tree lines are matched where the
    name is ambiguous)."""
    text = plan_text(df)
    tree = text.split("\n\n", 1)[0]
    out: dict[str, int] = {}
    for name, pat in _COUNTERS.items():
        out[name] = len(re.findall(pat, tree, re.M))
    return out


def assert_scale_shape(
    df: DataFrame,
    max_exchanges: int | None = None,
    require_broadcast: bool = False,
    forbid_sort_merge: bool = False,
) -> dict[str, int]:
    """Inline plan guard for pipelines: raise if the physical plan
    violates the declared scale posture. ``max_exchanges`` bounds
    SHUFFLE exchanges only — broadcast exchanges are a separate,
    cheaper class, reported in the returned summary for callers that
    want to bound them too. Returns the summary so callers can log
    it."""
    s = plan_summary(df)
    problems = []
    if s["cartesian_products"]:
        problems.append(f"{s['cartesian_products']} CartesianProduct")
    if max_exchanges is not None and s["shuffle_exchanges"] > max_exchanges:
        problems.append(
            f"{s['shuffle_exchanges']} shuffle exchanges > {max_exchanges}"
        )
    if require_broadcast and not (
        s["broadcast_hash_joins"] or s["broadcast_nested_loop_joins"]
    ):
        problems.append("no broadcast join in plan")
    if forbid_sort_merge and s["sort_merge_joins"]:
        problems.append(f"{s['sort_merge_joins']} SortMergeJoin")
    if problems:
        raise AssertionError(f"plan shape violation: {'; '.join(problems)}\n{s}")
    return s
