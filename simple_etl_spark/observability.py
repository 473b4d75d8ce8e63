"""In-flight pipeline metrics via ``Dataset.observe`` — row counts and
aggregates collected DURING the job, not by re-scanning afterwards.

The reference's pipeline prints stage tallies by re-querying each
layer (`pipeline/batch_pipeline.py` stats block); at 100 TB a
re-count is a second full scan per layer. ``observe`` attaches
accumulator-backed aggregates to the plan itself: the metrics ride
the same pass that materializes the data, cost-free for the action
that was already running.

:func:`codegen_stats` reads the code-generation layer the same way,
from counters the JVM already keeps: how many classes Spark's Janino
compiler built, their mean compile time, and how many classes the JVM
has loaded. Two reads around a workload give its compile cost. A warm
repeat of a query should compile nothing; a nonzero delta means the
codegen cache evicted it (see ``engine.CODEGEN_CACHE_ENTRIES``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def observed_counts(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """Attach a row-count observation. Read ``obs.get`` AFTER an
    action has materialized the returned frame."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def promote_with_metrics(
    bronze: DataFrame,
    promote: Callable[[DataFrame], DataFrame],
    sink: Callable[[DataFrame], None],
) -> dict:
    """One-action medallion promotion with the conservation invariant
    measured in-flight: observe bronze rows IN, build silver from the
    observed frame, observe silver rows OUT, run the caller's sink —
    a single job scans bronze once, writes silver once, and both
    metrics land on that same pass (the reference's stats block costs
    a re-count per layer; this costs nothing).

    Returns {"bronze_rows", "silver_rows", "dropped"} — ``dropped`` is
    the validation filter's rejection count, the number the pipeline
    alerts on."""
    b, b_obs = observed_counts(bronze, "bronze_in")
    s, s_obs = observed_counts(promote(b), "silver_out")
    sink(s)
    b_rows = b_obs.get["rows"]
    s_rows = s_obs.get["rows"]
    return {
        "bronze_rows": b_rows,
        "silver_rows": s_rows,
        "dropped": b_rows - s_rows,
    }


def codegen_stats(spark: SparkSession) -> dict:
    """One reading of the JVM's code-generation counters.

    - ``compiles``: classes Janino has compiled in this JVM, the exact
      count of Spark's ``CodegenMetrics.METRIC_COMPILATION_TIME``
      histogram. A codegen cache hit compiles nothing.
    - ``compile_ms_mean``: that histogram's mean compile time in ms,
      over its sampling reservoir (recent compiles weigh most).
    - ``classes_loaded``: the JVM's total loaded-class count since
      start; every compile loads at least one new class.

    All three are JVM-wide, so deltas cover every session and thread
    in the driver (and every task under ``local[*]``)."""
    jvm = spark._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    loading = jvm.java.lang.management.ManagementFactory.getClassLoadingMXBean()
    return {
        "compiles": hist.getCount(),
        "compile_ms_mean": hist.getSnapshot().getMean(),
        "classes_loaded": loading.getTotalLoadedClassCount(),
    }
