"""Multi-JVM execution (VERDICT r8 #1): the engine must run with REAL
executor JVMs, not just local[*] threads.

The round-9 local-cluster replay found exactly one defect: closures
referencing engine modules died on executor Python workers with
``ModuleNotFoundError: simple_etl_spark`` — local[*] forks workers
from the driver (inheriting sys.path) so no single-JVM run could ever
see it.  ``engine.ship_package`` (zip + addPyFile, the standard
cluster deployment step) closes it and Catalog applies it
automatically.  The subprocess below is the regression: a Python-
surface graded query must produce oracle-identical rows under
``local-cluster[2,2,1024]``.  Subprocess isolation because one JVM
can host only one SparkContext and the suite's shared session is
local."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_ship_package_is_noop_on_local(spark):
    from simple_etl_spark.engine import ship_package

    assert ship_package(spark) is None


def test_python_surface_query_runs_cross_jvm():
    """End-to-end on two executor JVMs: Catalog auto-ships the
    package, a mapInPandas query (the Arrow-batched binary feature
    extraction) matches DuckDB, and ship_package is idempotent. The
    script asserts the query still plans a MapInPandas node, so the
    test cannot silently stop covering the Python workers. ~60 s: one
    local-cluster session spin-up."""
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, %(repo)r)
        sys.path.insert(0, %(tests)r)
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local-cluster[2,2,1024]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "4")
                 .getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        import __spark_entry__ as e
        from oracle_harness import compare, duck_connection
        from simple_etl_spark.engine import ship_package
        from simple_etl_spark.planinfo import plan_summary
        qs, osql = e.queries(), e.oracle_sql()
        sf = "/root/testdata/sf0.001"
        con = duck_connection(sf)
        df = qs["llm_binary_features"](spark, sf)
        assert plan_summary(df)["map_in_pandas"] >= 1, "no Python node"
        ok, msg = compare(df, con, osql["llm_binary_features"])
        assert ok, f"cross-JVM oracle mismatch: {msg}"
        z1 = ship_package(spark)
        z2 = ship_package(spark)
        assert z1 is not None and z1 == z2, (z1, z2)
        print("CLUSTER_OK")
        """
        % {"repo": REPO, "tests": os.path.join(REPO, "tests")}
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=540, cwd=REPO,
    )
    assert "CLUSTER_OK" in proc.stdout, (
        proc.stdout[-2000:], proc.stderr[-3000:],
    )
