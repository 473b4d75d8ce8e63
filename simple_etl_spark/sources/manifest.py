"""File-level statistics manifest: planning-time data skipping.

Parquet footers already carry per-row-group min/max, but the scan must
OPEN every file to read them — at 100 TB that is millions of footer
round-trips per query. Lakehouse logs (Delta/Iceberg) solve it by
lifting per-file column stats into a manifest read once at planning
time; this module reconstructs that: a JSON manifest of per-file
min/max per column, written after a snapshot commit, and a pruned
reader that intersects a filter interval with the manifest and hands
Spark ONLY the surviving files.

Composes with Z-order compaction (sources/layout.py, table_store.
compact(zorder_by=...)): the clustered layout is what makes per-file
intervals narrow, the manifest is what makes skipping free.

The manifest is also the table's metadata path (Dremel, VLDB 2020:
serve schema and row counts from metadata, not from data scans): each
file's exact footer row count, and the snapshot's read schema, so
``table_store`` reads a snapshot and counts its rows without a Spark
job.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

MANIFEST_NAME = "_manifest.json"

# manifest carries min/max only for these physical types — the types
# with a total order that JSON round-trips losslessly
_STAT_TYPES = {"INT32", "INT64", "FLOAT", "DOUBLE", "BYTE_ARRAY"}

# footer key holding the writer's Spark schema as JSON: the source
# Spark's own schema inference reads
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _nullable(dtype):
    """``DataType.asNullable`` on a Spark JSON type: every field, array
    element and map value nullable, as Spark reads a file source (the
    footer records the writer's ``nullable: false`` columns)."""
    if not isinstance(dtype, dict):
        return dtype  # a primitive type name
    kind = dtype["type"]
    if kind == "struct":
        fields = [{**f, "nullable": True, "type": _nullable(f["type"])}
                  for f in dtype["fields"]]
        return {**dtype, "fields": fields}
    if kind == "array":
        return {**dtype, "containsNull": True,
                "elementType": _nullable(dtype["elementType"])}
    if kind == "map":
        return {**dtype, "valueContainsNull": True,
                "keyType": _nullable(dtype["keyType"]),
                "valueType": _nullable(dtype["valueType"])}
    return dtype


def write_manifest(snapshot_path: str, source_version: int | None = None) -> dict:
    """Scan every parquet file's footer once and persist per-file
    column min/max to ``<snapshot>/_manifest.json``. Runs at commit /
    compaction time (the write already paid the I/O), never at query
    time. Returns the manifest dict.

    Besides the per-file stats and row counts it records ``schema``,
    the Spark JSON read schema, when every file's footer carries the
    same Spark schema and no file sits under a Hive partition
    directory: partition column types come from Spark's inference over
    the directory names, which the footers cannot vouch for, so a
    partitioned snapshot keeps inferring. ``source_version``, when
    given, is recorded as is: the version of the table this snapshot
    was derived from.

    At cluster scale this is a distributed pass (footers read by
    executors, stats reduced to the driver); at manifest sizes of one
    row per file it stays a metadata object even for million-file
    tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    relpaths = []
    for root, _dirs, names in os.walk(snapshot_path):
        for n in names:
            if n.endswith(".parquet"):
                relpaths.append(
                    os.path.relpath(os.path.join(root, n), snapshot_path)
                )
    files = {}
    schemas = set()
    for entry in sorted(relpaths):
        fpath = os.path.join(snapshot_path, entry)
        md = pq.ParquetFile(fpath).metadata
        schemas.add((md.metadata or {}).get(SPARK_SCHEMA_KEY))
        cols: dict[str, dict] = {}
        # a column whose stats are unusable in ANY row group must be
        # recorded stat-less for the WHOLE file: folding only the
        # stats-bearing row groups would narrow the interval and let
        # prune_files skip a file whose stat-less row group holds a
        # matching row — the silent-loss case skipping must never have
        bad: set[str] = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                name = c.path_in_schema
                s = c.statistics
                if (
                    s is None
                    or not s.has_min_max
                    or c.physical_type not in _STAT_TYPES
                ):
                    bad.add(name)
                    continue
                try:
                    mn, mx = s.min, s.max
                except pa.ArrowNotImplementedError:
                    bad.add(name)  # e.g. an INT64-backed decimal
                    continue
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                    except UnicodeDecodeError:
                        bad.add(name)
                        continue
                if not isinstance(mn, (int, float, str)):
                    # dates and timestamps have no JSON form a filter
                    # bound compares with: stat-less, like the above
                    bad.add(name)
                    continue
                if name in cols:
                    cols[name] = {
                        "min": min(cols[name]["min"], mn),
                        "max": max(cols[name]["max"], mx),
                    }
                else:
                    cols[name] = {"min": mn, "max": mx}
        for name in bad:
            cols.pop(name, None)
        files[entry] = {"columns": cols, "rows": md.num_rows}
    manifest = {"version": 1, "files": files}
    if source_version is not None:
        manifest["source_version"] = source_version
    if (len(schemas) == 1 and None not in schemas
            and not any(os.path.dirname(e) for e in relpaths)):
        manifest["schema"] = _nullable(json.loads(schemas.pop()))
    tmp = os.path.join(snapshot_path, MANIFEST_NAME + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(snapshot_path, MANIFEST_NAME))
    return manifest


def load_manifest(snapshot_path: str) -> dict | None:
    p = os.path.join(snapshot_path, MANIFEST_NAME)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def prune_files(
    snapshot_path: str, col: str, lo, hi
) -> tuple[list[str], int]:
    """Files whose ``col`` interval intersects [lo, hi] (inclusive),
    per the manifest. Returns (paths, total_file_count). A file with
    no recorded stats for ``col`` is conservatively kept — skipping
    must never be able to drop a matching row."""
    m = load_manifest(snapshot_path)
    if m is None:
        raise FileNotFoundError(f"no {MANIFEST_NAME} under {snapshot_path}")
    keep = []
    for fname, info in m["files"].items():
        st = info["columns"].get(col)
        if st is None or not (st["max"] < lo or st["min"] > hi):
            keep.append(os.path.join(snapshot_path, fname))
    return keep, len(m["files"])


def read_pruned(
    spark: SparkSession, snapshot_path: str, col: str, lo, hi
) -> DataFrame:
    """Read only the files that can contain ``col`` in [lo, hi] — the
    manifest prunes at PLANNING time (no footer I/O for skipped
    files); the returned frame still carries the residual filter so
    correctness never depends on the stats."""
    from pyspark.sql import functions as F

    files, _total = prune_files(snapshot_path, col, lo, hi)
    if not files:
        return (
            spark.read.option("basePath", snapshot_path)
            .parquet(snapshot_path)
            .filter(F.col(col).between(lo, hi))
            .limit(0)
        )
    # basePath keeps Hive partition discovery alive under a leaf-file
    # list — without it the partition columns silently vanish from the
    # schema (and filtering on one would fail to resolve)
    return (
        spark.read.option("basePath", snapshot_path)
        .parquet(*files)
        .filter(F.col(col).between(lo, hi))
    )
