"""Versioned parquet table store — Delta-lite snapshot semantics.

Merging into a parquet table naively means overwriting the directory
the merge is reading from, which Spark (correctly) refuses and which
is unrecoverable if the job dies mid-write. The standard fix (SURVEY
§7.3 "merge-on-parquet atomicity") is the snapshot-log layout every
table format uses: each write lands in a fresh ``v{N}`` directory and
a tiny pointer file is swapped last, so readers always see a complete
snapshot, a crashed write is invisible, and the read-modify-write
merge never touches the files it is scanning. At 100 TB the data copy
is the merge itself (unavoidable without a row-level format); the
pointer swap stays O(1).

Every committed snapshot carries a ``_manifest.json``
(sources/manifest.py), written before the pointer swap: per-file
column min/max, exact footer row counts and the read schema. Reads go
through :func:`read_table` / :func:`read_table_at`, which hand Spark
the recorded schema, so resolving a snapshot launches no
schema-inference job; :func:`table_rows` answers row counts from the
manifest instead of a scan. A snapshot whose manifest (or its schema)
is missing — a Hive-partitioned one, or one written before manifests
carried schemas — is inferred and counted by Spark as before. A
manifest that cannot be written aborts the commit.

A derived table can record in its manifest the version of the table it
was derived from (``source_version``, read back by
:func:`source_version`), so a refresh can tell whether its source has
moved since without reading any data.
"""

from __future__ import annotations

import contextlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from simple_etl_spark.sources.manifest import load_manifest, write_manifest

_POINTER = "_VERSION"
_LOCK = "_COMMIT_LOCK"


def _pointer_file(base: str) -> str:
    return os.path.join(base, _POINTER)


@contextlib.contextmanager
def commit_lock(base: str, timeout: float = 120.0, poll: float = 0.05):
    """Serialize commits to one table: O_EXCL lockfile held from the
    version read through the pointer swap.

    Without it, two concurrent writers both read version N, both write
    ``v{N+1}`` (colliding in the same directory), and both swap the
    pointer — the survivor points at an interleaved snapshot. The
    reference gets this for free from Postgres transactions
    (services/staging_pg.py:139-241); immutable storage needs an
    explicit mutual exclusion around the commit protocol. An O_EXCL
    create is atomic on POSIX filesystems (and on HDFS via create
    w/o overwrite); object stores without atomic create should swap
    this for a storage-native conditional put.

    A writer that dies holding the lock leaves the file behind;
    waiters raise TimeoutError naming it so an operator can inspect
    the holder recorded inside — ``pid=N acquired=<ISO-8601 UTC>``,
    so a stale lock (holder long dead / acquired hours ago) is
    distinguishable from a slow live commit — and remove it
    deliberately; silent lock-breaking would re-open the race it
    exists to close.

    ``timeout`` is caller-configurable end-to-end (write_table /
    purge_older_than / compact forward their own): the 120 s default
    suits small commits, but a waiter queued behind a large
    distributed write should be given that write's expected duration
    rather than hit a liveness cliff at scale.
    """
    os.makedirs(base, exist_ok=True)
    lock = os.path.join(base, _LOCK)
    deadline = time.monotonic() + timeout
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            if time.monotonic() >= deadline:
                try:
                    with open(lock) as fh:
                        holder = fh.read().strip() or "<empty>"
                except OSError:
                    holder = "<gone>"
                raise TimeoutError(
                    f"commit lock {lock} held for >{timeout}s by "
                    f"[{holder}]; if the holder crashed, inspect/remove "
                    "the file manually"
                )
            time.sleep(poll)
    try:
        stamp = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        os.write(fd, f"pid={os.getpid()} acquired={stamp}".encode())
        os.close(fd)
        yield
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass


def current_version(base: str) -> int | None:
    try:
        with open(_pointer_file(base)) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def table_path(base: str) -> str | None:
    """Resolve the current snapshot directory, or None if absent."""
    v = current_version(base)
    return os.path.join(base, f"v{v}") if v is not None else None


def _read_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Read one snapshot directory, with the schema its manifest
    recorded at commit (no inference job); infer when there is none."""
    manifest = load_manifest(path)
    schema = manifest.get("schema") if manifest else None
    reader = spark.read.schema(StructType.fromJson(schema)) if schema else spark.read
    return reader.parquet(path)


def _snapshot_rows(spark: SparkSession, path: str) -> int:
    """Rows in one snapshot: the manifest's footer row counts (exact),
    or a count() when the snapshot has no manifest."""
    manifest = load_manifest(path)
    if manifest is None:
        return _read_snapshot(spark, path).count()
    return sum(f["rows"] for f in manifest["files"].values())


def read_table(spark: SparkSession, base: str) -> DataFrame | None:
    """The current snapshot, or None if the table was never committed."""
    path = table_path(base)
    return _read_snapshot(spark, path) if path else None


def table_rows(spark: SparkSession, base: str) -> int:
    """Row count of the current snapshot, read from its manifest
    without a scan. Raises FileNotFoundError if never committed."""
    path = table_path(base)
    if path is None:
        raise FileNotFoundError(f"no committed snapshot under {base}")
    return _snapshot_rows(spark, path)


def list_versions(base: str) -> list[int]:
    """COMMITTED snapshot versions still on disk (ascending) — the
    time-travel horizon is bounded by :func:`vacuum`'s ``keep`` below
    and by the pointer above: a v{N} directory beyond the current
    pointer is an in-flight or crashed-uncommitted write and is never
    exposed (its contents may be partial, and the version number will
    be reused by the next commit)."""
    cur = current_version(base)
    if cur is None:
        return []
    try:
        names = os.listdir(base)
    except OSError:
        return []
    return sorted(
        int(n[1:])
        for n in names
        if n.startswith("v") and n[1:].isdigit() and int(n[1:]) <= cur
    )


def read_table_at(spark: SparkSession, base: str, version: int) -> DataFrame:
    """Time-travel read: the table exactly as committed at ``version``.

    Snapshots are immutable once the pointer moves past them (writers
    only ever create v{N+1}), so any un-vacuumed version reads
    consistently with zero coordination — the same contract lakehouse
    formats sell, carried here by the pointer-swap scheme alone.
    Raises FileNotFoundError for vacuumed or never-committed versions.
    """
    path = os.path.join(base, f"v{version}")
    if version not in list_versions(base) or not os.path.isdir(path):
        raise FileNotFoundError(
            f"version {version} not on disk under {base} "
            f"(available: {list_versions(base)})"
        )
    return _read_snapshot(spark, path)


def write_table(
    df: DataFrame,
    base: str,
    partition_by: list[str] | None = None,
    lock_timeout: float = 120.0,
    source_version: int | None = None,
) -> str:
    """Write a new snapshot and swap the pointer (commit point).

    The data write is the slow, distributed part; the pointer update
    is a single tiny file replace — readers either resolve the old
    complete snapshot or the new one, never a half-written mix.
    Concurrent writers serialize on :func:`commit_lock` (held across
    version-read → write → swap, so no two commits can claim the same
    ``v{N}``); readers never take the lock. ``source_version``, when
    given, is sealed into the snapshot's manifest with the rest of it
    (see :func:`source_version`).
    """
    with commit_lock(base, timeout=lock_timeout):
        return commit_snapshot(df, base, partition_by, source_version)


def source_version(base: str) -> int | None:
    """The source version the current snapshot recorded at commit, or
    None when the table was never committed or recorded none."""
    path = table_path(base)
    manifest = load_manifest(path) if path else None
    return manifest.get("source_version") if manifest else None


def commit_snapshot(
    df: DataFrame,
    base: str,
    partition_by: list[str] | None = None,
    source_version: int | None = None,
) -> str:
    """The unlocked commit body: write snapshot v{N+1}, swap pointer.

    CALLER MUST HOLD :func:`commit_lock` on ``base``. Exists so
    read-modify-write cycles (compaction, rollup upserts) can hold ONE
    lock across read → transform → commit — routing through
    :func:`write_table` would re-acquire the non-reentrant lock, and
    resolving the source snapshot before locking opens the lost-update
    race the lock prevents.
    """
    v = (current_version(base) or 0) + 1
    path = os.path.join(base, f"v{v}")
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    _commit(base, v, source_version)
    return path


def _commit(base: str, v: int, source_version: int | None = None) -> None:
    """Seal snapshot ``v{v}`` and make it current. Shared by every
    committing path so the protocol has exactly one implementation.

    The manifest (per-file stats, row counts, read schema) is written
    BEFORE the pointer swap, so every committed snapshot supports
    planning-time file skipping and metadata reads, and a crash
    between write and swap leaves no manifest-less committed state.
    The swap is the commit point: the pointer file is replaced
    atomically (POSIX os.replace). A manifest error propagates before
    the swap, so the commit aborts and the table stays at its prior
    version; a retried commit rewrites the same ``v{v}``."""
    write_manifest(os.path.join(base, f"v{v}"), source_version)
    tmp = _pointer_file(base) + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(v))
    os.replace(tmp, _pointer_file(base))


def purge_older_than(
    spark: SparkSession,
    base: str,
    col: str,
    days: int,
    anchor: "object | None" = None,
    lock_timeout: float = 120.0,
) -> dict:
    """S12 as a real mutation: drop rows older than ``days`` before
    ``anchor`` by committing a new snapshot WITHOUT them — the
    reference's retention DELETE (services/pg_staging.py:399-434)
    re-expressed for immutable storage.

    Fast path: when the current snapshot is Hive-partitioned on
    ``col`` (``col=YYYY-MM-DD`` directories — the layout a
    retention-managed table should use), kept partitions are
    *hardlinked* into the new snapshot directory: O(partitions)
    metadata work, zero data copied, and the drop is exact because
    the predicate is on the partition key. Readers keep resolving the
    old snapshot until the pointer swap; :func:`vacuum` reclaims it.

    Fallback: an unpartitioned snapshot is rewritten through a filter
    (full copy — unavoidable without row-level storage; at 100 TB,
    partition your retention tables by date).

    ``anchor`` defaults to the max of ``col`` in the data (the
    engine's deterministic stand-in for the reference's NOW()).
    Rows with NULL ``col`` are kept, matching DELETE's semantics.

    Returns {"version", "path", "dropped_partitions", "mode"}.
    """
    import datetime as dt
    import shutil

    with commit_lock(base, timeout=lock_timeout):
        return _purge_locked(spark, base, col, days, anchor, dt, shutil)


def _purge_locked(spark, base, col, days, anchor, dt, shutil) -> dict:
    """Body of :func:`purge_older_than`, run under the commit lock so
    the snapshot it reads is the one its pointer swap supersedes (a
    concurrent merge committing in between would be silently undone
    otherwise)."""
    cur_path = table_path(base)
    if cur_path is None:
        raise FileNotFoundError(f"no committed snapshot under {base}")

    part_prefix = f"{col}="
    part_dirs = [
        e
        for e in os.scandir(cur_path)
        if e.is_dir() and e.name.startswith(part_prefix)
    ]

    df = _read_snapshot(spark, cur_path)
    if anchor is None:
        from pyspark.sql import functions as F

        anchor = df.agg(F.max(col)).collect()[0][0]
        if anchor is None:
            raise ValueError(f"cannot anchor retention: {col} is all NULL")
    if isinstance(anchor, dt.datetime):
        anchor = anchor.date()
    cutoff = anchor - dt.timedelta(days=days)

    v = (current_version(base) or 0) + 1
    new_path = os.path.join(base, f"v{v}")

    if part_dirs:
        dropped = []
        # a crashed uncommitted write may have left this version's
        # directory behind; its files must not join the snapshot
        shutil.rmtree(new_path, ignore_errors=True)
        os.makedirs(new_path)
        for entry in part_dirs:
            raw = entry.name[len(part_prefix):]
            keep_it = True
            if raw != "__HIVE_DEFAULT_PARTITION__":  # NULLs are kept
                try:
                    keep_it = dt.date.fromisoformat(raw) >= cutoff
                except ValueError:
                    pass  # unparseable partition value: keep, don't drop
            if not keep_it:
                dropped.append(entry.name)
                continue
            dst_dir = os.path.join(new_path, entry.name)
            os.makedirs(dst_dir, exist_ok=True)
            for f in os.scandir(entry.path):
                if f.is_file():
                    try:
                        os.link(f.path, os.path.join(dst_dir, f.name))
                    except OSError:
                        shutil.copy2(f.path, os.path.join(dst_dir, f.name))
        mode = "partition-drop"
    else:
        from pyspark.sql import functions as F

        kept = df.filter(F.col(col).isNull() | (F.col(col) >= F.lit(cutoff)))
        kept.write.mode("overwrite").parquet(new_path)
        dropped = []
        mode = "filter-rewrite"

    _commit(base, v)
    return {
        "version": v,
        "path": new_path,
        "dropped_partitions": dropped,
        "mode": mode,
    }


def compact(
    spark: SparkSession,
    base: str,
    target_file_bytes: int = 128 << 20,
    partition_by: list[str] | None = None,
    lock_timeout: float = 120.0,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 16,
) -> dict:
    """Rewrite the current snapshot with right-sized files.

    The small-file problem: streaming micro-batches and fine-grained
    merges each land a handful of rows per file, and a 100 TB table
    accumulated that way pays a per-file open cost (and loses
    row-group-level pruning) on every scan. Compaction reads the
    current snapshot and commits a new one with files sized to
    ``target_file_bytes`` (the usual 128 MiB parquet sweet spot),
    going through :func:`write_table`, so it takes the commit lock,
    readers keep the old snapshot until the pointer swap, and
    :func:`vacuum` reclaims it afterwards.

    ``partition_by`` keeps a Hive layout (e.g. the retention date key)
    intact; rows are clustered to their partition before the write so
    each output partition directory gets contiguous files.

    ``zorder_by`` additionally clusters the rewrite along the Z-order
    curve of the named integer columns (the OPTIMIZE ... ZORDER BY
    pass): files come out range-partitioned on the Morton code, so
    min/max stats are narrow in EVERY listed column and scans filtered
    on any of them skip files (see sources/layout.py). Compaction is
    exactly where this belongs at 100 TB — a periodic rewrite, never a
    per-query cost. Mutually exclusive with ``partition_by`` (a Hive
    layout already fixes the directory key; z-order within partitions
    would need per-partition ranges, a different pass).

    Returns {"version", "path", "files_before", "files_after"}.
    """
    if partition_by and zorder_by:
        raise ValueError("compact: partition_by and zorder_by are exclusive")

    def _stats(path: str) -> tuple[int, int]:
        n = size = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(root, f))
        return n, size

    # The whole read→rewrite→swap runs under ONE lock acquisition:
    # resolving the source snapshot before locking (e.g. by routing
    # through write_table, which locks internally) would let a commit
    # land in between and be silently undone by the compacted rewrite
    # of the older snapshot — the lost-update race the lock exists to
    # prevent. The lock is not reentrant, so the commit goes through
    # commit_snapshot (the unlocked commit body) directly.
    with commit_lock(base, timeout=lock_timeout):
        cur = table_path(base)
        if cur is None:
            raise FileNotFoundError(f"no committed snapshot under {base}")
        files_before, total = _stats(cur)
        nfiles = max(1, -(-total // target_file_bytes))  # ceil
        df = _read_snapshot(spark, cur)
        if zorder_by:
            from pyspark.sql import functions as F

            from simple_etl_spark.sources.layout import zvalue

            df = (
                df.withColumn("_z", zvalue(list(zorder_by), zorder_bits))
                .repartitionByRange(nfiles, F.col("_z"))
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        elif partition_by:
            df = df.repartition(nfiles, *partition_by)
        else:
            df = df.repartition(nfiles)
        path = commit_snapshot(df, base, partition_by)
        files_after, _ = _stats(path)
    return {
        "version": int(os.path.basename(path)[1:]),
        "path": path,
        "files_before": files_before,
        "files_after": files_after,
    }


def vacuum(base: str, keep: int = 1) -> list[str]:
    """Drop snapshots older than the newest ``keep`` (the retention
    delete S12 for the store itself). Returns removed paths."""
    import shutil

    cur = current_version(base)
    if cur is None:
        return []
    removed = []
    for name in os.listdir(base):
        if name.startswith("v") and name[1:].isdigit():
            v = int(name[1:])
            if v <= cur - keep:
                p = os.path.join(base, name)
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
    return removed


def snapshot_diff(
    spark: SparkSession,
    base: str,
    v_old: int,
    v_new: int,
) -> DataFrame:
    """Row-level diff between two committed snapshots: one output row
    per DISTINCT row value whose multiplicity changed, with the copy
    counts on both sides — ``change`` = 'added' (0 → n), 'removed'
    (n → 0) or 'recount' (j → k, e.g. a dedup pass collapsing
    double-appended rows). Comparing multiplicities, not sets, is what
    makes a dedup/merge that drops one of two identical copies VISIBLE
    — the exact pass this audit exists for.

    The audit primitive time travel enables: "what did that compaction
    / merge / retention pass actually change?". Rows compare by an
    unambiguous hash — each column is md5-hashed individually (fixed-
    width hex, so no separator collisions between e.g. ('a\\x1fb','c')
    and ('a','b\\x1fc')) with a non-hex NULL sentinel, then the hashes
    concatenate. One grouped count per side + one full-outer join on
    the hash; at 100 TB run it partition-scoped — the shape is
    unchanged, only the scan filter.
    """
    from pyspark.sql import functions as F

    old = read_table_at(spark, base, v_old)
    new = read_table_at(spark, base, v_new)
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"snapshot_diff: column sets differ between v{v_old} and "
            f"v{v_new}: {sorted(old.columns)} vs {sorted(new.columns)}"
        )
    cols = sorted(old.columns)
    rowhash = F.md5(
        F.concat_ws(
            "|",
            *[
                F.coalesce(F.md5(F.col(c).cast("string")), F.lit("NULL"))
                for c in cols
            ],
        )
    )

    def _counted(df):
        return (
            df.withColumn("_h", rowhash)
            .groupBy("_h", *cols)
            .agg(F.count(F.lit(1)).alias("_n"))
        )

    o = _counted(old).withColumnsRenamed({c: f"_o_{c}" for c in cols})
    n = _counted(new).withColumnsRenamed({c: f"_n_{c}" for c in cols})
    joined = o.withColumnRenamed("_n", "n_old").join(
        n.withColumnRenamed("_n", "n_new"), "_h", "full_outer"
    )
    out_cols = [
        F.coalesce(F.col(f"_o_{c}"), F.col(f"_n_{c}")).alias(c) for c in cols
    ]
    return (
        joined.filter(
            F.coalesce(F.col("n_old"), F.lit(0))
            != F.coalesce(F.col("n_new"), F.lit(0))
        )
        .select(
            F.when(F.col("n_old").isNull(), "added")
            .when(F.col("n_new").isNull(), "removed")
            .otherwise("recount")
            .alias("change"),
            *out_cols,
            F.coalesce(F.col("n_old"), F.lit(0)).alias("n_old"),
            F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
        )
    )


def delete_by_keys(
    spark: SparkSession,
    base: str,
    keys: DataFrame,
    key_cols: list[str],
    lock_timeout: float = 120.0,
    partition_by: list[str] | None = None,
) -> dict:
    """Key-targeted deletion (the right-to-be-forgotten pass): rewrite
    the current snapshot without any row whose ``key_cols`` match a
    row of ``keys``, as one atomic commit.

    One NULL-SAFE left-anti join against the (typically tiny,
    broadcast) key set — plain equality would be null-rejecting, so a
    deletion request targeting NULL-keyed rows would silently delete
    nothing, a compliance failure this join condition closes. Runs
    read→rewrite→swap under a single lock acquisition like compaction,
    so a concurrent merge can't be silently undone. ``partition_by``
    preserves a Hive layout through the rewrite (pass the table's
    partition key, exactly as with :func:`compact` — omitting it on a
    partitioned table would silently flatten the directory layout and
    lose partition-pruned scans). Old snapshots still contain the rows
    until :func:`vacuum` — for compliance, deletion is complete only
    after vacuum reclaims every prior version (documented contract,
    same as every snapshot store).

    Returns {"version", "path", "rows_before", "rows_after"}.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    with commit_lock(base, timeout=lock_timeout):
        cur = table_path(base)
        if cur is None:
            raise FileNotFoundError(f"no committed snapshot under {base}")
        df = _read_snapshot(spark, cur)
        before = _snapshot_rows(spark, cur)
        k = keys.select(
            *[F.col(c).alias(f"_del_{c}") for c in key_cols]
        ).distinct()
        cond = reduce(
            lambda a, b: a & b,
            [df[c].eqNullSafe(F.col(f"_del_{c}")) for c in key_cols],
        )
        kept = df.join(F.broadcast(k), cond, "left_anti")
        path = commit_snapshot(kept, base, partition_by)
        after = _snapshot_rows(spark, path)
    return {
        "version": int(os.path.basename(path)[1:]),
        "path": path,
        "rows_before": before,
        "rows_after": after,
    }
