"""Z-order data layout: multi-dimensional clustering for file skipping.

Partition pruning only helps on the partition column; queries filtering on
a SECOND dimension still scan every file.  Z-ordering interleaves the bits
of several columns into one sort key so that range-partitioning by it
co-locates rows that are close in EVERY dimension — parquet min/max footer
stats then let the reader skip most files for selective filters on any of
the z-ordered columns (the idea behind Delta's OPTIMIZE ZORDER BY; see the
Morton-curve literature).

All bit math is plain integer arithmetic, so the z-key is reproducible in
any engine (DuckDB oracle included).  Scale shape: one range-shuffle by
z-key at write time (same cost as any sorted write) buys every subsequent
selective scan a file-level skip.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton/Z-value: interleave the low ``bits`` bits of each column.

    Columns must already be non-negative integers scaled to [0, 2^bits)
    — quantize first (e.g. epoch-day, bucketed price).  With k columns the
    result uses k*bits bits (keep <= 63).
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    k = len(cs)
    if k * bits > 63:
        raise ValueError(f"{k} cols x {bits} bits exceeds signed-64 range")
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, c in enumerate(cs):
            bit = F.shiftrightunsigned(c.cast("bigint"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * k + i))
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    zcols: list[str],
    bits: int = 16,
    n_files: int = 8,
) -> None:
    """Overwrite ``path`` with ``df`` clustered on the z-curve of
    ``zcols``: range-partition by z-key into ``n_files`` output files,
    sorted within each.  Filters on any z-ordered column then skip files
    via parquet min/max stats."""
    keyed = df.withColumn("__z", zorder_key(list(zcols), bits))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_partitions(
    spark, path: str, target_mb: int = 128, partition_by: list[str] | None = None
) -> dict:
    """Small-file compaction: rewrite a parquet table so each output file
    approaches ``target_mb`` (lakehouse OPTIMIZE).

    Streaming ingest and per-trigger writes accumulate thousands of tiny
    files; every query then pays per-file open/footer costs and the
    driver pays listing time.  Compaction is one read + one write sized
    from the table's actual on-disk bytes — no shuffle beyond the
    repartition, and with ``partition_by`` the hive layout is preserved
    (repartitioned BY the partition columns: one writer per partition).

    Dispatch (round-2 review: the in-place swap silently assumed POSIX):

    - ``path`` is a **versioned table root** (has a ``_VERSION`` pointer)
      -> delegates to :func:`compact_versioned`: crash-safe and
      reader-safe on ANY filesystem, including object stores.
    - ``path`` has a **non-local URI scheme** (s3/gs/abfs/hdfs/...) ->
      raises: the in-place rename swap needs atomic directory rename,
      which object stores don't have.  Use a versioned table
      (:func:`commit_version` + :func:`compact_versioned`).
    - plain **local** parquet dir -> in-place rename-aside swap.
      Single-writer, no-concurrent-reader contract: between the two
      renames the table path briefly does not exist, so a concurrent
      reader errors; a crash in that window leaves the data at
      ``path__old`` (manual recovery).  Versioned tables have neither
      problem — prefer them for anything shared.

    Returns {files_before, files_after, bytes} for observability.
    """
    import glob as _glob
    import os as _os

    if _os.path.exists(_os.path.join(path, _POINTER)):
        return compact_versioned(spark, path, target_mb, partition_by)
    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme not in ("", "file"):
        raise ValueError(
            f"compact_partitions: in-place swap is POSIX-only, got scheme "
            f"'{scheme}://'. Use a versioned table (commit_version + "
            f"compact_versioned) — object stores have no atomic rename."
        )

    files = [
        f
        for f in _glob.glob(f"{path}/**/*.parquet", recursive=True)
        if _os.path.isfile(f)
    ]
    total_bytes = sum(_os.path.getsize(f) for f in files)
    df = spark.read.parquet(path)
    if partition_by:
        out = df.repartition(*partition_by)
    else:
        n = max(1, -(-total_bytes // (target_mb * 1024 * 1024)))  # ceil
        out = df.repartition(n)
    tmp = f"{path}__compacting"
    w = out.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)
    # Crash-safe swap: move the live table ASIDE (rename, instant), promote
    # the compacted copy, delete the old data LAST — at no point is the
    # table lost; a crash mid-swap leaves it recoverable at ``path`` or
    # ``path__old``.  (Object stores have no atomic rename: there, write to
    # a new versioned prefix and flip a manifest/pointer instead.)
    import shutil as _shutil

    old = f"{path}__old"
    if _os.path.exists(old):
        _shutil.rmtree(old)
    _os.rename(path, old)
    try:
        _os.rename(tmp, path)
    except BaseException:
        _os.rename(old, path)  # roll back: the original table returns live
        raise
    _shutil.rmtree(old)
    files_after = len(
        [f for f in _glob.glob(f"{path}/**/*.parquet", recursive=True)]
    )
    return {
        "files_before": len(files),
        "files_after": files_after,
        "bytes": total_bytes,
    }


# ---------------------------------------------------------------------------
# Versioned-table pointer protocol: the object-store-safe commit pattern
# (what Delta/Iceberg do with a transaction log, reduced to its essential
# single-writer form).  Data lands under immutable version prefixes
# `{table}/v{N}/`; a tiny pointer file names the current version and is
# swapped by writing `_VERSION.tmp` then renaming over `_VERSION` — the
# one operation that is atomic on POSIX and a single-object PUT on object
# stores.  Readers resolve the pointer, then read an immutable prefix, so
# a reader can NEVER observe a half-written table; a crashed writer leaves
# only an orphaned (unreferenced) version prefix.  Readers take
# ``spark.read.parquet(versioned_path(root))``; pass a version number to
# ``versioned_path`` to time-travel.
# ---------------------------------------------------------------------------

_POINTER = "_VERSION"


def current_version(table_root: str) -> int | None:
    """Version named by the pointer file, or None for an empty table."""
    import os as _os

    p = _os.path.join(table_root, _POINTER)
    if not _os.path.exists(p):
        return None
    with open(p) as fh:
        return int(fh.read().strip())


def versioned_path(table_root: str, version: int | None = None) -> str:
    """Resolve the data prefix for a version (default: current)."""
    import os as _os

    v = current_version(table_root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version at {table_root}")
    return _os.path.join(table_root, f"v{v}")


def _existing_versions(table_root: str) -> list[int]:
    import os as _os
    import re as _re

    if not _os.path.isdir(table_root):
        return []
    return sorted(
        int(m.group(1))
        for e in _os.listdir(table_root)
        if (m := _re.fullmatch(r"v(\d+)", e))
    )


def commit_version(df, table_root: str, partition_by: list[str] | None = None) -> int:
    """Write ``df`` as the next version and atomically flip the pointer.

    The data write happens entirely under the NEW prefix; the commit is
    the pointer swap at the end — readers see the old version until that
    instant, the new one after, never a mixture.

    The next version number is allocated PAST any existing prefix, not
    just past the pointer: a writer that died after writing data but
    before the flip leaves an orphan prefix, and allocating ``cur + 1``
    would collide with it forever (mode errorifexists) — write-bricking
    the table.
    """
    import os as _os

    _os.makedirs(table_root, exist_ok=True)
    cur = current_version(table_root)
    on_disk = _existing_versions(table_root)
    floor = max([cur if cur is not None else -1, *(on_disk or [-1])])
    nxt = floor + 1
    target = versioned_path(table_root, nxt)
    w = df.write.mode("errorifexists")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(target)
    tmp = _os.path.join(table_root, _POINTER + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(str(nxt))
    _os.replace(tmp, _os.path.join(table_root, _POINTER))  # the commit point
    return nxt


def compact_versioned(
    spark, table_root: str, target_mb: int = 128,
    partition_by: list[str] | None = None,
) -> dict:
    """OPTIMIZE for a versioned table: read current, rewrite right-sized
    into the next version, flip the pointer.  Fully crash-safe on any
    filesystem: an interrupted compaction leaves an orphan prefix and the
    pointer still naming the old, intact version."""
    import glob as _glob
    import os as _os

    src = versioned_path(table_root)
    files = [
        f
        for f in _glob.glob(f"{src}/**/*.parquet", recursive=True)
        if _os.path.isfile(f)
    ]
    total_bytes = sum(_os.path.getsize(f) for f in files)
    df = spark.read.parquet(src)
    if partition_by:
        out = df.repartition(*partition_by)
    else:
        n = max(1, -(-total_bytes // (target_mb * 1024 * 1024)))  # ceil
        out = df.repartition(n)
    v = commit_version(out, table_root, partition_by)
    files_after = len(
        _glob.glob(f"{versioned_path(table_root, v)}/**/*.parquet", recursive=True)
    )
    return {
        "files_before": len(files),
        "files_after": files_after,
        "bytes": total_bytes,
        "version": v,
    }


def range_sorted_write(
    df,
    path: str,
    sort_cols: list[str],
    num_files: int | None = None,
) -> None:
    """Overwrite ``path`` with parquet globally range-clustered on
    ``sort_cols``: ``repartitionByRange`` assigns disjoint key ranges to
    files and ``sortWithinPartitions`` orders rows inside each — so every file's
    parquet min/max footer stats for the leading sort column are
    (near-)disjoint, and a point or range predicate prunes to ~one file
    at planning/scan time (row-group skipping).  The single-dimension
    complement of z-ordering: better skipping for ONE dominant predicate
    column, where z-order trades some of it for multi-column skipping.

    Scale: one range-partitioning shuffle (sampled boundaries) + local
    sort; num_files sizes output files (None keeps the session's shuffle
    parallelism — at 100 TB pick ~target_bytes/file)."""
    out = (
        df.repartitionByRange(num_files, *sort_cols)
        if num_files
        else df.repartitionByRange(*sort_cols)
    )
    out.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# File-statistics manifest + planner-visible data skipping.
# ---------------------------------------------------------------------------

MANIFEST_DIR = "_stats_manifest"


def write_stats_manifest(spark, path: str, stat_cols: list[str]) -> None:
    """Build and persist a file-level statistics manifest for the parquet
    table at ``path``: one row per data file with row count and min/max of
    each ``stat_cols`` column, stored under ``<path>/_stats_manifest``
    (underscore-prefixed → invisible to the data reader).

    This is the Iceberg/Delta manifest idea with Spark primitives: parquet
    footers already hold per-row-group min/max, but at 100 TB with millions
    of files, OPENING every footer at planning time is itself the
    bottleneck — a manifest makes pruning a metadata query (one tiny scan)
    instead of a filesystem walk.  One full scan builds it (the price is
    paid once per table rewrite, e.g. right after range_sorted_write /
    zorder_write, whose clustering is what makes the min/max ranges tight
    and the pruning effective).
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for c in stat_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    (
        df.select(F.col("_metadata.file_path").alias("file"), *stat_cols)
        .groupBy("file")
        .agg(*aggs)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/{MANIFEST_DIR}")
    )


def prune_files(spark, path: str, col: str, lo, hi) -> tuple[list[str], int]:
    """Return ``(candidate_files, total_files)`` for a ``col BETWEEN lo
    AND hi`` predicate using the stats manifest: a file survives iff its
    [min, max] range overlaps [lo, hi] (NULL stats — all-NULL column in
    that file — keep the file: skipping must never be lossy).

    The collect is bounded by the pruned file count — the same
    planning-time materialization every table format performs; the
    manifest scan itself is one row per file.
    """
    from pyspark.sql import functions as F

    m = spark.read.parquet(f"{path}/{MANIFEST_DIR}")
    total = m.count()
    keep = m.filter(
        ~(F.col(f"max_{col}") < F.lit(lo)) & ~(F.col(f"min_{col}") > F.lit(hi))
        | F.col(f"min_{col}").isNull()
        | F.col(f"max_{col}").isNull()
    )
    return [r.file for r in keep.select("file").collect()], total


def skipping_scan(spark, path: str, col: str, lo, hi):
    """Scan ``path`` for rows with ``col BETWEEN lo AND hi``, reading ONLY
    the files whose manifest stats overlap the band (plus the row-level
    filter, which parquet row-group stats then prune further within each
    surviving file).  Exactly equal to the full-scan filter by
    construction — the manifest keeps any file it cannot rule out.
    """
    from pyspark.sql import functions as F

    files, _total = prune_files(spark, path, col, lo, hi)
    pred = F.col(col).between(F.lit(lo), F.lit(hi))
    if not files:
        return spark.read.parquet(path).filter(F.lit(False))
    return spark.read.parquet(*files).filter(pred)


def update_stats_manifest(spark, path: str, stat_cols: list[str]) -> int:
    """Incrementally extend the stats manifest with files appended since it
    was last written: list the data files, scan ONLY the unmanifested ones
    (the append delta), and union their stats into the manifest.  Returns
    the number of newly manifested files.

    At 100 TB this is the difference between a metadata commit that costs
    O(appended bytes) and one that re-reads the table; the listing itself
    is the filesystem's job (bounded by file count, same as any planner).
    ``stat_cols`` must match the manifest's existing columns — mixed
    manifests would make pruning silently lossy, so it raises instead.
    """
    import glob as _glob
    import os as _os

    from pyspark.sql import functions as F

    mpath = f"{path}/{MANIFEST_DIR}"
    m = spark.read.parquet(mpath)
    want = {f"min_{c}" for c in stat_cols} | {f"max_{c}" for c in stat_cols}
    have = {c for c in m.columns if c.startswith(("min_", "max_"))}
    if want != have:
        raise ValueError(
            f"update_stats_manifest: stat_cols {sorted(want)} != manifest's "
            f"{sorted(have)} — rebuild with write_stats_manifest instead"
        )
    # membership by basename: the manifest stores URI-schemed paths
    # (file:///...) while the listing yields local paths; within one flat
    # table directory part-file names are unique by construction
    known = {_os.path.basename(r.file) for r in m.select("file").collect()}
    new_files = sorted(
        p
        for p in _glob.glob(f"{path}/*.parquet")
        if not _os.path.basename(p).startswith(("_", "."))
        and _os.path.basename(p) not in known
    )
    if not new_files:
        return 0
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for c in stat_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    delta = (
        spark.read.parquet(*new_files)
        .select(F.col("_metadata.file_path").alias("file"), *stat_cols)
        .groupBy("file")
        .agg(*aggs)
    )
    # Terminal checkpoint (breaks the manifest read->overwrite cycle);
    # blocks released right after the write (VERDICT r06 #1 leak class).
    from lakeforge import cache

    merged, ck_ids = cache.checkpoint_eager(m.unionByName(delta.select(*m.columns)))
    merged.coalesce(1).write.mode("overwrite").parquet(mpath)
    cache.unpersist_rdd_ids(spark, ck_ids)
    return len(new_files)
