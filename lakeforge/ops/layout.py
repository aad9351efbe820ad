"""Data layout for file skipping: z-order keys, range-clustered writes and
a file-level statistics manifest.

Partition pruning only helps on the partition column; queries filtering on
a SECOND dimension still scan every file.  The z-order key interleaves the
bits of several columns into one sort key, so that range-partitioning by it
co-locates rows that are close in EVERY dimension — parquet min/max footer
stats then let the reader skip most files for selective filters on any of
the z-ordered columns (the idea behind Delta's OPTIMIZE ZORDER BY; see the
Morton-curve literature).  ``range_sorted_write`` is the single-dimension
write, and the stats manifest turns the resulting min/max ranges into a
metadata-only file prune.

All bit math is plain integer arithmetic, so the z-key is reproducible in
any engine (DuckDB oracle included).
"""

from __future__ import annotations

from pyspark.sql import Column
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
    paid once per table rewrite, e.g. right after range_sorted_write, whose
    clustering is what makes the min/max ranges tight and the pruning
    effective).
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
