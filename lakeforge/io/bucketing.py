"""Bucketed tables: pre-shuffled storage for co-located, exchange-free joins.

At 100 TB the dominant cost of a fact-to-fact join is shuffling both sides
by the join key on every query.  Bucketing pays that shuffle ONCE at write
time: ``bucketBy(n, key)`` hash-partitions rows into n files per partition,
and Spark's scan reports the bucketing as an output partitioning, so a join
of two tables bucketed by the same key with the same n plans as a
sort-merge join with NO Exchange on either side (verify with
``tools/explain_audit.py`` / ``joined.explain``).

Notes for real clusters:
- Bucketed writes require ``saveAsTable`` (metastore-backed); a plain
  ``.parquet(path)`` write silently drops bucketing metadata.
- Both sides must have the same bucket count (or a divisor, with
  ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``).
- ``spark.sql.sources.bucketing.enabled`` is on by default; AQE respects
  bucket pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sort-within-bucket)
    managed table.  Sorting by the join key as well lets sort-merge join
    skip its sort entirely — scan, zip, done."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str], how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables — planned without a shuffle on either
    side when both are bucketed by ``on`` with equal bucket counts."""
    return spark.table(left_table).join(spark.table(right_table), on=on, how=how)
