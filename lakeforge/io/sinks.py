"""Sinks (reference: S4-S7 — bronze_to_silver.py:70-78,
gold_sql_to_postgres.py:31-44, README.md:190-191; SURVEY.md §2.1).

Scale notes:
- ``write_partitioned_parquet`` repartitions by the partition columns first so
  each Hive partition gets one writer task (no small-file explosion: without
  it, every task writes a sliver into every partition — tasks x partitions
  files).
- Dynamic partition overwrite (pinned per writer) means an incremental
  merge rewrites only the partitions present in the frame — the behavior the
  reference README claims (README.md:213) but its code does not do (it
  overwrites whole tables, bronze_to_silver.py:100,108).
- The gold parquet export (S7) is ``write_partitioned_parquet(df, path)``.
- JDBC writes parallelize across ``num_partitions`` connections with batched
  inserts (reference S5 knobs preserved).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str] | None = None
) -> None:
    """Partitioned Snappy-Parquet sink (reference S4: bronze_to_silver.py:70-78).

    Overwrites: the whole table when unpartitioned, otherwise only the
    partitions present in ``df``.
    """
    if not partition_cols:
        df.write.mode("overwrite").option("compression", "snappy").parquet(path)
        return
    (
        df.repartition(*partition_cols)
        .write.mode("overwrite")
        .option("compression", "snappy")
        # Dynamic overwrite is pinned PER-WRITER (not session config), and
        # ``merge_full_history`` depends on it twice.  It rewrites only the
        # partitions present in ``df``: under static overwrite, the pruned
        # merge would truncate every untouched partition.  And it stages
        # the new partitions and swaps them in at job commit, so ``df`` may
        # read the very partitions it replaces (the merge does, with no
        # materialized copy), and a failed job leaves them as they were.
        # A caller may hand us a SparkSession not built by ``get_spark``,
        # whose session default is static.
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    user: str,
    password: str,
    driver: str = "org.postgresql.Driver",
    num_partitions: int = 16,
    mode: str = "overwrite",
    truncate: bool = True,
) -> None:
    """Bulk JDBC sink (reference S5: gold_sql_to_postgres.py:31-44).

    ``repartition(num_partitions)`` => that many parallel executor-side
    connections, each inserting in batches of 20000 rows (the reference's
    ``batchsize``); ``truncate=true`` keeps target DDL on overwrite.
    """
    (
        df.repartition(num_partitions)
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("driver", driver)
        .option("batchsize", 20000)
        .option("truncate", truncate)
        .option("numPartitions", num_partitions)
        .option("stringtype", "unspecified")
        .mode(mode)
        .save()
    )


def export_csv(df: DataFrame, path: str) -> None:
    """Gold CSV export (reference S6 — declared at README.md:190-191, script
    absent; golden outputs at exports/gold_csv/ prove the capability).

    Coalesces to one writer, so the export is one headed CSV file — fine
    for dim-sized exports, never for fact-scale data.
    """
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (zlib default codec): overwrites ``path``."""
    df.write.mode("overwrite").orc(path)
