"""Sinks (reference: S4-S7 — bronze_to_silver.py:70-78,
gold_sql_to_postgres.py:31-44, README.md:190-191; SURVEY.md §2.1).

Scale notes:
- ``write_partitioned_parquet`` repartitions by the partition columns first so
  each Hive partition gets one writer task (no small-file explosion: without
  it, every task writes a sliver into every partition — tasks x partitions
  files).
- Dynamic partition overwrite (session default, session.py) means an
  incremental merge rewrites only the partitions present in the frame — the
  behavior the reference README claims (README.md:213) but its code does not
  do (it overwrites whole tables, bronze_to_silver.py:100,108).
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
        # Dynamic overwrite is pinned PER-WRITER (not session config): the
        # partition-scoped merge is only correct under it, and a caller may
        # hand us a SparkSession that wasn't built by ``get_spark`` — with
        # the session-level default static, an overwrite would silently
        # truncate every untouched partition.
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
    batchsize: int = 20000,
    mode: str = "overwrite",
    truncate: bool = True,
) -> None:
    """Bulk JDBC sink (reference S5: gold_sql_to_postgres.py:31-44).

    ``repartition(num_partitions)`` => that many parallel executor-side
    connections; ``truncate=true`` keeps target DDL on overwrite.
    """
    (
        df.repartition(num_partitions)
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("driver", driver)
        .option("batchsize", batchsize)
        .option("truncate", truncate)
        .option("numPartitions", num_partitions)
        .option("stringtype", "unspecified")
        .mode(mode)
        .save()
    )


def export_csv(df: DataFrame, path: str, single_file: bool = True) -> None:
    """Gold CSV export (reference S6 — declared at README.md:190-191, script
    absent; golden outputs at exports/gold_csv/ prove the capability).

    ``single_file`` coalesces to one writer — fine for dim-sized exports,
    never for fact-scale data (leave False to keep parallelism).
    """
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def export_parquet(df: DataFrame, path: str) -> None:
    """Gold parquet export (reference S7 — README.md:190, script absent),
    one file per partition of ``df``."""
    df.write.mode("overwrite").parquet(path)


def write_orc(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """ORC sink with optional hive partitioning (zlib default codec).

    Same single-writer-per-partition discipline as the parquet sink: when
    partitioning, repartition by the partition columns first so each hive
    directory gets one file instead of tasks-x-partitions fragments.
    """
    writer = df
    if partition_by:
        writer = df.repartition(*partition_by)
    w = writer.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)
