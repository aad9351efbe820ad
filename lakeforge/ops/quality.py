"""Data-quality checks (reference: A1-A5 — silver_check.py:20-53;
SURVEY.md §2.6, §3 EP3).

The reference runs 4+ independent actions per table (count, distinct count,
dup probe, min/max), re-scanning the input each time.  ``table_summary``
computes the whole profile in a SINGLE scan: the key-group aggregate carries
the date min/max through (min-of-mins / max-of-maxes), so duplicates,
distinct keys, row counts, and the date range all come out of one pass —
at 100 TB each extra pass is a full re-read of the table.
Returns DataFrames, not prints, so checks compose into pipelines and tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def table_summary(
    df: DataFrame, key_cols: list[str], date_col: str | None = None
) -> DataFrame:
    """One-row profile: n_rows, n_distinct_keys, n_dup_keys, n_dup_rows,
    min/max date."""
    date_aggs = (
        [
            F.min(date_col).cast("date").alias("__mind"),
            F.max(date_col).cast("date").alias("__maxd"),
        ]
        if date_col is not None
        else []
    )
    key_group = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("__n"), *date_aggs
    )
    summary = key_group.agg(
        F.sum("__n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_keys"),
        F.sum(F.when(F.col("__n") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_keys"),
        F.sum(F.when(F.col("__n") > 1, F.col("__n")).otherwise(0))
        .cast("bigint")
        .alias("n_dup_rows"),
        *(
            [
                F.min("__mind").alias("__mind2"),
                F.max("__maxd").alias("__maxd2"),
            ]
            if date_col is not None
            else []
        ),
    )
    if date_col is not None:
        summary = summary.withColumnsRenamed(
            {"__mind2": "min_date", "__maxd2": "max_date"}
        )
    return summary


def duplicate_keys(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Keys occurring more than once, with counts (reference A3:
    silver_check.py:32-37) — hash group-by + HAVING."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .filter(F.col("n") > 1)
    )


def key_skew_profile(
    df: DataFrame, key_cols: list[str], k: int = 20
) -> DataFrame:
    """Heavy-hitter profile of a join/aggregation key: the top ``k`` keys
    by row count with their integer per-mille share of the table.

    This is the measurement that decides a skew strategy BEFORE a job
    melts: a key above ~50-100 permille of a 100 TB table means one
    reducer gets TBs — route that join through ``ops/joins.py::
    salted_join`` (or AQE skew-split for moderate cases).

    Scale shape: one map-side-combinable groupBy(key) shuffle to the count
    table, then ``orderBy().limit(k)`` plans as TakeOrderedAndProject
    (per-partition top-k + single merge — never a global sort), and the
    total is a broadcast one-row aggregate.  Ties broken by key for a
    deterministic answer.
    """
    counts = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    total = df.agg(F.count(F.lit(1)).cast("bigint").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("permille", F.expr("(n_rows * 1000) div __total"))
        .drop("__total")
        .orderBy(F.col("n_rows").desc(), *key_cols)
        .limit(k)
    )


def ordered_sample(df: DataFrame, order_by: list[str], n: int = 5) -> DataFrame:
    """Deterministic top-n sample (reference A5: silver_check.py:52-53).

    ``orderBy().limit(n)`` plans as TakeOrderedAndProject — a per-partition
    top-n + single merge, NOT a global sort.
    """
    return df.orderBy(*order_by).limit(n)


def observe_metrics(
    df: DataFrame, name: str, metrics: dict[str, "F.Column"] | None = None
):
    """Attach zero-cost inline quality metrics via ``df.observe``.

    Unlike ``table_summary`` (a separate aggregation job), observed metrics
    piggyback on whatever action the pipeline already runs — at 100 TB the
    quality numbers come out of the SAME scan that wrote the output, not a
    second read.

    Returns (instrumented_df, Observation); after any action on the
    returned frame, ``observation.get`` yields the metric dict (production
    streams use a QueryExecutionListener instead).
    """
    from pyspark.sql import Observation

    metrics = metrics or {
        "n_rows": F.count(F.lit(1)),
        "n_null_keys": F.count(F.when(F.col(df.columns[0]).isNull(), 1)),
    }
    obs = Observation(name)
    exprs = [c.alias(n) for n, c in metrics.items()]
    return df.observe(obs, *exprs), obs
