"""Reusable analytic operators with global-order cores decomposed
two-level (the peak_concurrency seam pattern), extracted from the
workload so they are property-testable against naive reference models
(tests/test_properties.py) and composable outside the registry queries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def pareto_frontier_2d(
    df: DataFrame,
    minimize_col: str,
    maximize_col: str,
    block_width: float = 100.0,
) -> DataFrame:
    """Pareto-optimal (minimize_col, maximize_col) points: no other point
    is <= on the minimized axis AND >= on the maximized axis with at
    least one strict.  Returns the distinct frontier points.

    Reduction first (max of the maximized axis per distinct minimized
    value — one parallel shuffle), then the running max over the
    minimized order runs two-level: within value-range blocks in
    parallel, block maxima prefix-combined over the tiny block summary,
    carry-in joined back broadcast.  Identical to a single-pass running
    max because blocks follow the sort order.
    """
    from lakeforge.cache import persist_tracked

    # pts feeds the within-block window AND the block summary
    pts = persist_tracked(
        df.groupBy(minimize_col).agg(F.max(maximize_col).alias(maximize_col))
    )
    blocked = pts.withColumn(
        "__bk", F.floor(F.col(minimize_col) / block_width).cast("bigint")
    )
    w_in = (
        Window.partitionBy("__bk")
        .orderBy(minimize_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = blocked.withColumn("__prev_in", F.max(maximize_col).over(w_in))
    blk = blocked.groupBy("__bk").agg(F.max(maximize_col).alias("__blk_max"))
    w_blk = Window.orderBy("__bk").rowsBetween(Window.unboundedPreceding, -1)
    carry = blk.withColumn("__prev_blk", F.max("__blk_max").over(w_blk)).select(
        "__bk", "__prev_blk"
    )
    return (
        within.join(F.broadcast(carry), "__bk")
        .withColumn(
            "__best_prev",
            F.greatest(
                F.coalesce("__prev_in", F.lit(float("-inf"))),
                F.coalesce("__prev_blk", F.lit(float("-inf"))),
            ),
        )
        .filter(F.col(maximize_col) > F.col("__best_prev"))
        .select(minimize_col, maximize_col)
    )


def coalesce_intervals(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Merge overlapping-or-touching [start, end) intervals per key into
    maximal islands (one row per island with island start/end).

    Gaps-and-islands over RANGES: a new island starts when the next
    start exceeds the running max of ALL previous ends — running max,
    not lag(end), because an earlier long interval can swallow several
    later ones.  Windows partition by key: parallel across keys, bounded
    within.
    """
    w = Window.partitionBy(key_col).orderBy(start_col, end_col)
    prev_end: Column = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn(
            "__new",
            F.when(prev_end.isNull() | (F.col(start_col) > prev_end), 1).otherwise(
                0
            ),
        )
        .withColumn(
            "__island",
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(key_col, "__island")
        .agg(
            F.min(start_col).alias("island_start"),
            F.max(end_col).alias("island_end"),
        )
        .drop("__island")
    )


def psi_between(
    expected: DataFrame,
    actual: DataFrame,
    band_col: str,
) -> DataFrame:
    """Population Stability Index contributions between two banded count
    frames (count column ``n``): PSI = Σ (a_i − e_i)·ln(a_i/e_i) over shares.

    Laplace-smoothed (+1 per cell after a full-outer band align) so bands
    present on only one side stay finite.  Both inputs are already
    aggregated (bands × counts — tiny), so this is pure column
    arithmetic; sum `psi_contrib` downstream for the scalar.
    """
    e = expected.select(band_col, F.col("n").cast("bigint").alias("__e_raw"))
    a = actual.select(band_col, F.col("n").cast("bigint").alias("__a_raw"))
    j = (
        e.join(a, band_col, "full_outer")
        .withColumn("__e_n", F.coalesce("__e_raw", F.lit(0)) + 1)
        .withColumn("__a_n", F.coalesce("__a_raw", F.lit(0)) + 1)
    )
    tot = j.agg(
        F.sum("__e_n").alias("__e_tot"), F.sum("__a_n").alias("__a_tot")
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    e_p = d("__e_n") / d("__e_tot")
    a_p = d("__a_n") / d("__a_tot")
    return (
        j.crossJoin(F.broadcast(tot))  # 1-row scalar totals
        .select(
            band_col,
            F.coalesce("__e_raw", F.lit(0)).cast("bigint").alias("expected_n"),
            F.coalesce("__a_raw", F.lit(0)).cast("bigint").alias("actual_n"),
            F.round((a_p - e_p) * F.log(a_p / e_p), 6).alias("psi_contrib"),
        )
    )


def blocked_prefix_sum(
    df: DataFrame,
    order_col: str,
    sum_col: "str | list[str]",
    block_expr: Column,
    out_col: "str | list[str]" = "prefix_sum",
) -> DataFrame:
    """EXCLUSIVE running sum(s) of ``sum_col`` over the global
    ``order_col`` order, decomposed two-level so no single-partition
    pass ever sees more than one block: within-block prefix sums run
    under a partitioned window, block totals prefix-combine over the
    tiny block summary, and the carry-in joins back broadcast.  Passing
    lists computes several prefix sums in ONE decomposition (shared
    windows and one carry join).

    ``block_expr`` must be monotone non-decreasing in ``order_col``
    (e.g. ``F.floor(F.col(order_col) / width)``) and ``order_col``
    values must be unique (histogram keys) — then the result is
    identical to a global cumulative window, at any block width.

    The block summary has one row per touched block, and the carry joins
    back broadcast on the block key."""
    from lakeforge.cache import persist_tracked

    sum_cols = [sum_col] if isinstance(sum_col, str) else list(sum_col)
    out_cols = [out_col] if isinstance(out_col, str) else list(out_col)
    assert len(sum_cols) == len(out_cols)

    blocked = persist_tracked(df.withColumn("__bk", block_expr))
    w_in = (
        Window.partitionBy("__bk")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = blocked
    for i, c in enumerate(sum_cols):
        within = within.withColumn(
            f"__in{i}", F.coalesce(F.sum(c).over(w_in), F.lit(0))
        )
    blk = blocked.groupBy("__bk").agg(
        *[F.sum(c).alias(f"__bt{i}") for i, c in enumerate(sum_cols)]
    )
    w_blk = Window.orderBy("__bk").rowsBetween(Window.unboundedPreceding, -1)
    carry = blk.select(
        "__bk",
        *[
            F.coalesce(F.sum(f"__bt{i}").over(w_blk), F.lit(0)).alias(
                f"__carry{i}"
            )
            for i in range(len(sum_cols))
        ],
    )
    out = within.join(F.broadcast(carry), ["__bk"])
    drop = ["__bk"]
    for i, oc in enumerate(out_cols):
        out = out.withColumn(
            oc, (F.col(f"__in{i}") + F.col(f"__carry{i}")).cast("bigint")
        )
        drop += [f"__in{i}", f"__carry{i}"]
    return out.drop(*drop)
