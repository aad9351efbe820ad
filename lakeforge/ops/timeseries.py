"""Time-series resampling: per-key daily grid + forward fill.

An LLM-data / feature-pipeline staple Spark has no built-in for (pandas has
``resample``).  Two implementations with identical semantics:

- ``how="native"`` (default): sequence()+explode builds each key's daily
  grid, a left join attaches observations, and ``last(ignorenulls)`` over a
  running window forward-fills.  Everything is JVM-side; the one shuffle is
  by key (grid explode is map-side).  This is the 100 TB path.
- ``how="pandas"``: applyInPandas grouped-map — the escape hatch pattern
  for logic SQL genuinely can't express (kept equivalent here precisely so
  tests can prove the two paths agree; use it as the template for ops that
  have no native formulation).

Contract: at most one row per (key, date) — pre-aggregate first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def resample_daily_ffill(
    df: DataFrame,
    key_cols: list[str],
    date_col: str,
    value_cols: list[str],
    how: str = "native",
) -> DataFrame:
    if how == "native":
        return _resample_native(df, key_cols, date_col, value_cols)
    if how == "pandas":
        return _resample_pandas(df, key_cols, date_col, value_cols)
    raise ValueError(f"unknown how={how!r}")


def _resample_native(
    df: DataFrame, key_cols: list[str], date_col: str, value_cols: list[str]
) -> DataFrame:
    bounds = df.groupBy(*key_cols).agg(
        F.min(date_col).alias("__mn"), F.max(date_col).alias("__mx")
    )
    grid = bounds.select(
        *key_cols,
        F.explode(F.sequence("__mn", "__mx")).alias(date_col),
    )
    joined = grid.join(df, on=[*key_cols, date_col], how="left")
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(date_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        *key_cols,
        date_col,
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in value_cols],
    )


def _resample_pandas(
    df: DataFrame, key_cols: list[str], date_col: str, value_cols: list[str]
) -> DataFrame:
    import pandas as pd

    out_schema = df.select(*key_cols, date_col, *value_cols).schema

    def fill(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(date_col)
        idx = pd.date_range(pdf[date_col].min(), pdf[date_col].max(), freq="D")
        g = (
            pdf.set_index(pd.to_datetime(pdf[date_col]))
            .reindex(idx)
            .ffill()
            .reset_index()
        )
        g[date_col] = g["index"].dt.date
        return g[[*key_cols, date_col, *value_cols]]

    return df.groupBy(*key_cols).applyInPandas(fill, schema=out_schema)


def with_ewma(
    df,
    value_cents: str,
    partition_by: list[str],
    order_by: list[str],
    out_col: str = "ewma_cents",
):
    """Exact-integer finite-memory EWMA (alpha = 1/2) per entity.

    The recursion s_t = (x_t + s_{t-1}) / 2 truncated to the trailing
    8 points has closed-form weights 2^0 (oldest in frame) ..
    2^{m-1} (current row) over the m <= 8 rows present,
    denominator 2^m - 1.  With cent-integer inputs and shift-left
    weights the whole computation is BIGINT — identical on any engine,
    unlike a float recursion whose low bits depend on evaluation order.

    DuckDB twin (vals := list(value) over the same ROWS frame):
    ``list_sum(list_transform(range(1, len(vals)+1),
    i -> vals[i] * (CAST(1 AS BIGINT) << (i-1)))) //
    ((CAST(1 AS BIGINT) << len(vals)) - 1)``.

    Cost: one shuffle on ``partition_by``; O(8) work per row with
    frame-bounded state — the same aggregate-as-window discipline as the
    rolling exact median (workload_rel.q_rolling_median_spend).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(-7, 0)
    )
    # collect_list over a framed window is frame-ordered: oldest first,
    # current row last.
    staged = df.withColumn("__ewma_vals", F.collect_list(F.col(value_cents)).over(w))
    ewma = F.expr(
        "aggregate(sequence(1, size(__ewma_vals)), CAST(0 AS BIGINT),"
        " (acc, i) -> acc + element_at(__ewma_vals, i)"
        "              * shiftleft(CAST(1 AS BIGINT), i - 1))"
        " div (shiftleft(CAST(1 AS BIGINT), size(__ewma_vals)) - 1)"
    )
    return staged.withColumn(out_col, ewma).drop("__ewma_vals")
