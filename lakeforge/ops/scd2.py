"""SCD Type-2 dimension builder (reference: W1-W3, P5-P7 —
gold_sql_to_postgres.py:94-125 (dim_account), 140-171 (dim_person);
SURVEY.md §2.5, §7).

Pattern: per-entity timeline -> LAG change detection -> keep change rows ->
LEAD closes each validity interval (end = next_start - 1 day, open intervals
get the 9999-12-31 sentinel) -> is_current flag -> surrogate key.

Semantic flags:
- ``null_safe=False`` (default) reproduces the reference's NULL-unsafe
  ``<>`` comparison: a change into or out of NULL is silently DROPPED
  (golden-proven — FIXTURES.md §1 person_iden note).  ``null_safe=True`` is
  the idiomatic fix (``IS DISTINCT FROM``).
- Surrogate keys are deterministic content hashes (functions/keys.py), not
  ``monotonically_increasing_id`` — reproducible across runs and engines.

Physics at scale: the whole build is ONE hash-shuffle by the entity key; the
two windows (LAG, LEAD) and the change filter all share the same
(partitionBy key, orderBy date) shuffle+sort, which Catalyst reuses.  No
global window, no driver round-trip.  Skewed entities (one key with millions
of versions) are handled by AQE skew splitting only at the exchange; within
the window a hot key is still single-task — acceptable because dimension
timelines are short by construction.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lakeforge.functions.keys import hash_sk

END_OF_TIME = dt.date(9999, 12, 31)


def scd2(
    df: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    order_col: str,
    sk_name: str = "sk",
    null_safe: bool = False,
    start_name: str = "effective_start_date",
    end_name: str = "effective_end_date",
    current_name: str = "is_current",
) -> DataFrame:
    """Collapse a (key, date, attrs) timeline into SCD2 validity intervals.

    ``df`` must have at most one row per (key, order_col) — pre-dedup with
    ``dedup_keep_first`` / ``latest_per_key`` otherwise.
    """
    w = Window.partitionBy(*key_cols).orderBy(order_col)

    # W1: LAG per tracked attribute (+ a first-row marker for null_safe
    # mode — window expressions can't live in a WHERE clause).
    lagged = df.select(
        "*",
        *[F.lag(c).over(w).alias(f"__prev_{c}") for c in tracked_cols],
        F.lag(F.lit(1)).over(w).alias("__prev_marker"),
    )

    # W3: change filter.  Reference semantics (gold_sql_to_postgres.py:114,
    # 160): `prev_a IS NULL OR a <> prev_a OR b <> prev_b` — NULL-unsafe
    # `<>` yields NULL for NULL transitions and the WHERE drops the row;
    # "first row" is detected via the FIRST tracked column's lag being NULL
    # (so a NULL tracked value in the previous row also re-triggers it).
    if null_safe:
        # Idiomatic mode: true first-row detection + IS DISTINCT FROM.
        change: Column = F.col("__prev_marker").isNull()
        for c in tracked_cols:
            change = change | ~F.col(c).eqNullSafe(F.col(f"__prev_{c}"))
    else:
        change = F.col(f"__prev_{tracked_cols[0]}").isNull()
        for c in tracked_cols:
            change = change | (F.col(c) != F.col(f"__prev_{c}"))
    changes = lagged.filter(change).drop(
        "__prev_marker", *[f"__prev_{c}" for c in tracked_cols]
    )

    # W2/P5: LEAD closes the interval; open intervals end 9999-12-31.
    w2 = Window.partitionBy(*key_cols).orderBy(order_col)
    next_start = F.lead(order_col).over(w2)
    out = changes.select(
        "*",
        F.coalesce(F.date_sub(next_start, 1), F.lit(END_OF_TIME)).alias(end_name),
        next_start.isNull().alias(current_name),
    ).withColumnRenamed(order_col, start_name)

    # P7 (fixed): deterministic content-hash SK over (key, start).
    out = out.withColumn(sk_name, hash_sk(*key_cols, start_name))
    return out.select(
        sk_name,
        *key_cols,
        *tracked_cols,
        start_name,
        end_name,
        current_name,
    )


# ---------------------------------------------------------------------------
# DuckDB twin of ``scd2`` over the testdata orders table (key o_custkey,
# tracked o_orderstatus, timeline o_orderdate): the registry's SCD2 oracles
# build on it.
# ---------------------------------------------------------------------------

# DuckDB rendering of functions/keys.py::md5_int over (custkey, start_date).
SCD2_ORDERS_SK_SQL = (
    "CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || chr(31) || "
    "strftime(effective_start_date, '%Y-%m-%d')), 1, 15)) AS UBIGINT)::BIGINT"
)

# The SCD2-over-orders dimension as the CTE ``dim``.
SCD2_ORDERS_CTE = f"""
WITH base AS (
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_date, o_orderstatus,
           row_number() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
                              ORDER BY o_orderkey DESC) AS rn
    FROM orders
), tl AS (
    SELECT o_custkey, order_date, o_orderstatus FROM base WHERE rn = 1
), ch AS (
    SELECT tl.*, lag(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY order_date) AS prev_status
    FROM tl
), keep AS (
    SELECT * FROM ch WHERE prev_status IS NULL OR o_orderstatus <> prev_status
), iv AS (
    SELECT o_custkey, o_orderstatus, order_date AS effective_start_date,
           lead(order_date) OVER (PARTITION BY o_custkey ORDER BY order_date) AS next_start
    FROM keep
), dim AS (
    SELECT {SCD2_ORDERS_SK_SQL} AS cust_status_sk,
           o_custkey, o_orderstatus, effective_start_date,
           COALESCE(next_start - 1, DATE '9999-12-31') AS effective_end_date,
           next_start IS NULL AS is_current
    FROM iv
)
"""
