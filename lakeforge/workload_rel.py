"""Extended relational workload: operators beyond reference parity that any
general analytics engine must cover (SURVEY.md §2.4 note — semi/anti "fall
out of the same join operator" — plus rollup/cube, distinct aggregates,
ranking windows, running frames, set ops, pivot, as-of join, salted skew
join, and multi-join TPC-H-shaped analytics).

Same conventions as workload.py: identical aliases Spark-vs-oracle, exact
DECIMAL money math, deterministic orderings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakeforge.io.sources import read_events, table
from lakeforge.ops.joins import asof_join, salted_join
from lakeforge.registry import register

DEC = "decimal(18,2)"


def _revenue() -> F.Column:
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    return price * (F.lit(1).cast(DEC) - disc)


_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)


# ---------------------------------------------------------------------------
# Semi / anti joins.  Plan note: both shuffle only the key columns of orders
# (column pruning) and never materialize order payloads — at scale these are
# the cheapest join shapes there are, and AQE can broadcast the filtered
# orders key set.
# ---------------------------------------------------------------------------

def q_semi_high_value_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    big = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


SQL_SEMI_HIGH_VALUE = """
SELECT c_custkey, c_name, c_mktsegment FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
"""


register("semi_high_value_customers", q_semi_high_value_customers, SQL_SEMI_HIGH_VALUE)


def q_anti_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


SQL_ANTI_NO_ORDERS = """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
"""


register("anti_customers_no_orders", q_anti_customers_no_orders, SQL_ANTI_NO_ORDERS)


# ---------------------------------------------------------------------------
# Multi-dimensional aggregation: ROLLUP / CUBE with grouping_id.  Spark
# plans these as a single Expand + hash-aggregate — one shuffle regardless
# of how many grouping sets, which is the right physical shape at scale.
# ---------------------------------------------------------------------------

def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-phase rollup: because SUM/COUNT re-aggregate, the Expand operator
    # can run over the tiny pre-aggregate (|distinct groups| rows) instead
    # of tripling every input row — at 100 TB that removes 2/3 of the
    # map-side aggregation work.  cube_order_stats keeps the direct
    # single-phase shape for comparison.
    li = table(spark, sf_dir, "lineitem")
    pre = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("_qty"),
        F.sum(_revenue()).alias("_rev"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        pre.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("_qty").alias("sum_qty"),
            F.sum("_rev").alias("sum_rev"),
            F.sum("_n").cast("bigint").alias("n_rows"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


SQL_ROLLUP_REVENUE = f"""
SELECT l_returnflag, l_linestatus,
       SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
       SUM({_REV_SQL}) AS sum_rev,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


register("rollup_revenue", q_rollup_revenue, SQL_ROLLUP_REVENUE)


def q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias("sum_price"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


SQL_CUBE_ORDER_STATS = """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sum_price,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


register("cube_order_stats", q_cube_order_stats, SQL_CUBE_ORDER_STATS)


# ---------------------------------------------------------------------------
# Distinct aggregates (partial-agg + distinct-expand in one pass).
# ---------------------------------------------------------------------------

def q_distinct_agg_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
        F.min(F.col("o_orderdate").cast("date")).alias("first_order"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
    )


SQL_DISTINCT_AGG_PRIORITY = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       MIN(CAST(o_orderdate AS DATE)) AS first_order,
       MAX(CAST(o_orderdate AS DATE)) AS last_order
FROM orders GROUP BY o_orderpriority
"""


register("distinct_agg_priority", q_distinct_agg_priority, SQL_DISTINCT_AGG_PRIORITY)


# ---------------------------------------------------------------------------
# Ranking windows: rank / dense_rank / ntile / row_number in one window
# (one shuffle+sort by o_custkey).
# ---------------------------------------------------------------------------

def q_rank_orders_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast(DEC).alias("total_price"),
            F.rank().over(w).cast("bigint").alias("rnk"),
            F.dense_rank().over(w).cast("bigint").alias("drnk"),
            F.ntile(4).over(w).cast("bigint").alias("quartile"),
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


SQL_RANK_ORDERS_TOP3 = """
WITH r AS (
  SELECT o_custkey, o_orderkey,
         CAST(o_totalprice AS DECIMAL(18,2)) AS total_price,
         CAST(rank()       OVER w AS BIGINT) AS rnk,
         CAST(dense_rank() OVER w AS BIGINT) AS drnk,
         CAST(ntile(4)     OVER w AS BIGINT) AS quartile,
         CAST(row_number() OVER w AS BIGINT) AS rn
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
)
SELECT * FROM r WHERE rn <= 3
"""


register("rank_orders_top3", q_rank_orders_top3, SQL_RANK_ORDERS_TOP3)


# ---------------------------------------------------------------------------
# Running-frame window: cumulative + sliding sums with explicit rowsBetween.
# ---------------------------------------------------------------------------

def q_running_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    order = [F.col("order_date").asc(), F.col("o_orderkey").asc()]
    cum = (
        Window.partitionBy("o_custkey")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last3 = Window.partitionBy("o_custkey").orderBy(*order).rowsBetween(-2, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.col("o_totalprice").cast(DEC).alias("total_price"),
    ).select(
        "*",
        F.sum("total_price").over(cum).alias("cum_spend"),
        F.sum("total_price").over(last3).alias("spend_last3"),
    )


SQL_RUNNING_ORDER_TOTALS = """
SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
       CAST(o_totalprice AS DECIMAL(18,2)) AS total_price,
       SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
         (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE) ASC, o_orderkey ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_spend,
       SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
         (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE) ASC, o_orderkey ASC
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS spend_last3
FROM orders
"""


register("running_order_totals", q_running_order_totals, SQL_RUNNING_ORDER_TOTALS)


# ---------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT (both distinct-semantics).
# ---------------------------------------------------------------------------

def _custkeys_in_year(df: DataFrame, year: int) -> DataFrame:
    return df.filter(F.year("o_orderdate") == year).select("o_custkey")


def q_active_both_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return _custkeys_in_year(o, 1996).intersect(_custkeys_in_year(o, 1997))


SQL_ACTIVE_BOTH_YEARS = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
"""


register("active_both_years", q_active_both_years, SQL_ACTIVE_BOTH_YEARS)


def q_churned_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    # subtract == EXCEPT DISTINCT (exceptAll would keep surplus multiplicity).
    return _custkeys_in_year(o, 1996).subtract(_custkeys_in_year(o, 1997))


SQL_CHURNED_CUSTKEYS = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
"""


register("churned_custkeys", q_churned_custkeys, SQL_CHURNED_CUSTKEYS)


# ---------------------------------------------------------------------------
# Pivot (explicit value list -> no extra distinct job at plan time).
# ---------------------------------------------------------------------------

_STATUSES = ["F", "O", "P"]


def q_pivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", _STATUSES)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).cast("bigint").alias(s) for s in _STATUSES],
    )


SQL_PIVOT_PRIORITY_STATUS = """
SELECT o_orderpriority,
       CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS "F",
       CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS "O",
       CAST(COUNT(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS "P"
FROM orders GROUP BY o_orderpriority
"""


register("pivot_priority_status", q_pivot_priority_status, SQL_PIVOT_PRIORITY_STATUS)


# ---------------------------------------------------------------------------
# As-of join: each purchase event matched to the user's latest view event at
# or before the purchase (ops/joins.py::asof_join — single shuffle by
# user_id, no interval explosion).  Oracle: DuckDB native ASOF JOIN.
# ---------------------------------------------------------------------------

def q_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").cast(DEC).alias("purchase_value")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max(F.col("value").cast(DEC)).alias("view_value"))
        .select("user_id", "ts", F.col("ts").alias("view_ts"), "view_value")
    )
    joined = asof_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=["view_ts", "view_value"],
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", fmt).alias("ts"),
        "purchase_value",
        F.date_format("view_ts", fmt).alias("view_ts"),
        "view_value",
    )


SQL_ASOF_PURCHASE_VIEW = """
WITH v AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CAST(ts AS TIMESTAMP) AS view_ts,
         MAX(CAST(value AS DECIMAL(18,2))) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY 1, 2, 3
), p AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
         CAST(value AS DECIMAL(18,2)) AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       p.purchase_value, strftime(v.view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       v.view_value
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
"""


register("asof_purchase_view", q_asof_purchase_view, SQL_ASOF_PURCHASE_VIEW)


# ---------------------------------------------------------------------------
# Salted skew join: semantically a plain inner join (the oracle IS the plain
# join) — the salt only changes the physical shuffle distribution.
# ---------------------------------------------------------------------------

def q_salted_skew_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", _revenue().alias("rev"))
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    joined = salted_join(
        li.withColumnRenamed("l_suppkey", "s_suppkey"), supp, on=["s_suppkey"], salt=8
    )
    return joined.groupBy("s_name").agg(F.sum("rev").alias("sum_rev"))


SQL_SALTED_SKEW_REVENUE = f"""
SELECT s_name, SUM({_REV_SQL}) AS sum_rev
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
"""


register("salted_skew_revenue", q_salted_skew_revenue, SQL_SALTED_SKEW_REVENUE)


# ---------------------------------------------------------------------------
# TPC-H-shaped multi-join analytics (Q3 / Q5 / Q10 adapted to the driver's
# schema).  Plan shape at scale: dims (customer/supplier/nation/region)
# broadcast; the single big shuffle is lineitem⋈orders on orderkey; date and
# segment filters push to the parquet scans.
# ---------------------------------------------------------------------------

def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-revenue per order for one segment."""
    cutoff = F.lit("1998-07-01").cast("date")
    cust = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") < cutoff
    ).select("o_orderkey", "o_custkey", F.col("o_orderdate").cast("date").alias("order_date"))
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") > cutoff
    ).select("l_orderkey", _revenue().alias("rev"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "order_date")
        .agg(F.sum("rev").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


SQL_SHIPPING_PRIORITY = f"""
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
       SUM({_REV_SQL}) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND CAST(o_orderdate AS DATE) < DATE '1998-07-01'
  AND CAST(l_shipdate AS DATE) > DATE '1998-07-01'
GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
"""


register("shipping_priority", q_shipping_priority, SQL_SHIPPING_PRIORITY)


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where customer and supplier share
    the nation, one region, one year."""
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = table(spark, sf_dir, "nation")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == 1997
    ).select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", _revenue().alias("rev")
    )
    nations_in_region = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nations_in_region), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("rev").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


SQL_REGION_REVENUE = f"""
SELECT n_name, SUM({_REV_SQL}) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA' AND year(o_orderdate) = 1997
GROUP BY n_name ORDER BY revenue DESC, n_name ASC
"""


register("region_revenue", q_region_revenue, SQL_REGION_REVENUE)


def q_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter."""
    lo = F.lit("1997-01-01").cast("date")
    hi = F.lit("1997-04-01").cast("date")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= lo)
        & (F.col("o_orderdate").cast("date") < hi)
    ).select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", _revenue().alias("rev"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("rev").alias("revenue"))
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .select("c_custkey", "c_name", "c_mktsegment", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


SQL_RETURNED_TOP_CUSTOMERS = f"""
SELECT c_custkey, c_name, c_mktsegment, SUM({_REV_SQL}) AS revenue
FROM customer, orders, lineitem
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
  AND CAST(o_orderdate AS DATE) <  DATE '1997-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_mktsegment
ORDER BY revenue DESC, c_custkey ASC LIMIT 20
"""


register("returned_top_customers", q_returned_top_customers, SQL_RETURNED_TOP_CUSTOMERS)


# ---------------------------------------------------------------------------
# Approximate sketches (no exact oracle possible — different HLL/KLL
# implementations give different estimates; the driver records a rows-only
# check, which is the honest contract for approximate operators).
# ---------------------------------------------------------------------------

def q_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches with an exact-answer error-bound oracle.

    Sketch outputs aren't bit-comparable across engines, so the query emits
    the exact answers (oracle-checked values) alongside BOOLEAN assertions
    that the sketches landed inside their published error bounds — the
    oracle expects TRUE, so a sketch regression flips the row red:
    - ``hll_ok``: approx_count_distinct (HLL++, rsd=0.05) within 15% + 10
      of the exact distinct count (3 sigma).
    - ``p50/p90/p99_ok``: the fraction of rows <= percentile_approx(q)
      is within rank error of q (accuracy=10000 => eps 1e-4; the margin is
      dominated by a ties + small-group allowance).
    The rank check is scale-stable: the bounds hold at any SF because they
    are guarantees of the sketch, not properties of this dataset.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey", "o_totalprice"
    )
    agg = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("o_custkey").cast("bigint").alias("exact_customers"),
        F.approx_count_distinct("o_custkey").alias("approx_customers"),
        F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], 10000).alias("pq"),
    )
    # Deliberately NOT persisted despite the dual consumption (broadcast
    # into fracs + final join): caching forces the InMemoryRelation to
    # materialize eagerly outside AQE and measured ~10x SLOWER than simply
    # recomputing the 5-row aggregate (18s vs 2s at sf0.1) — the sketch
    # agg is cheap, the cache machinery is not.
    fracs = (
        o.join(F.broadcast(agg.select("o_orderpriority", "pq")), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            *[
                (
                    F.sum(
                        F.when(F.col("o_totalprice") <= F.col("pq")[i], 1).otherwise(0)
                    )
                    / F.count(F.lit(1))
                ).alias(f"f{q}")
                for i, q in enumerate((50, 90, 99))
            ]
        )
    )
    slack = 0.02 + F.lit(1.0) / F.col("n_rows")
    return agg.join(fracs, "o_orderpriority").select(
        "o_orderpriority",
        "n_rows",
        "exact_customers",
        (
            F.abs(F.col("approx_customers") - F.col("exact_customers"))
            <= F.col("exact_customers") * 0.15 + F.lit(10)
        ).alias("hll_ok"),
        ((F.col("f50") >= 0.5 - slack) & (F.col("f50") <= 0.5 + slack)).alias(
            "p50_ok"
        ),
        ((F.col("f90") >= 0.9 - slack) & (F.col("f90") <= 1.0)).alias("p90_ok"),
        (F.col("f99") >= 0.99 - slack).alias("p99_ok"),
    )


SQL_SKETCH_PROFILE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
       TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
FROM orders GROUP BY o_orderpriority
"""


register("sketch_profile", q_sketch_profile, SQL_SKETCH_PROFILE)


# ---------------------------------------------------------------------------
# GROUPING SETS (beyond rollup/cube: an explicit set list) — Spark SQL API;
# same single Expand + one-shuffle physical shape as rollup.
# ---------------------------------------------------------------------------

def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_gs")
    # Same two-phase rewrite as q_rollup_revenue: Expand runs over the
    # pre-aggregate, not over every lineitem row.
    return spark.sql(
        """
        WITH pre AS (
          SELECT l_returnflag, l_linestatus,
                 SUM(CAST(l_quantity AS DECIMAL(18,2))) AS _qty,
                 COUNT(*) AS _n
          FROM li_gs GROUP BY l_returnflag, l_linestatus
        )
        SELECT l_returnflag, l_linestatus,
               SUM(_qty) AS sum_qty,
               CAST(SUM(_n) AS BIGINT) AS n_rows,
               CAST(grouping_id() AS INT) AS gid
        FROM pre
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


SQL_GROUPING_SETS_REVENUE = """
SELECT l_returnflag, l_linestatus,
       SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


register("grouping_sets_revenue", q_grouping_sets_revenue, SQL_GROUPING_SETS_REVENUE)


# ---------------------------------------------------------------------------
# String scalar-function profile (split/extract/pad/replace/concat — the
# string surface the reference never needed but an engine must have; all
# JVM-side, codegen'd).
# ---------------------------------------------------------------------------

def q_string_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    return p.select(
        "p_partkey",
        F.element_at(words, 1).alias("color"),
        F.element_at(words, 2).alias("object"),
        F.upper("p_type").alias("type_uc"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.regexp_extract("p_brand", r"(\d+)", 1).cast("int").alias("brand_num"),
        F.lpad(F.regexp_extract("p_brand", r"(\d+)", 1), 3, "0").alias("brand_pad"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
    )


SQL_STRING_PROFILE = r"""
SELECT p_partkey,
       string_split(p_name, ' ')[1] AS color,
       string_split(p_name, ' ')[2] AS object,
       upper(p_type) AS type_uc,
       CAST(length(p_name) AS BIGINT) AS name_len,
       CAST(regexp_extract(p_brand, '(\d+)', 1) AS INTEGER) AS brand_num,
       lpad(regexp_extract(p_brand, '(\d+)', 1), 3, '0') AS brand_pad,
       regexp_replace(p_name, ' ', '_', 'g') AS name_snake,
       concat_ws('|', p_brand, p_type) AS brand_type
FROM part
"""


register("string_profile", q_string_profile, SQL_STRING_PROFILE)


# ---------------------------------------------------------------------------
# first_value / last_value / nth_value over an unbounded frame.
# ---------------------------------------------------------------------------

def q_first_last_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("d")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("d").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        F.first_value("o_orderkey").over(w).alias("first_order"),
        F.last_value("o_orderkey").over(w).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    ).distinct()


SQL_FIRST_LAST_ORDERS = """
SELECT DISTINCT o_custkey,
       first_value(o_orderkey) OVER w AS first_order,
       last_value(o_orderkey)  OVER w AS last_order,
       nth_value(o_orderkey, 2) OVER w AS second_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY CAST(o_orderdate AS DATE) ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


register("first_last_orders", q_first_last_orders, SQL_FIRST_LAST_ORDERS)


# ---------------------------------------------------------------------------
# Exact interpolated percentiles (percentile_cont semantics — distinct from
# the approximate sketch in q_sketch_profile).
# ---------------------------------------------------------------------------

def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
    )


SQL_EXACT_PERCENTILES = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90
FROM orders GROUP BY o_orderpriority
"""


register("exact_percentiles", q_exact_percentiles, SQL_EXACT_PERCENTILES)


# ---------------------------------------------------------------------------
# TPC-H Q6 shape: pure filtered scan-aggregate — the predicate-pushdown /
# column-pruning showcase (the scan should read 4 columns and push all 3
# range predicates; verify via tools/explain_audit.py).
# ---------------------------------------------------------------------------

def q_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1998-01-01").cast("date"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    ).agg(
        F.sum(
            F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast(DEC)
        ).alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
    )


SQL_REVENUE_FORECAST = """
SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
  AND CAST(l_shipdate AS DATE) <  DATE '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24.0
"""


# ---------------------------------------------------------------------------
# TPC-H Q13 shape: orders-per-customer histogram (left outer + two-level
# aggregation — the grouped-count-of-counts pattern).
# ---------------------------------------------------------------------------

def q_customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
    )


SQL_CUSTOMER_ORDER_HISTOGRAM = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
    SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
)
GROUP BY c_count
"""


register("revenue_forecast", q_revenue_forecast, SQL_REVENUE_FORECAST)
register(
    "customer_order_histogram",
    q_customer_order_histogram,
    SQL_CUSTOMER_ORDER_HISTOGRAM,
)


# ---------------------------------------------------------------------------
# Correlated scalar subquery (Catalyst decorrelates it into an aggregate +
# join — no per-row re-execution; .explain shows a plain Aggregate⋈join).
# ---------------------------------------------------------------------------

def q_orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("ord_corr")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               CAST(o_totalprice AS DECIMAL(18,2)) AS total_price
        FROM ord_corr o
        WHERE o_totalprice > 2 * (
            SELECT AVG(o_totalprice) FROM ord_corr i
            WHERE i.o_custkey = o.o_custkey
        )
        """
    )


SQL_ORDERS_ABOVE_CUST_AVG = """
SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS total_price
FROM orders o
WHERE o_totalprice > 2 * (
    SELECT AVG(o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey
)
"""


# ---------------------------------------------------------------------------
# RANGE frame window: rolling 7-day spend per customer (value-based frame —
# distinct from the ROWS frames in q_running_order_totals).  Spark's
# rangeBetween needs a numeric ordering column, so the date becomes
# epoch-days; the oracle uses the identical integer frame.
# ---------------------------------------------------------------------------

def q_rolling_7day_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("epoch_day"),
        F.col("o_totalprice").cast(DEC).alias("total_price"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("epoch_day")
        .rangeBetween(-6, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "epoch_day",
        "total_price",
        F.sum("total_price").over(w).alias("spend_7d"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_orders_7d"),
    )


SQL_ROLLING_7DAY_SPEND = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS epoch_day,
         CAST(o_totalprice AS DECIMAL(18,2)) AS total_price
  FROM orders
)
SELECT o_custkey, o_orderkey, epoch_day, total_price,
       SUM(total_price) OVER w AS spend_7d,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_orders_7d
FROM o
WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


register("orders_above_cust_avg", q_orders_above_cust_avg, SQL_ORDERS_ABOVE_CUST_AVG)
register("rolling_7day_spend", q_rolling_7day_spend, SQL_ROLLING_7DAY_SPEND)


# ---------------------------------------------------------------------------
# Time-series resample: per-customer daily spend grid, forward-filled
# (ops/timeseries.py — native sequence+explode+ffill path).  Scoped to
# custkeys < 50 to keep the oracle compare tractable.
# ---------------------------------------------------------------------------

def q_resample_daily_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.ops.timeseries import resample_daily_ffill

    obs = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 50)
        .groupBy("o_custkey", F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("day_spend"))
    )
    return resample_daily_ffill(obs, ["o_custkey"], "day", ["day_spend"])


SQL_RESAMPLE_DAILY_SPEND = """
WITH obs AS (
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS day_spend
    FROM orders WHERE o_custkey < 50
    GROUP BY o_custkey, CAST(o_orderdate AS DATE)
),
bounds AS (SELECT o_custkey, MIN(day) AS mn, MAX(day) AS mx FROM obs GROUP BY o_custkey),
grid AS (
    SELECT o_custkey, CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
    FROM bounds
),
j AS (
    SELECT g.o_custkey, g.day, o.day_spend
    FROM grid g LEFT JOIN obs o ON g.o_custkey = o.o_custkey AND g.day = o.day
)
SELECT o_custkey, day,
       last_value(day_spend IGNORE NULLS) OVER
         (PARTITION BY o_custkey ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS day_spend
FROM j
"""

register("resample_daily_spend", q_resample_daily_spend, SQL_RESAMPLE_DAILY_SPEND)


# ---------------------------------------------------------------------------
# Distribution windows: percent_rank / cume_dist (completing the ranking
# window family; same single shuffle as q_rank_orders_top3).
# ---------------------------------------------------------------------------

def q_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    ).filter(F.col("pct_rank") >= 0.999)


SQL_PERCENTILE_RANKS = """
WITH r AS (
  SELECT o_orderpriority, o_orderkey,
         round(percent_rank() OVER w, 6) AS pct_rank,
         round(cume_dist()    OVER w, 6) AS cume
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC)
)
SELECT * FROM r WHERE pct_rank >= 0.999
"""


# ---------------------------------------------------------------------------
# Grouped-aggregate pandas UDF (Arrow-batched UDAF — the API surface for
# aggregates SQL lacks; geometric mean stands in for the pattern).
# ---------------------------------------------------------------------------

def q_geo_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean, fully JVM-side: exp(avg(ln(x))) stays inside
    whole-stage codegen with map-side partial aggregation — no Python in
    the hot path (VERDICT r1 item 8).  round(4) absorbs the sub-1e-9
    float-summation-order jitter of avg() across partitionings."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.exp(F.avg(F.log("o_totalprice"))), 4).alias("geo_mean_price")
    )


def q_geo_mean_price_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface demo of the GROUPED_AGG pandas UDAF (Arrow-batched custom
    aggregation) — same semantics as q_geo_mean_price, kept OUT of the
    headline/bench set because it puts Python in an aggregation hot path;
    use it as the template when the aggregate genuinely needs numpy."""
    import numpy as np

    from pyspark.sql.functions import PandasUDFType

    def _geo(v):
        return float(np.exp(np.log(v).mean()))

    # functionType passed explicitly: `from __future__ import annotations`
    # stringifies type hints, which breaks pandas_udf signature inference.
    geo_mean = F.pandas_udf(_geo, "double", PandasUDFType.GROUPED_AGG)

    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(geo_mean("o_totalprice"), 4).alias("geo_mean_price")
    )


SQL_GEO_MEAN_PRICE = """
SELECT o_orderpriority, round(exp(avg(ln(o_totalprice))), 4) AS geo_mean_price
FROM orders GROUP BY o_orderpriority
"""


register("percentile_ranks", q_percentile_ranks, SQL_PERCENTILE_RANKS)
register("geo_mean_price", q_geo_mean_price, SQL_GEO_MEAN_PRICE)
register("geo_mean_price_udaf", q_geo_mean_price_udaf, SQL_GEO_MEAN_PRICE)


# ---------------------------------------------------------------------------
# Z-order (Morton) keys: ops/layout.py's clustering key for
# multi-dimensional file skipping — pure integer bit math, so the oracle
# reproduces it exactly.
# ---------------------------------------------------------------------------

_Z_BITS = 10


def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.ops.layout import zorder_key

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 1024).alias("xq"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
            )
            % 1024
        ).cast("bigint").alias("yq"),
    )
    return o.select(
        "o_orderkey", "xq", "yq", zorder_key(["xq", "yq"], bits=_Z_BITS).alias("zval")
    )


def _sql_zorder_keys() -> str:
    terms = []
    for b in range(_Z_BITS):
        terms.append(f"(((xq >> {b}) & 1) << {b * 2})")
        terms.append(f"(((yq >> {b}) & 1) << {b * 2 + 1})")
    zexpr = " + ".join(terms)  # disjoint bits: addition == OR
    return f"""
WITH o AS (
  SELECT o_orderkey,
         o_custkey % 1024 AS xq,
         CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) % 1024 AS BIGINT) AS yq
  FROM orders
)
SELECT o_orderkey, xq, yq, CAST({zexpr} AS BIGINT) AS zval FROM o
"""


register("zorder_keys", q_zorder_keys, _sql_zorder_keys())


# ---------------------------------------------------------------------------
# Statistical aggregates: stddev/variance/correlation/covariance (Welford
# single-pass on both engines; rounded to absorb last-ulp differences).
# ---------------------------------------------------------------------------

def q_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_totalprice",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("double")
        .alias("day_num"),
    )
    return o.groupBy("o_orderpriority").agg(
        F.round(F.stddev_samp("o_totalprice"), 4).alias("price_sd"),
        F.round(F.var_samp("o_totalprice"), 2).alias("price_var"),
        F.round(F.corr("o_totalprice", "day_num"), 6).alias("price_day_corr"),
        F.round(F.covar_samp("o_totalprice", "day_num"), 2).alias("price_day_covar"),
    )


SQL_STATS_PROFILE = """
WITH o AS (
  SELECT o_orderpriority, o_totalprice,
         CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS DOUBLE) AS day_num
  FROM orders
)
SELECT o_orderpriority,
       round(stddev_samp(o_totalprice), 4) AS price_sd,
       round(var_samp(o_totalprice), 2) AS price_var,
       round(corr(o_totalprice, day_num), 6) AS price_day_corr,
       round(covar_samp(o_totalprice, day_num), 2) AS price_day_covar
FROM o GROUP BY o_orderpriority
"""


register("stats_profile", q_stats_profile, SQL_STATS_PROFILE)


# ---------------------------------------------------------------------------
# Deterministic array collection: sort_array(collect_list) per group,
# serialized to a comma-joined string so the result is hashable by any
# pandas-based canonicalizer (VERDICT r8: the driver's comparison crashes
# on terminal array columns — `unhashable type: 'list'`).  The array
# collection capability is unchanged; only the output representation is.
# ---------------------------------------------------------------------------

def q_order_ids_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    return o.groupBy("o_custkey").agg(
        F.array_join(
            F.sort_array(F.collect_list(F.col("o_orderkey").cast("string"))), ","
        ).alias("order_ids"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )


SQL_ORDER_IDS_PER_CUSTOMER = """
SELECT o_custkey,
       array_to_string(list_sort(list(CAST(o_orderkey AS VARCHAR))), ',') AS order_ids,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders WHERE o_custkey < 100 GROUP BY o_custkey
"""


register("order_ids_per_customer", q_order_ids_per_customer, SQL_ORDER_IDS_PER_CUSTOMER)


# ---------------------------------------------------------------------------
# Equi-width histogram via width_bucket (dataviz/profiling prep).
# ---------------------------------------------------------------------------

def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # width_bucket semantics spelled as explicit floor arithmetic so the
    # oracle (DuckDB has no width_bucket) uses bit-identical math.
    o = table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 0.0, F.lit(0))
        .when(F.col("o_totalprice") >= 600000.0, F.lit(21))
        .otherwise(F.floor(F.col("o_totalprice") / 30000.0) + 1)
    ).cast("bigint")
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )


SQL_PRICE_HISTOGRAM = """
SELECT CAST(CASE WHEN o_totalprice < 0.0 THEN 0
                 WHEN o_totalprice >= 600000.0 THEN 21
                 ELSE floor(o_totalprice / 30000.0) + 1 END AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY 1
"""


register("price_histogram", q_price_histogram, SQL_PRICE_HISTOGRAM)


# ---------------------------------------------------------------------------
# Conditional-ratio aggregate (TPC-H Q14 shape): promo revenue share per
# ship month.  The part side broadcasts; the ratio is reported alongside its
# exact-decimal numerator/denominator so the strong value check does not
# hinge on engine-specific decimal-division scale rules.
# ---------------------------------------------------------------------------

def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1998-01-01").cast("date"))
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", _revenue()).otherwise(
            F.lit(0).cast(DEC)
        )
    ).alias("promo_rev")
    total = F.sum(_revenue()).alias("total_rev")
    return (
        joined.groupBy(
            F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM").alias(
                "ship_month"
            )
        )
        .agg(promo, total)
        .select(
            "ship_month",
            "promo_rev",
            "total_rev",
            F.round(
                F.lit(100.0)
                * F.col("promo_rev").cast("double")
                / F.col("total_rev").cast("double"),
                4,
            ).alias("promo_pct"),
        )
    )


SQL_PROMO_REVENUE = f"""
WITH j AS (
  SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
         {_REV_SQL} AS rev, p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
    AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
)
SELECT ship_month,
       SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0 AS DECIMAL(18,2)) END) AS promo_rev,
       SUM(rev) AS total_rev,
       round(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                   / CAST(SUM(rev) AS DOUBLE), 4) AS promo_pct
FROM j GROUP BY ship_month
"""


register("promo_revenue", q_promo_revenue, SQL_PROMO_REVENUE)


# ---------------------------------------------------------------------------
# Group-HAVING then join back (TPC-H Q18 shape): orders whose total ordered
# quantity clears a threshold, re-joined to their order/customer detail.
# The HAVING aggregate runs FIRST and shrinks the probe side to a handful
# of keys, so the join back to orders is a broadcast at any scale where
# the threshold is selective.
# ---------------------------------------------------------------------------

def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("tot_qty"))
        .filter(F.col("tot_qty") > 300)
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.col("o_totalprice").cast(DEC).alias("total_price"),
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "order_date",
            "total_price", "tot_qty",
        )
        .orderBy(F.col("total_price").desc(), F.col("o_orderkey").asc())
        .limit(50)
    )


SQL_LARGE_ORDERS = """
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS tot_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
)
SELECT c_custkey, c_name, o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(o_totalprice AS DECIMAL(18,2)) AS total_price, tot_qty
FROM orders JOIN big ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey
ORDER BY total_price DESC, o_orderkey ASC LIMIT 50
"""


register("large_orders", q_large_orders, SQL_LARGE_ORDERS)


# ---------------------------------------------------------------------------
# Global-scalar-aggregate comparison + anti join (TPC-H Q22 shape):
# above-average-balance customers with no recent orders.  The scalar
# (n, sum) broadcasts as a 1-row cross join, and the threshold test is
# spelled multiplicatively (bal * n > total) in exact decimals — no
# division, so no engine-specific float/decimal-scale boundary cases.
# The recency filter pushes down to the orders scan before the anti join.
# ---------------------------------------------------------------------------

def q_rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    pos = cust.filter(F.col("c_acctbal") > 0.0)
    scalar = pos.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pos"),
        F.sum(F.col("c_acctbal").cast(DEC)).alias("total_bal"),
    )
    orders = (
        table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate").cast("date") >= F.lit("1999-01-01").cast("date")
        )
        .select("o_custkey")
    )
    rich = (
        cust.crossJoin(F.broadcast(scalar))
        .filter(
            F.col("c_acctbal").cast(DEC) * F.col("n_pos") > F.col("total_bal")
        )
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    )
    return rich.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.col("c_acctbal").cast(DEC)).alias("sum_bal"),
    )


SQL_RICH_INACTIVE = """
WITH scalar AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pos,
         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS total_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
       SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal
FROM customer, scalar
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n_pos > total_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND CAST(o_orderdate AS DATE) >= DATE '1999-01-01')
GROUP BY c_mktsegment
"""


register("rich_inactive_customers", q_rich_inactive_customers, SQL_RICH_INACTIVE)


# ---------------------------------------------------------------------------
# Disjunctive cross-dimension join predicate (TPC-H Q7 shape): bilateral
# trade volume between two nations, either direction.  Both nation lookups
# broadcast; the OR-of-conjunctions predicate applies AFTER the equi-joins
# resolve names, so the join keys stay simple hashes.  Filtering each
# broadcast nation frame to the two names FIRST means non-participating
# rows drop at the earliest join, not at the final filter.
# ---------------------------------------------------------------------------

def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    na, nb = "NATION_1", "NATION_2"
    nations = (
        table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(na, nb))
        .select("n_nationkey", "n_name")
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.year("l_shipdate").cast("int").alias("ship_year"),
        _revenue().alias("rev"),
    )
    n1 = nations.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    n2 = nations.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
        .filter(
            ((F.col("cust_nation") == na) & (F.col("supp_nation") == nb))
            | ((F.col("cust_nation") == nb) & (F.col("supp_nation") == na))
        )
        .groupBy("cust_nation", "supp_nation", "ship_year")
        .agg(
            F.sum("rev").alias("volume"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


SQL_NATION_TRADE_VOLUME = f"""
SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
       CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       SUM({_REV_SQL}) AS volume,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""

register("nation_trade_volume", q_nation_trade_volume, SQL_NATION_TRADE_VOLUME)


# ---------------------------------------------------------------------------
# Argmax/argmin WITHOUT a window (max_by/min_by): the per-group extreme row
# as a plain hash aggregate — one shuffle, no partition-wide sort.  The
# window formulation (row_number + filter) sorts every group; max_by keeps
# a single running champion per group, which is the right physical shape
# when you want one row per group from billions.  Ties break toward the
# larger orderkey via a lexicographic composite: Spark compares a
# (cents, orderkey) struct; DuckDB's arg_max can't order by struct, so its
# twin is the same ordering packed into a HUGEINT with a 2^63 multiplier —
# above any BIGINT orderkey at ANY scale factor (the old 1e8 multiplier
# overflowed into the price digits past ~SF100).
# ---------------------------------------------------------------------------

def q_extreme_order_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    up = F.struct(cents.alias("p"), F.col("o_orderkey").alias("k"))
    down = F.struct(cents.alias("p"), (-F.col("o_orderkey")).alias("k"))
    return (
        o.join(cust, o.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.max_by("o_orderkey", up).alias("top_orderkey"),
            F.max(F.col("o_totalprice").cast(DEC)).alias("top_price"),
            F.min_by("o_orderkey", down).alias("bottom_orderkey"),
            F.min(F.col("o_totalprice").cast(DEC)).alias("bottom_price"),
        )
    )


SQL_EXTREME_ORDER_BY_SEGMENT = """
SELECT c_mktsegment,
       arg_max(o_orderkey, CAST(round(o_totalprice * 100) AS HUGEINT) * 9223372036854775808 + o_orderkey) AS top_orderkey,
       MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS top_price,
       arg_min(o_orderkey, CAST(round(o_totalprice * 100) AS HUGEINT) * 9223372036854775808 - o_orderkey) AS bottom_orderkey,
       MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS bottom_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""

register(
    "extreme_order_by_segment",
    q_extreme_order_by_segment,
    SQL_EXTREME_ORDER_BY_SEGMENT,
)


# ---------------------------------------------------------------------------
# Deterministic mode (most frequent value per group): two hash aggregates,
# with ties broken toward the lexicographically smallest value via a
# composite (count, -ascii) argmax — built-in mode() leaves ties
# engine-defined, which would never oracle-match.
# ---------------------------------------------------------------------------

def q_mode_status_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    pick = F.col("cnt") * 256 - F.ascii("l_linestatus")
    return counts.groupBy("l_returnflag").agg(
        F.max_by("l_linestatus", pick).alias("mode_status"),
        F.max("cnt").cast("bigint").alias("mode_count"),
    )


SQL_MODE_STATUS_BY_FLAG = """
WITH c AS (
  SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
  FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag,
       arg_max(l_linestatus, cnt * 256 - ascii(l_linestatus)) AS mode_status,
       CAST(MAX(cnt) AS BIGINT) AS mode_count
FROM c GROUP BY l_returnflag
"""

register("mode_status_by_flag", q_mode_status_by_flag, SQL_MODE_STATUS_BY_FLAG)


# ---------------------------------------------------------------------------
# Key-skew profiling (ops/quality.py::key_skew_profile): the heavy-hitter
# measurement that decides between a plain join, AQE skew-split, and
# salted_join.  Deterministic: ties at the top-k boundary break by key in
# both engines.
# ---------------------------------------------------------------------------


def q_key_skew_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.ops.quality import key_skew_profile

    return key_skew_profile(table(spark, sf_dir, "orders"), ["o_custkey"], k=20)


SQL_KEY_SKEW_ORDERS = """
WITH c AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY o_custkey
),
t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM orders)
SELECT o_custkey, n_rows,
       CAST((n_rows * 1000) // total AS BIGINT) AS permille
FROM c, t
ORDER BY n_rows DESC, o_custkey
LIMIT 20
"""

register("key_skew_orders", q_key_skew_orders, SQL_KEY_SKEW_ORDERS)


# ---------------------------------------------------------------------------
# Integer-exact PageRank (ops/graph.py::pagerank_nano) over the bipartite
# part<->supplier trade graph from lineitem.  Nano-unit integer rank mass
# makes the power iteration order-independent and bit-identical across
# engines, so the oracle unrolls the same fixed iterations as CTEs.
# ---------------------------------------------------------------------------

_PR_ITERS = 3
_PR_DAMP = 850


def q_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.ops.graph import pagerank_nano

    li = table(spark, sf_dir, "lineitem")
    e0 = li.select("l_partkey", "l_suppkey").distinct()
    # Both edge directions from ONE scan of the distinct (r12 opt, guide
    # §2.4 — the unionAll form ran the 600k-row distinct twice).
    edges = e0.select(
        F.explode(
            F.array(
                F.struct(
                    (F.col("l_partkey") * 2).alias("src"),
                    (F.col("l_suppkey") * 2 + 1).alias("dst"),
                ),
                F.struct(
                    (F.col("l_suppkey") * 2 + 1).alias("src"),
                    (F.col("l_partkey") * 2).alias("dst"),
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    # parts+suppliers is a dim-sized vertex set -> broadcast the rank
    # vector; the persisted edge list is never re-shuffled per iteration.
    ranks = pagerank_nano(
        edges, iters=_PR_ITERS, damping_permille=_PR_DAMP, broadcast_ranks=True
    )
    return ranks.select(
        F.when(F.col("node") % 2 == 0, "part").otherwise("supplier").alias("kind"),
        F.expr("node div 2").cast("bigint").alias("key"),
        F.col("rank_nano").cast("bigint").alias("rank_nano"),
    )


def _sql_pagerank(iters: int, damp: int) -> str:
    ctes = [
        "e0 AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)",
        "edges AS (SELECT 2*l_partkey AS e_src, 2*l_suppkey+1 AS e_dst FROM e0"
        " UNION ALL SELECT 2*l_suppkey+1, 2*l_partkey FROM e0)",
        "deg AS (SELECT e_src, count(*) AS deg FROM edges GROUP BY e_src)",
        "ed AS (SELECT e.e_src, e.e_dst, d.deg FROM edges e"
        " JOIN deg d USING (e_src))",
        "nn AS (SELECT count(DISTINCT e_src) AS n FROM edges)",
        "con AS (SELECT CAST(CAST(1000000000 AS BIGINT) // n AS BIGINT) AS init,"
        f" CAST(({1000 - damp} * CAST(1000000000 AS BIGINT)) // (1000 * n) AS BIGINT) AS base"
        " FROM nn)",
        "r0 AS (SELECT e_src AS node, init AS rank_nano"
        " FROM (SELECT DISTINCT e_src FROM edges), con)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"r{i} AS (SELECT e.e_dst AS node,"
            f" CAST(MIN(con.base) + ({damp} * SUM(r.rank_nano // e.deg)) // 1000"
            f" AS BIGINT) AS rank_nano"
            f" FROM ed e JOIN r{i - 1} r ON e.e_src = r.node CROSS JOIN con"
            f" GROUP BY e.e_dst)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
       CAST(node // 2 AS BIGINT) AS key,
       rank_nano
FROM r{iters}
"""
    )


register("pagerank_trade", q_pagerank_trade, _sql_pagerank(_PR_ITERS, _PR_DAMP))


# ---------------------------------------------------------------------------
# Group-wise linear regression (built-in regr_* aggregates): per-nation
# trend of order value over time.  The JVM-side regression aggregates are
# the idiomatic Spark replacement for a per-group sklearn loop — one
# shuffle, map-side partials, no Python.  Doubles rounded to 4 in both
# engines (float-output convention).
# ---------------------------------------------------------------------------


def q_spend_trend_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    j = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    x = F.unix_date(F.col("o_orderdate").cast("date")).cast("double")
    y = F.col("o_totalprice").cast("double")
    return (
        j.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.expr("regr_slope(CAST(o_totalprice AS DOUBLE), CAST(unix_date(CAST(o_orderdate AS DATE)) AS DOUBLE))"), 4).alias("slope_per_day"),
            F.round(F.expr("regr_r2(CAST(o_totalprice AS DOUBLE), CAST(unix_date(CAST(o_orderdate AS DATE)) AS DOUBLE))"), 4).alias("r2"),
        )
    )


SQL_SPEND_TREND_BY_NATION = """
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(regr_slope(CAST(o_totalprice AS DOUBLE),
                        CAST(date_diff('day', DATE '1970-01-01',
                                       CAST(o_orderdate AS DATE)) AS DOUBLE)), 4)
           AS slope_per_day,
       round(regr_r2(CAST(o_totalprice AS DOUBLE),
                     CAST(date_diff('day', DATE '1970-01-01',
                                    CAST(o_orderdate AS DATE)) AS DOUBLE)), 4)
           AS r2
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

register("spend_trend_by_nation", q_spend_trend_by_nation, SQL_SPEND_TREND_BY_NATION)


# ---------------------------------------------------------------------------
# Per-customer z-score outlier scoring (window avg/stddev): the classic
# data-quality / anomaly feature for training pipelines.  No threshold
# filter on the double (row membership must not hinge on a float compare);
# customers are bounded by key instead and z is rounded in both engines.
# ---------------------------------------------------------------------------


def q_customer_spend_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey")
    mu = F.avg(F.col("o_totalprice").cast("double")).over(w)
    sd = F.stddev_samp(F.col("o_totalprice").cast("double")).over(w)
    n = F.count(F.lit(1)).over(w)
    z = (F.col("o_totalprice").cast("double") - mu) / sd
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("totalprice"),
            n.alias("n"),
            sd.alias("sd"),
            F.round(z, 6).alias("z"),
        )
        .where((F.col("n") >= 2) & (F.col("sd") > 0))
        .select("o_orderkey", "o_custkey", "totalprice", "z")
    )


SQL_CUSTOMER_SPEND_Z = """
WITH s AS (
  SELECT o_orderkey, o_custkey,
         CAST(o_totalprice AS DOUBLE) AS totalprice,
         count(*) OVER w AS n,
         avg(CAST(o_totalprice AS DOUBLE)) OVER w AS mu,
         stddev_samp(CAST(o_totalprice AS DOUBLE)) OVER w AS sd
  FROM orders WHERE o_custkey < 100
  WINDOW w AS (PARTITION BY o_custkey)
)
SELECT o_orderkey, o_custkey, totalprice,
       round((totalprice - mu) / sd, 6) AS z
FROM s WHERE n >= 2 AND sd > 0
"""

register("customer_spend_z", q_customer_spend_z, SQL_CUSTOMER_SPEND_Z)


# ---------------------------------------------------------------------------
# Peak concurrency (sweep line): maximum number of simultaneously-open user
# sessions per day.  The interval-overlap aggregation no single groupBy
# expresses — classic +1/-1 boundary events + a running sum.  All integer,
# exact.  Scale shape: boundaries are 2 rows per session (never the raw
# events), and the running sum partitions by day — state is bounded by a
# day's boundaries, not history.  Day-scoped semantics: a session's +1/-1
# both land in the day they occur, so a midnight-spanning session counts
# toward its start day's peak only (documented; identical in the oracle).
# A carry-over variant would seed each day with the prior day's net sum —
# the same two-level prefix-sum shape as llm/packing.py.
# ---------------------------------------------------------------------------


def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    gap_us = 1800 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    sess = (
        ev.select("user_id", "ts", "event_id")
        .withColumn(
            "__new", F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
        )
        .withColumn(
            "session_id",
            F.sum("__new")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("bigint"),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    bounds = sess.select(
        F.col("s_start").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        # closing at s_end + 1us: a session ending exactly when another
        # starts still counts as overlapping at that instant.
        sess.select(
            (F.timestamp_micros(F.unix_micros("s_end") + 1)).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    # Two-level sweep (round-3 review #2): the old shape ran each day's
    # running sum over Window.partitionBy(day) — one reducer per day, so a
    # hot day funnels through a single task at scale.  Decompose by hour
    # blocks (the orderkey_gaps seam pattern): (1) running sum WITHIN each
    # (day, hour) block — parallel across blocks; (2) per-block totals
    # prefix-summed over the tiny per-block summary give each block's
    # starting offset; (3) day peak = max over blocks of offset + block
    # peak.  Identical result: block boundaries follow t's order, and ties
    # (equal t) always land in the same block, so the (t, delta desc)
    # sort order is preserved end-to-end.
    hour_us = 3600 * 1_000_000
    pts = bounds.select(
        F.to_date("t").alias("day"),
        F.expr(f"unix_micros(t) div {hour_us}").alias("bk"),
        "t",
        "delta",
    )
    w_in = (
        Window.partitionBy("day", "bk")
        .orderBy(F.col("t"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    blk = (
        pts.withColumn("run_in", F.sum("delta").over(w_in))
        .groupBy("day", "bk")
        .agg(
            F.max("run_in").alias("blk_peak"),
            F.sum("delta").alias("blk_total"),
        )
    )
    # rows = distinct (day, hour) blocks: tiny by design.
    w_blk = (
        Window.partitionBy("day")
        .orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = blk.withColumn(
        "offset", F.coalesce(F.sum("blk_total").over(w_blk), F.lit(0))
    )
    return (
        offs.groupBy("day")
        .agg(
            F.max(F.col("offset") + F.col("blk_peak"))
            .cast("bigint")
            .alias("peak_concurrent")
        )
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "peak_concurrent")
    )


SQL_PEAK_CONCURRENCY = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_id,
         ts
  FROM flagged
),
iv AS (
  SELECT user_id, session_id, MIN(ts) AS s_start, MAX(ts) AS s_end
  FROM sess GROUP BY user_id, session_id
),
bounds AS (
  SELECT s_start AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT s_end + INTERVAL 1 MICROSECOND, -1 FROM iv
),
running AS (
  SELECT CAST(t AS DATE) AS day,
         SUM(delta) OVER (PARTITION BY CAST(t AS DATE)
                          ORDER BY t, delta DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS open_now
  FROM bounds
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(MAX(open_now) AS BIGINT) AS peak_concurrent
FROM running GROUP BY day
"""

register("peak_concurrency", q_peak_concurrency, SQL_PEAK_CONCURRENCY)


# ---------------------------------------------------------------------------
# Month-over-month revenue growth (LAG over a monthly rollup) and cohort
# retention (first-order month x months-since activity matrix) — the two
# staple BI time analyses.  Growth in basis points by integer division of
# exact DECIMAL sums; retention counts are integers.
# ---------------------------------------------------------------------------


def q_revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Integer cents end-to-end: Spark truncates decimal->bigint casts while
    # DuckDB rounds them, so growth is computed with bigint `div` (identical
    # truncate-toward-zero semantics in both engines) on exact cent sums.
    o = table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("ym")
        )
        .agg(
            F.sum((F.col("o_totalprice").cast(DEC) * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.orderBy("ym")
    prev = F.lag("cents").over(w)
    return monthly.select(
        "ym",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        F.when(prev.isNull(), None)
        .otherwise(F.expr("((cents - lag(cents) OVER (ORDER BY ym)) * 10000) div lag(cents) OVER (ORDER BY ym)"))
        .cast("bigint")
        .alias("growth_bps"),
    )


SQL_REVENUE_MOM_GROWTH = """
WITH m AS (
  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS ym,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
)
SELECT ym, CAST(cents AS DOUBLE) / 100.0 AS revenue,
       CAST(((cents - lag(cents) OVER (ORDER BY ym)) * 10000)
            // lag(cents) OVER (ORDER BY ym) AS BIGINT) AS growth_bps
FROM m
"""

register("revenue_mom_growth", q_revenue_mom_growth, SQL_REVENUE_MOM_GROWTH)


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("ym"),
        (
            F.year(F.col("o_orderdate").cast("date")) * 12
            + F.month(F.col("o_orderdate").cast("date"))
        ).alias("mnum"),
    )
    first = o.groupBy("o_custkey").agg(
        F.min("ym").alias("cohort"), F.min("mnum").alias("cohort_m")
    )
    act = o.select("o_custkey", "mnum").distinct()
    return (
        act.join(first, "o_custkey")
        .groupBy("cohort", (F.col("mnum") - F.col("cohort_m")).alias("months_since"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
        .select("cohort", F.col("months_since").cast("bigint"), "n_active")
    )


SQL_COHORT_RETENTION = """
WITH o AS (
  SELECT o_custkey,
         strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS ym,
         year(CAST(o_orderdate AS DATE)) * 12
           + month(CAST(o_orderdate AS DATE)) AS mnum
  FROM orders
),
first AS (
  SELECT o_custkey, MIN(ym) AS cohort, MIN(mnum) AS cohort_m
  FROM o GROUP BY o_custkey
),
act AS (SELECT DISTINCT o_custkey, mnum FROM o)
SELECT f.cohort, CAST(a.mnum - f.cohort_m AS BIGINT) AS months_since,
       CAST(count(*) AS BIGINT) AS n_active
FROM act a JOIN first f USING (o_custkey)
GROUP BY f.cohort, a.mnum - f.cohort_m
"""

register("cohort_retention", q_cohort_retention, SQL_COHORT_RETENTION)


# ---------------------------------------------------------------------------
# UNPIVOT (wide -> long): the inverse reshaping of pivot_priority_status,
# via the native DataFrame.unpivot (SQL UNPIVOT / melt).  Zero-shuffle —
# unpivot is a per-row flatMap in the same stage as the scan of its input
# (here the pivoted aggregate).  Oracle: engine-agnostic UNION ALL
# formulation of the same reshape.
# ---------------------------------------------------------------------------


def q_unpivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = q_pivot_priority_status(spark, sf_dir)
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=list(_STATUSES),
        variableColumnName="status",
        valueColumnName="n_orders",
    ).select("o_orderpriority", "status", F.col("n_orders").cast("bigint"))


SQL_UNPIVOT_STATUS_COUNTS = """
WITH wide AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS f,
         CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS o,
         CAST(COUNT(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS p
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, 'F' AS status, f AS n_orders FROM wide
UNION ALL
SELECT o_orderpriority, 'O', o FROM wide
UNION ALL
SELECT o_orderpriority, 'P', p FROM wide
"""

register("unpivot_status_counts", q_unpivot_status_counts, SQL_UNPIVOT_STATUS_COUNTS)


# ---------------------------------------------------------------------------
# VARIANT semi-structured ingestion (Spark 4): parse_json once into the
# binary VARIANT encoding, then typed variant_get extraction — the modern
# replacement for per-access get_json_object string re-parsing (each
# get_json_object call re-parses the JSON text; variant parses once and
# navigates an indexed binary value).  Oracle: DuckDB JSON extraction.
# ---------------------------------------------------------------------------


def q_events_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.expr("variant_get(v, '$.k', 'bigint')").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.min("k").cast("bigint").alias("min_k"),
        F.max("k").cast("bigint").alias("max_k"),
    )


SQL_EVENTS_VARIANT_STATS = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
"""

register("events_variant_stats", q_events_variant_stats, SQL_EVENTS_VARIANT_STATS)


# ---------------------------------------------------------------------------
# SQL scalar UDF (Spark 4 CREATE FUNCTION ... RETURN): a reusable,
# catalog-registered expression that INLINES into the calling plan (full
# codegen, no serialization boundary — the opposite of a Python UDF).
# The oracle inlines the same expression text.
# ---------------------------------------------------------------------------


def q_sql_udf_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Full precision through the UDF (no per-item rounding): Spark and
    # DuckDB round DECIMAL casts differently at the half boundary, so the
    # per-item cents cast would drift one cent on ~.xx5 items.  The exact
    # sum's terminal DECIMAL goes through canon.MONEY_DOUBLE like every
    # other money column.
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_rev(p DECIMAL(18,2), d DECIMAL(18,2)) "
        "RETURNS DECIMAL(38,4) RETURN p * (CAST(1 AS DECIMAL(18,2)) - d)"
    )
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_udf")
    return spark.sql(
        """
        SELECT l_returnflag,
               SUM(net_rev(CAST(l_extendedprice AS DECIMAL(18,2)),
                           CAST(l_discount AS DECIMAL(18,2)))) AS net_revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM li_udf GROUP BY l_returnflag
        """
    )


SQL_SQL_UDF_REVENUE = """
SELECT l_returnflag,
       SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
           AS net_revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem GROUP BY l_returnflag
"""

register("sql_udf_revenue", q_sql_udf_revenue, SQL_SQL_UDF_REVENUE)


# ---------------------------------------------------------------------------
# Re-aggregatable HLL sketch rollup: per-nation Datasketches HLL sketches of
# customer keys, hll_union_agg'd up to region, estimated — the scale pattern
# for distinct counts over a rollup hierarchy: the raw data is scanned ONCE
# at the finest grain, coarser grains merge fixed-size sketches instead of
# re-shuffling keys.  Sketch bytes aren't bit-comparable across engines, so
# the sketch_profile pattern applies: emit the exact answers plus a BOOLEAN
# asserting the estimate landed inside the published error bound (lgK=12 =>
# rsd ~1.6%; 5% ~ 3 sigma, +10 small-count allowance); the oracle expects
# TRUE, so a sketch regression flips the row red.
# ---------------------------------------------------------------------------


def q_hll_union_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    per_nation = c.groupBy("c_nationkey").agg(
        F.expr("hll_sketch_agg(c_custkey)").alias("sk"),
        F.countDistinct("c_custkey").cast("bigint").alias("exact_n"),
    )
    per_region = (
        per_nation.join(F.broadcast(n), per_nation.c_nationkey == n.n_nationkey)
        .groupBy("n_regionkey")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
            F.sum("exact_n").cast("bigint").alias("exact_customers"),
        )
    )
    return (
        per_region.join(F.broadcast(r), per_region.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            "exact_customers",
            (
                F.abs(F.col("est") - F.col("exact_customers"))
                <= F.col("exact_customers") * 0.05 + 10
            ).alias("hll_ok"),
        )
    )


SQL_HLL_UNION_REGIONS = """
SELECT r_name AS region,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS exact_customers,
       TRUE AS hll_ok
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""

register("hll_union_regions", q_hll_union_regions, SQL_HLL_UNION_REGIONS)


# ---------------------------------------------------------------------------
# Keyed snapshot diff (ops/merge.py::table_diff): version-to-version drift
# audit.  The Spark side compares xxhash64 row digests (payloads cross the
# wire once, as 8-byte hashes); the oracle recomputes the same diff by
# direct value comparison — hash-equality stands in for value-equality,
# which the oracle verifies row-for-row.
# ---------------------------------------------------------------------------


def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.ops.merge import table_diff

    o = table(spark, sf_dir, "orders")
    v2 = (
        o.filter(F.col("o_custkey") % 101 != 0)  # removals
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_custkey") % 97 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),  # modifications
        )
        .unionByName(
            # additions: synthetic keys in the NEGATIVE range — real
            # orderkeys are positive at every scale factor, so no offset
            # constant to outgrow (round-3 ADVICE: +10M collided at ~sf2).
            o.filter(F.col("o_custkey") % 103 == 0).withColumn(
                "o_orderkey", -F.col("o_orderkey")
            )
        )
    )
    return table_diff(o, v2, ["o_orderkey"])


SQL_ORDERS_SNAPSHOT_DIFF = """
WITH v2 AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_custkey % 97 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_custkey % 101 <> 0
  UNION ALL BY NAME
  SELECT -o_orderkey AS o_orderkey, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_custkey % 103 = 0
),
j AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE
           WHEN o.o_orderkey IS NULL THEN 'added'
           WHEN n.o_orderkey IS NULL THEN 'removed'
           WHEN (o.o_custkey IS DISTINCT FROM n.o_custkey)
             OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
             OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
             OR (o.o_orderdate IS DISTINCT FROM n.o_orderdate)
             OR (o.o_orderpriority IS DISTINCT FROM n.o_orderpriority)
           THEN 'modified'
         END AS change_type
  FROM orders o FULL OUTER JOIN v2 n USING (o_orderkey)
)
SELECT o_orderkey, change_type FROM j WHERE change_type IS NOT NULL
"""

register("orders_snapshot_diff", q_orders_snapshot_diff, SQL_ORDERS_SNAPSHOT_DIFF)


# ---------------------------------------------------------------------------
# Robust statistics: per-group median + MAD (median absolute deviation)
# and a robust z-score outlier count.  The outlier-resistant twin of
# customer_spend_z: two grouped exact-percentile passes with a broadcast
# join of the tiny medians frame between them — no window over the fact.
# ---------------------------------------------------------------------------


def q_mad_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    med = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("med")
    )
    dev = o.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        "med",
        F.abs(F.col("o_totalprice") - F.col("med")).alias("adev"),
    )
    return dev.groupBy("o_orderpriority").agg(
        F.round(F.min("med"), 4).alias("median_price"),
        F.round(F.percentile("adev", F.lit(0.5)), 4).alias("mad"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )


SQL_MAD_ORDER_PRICE = """
WITH med AS (
  SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
  FROM orders GROUP BY o_orderpriority
),
dev AS (
  SELECT o.o_orderpriority, m.med, abs(o.o_totalprice - m.med) AS adev
  FROM orders o JOIN med m USING (o_orderpriority)
)
SELECT o_orderpriority,
       round(MIN(med), 4) AS median_price,
       round(quantile_cont(adev, 0.5), 4) AS mad,
       CAST(count(*) AS BIGINT) AS n_orders
FROM dev GROUP BY o_orderpriority
"""

register("mad_order_price", q_mad_order_price, SQL_MAD_ORDER_PRICE)


# ---------------------------------------------------------------------------
# Key-sequence gap detection WITHOUT a global window: LEAD inside hash
# blocks (parallel) + LEAD over the tiny per-block summary for the
# cross-block seams — the two-level decomposition that keeps an
# ordered-sequence audit off a single task.  The oracle uses the naive
# global LEAD; results are identical, only the physical shape differs.
# ---------------------------------------------------------------------------

_GAP_BLOCK = 4096


def q_orderkey_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The synthetic orderkeys are dense, which would make this a 0-row
    # (vacuously-green) check — knock out two residue classes so real
    # gaps of both widths exist and the op is actually exercised.
    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .where((F.col("o_orderkey") % 97 != 0) & (F.col("o_orderkey") % 89 != 0))
        .distinct()
    )
    blocked = o.withColumn("bk", F.expr(f"o_orderkey div {_GAP_BLOCK}"))
    w_in = Window.partitionBy("bk").orderBy("o_orderkey")
    intra = (
        blocked.withColumn("nxt", F.lead("o_orderkey").over(w_in))
        .where(F.col("nxt") - F.col("o_orderkey") > 1)
        .select(
            F.col("o_orderkey").alias("gap_after"),
            (F.col("nxt") - F.col("o_orderkey") - 1).cast("bigint").alias("n_missing"),
        )
    )
    summary = blocked.groupBy("bk").agg(
        F.min("o_orderkey").alias("bmin"), F.max("o_orderkey").alias("bmax")
    )
    w_blk = Window.orderBy("bk")  # rows = distinct blocks: tiny by design
    seams = (
        summary.withColumn("nmin", F.lead("bmin").over(w_blk))
        .where(F.col("nmin") - F.col("bmax") > 1)
        .select(
            F.col("bmax").alias("gap_after"),
            (F.col("nmin") - F.col("bmax") - 1).cast("bigint").alias("n_missing"),
        )
    )
    return intra.unionByName(seams)


SQL_ORDERKEY_GAPS = """
WITH k AS (SELECT DISTINCT o_orderkey FROM orders
           WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 <> 0),
g AS (
  SELECT o_orderkey AS gap_after,
         lead(o_orderkey) OVER (ORDER BY o_orderkey) - o_orderkey - 1
             AS n_missing
  FROM k
)
SELECT gap_after, CAST(n_missing AS BIGINT) AS n_missing
FROM g WHERE n_missing > 0
"""

register("orderkey_gaps", q_orderkey_gaps, SQL_ORDERKEY_GAPS)


# ---------------------------------------------------------------------------
# Ratio-to-report, correlation, and contingency analytics — the remaining
# staple aggregate shapes.  Share-of-total in exact integer permille;
# corr/chi-square as JVM-side aggregates with the float-output rounding
# convention.
# ---------------------------------------------------------------------------


def q_revenue_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    cents = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum((F.col("o_totalprice").cast(DEC) * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    return cents.select(
        "n_name",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        # The unpartitioned OVER () runs over the 25-row AGGREGATE, never
        # the fact table (cf. packing op note).
        F.expr("(cents * 1000) div sum(cents) OVER ()")
        .cast("bigint")
        .alias("share_permille"),
    )


SQL_REVENUE_SHARE_BY_NATION = """
WITH cents AS (
  SELECT n_name,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name, CAST(cents AS DOUBLE) / 100.0 AS revenue,
       CAST((cents * 1000) // SUM(cents) OVER () AS BIGINT) AS share_permille
FROM cents
"""

register(
    "revenue_share_by_nation", q_revenue_share_by_nation, SQL_REVENUE_SHARE_BY_NATION,
)


def q_qty_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.corr(F.col("l_quantity").cast("double"),
                       F.col("l_extendedprice").cast("double")), 6).alias("corr_qty_price"),
        F.round(F.covar_samp(F.col("l_quantity").cast("double"),
                             F.col("l_discount").cast("double")), 6).alias("covar_qty_disc"),
    )


SQL_QTY_PRICE_CORR = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(corr(CAST(l_quantity AS DOUBLE), CAST(l_extendedprice AS DOUBLE)), 6)
           AS corr_qty_price,
       round(covar_samp(CAST(l_quantity AS DOUBLE), CAST(l_discount AS DOUBLE)), 6)
           AS covar_qty_disc
FROM lineitem GROUP BY l_returnflag
"""

register("qty_price_corr", q_qty_price_corr, SQL_QTY_PRICE_CORR)


def q_priority_status_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic for the priority x status
    contingency table: observed integer counts, expected from exact
    integer marginals, one scalar per cell summed.  Margins are tiny
    (broadcast); the fact table is scanned once."""
    o = table(spark, sf_dir, "orders")
    cells = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    rowm = cells.groupBy("o_orderpriority").agg(F.sum("obs").alias("row_n"))
    colm = cells.groupBy("o_orderstatus").agg(F.sum("obs").alias("col_n"))
    tot = cells.agg(F.sum("obs").alias("total"))
    j = (
        cells.join(F.broadcast(rowm), "o_orderpriority")
        .join(F.broadcast(colm), "o_orderstatus")
        .crossJoin(F.broadcast(tot))  # 1-row scalar total
    )
    exp = (F.col("row_n") * F.col("col_n")).cast("double") / F.col("total").cast("double")
    term = (F.col("obs").cast("double") - exp) * (F.col("obs").cast("double") - exp) / exp
    return j.agg(
        F.sum("obs").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.round(F.sum(term), 6).alias("chi2"),
    )


SQL_PRIORITY_STATUS_CHI2 = """
WITH cells AS (
  SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS obs
  FROM orders GROUP BY o_orderpriority, o_orderstatus
),
rowm AS (SELECT o_orderpriority, SUM(obs) AS row_n FROM cells GROUP BY o_orderpriority),
colm AS (SELECT o_orderstatus, SUM(obs) AS col_n FROM cells GROUP BY o_orderstatus),
tot AS (SELECT SUM(obs) AS total FROM cells),
j AS (
  SELECT c.obs, r.row_n, m.col_n, t.total,
         CAST(r.row_n * m.col_n AS DOUBLE) / CAST(t.total AS DOUBLE) AS exp
  FROM cells c JOIN rowm r USING (o_orderpriority)
  JOIN colm m USING (o_orderstatus) CROSS JOIN tot t
)
SELECT CAST(SUM(obs) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_cells,
       round(SUM((CAST(obs AS DOUBLE) - exp) * (CAST(obs AS DOUBLE) - exp) / exp), 6)
           AS chi2
FROM j
"""

register("priority_status_chi2", q_priority_status_chi2, SQL_PRIORITY_STATUS_CHI2)


def q_rolling_median_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median over the customer's trailing 5 orders — robust
    rolling stats via an aggregate-as-window (sorted small frame per row;
    the frame is ROWS-bounded so per-row cost is O(5 log 5), state never
    exceeds the frame)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-4, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("totalprice"),
        F.round(
            F.percentile(F.col("o_totalprice").cast("double"), F.lit(0.5)).over(w), 4
        ).alias("median_5"),
    )


SQL_ROLLING_MEDIAN_SPEND = """
SELECT o_orderkey, o_custkey,
       CAST(o_totalprice AS DOUBLE) AS totalprice,
       round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5)
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS median_5
FROM orders WHERE o_custkey < 300
"""

register("rolling_median_spend", q_rolling_median_spend, SQL_ROLLING_MEDIAN_SPEND)


# ---------------------------------------------------------------------------
# Cogrouped applyInPandas (the remaining Arrow-Python surface): per-key
# cogroup of two frames — each key's two partitions arrive as a pandas pair,
# the shape for per-key cross-frame logic (custom as-of merges, per-entity
# reconciliation) that a join can't express row-wise.  Here the per-key
# logic is deliberately simple (counts + value sums) so DuckDB can oracle
# it with a FULL OUTER of two GROUP BYs; the point under test is the
# cogroup plumbing: both sides shuffle once by key, Arrow-batched, no
# driver involvement.
# ---------------------------------------------------------------------------


def q_cogroup_activity_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    # key < 100: each cogroup key costs a Python/Arrow round trip
    # (~10ms/key measured at sf0.1 — 15k keys would be ~2min), so the
    # keyspace is bounded: the point here is the plumbing, not
    # throughput, and the measured per-key cost is exactly the
    # documented reason to prefer joins whenever the per-key logic IS
    # SQL-expressible.
    o = table(spark, sf_dir, "orders").where(F.col("o_custkey") < 100).select(
        F.col("o_custkey").alias("key"),
        F.col("o_totalprice").cast("double").alias("amount"),
    )
    ev = read_events(spark, sf_dir).where(F.col("user_id") < 100).select(
        F.col("user_id").alias("key"),
        F.col("value").cast("double").alias("amount"),
    )

    def recon(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        key = left["key"].iloc[0] if len(left) else right["key"].iloc[0]
        return pd.DataFrame(
            {
                "key": [key],
                "n_orders": [len(left)],
                "n_events": [len(right)],
                # cents as int64: pandas float sums would drift vs SQL
                "order_cents": [int(round(float(left["amount"].sum()) * 100))],
            }
        )

    out = (
        o.groupby("key")
        .cogroup(ev.groupby("key"))
        .applyInPandas(
            recon, "key bigint, n_orders bigint, n_events bigint, order_cents bigint"
        )
    )
    return out


SQL_COGROUP_ACTIVITY_RECON = """
WITH o AS (
  SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100)
              AS BIGINT) AS order_cents
  FROM orders WHERE o_custkey < 100 GROUP BY o_custkey
),
e AS (
  SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n_events
  FROM events WHERE user_id < 100 GROUP BY user_id
)
SELECT COALESCE(o.key, e.key) AS key,
       COALESCE(o.n_orders, 0) AS n_orders,
       COALESCE(e.n_events, 0) AS n_events,
       COALESCE(o.order_cents, 0) AS order_cents
FROM o FULL OUTER JOIN e ON o.key = e.key
"""

register("cogroup_activity_recon", q_cogroup_activity_recon, SQL_COGROUP_ACTIVITY_RECON)


# ---------------------------------------------------------------------------
# MDM survivorship (ops/dedup.py::golden_record): field-wise most-frequent
# non-NULL with deterministic ties.  The synthetic dupes make the result
# non-vacuous: every third customer gets one corrupted copy (golden keeps
# the 2-vote original) and every fifth gets the corruption twice (the
# corrupted value legitimately wins 2-1) — so the op's vote counting, not
# just NULL-skipping, is under test.
# ---------------------------------------------------------------------------


def q_customer_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.ops.dedup import golden_record

    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    corrupted = c.select(
        "c_custkey",
        F.concat(F.lit("ZZZ-"), F.col("c_name")).alias("c_name"),
        F.lit(None).cast("string").alias("c_mktsegment"),
        (F.col("c_acctbal") + 1.0).alias("c_acctbal"),
    )
    dupes = (
        c.unionByName(c)
        .unionByName(corrupted.filter(F.col("c_custkey") % 3 == 0))
        .unionByName(corrupted.filter(F.col("c_custkey") % 5 == 0))
        .unionByName(corrupted.filter(F.col("c_custkey") % 5 == 0))
    )
    return golden_record(dupes, "c_custkey", ["c_name", "c_mktsegment", "c_acctbal"])


SQL_CUSTOMER_GOLDEN_RECORD = """
WITH base AS (
  SELECT c_custkey, c_name, c_mktsegment, CAST(c_acctbal AS VARCHAR) AS c_acctbal
  FROM customer
),
corrupted AS (
  SELECT c_custkey, 'ZZZ-' || c_name AS c_name,
         CAST(NULL AS VARCHAR) AS c_mktsegment,
         CAST(c_acctbal + 1.0 AS VARCHAR) AS c_acctbal
  FROM customer
),
dupes AS (
  SELECT * FROM base UNION ALL SELECT * FROM base
  UNION ALL SELECT * FROM corrupted WHERE c_custkey % 3 = 0
  UNION ALL SELECT * FROM corrupted WHERE c_custkey % 5 = 0
  UNION ALL SELECT * FROM corrupted WHERE c_custkey % 5 = 0
),
long AS (
  SELECT c_custkey, 'c_name' AS f, c_name AS v FROM dupes WHERE c_name IS NOT NULL
  UNION ALL
  SELECT c_custkey, 'c_mktsegment', c_mktsegment FROM dupes WHERE c_mktsegment IS NOT NULL
  UNION ALL
  SELECT c_custkey, 'c_acctbal', c_acctbal FROM dupes WHERE c_acctbal IS NOT NULL
),
counts AS (
  SELECT c_custkey, f, v, count(*) AS n FROM long GROUP BY c_custkey, f, v
),
best AS (
  SELECT c_custkey, f, v,
         row_number() OVER (PARTITION BY c_custkey, f ORDER BY n DESC, v ASC) AS rn
  FROM counts
)
SELECT c_custkey,
       MAX(CASE WHEN f = 'c_name' THEN v END) AS c_name,
       MAX(CASE WHEN f = 'c_mktsegment' THEN v END) AS c_mktsegment,
       MAX(CASE WHEN f = 'c_acctbal' THEN v END) AS c_acctbal
FROM best WHERE rn = 1 GROUP BY c_custkey
"""

register("customer_golden_record", q_customer_golden_record, SQL_CUSTOMER_GOLDEN_RECORD)


# ---------------------------------------------------------------------------
# Pre-aggregate reuse: monthly revenue computed FROM the daily aggregate,
# not from the fact table — the incremental-ETL hierarchy pattern (daily
# partials land once; every coarser grain merges partials).  Integer cents
# end-to-end, so re-aggregation is exactly lossless — the oracle computes
# monthly straight from the facts and must match to the cent.
# ---------------------------------------------------------------------------


def q_monthly_from_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum((F.col("o_totalprice").cast(DEC) * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    return (
        daily.groupBy(F.date_format("day", "yyyy-MM").alias("ym"))
        .agg(
            F.sum("cents").cast("bigint").alias("cents"),
            F.sum("n_orders").cast("bigint").alias("n_orders"),
        )
        .select(
            "ym",
            (F.col("cents").cast("double") / 100.0).alias("revenue"),
            "n_orders",
        )
    )


SQL_MONTHLY_FROM_DAILY = """
SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS ym,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS DOUBLE) / 100.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders GROUP BY 1
"""

register("monthly_from_daily", q_monthly_from_daily, SQL_MONTHLY_FROM_DAILY)


# ---------------------------------------------------------------------------
# Gaps-and-islands on DATES (row_number-difference trick): per customer,
# runs of consecutive order DAYS collapse to islands via the constant
# (day - row_number) group key — no self-join, one window + one groupBy.
# ---------------------------------------------------------------------------


def q_order_day_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        table(spark, sf_dir, "orders")
        .select("o_custkey", F.col("o_orderdate").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("day")
    grp = (
        F.unix_date(F.col("day")) - F.row_number().over(w)
    ).alias("island")
    streaks = (
        o.select("o_custkey", "day", grp)
        .groupBy("o_custkey", "island")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("streak_days"),
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("streak_start"),
        )
    )
    wbest = Window.partitionBy("o_custkey").orderBy(
        F.col("streak_days").desc(), F.col("streak_start").asc()
    )
    return (
        streaks.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "streak_days", "streak_start")
    )


SQL_ORDER_DAY_STREAKS = """
WITH d AS (
  SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS day FROM orders
),
isl AS (
  SELECT o_custkey, day,
         date_diff('day', DATE '1970-01-01', day)
           - row_number() OVER (PARTITION BY o_custkey ORDER BY day) AS island
  FROM d
),
streaks AS (
  SELECT o_custkey, island, CAST(count(*) AS BIGINT) AS streak_days,
         strftime(MIN(day), '%Y-%m-%d') AS streak_start
  FROM isl GROUP BY o_custkey, island
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
                               ORDER BY streak_days DESC, streak_start ASC) AS rn
  FROM streaks
)
SELECT o_custkey, streak_days, streak_start FROM ranked WHERE rn = 1
"""

register("order_day_streaks", q_order_day_streaks, SQL_ORDER_DAY_STREAKS)


# ---------------------------------------------------------------------------
# Interval lookup planned as an equi-join (ops/joins.py::range_bucket_join):
# overlapping price bands matched to orders via bucket decomposition —
# Spark's native plan for a BETWEEN join is a broadcast nested loop, which
# dies when the range table outgrows a broadcast; the bucket path is a
# plain hash join at any size.  Bands overlap (stride 25k, width 50k), so
# most orders match two bands — multi-match semantics exercised.  The
# oracle is the naive BETWEEN join.
# ---------------------------------------------------------------------------

_BAND_STRIDE = 25_000
_BAND_WIDTH = 49_999  # inclusive hi = lo + width -> 2x overlap
_N_BANDS = 24


def q_price_band_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.ops.joins import range_bucket_join

    bands = spark.range(_N_BANDS).select(
        F.col("id").alias("band_id"),
        (F.col("id") * _BAND_STRIDE).cast("double").alias("lo"),
        (F.col("id") * _BAND_STRIDE + _BAND_WIDTH).cast("double").alias("hi"),
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    matched = range_bucket_join(
        o, bands, "o_totalprice", "lo", "hi", bucket_width=_BAND_STRIDE
    )
    return matched.groupBy("band_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum((F.col("o_totalprice").cast(DEC) * 100).cast("bigint"))
        .cast("bigint")
        .alias("revenue_cents"),
    )


SQL_PRICE_BAND_LOOKUP = f"""
WITH bands AS (
  SELECT i AS band_id,
         CAST(i * {_BAND_STRIDE} AS DOUBLE) AS lo,
         CAST(i * {_BAND_STRIDE} + {_BAND_WIDTH} AS DOUBLE) AS hi
  FROM range({_N_BANDS}) t(i)
)
SELECT band_id,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM orders JOIN bands ON o_totalprice BETWEEN lo AND hi
GROUP BY band_id
"""

register("price_band_lookup", q_price_band_lookup, SQL_PRICE_BAND_LOOKUP)


# ---------------------------------------------------------------------------
# Triangle counting (ops/graph.py::triangle_count) on the nation-to-nation
# trade graph: an edge links the customer's and supplier's nations when at
# least one lineitem flowed between them, sparsified deterministically
# (odd distinct-order count) so the 25-node graph isn't complete and the
# count is structure-sensitive.  The Spark side runs the degree-oriented
# wedge join; the oracle enumerates node-ordered triangles directly.
# ---------------------------------------------------------------------------


def q_trade_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.ops.graph import triangle_count

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            c.c_nationkey.alias("cn"), s.s_nationkey.alias("sn")
        )
        .agg(F.count_distinct("l_orderkey").alias("n_ord"))
        .filter(F.col("n_ord") % 2 == 1)
    )
    return triangle_count(pairs, "cn", "sn").orderBy("vertex")


SQL_TRADE_TRIANGLES = """
WITH pairs AS (
  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn,
         count(DISTINCT l.l_orderkey) AS n_ord
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
und AS (
  SELECT DISTINCT LEAST(cn, sn) AS a, GREATEST(cn, sn) AS b
  FROM pairs WHERE n_ord % 2 = 1 AND cn <> sn
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT x AS vertex FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT vertex, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY vertex ORDER BY vertex
"""

register("trade_triangles", q_trade_triangles, SQL_TRADE_TRIANGLES)


# ---------------------------------------------------------------------------
# Fuzzy record linkage (ops/linkage.py::blocked_levenshtein_pairs): part
# names with synthesized single-character typos (every 10th part gets a
# twin, id + 5,000,000, mutated at position 8 — inside the block key's
# blind spot is exactly what blocking must survive, so the mutation sits
# AFTER the 4-char prefix the block key uses).  Block = name prefix +
# length band; comparator = JVM levenshtein <= 2.  The oracle repeats the
# same blocked pairing in DuckDB — including the block-size cap, which is
# part of the operator's semantics, not an implementation detail.
# ---------------------------------------------------------------------------

_LINK_MAX_DIST = 2
_LINK_MAX_BLOCK = 2000


def q_part_name_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.ops.linkage import blocked_levenshtein_pairs

    p = table(spark, sf_dir, "part").select("p_partkey", "p_name")
    corpus = p.unionByName(
        p.filter(F.col("p_partkey") % 10 == 0).select(
            (F.col("p_partkey") + 5_000_000).alias("p_partkey"),
            F.concat(
                F.substring("p_name", 1, 7),
                F.lit("q"),
                F.expr("substring(p_name, 9)"),
            ).alias("p_name"),
        )
    )
    block = F.concat_ws(
        "|", F.substring("p_name", 1, 4), F.expr("length(p_name) div 4")
    )
    return blocked_levenshtein_pairs(
        corpus, "p_partkey", "p_name", block,
        max_dist=_LINK_MAX_DIST, max_block=_LINK_MAX_BLOCK,
    )


SQL_PART_NAME_LINKAGE = f"""
WITH corpus AS (
  SELECT p_partkey, p_name FROM part
  UNION ALL
  SELECT p_partkey + 5000000,
         substr(p_name, 1, 7) || 'q' || substr(p_name, 9)
  FROM part WHERE p_partkey % 10 = 0
),
b AS (
  SELECT p_partkey AS id, p_name AS txt,
         substr(p_name, 1, 4) || '|' || CAST(length(p_name) // 4 AS VARCHAR) AS blk,
         length(p_name) AS len
  FROM corpus
),
sizes AS (SELECT blk, count(*) AS n FROM b GROUP BY blk),
kept AS (SELECT b.* FROM b JOIN sizes USING (blk) WHERE n <= {_LINK_MAX_BLOCK})
SELECT a.id AS id_a, c.id AS id_b,
       CAST(levenshtein(a.txt, c.txt) AS BIGINT) AS dist
FROM kept a JOIN kept c ON a.blk = c.blk AND a.id < c.id
WHERE abs(a.len - c.len) <= {_LINK_MAX_DIST}
  AND levenshtein(a.txt, c.txt) <= {_LINK_MAX_DIST}
"""

register("part_name_linkage", q_part_name_linkage, SQL_PART_NAME_LINKAGE)


# ---------------------------------------------------------------------------
# Sliding-window trending (the overlapping-window twin of events_hourly):
# top-3 event types per 2-hour window sliding hourly.  F.window with a
# slide emits each event into exactly window/slide = 2 windows — the
# oracle reproduces that expansion with an explicit 2-way UNION ALL of
# hour-truncated starts.  Rank ties break on event_type (deterministic).
# ---------------------------------------------------------------------------


def q_events_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    counts = ev.groupBy(
        F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    w = Window.partitionBy("w").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type",
            "n_events",
            "rank",
        )
    )


SQL_EVENTS_TRENDING = """
WITH wins AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws, event_type FROM events
  UNION ALL
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR, event_type
  FROM events
),
c AS (SELECT ws, event_type, CAST(count(*) AS BIGINT) AS n_events
      FROM wins GROUP BY 1, 2),
r AS (
  SELECT *, row_number() OVER (PARTITION BY ws
                               ORDER BY n_events DESC, event_type) AS rank
  FROM c
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS w_start, event_type, n_events,
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 3
"""

register("events_trending", q_events_trending, SQL_EVENTS_TRENDING)


# ---------------------------------------------------------------------------
# Seasonal-baseline anomaly flags: each day's event volume vs the mean for
# its day-of-week — the first-line ops alert ("is today 2x a normal
# Tuesday?").  Integer-exact: the 2x-mean comparison cross-multiplies
# (total * n_days > 2 * dow_total) instead of dividing, so there is no
# float in the predicate.  Day-of-week numbering: Spark dayofweek() is
# 1=Sunday..7; DuckDB dayofweek() is 0=Sunday..6, offset in the oracle.
# ---------------------------------------------------------------------------


def q_events_dow_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    dowd = daily.withColumn("dow", F.dayofweek("day").cast("bigint"))
    base = dowd.groupBy("dow").agg(
        F.sum("n_events").alias("dow_total"),
        F.count(F.lit(1)).alias("dow_days"),
    )
    return (
        dowd.join(F.broadcast(base), "dow")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dow",
            "n_events",
            (
                F.col("n_events") * F.col("dow_days")
                > F.lit(2) * F.col("dow_total")
            ).alias("is_spike"),
        )
    )


SQL_EVENTS_DOW_ANOMALY = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
),
dowd AS (
  SELECT day, CAST(dayofweek(day) + 1 AS BIGINT) AS dow, n_events FROM daily
),
base AS (
  SELECT dow, SUM(n_events) AS dow_total, count(*) AS dow_days
  FROM dowd GROUP BY dow
)
SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dow, d.n_events,
       d.n_events * b.dow_days > 2 * b.dow_total AS is_spike
FROM dowd d JOIN base b USING (dow)
"""

register("events_dow_anomaly", q_events_dow_anomaly, SQL_EVENTS_DOW_ANOMALY)


# ---------------------------------------------------------------------------
# Declarative expectations suite (ops/expectations.py): six rules over
# orders evaluated in one scan (+ one key-group aggregate for the
# uniqueness rule).  The oracle recomputes each rule as a conditional
# count — including the NULL-evaluability convention: value rules skip
# NULLs (they count toward `evaluated` only when the column is non-null),
# not_null rules see every row.
# ---------------------------------------------------------------------------


def q_orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.ops.expectations import Rule, check_expectations

    o = table(spark, sf_dir, "orders")
    rules = [
        Rule(name="orderkey_not_null", kind="not_null", col="o_orderkey"),
        Rule(name="orderkey_unique", kind="unique_key", cols=("o_orderkey",)),
        Rule(name="status_in_set", kind="in_set", col="o_orderstatus",
             values=("F", "O", "P")),
        Rule(name="price_in_range", kind="in_range", col="o_totalprice",
             lo=0, hi=400_000),
        Rule(name="priority_format", kind="matches", col="o_orderpriority",
             regex="^[1-5]-"),
        Rule(name="date_floor", kind="satisfies",
             expr_sql="CAST(o_orderdate AS DATE) >= DATE '1992-01-01'"),
    ]
    return check_expectations(o, rules)


SQL_ORDERS_EXPECTATIONS = """
WITH rows_rules AS (
  SELECT 'orderkey_not_null' AS rule,
         CAST(count(*) AS BIGINT) AS evaluated,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS violations
  FROM orders
  UNION ALL
  SELECT 'status_in_set',
         CAST(count(o_orderstatus) AS BIGINT),
         CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                        AND o_orderstatus NOT IN ('F', 'O', 'P')
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'price_in_range',
         CAST(count(o_totalprice) AS BIGINT),
         CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                        AND o_totalprice NOT BETWEEN 0 AND 400000
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'priority_format',
         CAST(count(o_orderpriority) AS BIGINT),
         CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                        AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'date_floor',
         CAST(count(o_orderdate) AS BIGINT),
         CAST(SUM(CASE WHEN o_orderdate IS NOT NULL
                        AND NOT (CAST(o_orderdate AS DATE) >= DATE '1992-01-01')
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orderkey_unique',
         CAST(count(*) AS BIGINT),
         CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT o_orderkey, count(*) AS n FROM orders GROUP BY o_orderkey)
)
SELECT rule, evaluated, violations, violations = 0 AS passed FROM rows_rules
"""

register("orders_expectations", q_orders_expectations, SQL_ORDERS_EXPECTATIONS)


# ---------------------------------------------------------------------------
# Concurrency-seconds (the sweep-line AREA, where peak_concurrency is the
# sweep-line MAX): total session-seconds spent per day = integral of the
# open-session count over time.  Between consecutive boundary events the
# open count is constant, so the integral is exact integer micros:
# sum(open_now * (next_t - t)).  Same two-level decomposition as the peak
# query — per-(day, hour-block) running sums + per-block offsets — plus
# one extra seam term: each block's closing segment extends to the next
# boundary, taken from the block summary's LEAD.  Day-scoped semantics:
# the integral resets at midnight (a session's +1/-1 land in their own
# day; cross-midnight residue is credited to the day it occurs in, which
# both engines compute identically).
# ---------------------------------------------------------------------------


_DAY_US = 86_400 * 1_000_000
_HOUR_US = 3_600 * 1_000_000


def q_concurrency_seconds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    gap_us = 1800 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    sess = (
        ev.select("user_id", "ts", "event_id")
        .withColumn(
            "__new", F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
        )
        .withColumn(
            "session_id",
            F.sum("__new")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("bigint"),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    bounds = sess.select(
        F.unix_micros("s_start").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        sess.select(
            (F.unix_micros("s_end") + 1).alias("t"), F.lit(-1).alias("delta")
        )
    )
    # Coalesce simultaneous boundaries first: each remaining point starts a
    # segment [t, next_t) with a constant open count — the exact-integral
    # formulation both engines share.
    pts = bounds.groupBy("t").agg(F.sum("delta").alias("d"))
    pts = pts.select(
        F.expr(f"t div {_DAY_US}").alias("dayn"),
        F.expr(f"t div {_HOUR_US}").alias("bk"),
        "t",
        "d",
    )
    ord_blk = Window.partitionBy("dayn", "bk").orderBy("t")
    seg = pts.withColumn(
        "open_in", F.sum("d").over(ord_blk.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("next_t", F.lead("t").over(ord_blk))
    # Intra-block area at LOCAL levels; the block offset's contribution is
    # offset * covered_span, added at the summary level below.
    blk = seg.groupBy("dayn", "bk").agg(
        F.sum(
            F.when(
                F.col("next_t").isNotNull(),
                F.col("open_in") * (F.col("next_t") - F.col("t")),
            ).otherwise(F.lit(0))
        ).alias("area_local"),
        F.sum("d").alias("blk_total"),
        F.min("t").alias("t_first"),
        F.max("t").alias("last_t"),
    )
    w_blk = Window.partitionBy("dayn").orderBy("bk")
    offs = blk.withColumn(
        "offset",
        F.coalesce(
            F.sum("blk_total").over(w_blk.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).withColumn(
        "next_first",
        F.coalesce(
            F.lead("t_first").over(w_blk), (F.col("dayn") + 1) * F.lit(_DAY_US)
        ),
    )
    area = offs.groupBy("dayn").agg(
        F.sum(
            F.col("area_local")
            + F.col("offset") * (F.col("last_t") - F.col("t_first"))
            + (F.col("offset") + F.col("blk_total"))
            * (F.col("next_first") - F.col("last_t"))
        ).alias("area_us")
    )
    return area.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("dayn").cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        F.expr(f"area_us div {1_000_000}").cast("bigint").alias("session_seconds"),
    )


SQL_CONCURRENCY_SECONDS = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_id,
         ts
  FROM flagged
),
iv AS (
  SELECT user_id, session_id,
         epoch_us(MIN(ts)) AS su, epoch_us(MAX(ts)) + 1 AS eu
  FROM sess GROUP BY user_id, session_id
),
bounds AS (
  SELECT su AS t, 1 AS d FROM iv
  UNION ALL
  SELECT eu, -1 FROM iv
),
pts AS (SELECT t, SUM(d) AS d FROM bounds GROUP BY t),
seg AS (
  SELECT t // {_DAY_US} AS dayn, t,
         SUM(d) OVER (PARTITION BY t // {_DAY_US} ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS open_now,
         LEAD(t) OVER (PARTITION BY t // {_DAY_US} ORDER BY t) AS next_t
  FROM pts
),
area AS (
  SELECT dayn,
         SUM(open_now * (COALESCE(next_t, (dayn + 1) * {_DAY_US}) - t)) AS a
  FROM seg GROUP BY dayn
)
SELECT strftime(DATE '1970-01-01' + CAST(dayn AS INT), '%Y-%m-%d') AS day,
       CAST(a // 1000000 AS BIGINT) AS session_seconds
FROM area
"""

register("concurrency_seconds", q_concurrency_seconds, SQL_CONCURRENCY_SECONDS)


# ---------------------------------------------------------------------------
# TPC-H Q21 shape from available columns: suppliers who were the SOLE late
# shipper on a multi-supplier order ("late" = shipped >60 days after the
# order date).  The textbook formulation is EXISTS (another supplier on
# the order) AND NOT EXISTS (another LATE supplier) — which Catalyst
# plans as two extra joins per subquery.  The scalable formulation
# computes per-order supplier/late-supplier counts in ONE aggregate and
# turns both subqueries into row-local predicates; the oracle runs the
# literal EXISTS/NOT-EXISTS form, proving the rewrite exact.
# ---------------------------------------------------------------------------


def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late = (
        F.col("l_shipdate").cast("date")
        > F.date_add(F.col("o_orderdate").cast("date"), 60)
    )
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("supp_late"))
    )
    # Per-order counts as a WINDOW over per_supp, not a self-join of the
    # derived frame: a join against per_supp's own aggregate recomputes
    # the whole lineitem⋈orders subtree twice (it did — ~2x runtime).
    # The window costs one extra exchange on l_orderkey but scans the
    # fact join once; partitions are per-order supplier lists (tiny).
    wo = Window.partitionBy("l_orderkey")
    culprits = (
        per_supp.withColumn("n_suppliers", F.count(F.lit(1)).over(wo))
        .withColumn(
            "n_late",
            F.sum(F.when(F.col("supp_late"), 1).otherwise(0)).over(wo),
        )
        .filter(
            F.col("supp_late")
            & (F.col("n_suppliers") > 1)
            & (F.col("n_late") == 1)
        )
    )
    # No hint on the supplier join: supplier grows with SF (not a true
    # dim at 100TB); AQE broadcasts it while it fits, shuffles when not.
    return (
        culprits.join(s, culprits.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sole_late_orders"))
    )


SQL_SOLE_LATE_SUPPLIER = """
WITH ls AS (
  SELECT l.l_orderkey, l.l_suppkey,
         MAX(CASE WHEN CAST(l.l_shipdate AS DATE)
                       > CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END) = 1 AS supp_late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY l.l_orderkey, l.l_suppkey
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS n_sole_late_orders
FROM ls l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE l1.supp_late
  AND EXISTS (SELECT 1 FROM ls l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM ls l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.supp_late)
GROUP BY s.s_name
"""

register("sole_late_supplier", q_sole_late_supplier, SQL_SOLE_LATE_SUPPLIER)


# ---------------------------------------------------------------------------
# Round-4 TPC-H-shaped additions: the four classic query shapes not yet in
# the registry (market share Q8, top-supplier-with-ties Q15, correlated
# per-group threshold Q17, disjunctive bracket predicates Q19) plus an
# EXISTS-counting Q4 adaptation.  The testdata schema has no partsupp /
# l_commitdate / l_shipmode, so predicates are adapted to the columns that
# exist; the SHAPES (and their physical plans) are the point.
# ---------------------------------------------------------------------------

def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: within one region's customer orders, the yearly revenue
    share contributed by suppliers of one nation.

    Plan: lineitem⋈orders is the only fact-fact join; customer, supplier,
    nation, region are all broadcast.  The share divides two sums from the
    SAME aggregation (conditional agg), so there is exactly ONE shuffle —
    no self-join, no window.  Share is permille (integer div on DECIMAL
    sums) for cross-engine exactness."""
    target_nation = "NATION_3"
    target_region = "ASIA"
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    reg = table(spark, sf_dir, "region").filter(F.col("r_name") == target_region)
    cust = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat.filter(F.col("n_name") == target_nation)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").cast("int").alias("o_year")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", _revenue().alias("rev")
    )
    # Customer semi-filter, then mark target-supplier lines with a LEFT
    # join.  NO broadcast hints on cust/supp: a region's customers are a
    # constant FRACTION of the customer table (not dim-sized), so forcing
    # a broadcast would OOM at large SF — AQE broadcasts them at small SF
    # on its own and falls back to shuffle joins at scale.  nation/region
    # (true dims) stay hinted inside cust/supp's definitions.
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey, "left_semi")
        .join(
            supp.withColumn("is_target", F.lit(1)),
            li.l_suppkey == supp.s_suppkey,
            "left",
        )
    )
    return (
        base.groupBy("o_year")
        .agg(
            F.sum(F.when(F.col("is_target") == 1, F.col("rev")).otherwise(F.lit(0).cast(DEC))).alias("nation_rev"),
            F.sum("rev").alias("total_rev"),
        )
        .select(
            "o_year",
            "nation_rev",
            "total_rev",
            # Exact integer permille: both sums become integral
            # ten-thousandths (scale-4 decimals times 1e4), then a BIGINT
            # integer division — truncation semantics agree across engines
            # on positive operands, unlike DECIMAL div.
            F.expr(
                "CAST(nation_rev * 10000 AS BIGINT) * 1000"
                " DIV CAST(total_rev * 10000 AS BIGINT)"
            ).alias("share_permille"),
        )
    )


SQL_MARKET_SHARE = """
WITH cust AS (
  SELECT c_custkey FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA'
), supp AS (
  SELECT s_suppkey FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_3'
)
SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
       SUM(CASE WHEN l.l_suppkey IN (SELECT s_suppkey FROM supp)
                THEN {REV} ELSE CAST(0 AS DECIMAL(18,2)) END) AS nation_rev,
       SUM({REV}) AS total_rev,
       CAST(SUM(CASE WHEN l.l_suppkey IN (SELECT s_suppkey FROM supp)
                     THEN {REV} ELSE CAST(0 AS DECIMAL(18,2)) END) * 10000 AS BIGINT)
         * 1000 // CAST(SUM({REV}) * 10000 AS BIGINT) AS share_permille
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_custkey IN (SELECT c_custkey FROM cust)
GROUP BY year(o.o_orderdate)
""".replace("{REV}", _REV_SQL)

register("market_share", q_market_share, SQL_MARKET_SHARE)


def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: supplier(s) achieving the MAXIMUM total revenue over a
    shipping quarter — tie-safe via a rank over the aggregated frame, not
    a scalar-subquery re-scan (the classic Q15 view is scanned twice; the
    window form aggregates once and ranks the tiny per-supplier result).

    Plan: one shuffle for the per-supplier agg (map-side partial combine
    first), then a broadcast-sized window over ~|suppliers| rows with a
    single global partition — bounded because the agg output is
    |suppliers|, not |lineitem|."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1995-04-01"))
    )
    per_supp = li.groupBy("l_suppkey").agg(F.sum(_revenue()).alias("total_rev"))
    w = Window.orderBy(F.col("total_rev").desc())
    top = per_supp.withColumn("rk", F.rank().over(w)).filter(F.col("rk") == 1)
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    # Broadcast the WINNERS (>=1 row, tiny by construction) into the
    # supplier dim — not the other way around: supplier count grows with
    # SF, the rank-1 set does not.
    return (
        s.join(F.broadcast(top), top.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


SQL_TOP_SUPPLIER_REVENUE = """
WITH per_supp AS (
  SELECT l_suppkey, SUM({REV}) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1995-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, p.total_rev
FROM per_supp p JOIN supplier s ON p.l_suppkey = s.s_suppkey
WHERE p.total_rev = (SELECT MAX(total_rev) FROM per_supp)
""".replace("{REV}", _REV_SQL)

register("top_supplier_revenue", q_top_supplier_revenue, SQL_TOP_SUPPLIER_REVENUE)


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: yearly revenue that would be lost by dropping orders of
    less than 20%% of a part's average quantity, for one brand.

    The correlated scalar subquery (per-part avg) becomes a self-agg +
    equi-join: aggregate lineitem per partkey (small output), join it
    back against the brand-filtered lines.  Quantities are integral in
    the testdata, so the threshold comparison uses exact permille
    integers: qty*5*cnt < sum(qty)  <=>  qty < 0.2*avg(qty) — no float.

    Plan: the per-part agg shuffles once on l_partkey; the probe side is
    pre-filtered by the part-brand join so only brand lines rescan.  No
    broadcast hints — one brand is a constant FRACTION of part (grows
    with SF); AQE broadcasts both small sides at test scale and falls
    back to shuffle joins at 100TB."""
    part = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#5")
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    # No broadcast hint: one brand is a constant FRACTION of part (grows
    # with SF).  AQE broadcasts at small SF, shuffle-joins at scale.
    brand_lines = li.join(
        part.select("p_partkey"), li.l_partkey == F.col("p_partkey")
    )
    per_part = brand_lines.groupBy(F.col("l_partkey").alias("agg_partkey")).agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    joined = brand_lines.join(
        per_part, F.col("l_partkey") == F.col("agg_partkey")
    )
    small = joined.filter(
        F.col("l_quantity").cast("bigint") * 5 * F.col("n_lines") < F.col("sum_qty")
    )
    return small.agg(
        F.sum(_revenue()).alias("lost_rev"),
        F.count(F.lit(1)).cast("bigint").alias("n_small_lines"),
    )


SQL_SMALL_QTY_REVENUE = """
WITH brand_lines AS (
  SELECT l.* FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#5'
), per_part AS (
  SELECT l_partkey AS agg_partkey,
         SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
         COUNT(*) AS n_lines
  FROM brand_lines GROUP BY l_partkey
)
SELECT SUM({REV}) AS lost_rev,
       CAST(COUNT(*) AS BIGINT) AS n_small_lines
FROM brand_lines b JOIN per_part a ON b.l_partkey = a.agg_partkey
WHERE CAST(b.l_quantity AS BIGINT) * 5 * a.n_lines < a.sum_qty
""".replace("{REV}", _REV_SQL)

register("small_qty_revenue", q_small_qty_revenue, SQL_SMALL_QTY_REVENUE)


def q_disjunctive_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: revenue from lines matching ANY of three (brand, size,
    quantity) brackets — the classic disjunction-of-conjunctions predicate
    that tests whether the engine keeps an OR of brackets inside ONE scan
    + ONE broadcast join (instead of three unions of scans).

    Plan: one part join; the OR predicate rides it and is evaluated in
    whole-stage codegen.  Common conjuncts (p_size >= 1)
    are factored so the scan-level pushdown still prunes."""
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    qty = F.col("l_quantity").cast("bigint")
    bracket = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & qty.between(20, 30))
    )
    # part is the WHOLE dim here (the brackets reference three brands) —
    # no broadcast hint; AQE decides by measured size.
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(bracket)
        .agg(
            F.sum(_revenue()).alias("bracket_rev"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


SQL_DISJUNCTIVE_BRACKETS = """
SELECT SUM({REV}) AS bracket_rev, CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND CAST(l.l_quantity AS BIGINT) BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND CAST(l.l_quantity AS BIGINT) BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
       AND CAST(l.l_quantity AS BIGINT) BETWEEN 20 AND 30)
""".replace("{REV}", _REV_SQL)

register("disjunctive_brackets", q_disjunctive_brackets, SQL_DISJUNCTIVE_BRACKETS)


def q_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: per order-priority, how many orders have AT LEAST ONE
    late line (shipdate > orderdate + 45d; the schema has no
    l_commitdate/l_receiptdate, so lateness is adapted — the EXISTS
    semi-join COUNTING shape is the point).

    Plan: the EXISTS compiles to a LEFT SEMI join on o_orderkey — only
    order keys + dates shuffle, lineitem payload columns are pruned, and
    the final agg is over |orders| rows with map-side combine."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late_orders = o.join(
        li.withColumnRenamed("l_orderkey", "lk"),
        (o.o_orderkey == F.col("lk"))
        & (
            F.col("l_shipdate").cast("date")
            > F.date_add(F.col("o_orderdate").cast("date"), 45)
        ),
        "left_semi",
    )
    return (
        late_orders.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_late_orders"))
    )


SQL_PRIORITY_LATE_ORDERS = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_late_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND CAST(l.l_shipdate AS DATE)
                    > CAST(o.o_orderdate AS DATE) + INTERVAL 45 DAY)
GROUP BY o_orderpriority
"""

register("priority_late_orders", q_priority_late_orders, SQL_PRIORITY_LATE_ORDERS)


def q_spend_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer EWMA (alpha=1/2, trailing 8 orders) of each
    customer's order prices — smoothed spend trend with NO float
    recursion (ops/timeseries.py::with_ewma)."""
    from lakeforge.ops.timeseries import with_ewma

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 300)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            # decimal first: double*100 truncates/rounds differently per
            # engine on ....9999 representations
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("cents"),
        )
    )
    out = with_ewma(
        o, "cents", ["o_custkey"], ["o_orderdate", "o_orderkey"], "ewma_cents"
    )
    return out.select("o_orderkey", "o_custkey", "cents", "ewma_cents")


SQL_SPEND_EWMA = """
WITH v AS (
  SELECT o_orderkey, o_custkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         list(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS vals
  FROM orders WHERE o_custkey < 300
)
SELECT o_orderkey, o_custkey, cents,
       CAST(list_sum(list_transform(range(1, len(vals) + 1),
                                    i -> vals[i] * (CAST(1 AS BIGINT) << (i - 1))))
            // ((CAST(1 AS BIGINT) << len(vals)) - 1) AS BIGINT) AS ewma_cents
FROM v
"""

register("spend_ewma", q_spend_ewma, SQL_SPEND_EWMA)


def q_heavy_hitter_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over orders: customers whose CM
    estimate reaches 25 orders, estimate + exact side by side
    (ops/sketches.py — fixed 4x1024 grid, mergeable, broadcastable)."""
    from lakeforge.ops.sketches import count_min_heavy_hitters

    o = table(spark, sf_dir, "orders").select("o_custkey")
    out = count_min_heavy_hitters(o, "o_custkey", threshold=25)
    return out.select(
        F.col("k").alias("o_custkey"), "est_n", "exact_n"
    )


def _cms_bucket_sql(key_expr: str, depth: int) -> str:
    from lakeforge.functions.keys import duckdb_md5_int_sql

    h = duckdb_md5_int_sql([key_expr, "'cms'", str(depth)])
    return f"(({h}) % 1024 + 1024) % 1024"


def _cms_oracle() -> str:
    grid_parts = "\nUNION ALL\n".join(
        f"SELECT {d} AS depth, {_cms_bucket_sql('o_custkey', d)} AS bucket"
        f" FROM orders"
        for d in range(4)
    )
    probe_parts = "\nUNION ALL\n".join(
        f"SELECT k, exact_n, {d} AS depth, {_cms_bucket_sql('k', d)} AS bucket"
        f" FROM keys"
        for d in range(4)
    )
    return f"""
WITH grid AS (
  SELECT depth, bucket, CAST(count(*) AS BIGINT) AS n
  FROM ({grid_parts}) GROUP BY depth, bucket
), keys AS (
  SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS exact_n
  FROM orders GROUP BY o_custkey
), probes AS (
{probe_parts}
), est AS (
  SELECT p.k, p.exact_n, CAST(MIN(g.n) AS BIGINT) AS est_n
  FROM probes p JOIN grid g ON p.depth = g.depth AND p.bucket = g.bucket
  GROUP BY p.k, p.exact_n
)
SELECT k AS o_custkey, est_n, exact_n FROM est WHERE est_n >= 25
"""


register("heavy_hitter_customers", q_heavy_hitter_customers, _cms_oracle())


def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, Recency (days since last order),
    Frequency (order count), Monetary (total spend) -> quartile scores
    via ntile semantics -> named segment.

    Both quartile scores are exact global ranks without a global
    single-partition window (VERDICT r06 #2), rebuilt leaner per VERDICT
    r07 #4 and FUSED this round: ntile only needs each row's GLOBAL
    ROW_NUMBER in (value, custkey) order — a total order — so a
    row-grain blocked decomposition suffices (row_number within a
    value-range block + the block's strict-prefix count offset over a
    bounded block summary).  Both metrics ride ONE exploded frame keyed
    (metric, block): the offset aggregate and the ranking window share
    the SAME hash(m, __bk) exchange (ReusedExchange), scores reassemble
    with one groupBy(custkey) pivot, and the tile formula's n comes
    from the SAME block summary (full-partition sum over the bounded
    per-metric frame) — the whole query is one lazy job reading orders
    ONCE: no action, no persist, no stats branch.  Block widths are
    DOMAIN constants (recency is calendar-bounded, frequency blocks of
    4 orders), so the summary stays a tiny broadcast at any SF.  Exact
    — identical to the window ntile; the DuckDB oracle keeps plain
    ntile.  Descending orders negate the value (trunc-division block
    ids remain non-decreasing in the value, which is all the blocked
    rank needs)."""
    o = table(spark, sf_dir, "orders")
    anchor = F.lit("1998-12-31").cast("date")
    per_cust = o.groupBy("o_custkey").agg(
        F.min(F.datediff(anchor, F.col("o_orderdate").cast("date")))
        .cast("bigint")
        .alias("recency_days"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum(F.col("o_totalprice").cast(DEC)).alias("monetary"),
    ).withColumn("neg_freq", -F.col("frequency"))
    # exploded (metric, block, value) rows; calendar-bounded widths
    # (~2550 recency days / 38 -> <= ~67 blocks; 4-orders-per-block)
    ex = per_cust.select(
        "o_custkey", "monetary",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("m"),
                    F.expr("recency_days div 38").alias("__bk"),
                    F.col("recency_days").alias("val"),
                ),
                F.struct(
                    F.lit(1).alias("m"),
                    F.expr("neg_freq div 4").alias("__bk"),
                    F.col("neg_freq").alias("val"),
                ),
            )
        ).alias("s"),
    ).select("o_custkey", "monetary", "s.m", "s.__bk", "s.val").repartition(
        "m", "__bk"
        # one explicit hash(m, __bk) exchange shared by the offset
        # aggregate AND the ranking window (ReusedExchange): orders is
        # scanned and pre-aggregated exactly once.
    )
    # strict-prefix block offsets + the metric's total n, both from the
    # bounded per-metric summary (blocked_prefix_sum carry, inlined)
    w_off = Window.partitionBy("m").orderBy("__bk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy("m").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = (
        ex.groupBy("m", "__bk")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .select(
            "m", "__bk",
            F.coalesce(F.sum("__bn").over(w_off), F.lit(0)).alias("__off"),
            F.sum("__bn").over(w_all).cast("bigint").alias("__n"),
        )
    )
    w_rank = Window.partitionBy("m", "__bk").orderBy("val", "o_custkey")
    # SQL-standard ntile(4) from the global rank with (n, q) as COLUMNS:
    # first n mod 4 tiles get q+1 rows, the rest q.
    tile = (
        "CASE WHEN __rr <= (__n - (__n div 4) * 4) * ((__n div 4) + 1)"
        " THEN (__rr - 1) div ((__n div 4) + 1) + 1"
        " ELSE (__n - (__n div 4) * 4)"
        "      + (__rr - (__n - (__n div 4) * 4) * ((__n div 4) + 1) - 1)"
        "        div greatest(__n div 4, 1) + 1 END"
    )
    ranked = (
        ex.join(F.broadcast(offs), ["m", "__bk"])
        .withColumn("__rr", F.col("__off") + F.row_number().over(w_rank))
        .withColumn("score", F.expr(tile).cast("bigint"))
    )
    scores = ranked.groupBy("o_custkey").agg(
        F.max(F.when(F.col("m") == 0, F.col("score"))).alias("r_score"),
        F.max(F.when(F.col("m") == 1, F.col("score"))).alias("f_score"),
        F.first("monetary").alias("monetary"),
    )
    # The monetary quartile is NOT computed: the segment CASE below uses
    # only r_score/f_score (the former m_score was dead work in both
    # engines; monetary still flows into segment_value).
    seg = (
        F.when((F.col("r_score") == 1) & (F.col("f_score") == 1), "champion")
        .when(F.col("r_score") == 4, "at_risk")
        .when(F.col("f_score") <= 2, "loyal")
        .otherwise("regular")
    )
    return scores.groupBy(seg.alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("monetary").alias("segment_value"),
    )


SQL_CUSTOMER_RFM = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(MIN(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')) AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey, recency_days, frequency, monetary,
         CAST(ntile(4) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS BIGINT) AS r_score,
         CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS BIGINT) AS f_score
  FROM per_cust
)
SELECT CASE WHEN r_score = 1 AND f_score = 1 THEN 'champion'
            WHEN r_score = 4 THEN 'at_risk'
            WHEN f_score <= 2 THEN 'loyal'
            ELSE 'regular' END AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       SUM(monetary) AS segment_value
FROM scored GROUP BY 1
"""

register("customer_rfm_segments", q_customer_rfm_segments, SQL_CUSTOMER_RFM)


def q_bloom_semi_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of lineitems belonging to high-value orders, computed
    through the hand-built Bloom prefilter
    (ops/joins.py::bloom_prefiltered_semi_join).  The oracle is the PLAIN
    semi join — proving the prefilter is semantically transparent (false
    positives die in the exact join; false negatives are impossible)."""
    from lakeforge.ops.joins import bloom_prefiltered_semi_join

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    hi = table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 350000.0
    ).select("o_orderkey")
    kept = bloom_prefiltered_semi_join(li, hi, "l_orderkey", "o_orderkey")
    return kept.agg(
        F.sum(_revenue()).alias("hi_rev"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


SQL_BLOOM_SEMI_REVENUE = """
SELECT SUM({REV}) AS hi_rev, CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_orderkey = l.l_orderkey
                AND o.o_totalprice > 350000.0)
""".replace("{REV}", _REV_SQL)

register("bloom_semi_revenue", q_bloom_semi_revenue, SQL_BLOOM_SEMI_REVENUE)


def q_customer_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification: customers ranked by revenue; class A
    = first 70% of cumulative revenue share, B = next 25%, C = tail.
    Share math in integer basis points of the exact DECIMAL total.

    Plan (VERDICT r06 #2, leaner per VERDICT r07 #4, one-job this
    round): the cumulative revenue is a ROW-GRAIN blocked prefix —
    (rev DESC, custkey) is a total order, so the inclusive cumulative
    is the within-block running SUM (window partitioned by the
    revenue-range block) plus the block's strict-prefix offset from a
    bounded broadcast summary.  The block width is a DOMAIN constant
    (per-customer revenue is bounded by orders-per-customer x max
    price, not by SF, so 16384-cent blocks keep the summary tiny at
    any scale), and the grand total rides the SAME summary (full-range
    sum over the per-block sums) — one lazy job reading orders ONCE,
    no action, no persist, where the r7 version spent a collect job +
    10 exchanges.  Exact integer cents; the bps division widens to
    DECIMAL(38,0) so cum_cents*10000 can't overflow int64 at a 100 TB
    fact.  The DuckDB oracle keeps the plain cumulative window — the
    two formulations cross-check each other."""
    o = table(spark, sf_dir, "orders")
    per_cust = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"))
        .withColumn("rev_c", F.expr("CAST(rev * 100 AS BIGINT)"))
        .withColumn("neg_rc", -F.col("rev_c"))
        .withColumn("__bkv", F.expr("neg_rc div 16384"))
        # one explicit hash(__bkv) exchange that BOTH consumers (the
        # block-summary aggregate and the in-block window) sit on —
        # Spark dedupes the identical exchange subtree (ReusedExchange),
        # so orders is scanned and pre-aggregated exactly once.
        .repartition("__bkv")
    )
    w_blk = Window.orderBy("__bk").rowsBetween(Window.unboundedPreceding, -1)
    w_tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = (
        per_cust.groupBy(F.col("__bkv").alias("__bk"))
        .agg(F.sum("rev_c").alias("__bs"))
        .select(
            "__bk",
            F.coalesce(F.sum("__bs").over(w_blk), F.lit(0)).alias("__off"),
            F.sum("__bs").over(w_tot).cast("bigint").alias("__t"),
        )
    )
    w_in = (
        Window.partitionBy("__bkv")
        .orderBy("neg_rc", "o_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        per_cust.join(F.broadcast(offs), F.col("__bkv") == F.col("__bk"))
        .withColumn("cum_rev_c", F.col("__off") + F.sum("rev_c").over(w_in))
        .withColumn(
            "cum_bps",
            F.expr(
                "CAST(CAST(cum_rev_c AS DECIMAL(38,0)) * 10000"
                " div __t AS BIGINT)"
            ),
        )
    )
    cls = (
        F.when(F.col("cum_bps") <= 7000, "A")
        .when(F.col("cum_bps") <= 9500, "B")
        .otherwise("C")
    )
    return cum.groupBy(cls.alias("abc_class")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev").alias("class_revenue"),
    )


SQL_CUSTOMER_ABC = """
WITH per_cust AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY o_custkey
),
cum AS (
  SELECT o_custkey, rev,
         SUM(rev) OVER (ORDER BY rev DESC, o_custkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
         (SELECT SUM(rev) FROM per_cust) AS t
  FROM per_cust
),
b AS (
  SELECT *,
         (CAST(cum_rev * 10000 AS BIGINT) * 10000)
           // CAST(t * 10000 AS BIGINT) AS cum_bps
  FROM cum
)
SELECT CASE WHEN cum_bps <= 7000 THEN 'A'
            WHEN cum_bps <= 9500 THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(count(*) AS BIGINT) AS n_customers,
       SUM(rev) AS class_revenue
FROM b GROUP BY 1
"""

register("customer_abc_classes", q_customer_abc_classes, SQL_CUSTOMER_ABC)


def q_trade_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part↔supplier trade graph in log2
    buckets — the first thing to look at before running any graph
    algorithm at scale (a power-law tail changes the join strategy; cf.
    triangle counting's degree-orientation).  Two aggregates, both
    map-side combinable; output is O(log max_degree).

    Node ids use the collision-free parity encoding shared with
    pagerank_trade (part=2*key, supplier=2*key+1) — an additive offset
    would silently merge part/supplier degrees once partkeys pass it at
    larger scale factors."""
    li = table(spark, sf_dir, "lineitem")
    e0 = li.select("l_partkey", "l_suppkey").distinct()
    # Both endpoint node ids from ONE scan of the distinct pipeline (r13
    # opt, guide §2.4): the unionAll branches differ in projection, which
    # defeats AQE exchange reuse, so the 600k-row distinct ran twice.
    # explode emits the identical node multiset.
    deg = (
        e0.select(
            F.explode(
                F.array(F.col("l_partkey") * 2, F.col("l_suppkey") * 2 + 1)
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    bucket = F.expr("CAST(floor(log2(deg)) AS BIGINT)")
    return deg.groupBy(bucket.alias("log2_degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.min("deg").cast("bigint").alias("min_deg"),
        F.max("deg").cast("bigint").alias("max_deg"),
    )


SQL_TRADE_DEGREE_HISTOGRAM = """
WITH e0 AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
nodes AS (
  SELECT l_partkey * 2 AS node FROM e0
  UNION ALL
  SELECT l_suppkey * 2 + 1 AS node FROM e0
),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM nodes GROUP BY node)
SELECT CAST(floor(log2(deg)) AS BIGINT) AS log2_degree,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(MIN(deg) AS BIGINT) AS min_deg,
       CAST(MAX(deg) AS BIGINT) AS max_deg
FROM deg GROUP BY 1
"""

register("trade_degree_histogram", q_trade_degree_histogram, SQL_TRADE_DEGREE_HISTOGRAM)


def q_trade_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-limited BFS over the part<->supplier trade graph
    (ops/graph.py::bfs_depths) from the lowest part node: how many nodes
    sit at each minimum hop distance <= 4 — the reachability profile that
    sizes any graph traversal before you run it (a frontier that covers
    the graph by depth 2 means propagation converges in ~2 rounds).

    Spark 4's native recursive CTE only supports UNION ALL steps (no
    UNION-dedup, probed on 4.1.2 — see workload_rec.py), under which a
    graph frontier explodes into walk enumeration; the engine's iterative
    frontier-expansion answers it instead, and the DuckDB oracle IS a
    (UNION-deduping) recursive CTE — two maximally different formulations
    that must agree exactly.
    Parity node encoding (part=2k, supplier=2k+1) shared with
    pagerank_trade / trade_degree_histogram."""
    from lakeforge.ops.graph import bfs_depths

    li = table(spark, sf_dir, "lineitem")
    e0 = li.select("l_partkey", "l_suppkey").distinct()
    edges = e0.select(
        (F.col("l_partkey") * 2).alias("a"),
        (F.col("l_suppkey") * 2 + 1).alias("b"),
    )
    src = 2 * li.agg(F.min("l_partkey")).collect()[0][0]  # one scalar
    depths = bfs_depths(edges, "a", "b", sources=[src], max_depth=4)
    return depths.groupBy("depth").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.min("node").cast("bigint").alias("min_node"),
        F.max("node").cast("bigint").alias("max_node"),
    )


SQL_TRADE_BFS_REACH = """
WITH RECURSIVE e0 AS (
  SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b FROM lineitem
),
ed AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
bfs(node, depth) AS (
  SELECT min(l_partkey) * 2, 0 FROM lineitem
  UNION
  SELECT ed.b, bfs.depth + 1
  FROM bfs JOIN ed ON ed.a = bfs.node
  WHERE bfs.depth < 4
),
mind AS (SELECT node, MIN(depth) AS depth FROM bfs GROUP BY node)
SELECT CAST(depth AS BIGINT) AS depth,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(node) AS BIGINT) AS min_node,
       CAST(max(node) AS BIGINT) AS max_node
FROM mind GROUP BY depth
"""

register("trade_bfs_reach", q_trade_bfs_reach, SQL_TRADE_BFS_REACH)


def q_orders_kanon_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity + l-diversity release gate (ops/privacy.py): orders
    grouped by the quasi-identifiers (priority, order year), sensitive
    column o_orderstatus, k=5, l=2 — groups too small or too uniform are
    suppressed, and the result reports BOTH the released groups and the
    suppressed mass (the audit view a privacy officer signs off on)."""
    from lakeforge.ops.privacy import kanon_release

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.year(F.col("o_orderdate").cast("date")).cast("bigint").alias("o_year"),
        "o_orderstatus",
    )
    rel = kanon_release(
        o, ["o_orderpriority", "o_year"], "o_orderstatus", k=5, l_div=2
    )
    return rel.select(
        "o_orderpriority", "o_year", "n_rows", "n_sensitive", "released"
    )


SQL_ORDERS_KANON = """
SELECT o_orderpriority,
       CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_sensitive,
       (count(*) >= 5 AND count(DISTINCT o_orderstatus) >= 2) AS released
FROM orders
GROUP BY 1, 2
"""

register("orders_kanon_release", q_orders_kanon_release, SQL_ORDERS_KANON)


def q_orders_ivm_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (ops/merge.py::merge_aggregates): a
    materialized per-status revenue aggregate over 90% of orders is
    combined with the other 10% as a 'delta batch' — sum/count add,
    min/max take null-safe extrema — and the ORACLE is the full
    recompute over all orders: incremental (+) must be indistinguishable
    from the nightly full scan it replaces."""
    from lakeforge.ops.merge import merge_aggregates

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").cast(DEC).alias("price"),
    )

    def agg(df):
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("price").alias("revenue"),
            F.min("price").alias("min_price"),
            F.max("price").alias("max_price"),
        )

    old = agg(o.filter(F.col("o_orderkey") % 10 != 0))
    delta = agg(o.filter(F.col("o_orderkey") % 10 == 0))
    return merge_aggregates(
        old, delta, ["o_orderstatus"],
        {"n_orders": "sum", "revenue": "sum",
         "min_price": "min", "max_price": "max"},
    )


SQL_ORDERS_IVM = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue,
       MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS min_price,
       MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS max_price
FROM orders GROUP BY o_orderstatus
"""

register("orders_ivm_revenue", q_orders_ivm_revenue, SQL_ORDERS_IVM)


def q_customers_pseudonymized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization (ops/privacy.py::pseudonymize): customer
    names become salted 60-bit md5 tokens, then the frame joins orders ON
    THE PSEUDONYMIZED customer key — proving referential integrity
    survives de-identification (the point of tokens over redaction).
    The oracle recomputes the identical md5 tokens in DuckDB and runs
    the same join."""
    from lakeforge.ops.privacy import pseudonymize

    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    p = pseudonymize(cust, ["c_custkey", "c_name"], salt="s5")
    orders = pseudonymize(
        table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey"),
        ["o_custkey"],
        salt="s5",
    )
    joined = p.join(orders, p.c_custkey == orders.o_custkey)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.countDistinct("c_name").cast("bigint").alias("n_name_tokens"),
        F.min("c_custkey").cast("bigint").alias("min_cust_token"),
    )


def _sql_pseudonymized() -> str:
    from lakeforge.functions.keys import duckdb_md5_int_sql

    ck = duckdb_md5_int_sql(["'s5'", "c_custkey"])
    nm = duckdb_md5_int_sql(["'s5'", "c_name"])
    ok = duckdb_md5_int_sql(["'s5'", "o_custkey"])
    return f"""
WITH p AS (
  SELECT {ck} AS c_custkey, {nm} AS c_name, c_mktsegment FROM customer
),
o AS (SELECT {ok} AS o_custkey FROM orders)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT c_name) AS BIGINT) AS n_name_tokens,
       CAST(min(c_custkey) AS BIGINT) AS min_cust_token
FROM p JOIN o ON p.c_custkey = o.o_custkey
GROUP BY c_mktsegment
"""


register("customers_pseudonymized", q_customers_pseudonymized, _sql_pseudonymized())


def q_ivm_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact incremental COUNT(DISTINCT) via mergeable bitmaps
    (ops/sketches.py::distinct_bitmaps): per-priority distinct customers
    maintained as 32k-bit bucket bitmaps over 90% of orders, OR-merged
    with the remaining 10% as a delta batch — the oracle is the full
    COUNT(DISTINCT) recompute, so the bitmap state's exactness under
    merge is value-checked (what hll_union_regions approximates, this
    maintains exactly; state is O(distinct/8) bytes, raw custkeys never
    shuffle twice)."""
    from lakeforge.ops.sketches import (
        bitmap_distinct_counts,
        distinct_bitmaps,
        merge_distinct_bitmaps,
    )

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_custkey")
    old = distinct_bitmaps(
        o.filter(F.col("o_orderkey") % 10 != 0), ["o_orderpriority"], "o_custkey"
    )
    delta = distinct_bitmaps(
        o.filter(F.col("o_orderkey") % 10 == 0), ["o_orderpriority"], "o_custkey"
    )
    merged = merge_distinct_bitmaps(old, delta, ["o_orderpriority"])
    return bitmap_distinct_counts(merged, ["o_orderpriority"])


SQL_IVM_DISTINCT = """
SELECT o_orderpriority,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
FROM orders GROUP BY o_orderpriority
"""

register("ivm_distinct_customers", q_ivm_distinct_customers, SQL_IVM_DISTINCT)


def q_events_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k-per-stratum sampling (ops/sampling.py::exact_k_per_stratum):
    exactly 50 events per event_type, chosen by deterministic md5 order —
    summarized per stratum (count + id checksum) so the oracle verifies
    the SELECTED SET, not just its size."""
    from lakeforge.ops.sampling import exact_k_per_stratum

    ev = read_events(spark, sf_dir).select("event_id", "event_type")
    sample = exact_k_per_stratum(ev, ["event_type"], "event_id", k=50)
    return sample.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.sum(F.col("event_id") % 1000000007).cast("bigint").alias("id_checksum"),
    )


def _sql_events_exact_k() -> str:
    from lakeforge.functions.keys import duckdb_md5_int_sql

    h = duckdb_md5_int_sql(["'exact_k'", "event_id"])
    return f"""
WITH ranked AS (
  SELECT event_type, event_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY {h} ASC, event_id ASC) AS rn
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(SUM(event_id % 1000000007) AS BIGINT) AS id_checksum
FROM ranked WHERE rn <= 50 GROUP BY event_type
"""


register("events_exact_k_sample", q_events_exact_k_sample, _sql_events_exact_k())


def q_events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over event types WITHIN a
    session (30-min gap), plus integer-permille transition probability —
    the path-analysis primitive behind funnels ('what actually follows a
    view?').  One shuffle by user (shared by the sessionize and lead
    windows), one aggregate; O(distinct type pairs) output."""
    from pyspark.sql import Window

    ev = read_events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    sess = ev.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    ).withColumn("sess_id", F.sum("new_sess").over(w))
    w2 = Window.partitionBy("user_id", "sess_id").orderBy("ts", "event_id")
    pairs = (
        sess.withColumn("next_type", F.lead("event_type").over(w2))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    )
    return pairs.withColumn(
        "permille",
        F.expr("n_transitions * 1000 div sum(n_transitions) over (partition by event_type)").cast("bigint"),
    )


SQL_EVENTS_TRANSITION = """
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch(ts) - lag(epoch(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
s AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM o
),
p AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id, sess_id
                                ORDER BY ts, event_id) AS next_type
  FROM s
),
c AS (
  SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n_transitions
  FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, next_type, n_transitions,
       CAST(n_transitions * 1000 // SUM(n_transitions)
                OVER (PARTITION BY event_type) AS BIGINT) AS permille
FROM c
"""

register("events_transition_matrix", q_events_transition_matrix, SQL_EVENTS_TRANSITION)


def q_trade_sssp_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded weighted shortest paths (ops/graph.py::sssp_hops) over
    the part<->supplier trade graph — edge weight (l_partkey +
    l_suppkey) % 7 + 1 in both directions, source = lowest part node,
    4 relaxation rounds — summarized as a distance histogram.  The
    DuckDB oracle unrolls the SAME Bellman-Ford rounds as CTEs (the
    iterative-op pattern where the oracle replays the iteration
    structure rather than restating the problem)."""
    from lakeforge.ops.graph import sssp_hops

    li = table(spark, sf_dir, "lineitem")
    e0 = li.select("l_partkey", "l_suppkey").distinct().select(
        (F.col("l_partkey") * 2).alias("p"),
        (F.col("l_suppkey") * 2 + 1).alias("s"),
        ((F.col("l_partkey") + F.col("l_suppkey")) % 7 + 1).alias("w"),
    )
    # Both edge orientations from ONE scan of the distinct pipeline (r13
    # opt, guide §2.4): the previous union(select, select) executed the
    # 600k-row distinct twice — its branches differ in projection order,
    # which defeats AQE exchange reuse.  Exploding each row into both
    # directions feeds sssp_hops the identical multiset (the oracle's
    # ``ed`` is the same UNION ALL of both orientations).
    edges = e0.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("p").alias("src"), F.col("s").alias("dst"), F.col("w")
                ),
                F.struct(
                    F.col("s").alias("src"), F.col("p").alias("dst"), F.col("w")
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst", "_e.w")
    src = 2 * li.agg(F.min("l_partkey")).collect()[0][0]
    dist = sssp_hops(edges, "src", "dst", "w", sources=[src], max_hops=4)
    return dist.groupBy("dist").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.min("node").cast("bigint").alias("min_node"),
        F.max("node").cast("bigint").alias("max_node"),
    )


def _sql_trade_sssp() -> str:
    ctes = [
        "e0 AS (SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS s,"
        " (l_partkey + l_suppkey) % 7 + 1 AS w FROM lineitem)",
        "ed AS (SELECT p AS src, s AS dst, w FROM e0"
        " UNION ALL SELECT s AS src, p AS dst, w FROM e0)",
        "d0 AS (SELECT min(l_partkey) * 2 AS node, CAST(0 AS BIGINT) AS dist"
        " FROM lineitem)",
    ]
    prev = "d0"
    for i in range(1, 5):
        ctes.append(
            f"d{i} AS (SELECT node, MIN(dist) AS dist FROM ("
            f" SELECT node, dist FROM {prev}"
            f" UNION ALL"
            f" SELECT e.dst AS node, p.dist + e.w AS dist"
            f" FROM {prev} p JOIN ed e ON e.src = p.node) _u GROUP BY node)"
        )
        prev = f"d{i}"
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT CAST(dist AS BIGINT) AS dist,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(node) AS BIGINT) AS min_node,
       CAST(max(node) AS BIGINT) AS max_node
FROM {prev} GROUP BY dist
"""
    )


register("trade_sssp_hops", q_trade_sssp_hops, _sql_trade_sssp())


def q_multiset_status_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operations — ``exceptAll`` / ``intersectAll``:
    compare the (status, priority) tuple BAGS of even- vs odd-keyed orders,
    keeping multiplicities.  EXCEPT ALL retains surplus copies (a tuple
    appearing 7x on the even side and 4x on the odd side survives 3x) and
    INTERSECT ALL keeps min(multiplicity) — semantics DISTINCT-based
    subtract (workload_rel.py:261) cannot express.  The engine's §2.3 set
    operators are otherwise DISTINCT-flavored; this closes the bag half.

    Plan: both operators compile to a single hash shuffle on the full
    tuple (Spark rewrites them as count-compare aggregates under the
    hood — no join of the two sides materializes); the grouped counts
    after are map-side combined.
    """
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderstatus", "o_orderpriority"
    )
    b = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderstatus", "o_orderpriority"
    )

    def agg(df: DataFrame, op: str) -> DataFrame:
        return df.groupBy("o_orderstatus", "o_orderpriority").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        ).select(F.lit(op).alias("setop"), "o_orderstatus", "o_orderpriority", "n")

    return agg(a.exceptAll(b), "except_all").unionByName(
        agg(a.intersectAll(b), "intersect_all")
    )


SQL_MULTISET_STATUS_DIFF = """
WITH a AS (SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderkey % 2 = 0),
b AS (SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderkey % 2 = 1),
ex AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b),
inter AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
SELECT 'except_all' AS setop, o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n
FROM ex GROUP BY o_orderstatus, o_orderpriority
UNION ALL
SELECT 'intersect_all' AS setop, o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n
FROM inter GROUP BY o_orderstatus, o_orderpriority
"""

register("multiset_status_diff", q_multiset_status_diff, SQL_MULTISET_STATUS_DIFF)


def q_manifest_skipping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-driven data skipping end-to-end (ops/layout.py): orders are
    rewritten range-clustered on o_totalprice (range_sorted_write → 16
    files with near-disjoint min/max), a file-stats manifest is built
    (one row per file), and a price-band scan reads ONLY the files whose
    manifest range overlaps — the Iceberg/Delta pruning idea with Spark
    primitives.  The result must equal the plain full-scan filter (the
    oracle runs exactly that), because skipping keeps any file it cannot
    rule out; pruning EFFECTIVENESS (files actually skipped) is asserted
    in tests/test_layout.py, where it belongs — the query contract is
    equality.

    At 100 TB: the rewrite is one range shuffle paid at layout time; the
    manifest scan is one row per file; per query the scan cost tracks the
    band's file fraction, not the table.
    """
    import tempfile

    from lakeforge.ops.layout import (
        range_sorted_write, skipping_scan, write_stats_manifest,
    )

    stage = tempfile.mkdtemp(prefix="lf_skip_")
    path = f"{stage}/orders_rs"
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    range_sorted_write(o, path, ["o_totalprice"], num_files=16)
    write_stats_manifest(spark, path, ["o_totalprice"])
    band = skipping_scan(spark, path, "o_totalprice", 100000.0, 200000.0)
    return band.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint").alias("band_cents"),
        F.min("o_orderkey").cast("bigint").alias("min_orderkey"),
        F.max("o_orderkey").cast("bigint").alias("max_orderkey"),
    )


SQL_MANIFEST_SKIPPING_SCAN = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS band_cents,
       CAST(min(o_orderkey) AS BIGINT) AS min_orderkey,
       CAST(max(o_orderkey) AS BIGINT) AS max_orderkey
FROM orders
WHERE o_totalprice BETWEEN 100000.0 AND 200000.0
GROUP BY o_orderpriority
"""

register("manifest_skipping_scan", q_manifest_skipping_scan, SQL_MANIFEST_SKIPPING_SCAN)
