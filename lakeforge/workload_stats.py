"""Statistical / mining workload: sketches, association rules, information
theory, regression, and distribution analytics over the TPC-H-shaped tables.

These extend the engine past the reference's ETL surface (reference core is
silver/gold ETL only — gold_sql_to_postgres.py) into the aggregate-analytics
territory any warehouse engine must cover.  Same conventions as
workload_rel.py: identical aliases Spark-vs-oracle, exact DECIMAL money
math before any double cast, deterministic orderings, every small side
broadcast, no driver-side collect.

Scale notes are attached per query; the recurring patterns:

- Sketches (KMV here; count-min lives in ops/sketches.py) are *mergeable*:
  map-side partial aggregation shrinks the shuffle to O(sketch size), not
  O(rows) — the entire point of sketching at 100 TB.
- Candidate generation (brand pairs) fans out per-order with a bounded
  per-basket item count, so the self-join is an equi-join on the order key
  with O(items²)-per-order output, never an all-pairs product.
- Information-theory / chi-square style queries reduce to contingency-cell
  counts (one scan + tiny cell table), then pure column arithmetic over
  broadcast marginals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakeforge.cache import persist_tracked
from lakeforge.functions.keys import duckdb_md5_int_sql, md5_int
from lakeforge.io.sources import table
from lakeforge.registry import register

DEC = "decimal(18,2)"


# ---------------------------------------------------------------------------
# Association rules (market-basket) over order baskets.
# ---------------------------------------------------------------------------

_MIN_PAIR_SUPPORT = 50


def q_basket_brand_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-level association rules mined from order baskets.

    basket = the DISTINCT set of part brands in one order.  Pair candidates
    come from a self equi-join on the order key — each order contributes
    O(brands_in_order²) pairs with brands_in_order bounded by the per-order
    line count (≤7 in TPC-H shape), so the join output is linear in orders,
    never an all-pairs brand product.  Supports/confidence/lift derive from
    the tiny brand-marginal table (≤25 rows, broadcast) and a single-row
    basket total (broadcast scalar fan-out).  Shuffles: one by l_orderkey
    (shared by the dedup and the self-join via the same partitioning), one
    tiny by brand pair.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # baskets feeds the scalar total, the marginals, and BOTH self-join
    # sides: persist so the lineitem><part dedup pipeline runs once.
    baskets = persist_tracked(
        li.join(p, li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    tot = baskets.select(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_baskets")
    )
    sup = baskets.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("sup_n")
    )
    a = baskets.select(
        F.col("l_orderkey"), F.col("p_brand").alias("brand_a")
    )
    b = baskets.select(
        F.col("l_orderkey"), F.col("p_brand").alias("brand_b")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_support"))
        .where(F.col("pair_support") >= _MIN_PAIR_SUPPORT)
    )
    sup_a = sup.select(
        F.col("p_brand").alias("brand_a"), F.col("sup_n").alias("sup_a")
    )
    sup_b = sup.select(
        F.col("p_brand").alias("brand_b"), F.col("sup_n").alias("sup_b")
    )
    j = (
        pairs.join(F.broadcast(sup_a), "brand_a")
        .join(F.broadcast(sup_b), "brand_b")
        .crossJoin(F.broadcast(tot))  # 1-row scalar total
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return j.select(
        "brand_a",
        "brand_b",
        "pair_support",
        F.round(d("pair_support") / d("sup_a"), 6).alias("conf_a_to_b"),
        F.round(d("pair_support") / d("sup_b"), 6).alias("conf_b_to_a"),
        F.round(
            d("pair_support") * d("n_baskets") / (d("sup_a") * d("sup_b")), 6
        ).alias("lift"),
    )


SQL_BASKET_BRAND_RULES = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM baskets),
sup AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS sup_n FROM baskets GROUP BY p_brand),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         CAST(count(*) AS BIGINT) AS pair_support
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
  HAVING count(*) >= {_MIN_PAIR_SUPPORT}
)
SELECT brand_a, brand_b, pair_support,
       round(CAST(pair_support AS DOUBLE) / CAST(sa.sup_n AS DOUBLE), 6) AS conf_a_to_b,
       round(CAST(pair_support AS DOUBLE) / CAST(sb.sup_n AS DOUBLE), 6) AS conf_b_to_a,
       round(CAST(pair_support AS DOUBLE) * CAST(n_baskets AS DOUBLE)
             / (CAST(sa.sup_n AS DOUBLE) * CAST(sb.sup_n AS DOUBLE)), 6) AS lift
FROM pairs
JOIN sup sa ON sa.p_brand = pairs.brand_a
JOIN sup sb ON sb.p_brand = pairs.brand_b
CROSS JOIN tot
"""

register("basket_brand_rules", q_basket_brand_rules, SQL_BASKET_BRAND_RULES)


# ---------------------------------------------------------------------------
# Mutual information between two categorical dimensions.
# ---------------------------------------------------------------------------


def q_segment_priority_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between customer market segment and order
    priority, plus the two marginal entropies.

    One fact scan → contingency cells (|segments|×|priorities| ≤ 25 rows);
    marginals and the scalar total broadcast back onto the cells, so the
    information-theoretic arithmetic runs over a handful of rows.  The
    orders↔customer join is an unhinted equi-join: AQE broadcasts the
    customer side while it fits and shuffle-joins at 100 TB.
    """
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # cells (<=25 rows) feeds marginals, total, and the MI join — persist
    # so the fact join underneath runs ONCE, not once per DAG branch.
    cells = persist_tracked(
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    )
    rowm = cells.groupBy("c_mktsegment").agg(F.sum("obs").alias("row_n"))
    colm = cells.groupBy("o_orderpriority").agg(F.sum("obs").alias("col_n"))
    tot = cells.agg(F.sum("obs").alias("total"))
    d = lambda c_: F.col(c_).cast("double")  # noqa: E731
    p_xy = d("obs") / d("total")
    mi_term = p_xy * F.log(d("obs") * d("total") / (d("row_n") * d("col_n")))
    mi = (
        cells.join(F.broadcast(rowm), "c_mktsegment")
        .join(F.broadcast(colm), "o_orderpriority")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum("obs").cast("bigint").alias("n"),
            F.round(F.sum(mi_term), 6).alias("mi_nats"),
        )
    )
    h_seg = (
        rowm.crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                -F.sum((d("row_n") / d("total")) * F.log(d("row_n") / d("total"))), 6
            ).alias("h_segment")
        )
    )
    h_pri = (
        colm.crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                -F.sum((d("col_n") / d("total")) * F.log(d("col_n") / d("total"))), 6
            ).alias("h_priority")
        )
    )
    return mi.crossJoin(F.broadcast(h_seg)).crossJoin(F.broadcast(h_pri))


SQL_SEGMENT_PRIORITY_MI = """
WITH cells AS (
  SELECT c_mktsegment, o_orderpriority, CAST(count(*) AS BIGINT) AS obs
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_orderpriority
),
rowm AS (SELECT c_mktsegment, SUM(obs) AS row_n FROM cells GROUP BY c_mktsegment),
colm AS (SELECT o_orderpriority, SUM(obs) AS col_n FROM cells GROUP BY o_orderpriority),
tot AS (SELECT SUM(obs) AS total FROM cells),
mi AS (
  SELECT CAST(SUM(obs) AS BIGINT) AS n,
         round(SUM((CAST(obs AS DOUBLE) / CAST(total AS DOUBLE))
               * ln(CAST(obs AS DOUBLE) * CAST(total AS DOUBLE)
                    / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)))), 6) AS mi_nats
  FROM cells
  JOIN rowm USING (c_mktsegment)
  JOIN colm USING (o_orderpriority)
  CROSS JOIN tot
),
hs AS (
  SELECT round(-SUM((CAST(row_n AS DOUBLE) / CAST(total AS DOUBLE))
               * ln(CAST(row_n AS DOUBLE) / CAST(total AS DOUBLE))), 6) AS h_segment
  FROM rowm CROSS JOIN tot
),
hp AS (
  SELECT round(-SUM((CAST(col_n AS DOUBLE) / CAST(total AS DOUBLE))
               * ln(CAST(col_n AS DOUBLE) / CAST(total AS DOUBLE))), 6) AS h_priority
  FROM colm CROSS JOIN tot
)
SELECT n, mi_nats, h_segment, h_priority FROM mi CROSS JOIN hs CROSS JOIN hp
"""

register("segment_priority_mi", q_segment_priority_mi, SQL_SEGMENT_PRIORITY_MI)


# ---------------------------------------------------------------------------
# Closed-form OLS regression per group (built-in regr_* aggregates).
# ---------------------------------------------------------------------------


def q_price_qty_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag ordinary-least-squares fit of extended price on
    quantity via the JVM ``regr_slope/regr_intercept/regr_r2`` aggregates —
    single scan, map-side partial moments, one tiny shuffle by flag.  No
    Python, no iteration: OLS in closed form from the co-moment sketch,
    which is exactly how a 100 TB regression should run.
    """
    li = table(spark, sf_dir, "lineitem")
    y = F.col("l_extendedprice").cast("double")
    x = F.col("l_quantity").cast("double")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


SQL_PRICE_QTY_OLS = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(regr_slope(CAST(l_extendedprice AS DOUBLE), CAST(l_quantity AS DOUBLE)), 6) AS slope,
       round(regr_intercept(CAST(l_extendedprice AS DOUBLE), CAST(l_quantity AS DOUBLE)), 6) AS intercept,
       round(regr_r2(CAST(l_extendedprice AS DOUBLE), CAST(l_quantity AS DOUBLE)), 6) AS r2
FROM lineitem GROUP BY l_returnflag
"""

register("price_qty_ols", q_price_qty_ols, SQL_PRICE_QTY_OLS)


# ---------------------------------------------------------------------------
# Autocorrelation of the daily-revenue series.
# ---------------------------------------------------------------------------


def q_revenue_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-7 autocorrelation of daily order revenue.

    The raw fact collapses to one row per calendar day FIRST (exact DECIMAL
    sums — associative, partitioning-independent), so the global-order
    window runs over the date dimension (~2.4k rows for the 7-year span),
    not the fact: dimension-bounded by construction, same posture as
    revenue_mom_growth.  ``corr`` skips the NULL lag rows identically on
    both engines.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("rev_dec")
    )
    w = Window.orderBy("day")  # date-dimension-bounded (post-aggregate)
    rev = F.col("rev_dec").cast("double")
    series = daily.select(
        "day",
        rev.alias("rev"),
        F.lag(rev, 1).over(w).alias("rev_l1"),
        F.lag(rev, 7).over(w).alias("rev_l7"),
    )
    return series.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.corr("rev", "rev_l1"), 6).alias("autocorr_lag1"),
        F.round(F.corr("rev", "rev_l7"), 6).alias("autocorr_lag7"),
    )


SQL_REVENUE_AUTOCORR = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
),
series AS (
  SELECT day, rev,
         lag(rev, 1) OVER (ORDER BY day) AS rev_l1,
         lag(rev, 7) OVER (ORDER BY day) AS rev_l7
  FROM daily
)
SELECT CAST(count(*) AS BIGINT) AS n_days,
       round(corr(rev, rev_l1), 6) AS autocorr_lag1,
       round(corr(rev, rev_l7), 6) AS autocorr_lag7
FROM series
"""

register("revenue_autocorr", q_revenue_autocorr, SQL_REVENUE_AUTOCORR)


# ---------------------------------------------------------------------------
# Weight of evidence / information value (feature-screening for a binary
# label — classic credit-scoring / training-feature-selection primitive).
# ---------------------------------------------------------------------------


def q_woe_quantity_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WOE and IV of quantity bands against the returned-flag label.

    Bands are closed-form from the row (no quantile pass); the whole query
    is one scan → 5-cell contingency → broadcast-scalar totals → column
    arithmetic.  IV contributions per band sum to the feature's information
    value downstream.
    """
    li = table(spark, sf_dir, "lineitem")
    band = F.least(
        F.lit(4), F.floor((F.col("l_quantity") - 1) / 10)
    ).cast("int")
    cells = (
        li.select(
            band.alias("qty_band"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_ret"),
        )
        .groupBy("qty_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("is_ret").cast("bigint").alias("returned"),
        )
        .withColumn("kept", (F.col("n") - F.col("returned")).cast("bigint"))
    )
    cells = persist_tracked(cells)  # feeds totals AND the output projection
    tot = cells.agg(
        F.sum("returned").alias("ret_tot"), F.sum("kept").alias("kept_tot")
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    p_ret = d("returned") / d("ret_tot")
    p_kept = d("kept") / d("kept_tot")
    woe = F.log(p_ret / p_kept)
    return (
        cells.crossJoin(F.broadcast(tot))  # 1-row scalar totals
        .select(
            "qty_band",
            "n",
            "returned",
            "kept",
            F.round(woe, 6).alias("woe"),
            F.round((p_ret - p_kept) * woe, 6).alias("iv_contrib"),
        )
    )


SQL_WOE_QUANTITY_RETURNS = """
WITH cells AS (
  SELECT CAST(least(4, floor((l_quantity - 1) / 10)) AS INT) AS qty_band,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned
  FROM lineitem GROUP BY 1
),
c2 AS (SELECT *, CAST(n - returned AS BIGINT) AS kept FROM cells),
tot AS (SELECT SUM(returned) AS ret_tot, SUM(kept) AS kept_tot FROM c2)
SELECT qty_band, n, returned, kept,
       round(ln((CAST(returned AS DOUBLE) / CAST(ret_tot AS DOUBLE))
                / (CAST(kept AS DOUBLE) / CAST(kept_tot AS DOUBLE))), 6) AS woe,
       round(((CAST(returned AS DOUBLE) / CAST(ret_tot AS DOUBLE))
              - (CAST(kept AS DOUBLE) / CAST(kept_tot AS DOUBLE)))
             * ln((CAST(returned AS DOUBLE) / CAST(ret_tot AS DOUBLE))
                  / (CAST(kept AS DOUBLE) / CAST(kept_tot AS DOUBLE))), 6) AS iv_contrib
FROM c2 CROSS JOIN tot
"""

register("woe_quantity_returns", q_woe_quantity_returns, SQL_WOE_QUANTITY_RETURNS)


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — mergeable, value-oracled.
# ---------------------------------------------------------------------------

_KMV_K = 64
_HASH_SPACE = float(1 << 60)  # md5_int is a 60-bit hash


def q_kmv_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-customer estimate per market segment vs the exact count.

    The k smallest 60-bit hashes per segment estimate the distinct count as
    (k-1)·M/h_k (Bar-Yossef et al., "Counting distinct elements in a data
    stream").  Selection is TWO-LEVEL so no segment funnels through one
    task: (1) per (segment, hash mod 32) block keep the 64 smallest —
    parallel across 32×|segments| partitions; (2) the ≤ 2048-row survivor
    union yields the global 64 per segment (global min-k ⊆ union of
    block min-ks, so the result is identical to a single-pass min-k).
    The oracle computes the single-level equivalent directly.  At 100 TB
    the same sketch is mergeable map-side: each partition keeps its local
    min-k, the shuffle carries O(k) values per (segment, block).
    """
    o = table(spark, sf_dir, "orders").select("o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # pairs feeds the exact count AND the sketch selection: persist the
    # distinct (segment, hash) set so the fact join runs once.
    pairs = persist_tracked(
        o.join(c, o.o_custkey == c.c_custkey)
        .select("c_mktsegment", md5_int("o_custkey").alias("h"))
        .distinct()
    )
    exact = pairs.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct")
    )
    # Level 1: min-k within each (segment, h mod 32) block.
    w_blk = Window.partitionBy("c_mktsegment", F.pmod("h", F.lit(32))).orderBy("h")
    survivors = (
        pairs.withColumn("rn", F.row_number().over(w_blk))
        .where(F.col("rn") <= _KMV_K)
        .select("c_mktsegment", "h")
    )
    # Level 2: global min-k per segment over the tiny survivor union.
    w_seg = Window.partitionBy("c_mktsegment").orderBy("h")
    topk = (
        survivors.withColumn("rn", F.row_number().over(w_seg))
        .where(F.col("rn") <= _KMV_K)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_k"),
            F.max("h").alias("kth_hash"),
        )
    )
    est = F.when(F.col("n_k") < _KMV_K, F.col("n_k").cast("double")).otherwise(
        F.round(
            (F.col("n_k") - 1).cast("double")
            * F.lit(_HASH_SPACE)
            / F.col("kth_hash").cast("double")
        )
    ).cast("bigint")
    d = lambda c_: F.col(c_).cast("double")  # noqa: E731
    return (
        topk.join(F.broadcast(exact), "c_mktsegment")
        .withColumn("kmv_estimate", est)
        .select(
            "c_mktsegment",
            "exact_distinct",
            "kmv_estimate",
            F.round(
                F.abs(d("kmv_estimate") - d("exact_distinct"))
                * 1000.0
                / d("exact_distinct")
            )
            .cast("bigint")
            .alias("err_permille"),
        )
    )


_H_CUSTKEY = duckdb_md5_int_sql(["o_custkey"])

SQL_KMV_DISTINCT_SEGMENTS = f"""
WITH pairs AS (
  SELECT DISTINCT c_mktsegment, {_H_CUSTKEY} AS h
  FROM orders JOIN customer ON o_custkey = c_custkey
),
exact AS (
  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS exact_distinct
  FROM pairs GROUP BY c_mktsegment
),
ranked AS (
  SELECT c_mktsegment, h,
         row_number() OVER (PARTITION BY c_mktsegment ORDER BY h) AS rn
  FROM pairs
),
topk AS (
  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_k, MAX(h) AS kth_hash
  FROM ranked WHERE rn <= {_KMV_K} GROUP BY c_mktsegment
),
est AS (
  SELECT c_mktsegment, n_k, kth_hash,
         CAST(CASE WHEN n_k < {_KMV_K} THEN CAST(n_k AS DOUBLE)
              ELSE round(CAST(n_k - 1 AS DOUBLE) * {_HASH_SPACE!r}
                         / CAST(kth_hash AS DOUBLE))
         END AS BIGINT) AS kmv_estimate
  FROM topk
)
SELECT e.c_mktsegment, exact_distinct, kmv_estimate,
       CAST(round(abs(CAST(kmv_estimate AS DOUBLE) - CAST(exact_distinct AS DOUBLE))
            * 1000.0 / CAST(exact_distinct AS DOUBLE)) AS BIGINT) AS err_permille
FROM est e JOIN exact USING (c_mktsegment)
"""

register("kmv_distinct_segments", q_kmv_distinct_segments, SQL_KMV_DISTINCT_SEGMENTS)


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier) — two-level running-max decomposition.
# ---------------------------------------------------------------------------


def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal parts: minimize retail price, maximize size.

    Reduction first: per distinct price keep only max(size) — shuffle by
    price, fully parallel, output bounded by |distinct prices|.  The
    frontier test (size strictly above every cheaper point's size) is a
    running max over price order, decomposed TWO-LEVEL exactly like
    peak_concurrency: (1) running max WITHIN each price block — parallel;
    (2) per-block maxima prefix-maxed over the tiny block summary give
    each block's carry-in; a point survives iff it beats both.  Identical
    to the single-pass running max because blocks follow price order.
    The oracle states the definition directly (NOT EXISTS dominance).
    Frontier is tiny by nature → broadcast back onto part for n_parts.
    """
    p = table(spark, sf_dir, "part").select("p_retailprice", "p_size")
    from lakeforge.ops.analytics import pareto_frontier_2d

    frontier = pareto_frontier_2d(p, "p_retailprice", "p_size", block_width=100.0)
    return (
        p.join(F.broadcast(frontier), ["p_retailprice", "p_size"])
        .groupBy("p_retailprice", "p_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    )


SQL_PART_SKYLINE = """
WITH pts AS (
  SELECT p_retailprice, MAX(p_size) AS p_size FROM part GROUP BY p_retailprice
),
frontier AS (
  SELECT * FROM pts a
  WHERE NOT EXISTS (
    SELECT 1 FROM pts b
    WHERE b.p_retailprice < a.p_retailprice AND b.p_size >= a.p_size
  )
)
SELECT f.p_retailprice, f.p_size, CAST(count(*) AS BIGINT) AS n_parts
FROM part p JOIN frontier f
  ON p.p_retailprice = f.p_retailprice AND p.p_size = f.p_size
GROUP BY f.p_retailprice, f.p_size
"""

register("part_skyline", q_part_skyline, SQL_PART_SKYLINE)


# ---------------------------------------------------------------------------
# Interval coalescing (merge overlapping activity windows per customer).
# ---------------------------------------------------------------------------


def q_customer_activity_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coalesce each customer's 30-day order-activity intervals.

    Classic gaps-and-islands over ranges: an order opens [day, day+30); a
    new island starts when the next start exceeds the running max of all
    previous ends (running max, not lag(end): an earlier long interval can
    swallow several later ones).  All windows partition by customer —
    parallel across customers, bounded rows within — then one aggregate
    per island and one per customer.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("s")
    )
    from lakeforge.ops.analytics import coalesce_intervals

    iv = o.withColumn("e", F.date_add("s", 30))
    isl = coalesce_intervals(iv, "o_custkey", "s", "e")
    return isl.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_periods"),
        F.sum(F.datediff("island_end", "island_start"))
        .cast("bigint")
        .alias("covered_days"),
        F.datediff(F.max("island_end"), F.min("island_start"))
        .cast("bigint")
        .alias("span_days"),
    )


SQL_CUSTOMER_ACTIVITY_INTERVALS = """
WITH iv AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS s,
         CAST(o_orderdate AS DATE) + 30 AS e
  FROM orders
),
marked AS (
  SELECT o_custkey, s, e,
         CASE WHEN max(e) OVER (PARTITION BY o_custkey ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR s > max(e) OVER (PARTITION BY o_custkey ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_isl
  FROM iv
),
islands AS (
  SELECT o_custkey, s, e,
         SUM(new_isl) OVER (PARTITION BY o_custkey ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked
),
agg AS (
  SELECT o_custkey, island, MIN(s) AS i_start, MAX(e) AS i_end
  FROM islands GROUP BY o_custkey, island
)
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_periods,
       CAST(SUM(datediff('day', i_start, i_end)) AS BIGINT) AS covered_days,
       CAST(datediff('day', MIN(i_start), MAX(i_end)) AS BIGINT) AS span_days
FROM agg GROUP BY o_custkey
"""

register(
    "customer_activity_intervals",
    q_customer_activity_intervals,
    SQL_CUSTOMER_ACTIVITY_INTERVALS,
)


# ---------------------------------------------------------------------------
# KMV set operations: union / intersection estimates across two sets.
# ---------------------------------------------------------------------------


def q_kmv_year_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set operations: estimate |A∪B| and |A∩B| for the sets of
    customers active in 1995 (A) vs 1996 (B), against exact answers.

    Sketch algebra (Beyer et al., "On Synopses for Distinct-Value
    Estimation Under Multiset Operations"): the union sketch is the k
    smallest hashes of A's ∪ B's sketch hashes; Jaccard is estimated by
    the fraction of those k that occur in BOTH per-set sketches;
    |A∩B| ≈ Ĵ · |A∪B|̂.  Everything is min-k selection + equi-joins on
    64-row frames — the per-set sketches are the only thing that ever
    leaves a 100 TB scan.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("yr")
    )
    sets = persist_tracked(
        o.filter(F.col("yr").isin(1995, 1996))
        .select("yr", md5_int("o_custkey").alias("h"))
        .distinct()
    )
    # per-set min-k sketches (two small sets → single-level window per yr;
    # the two-level block variant in q_kmv_distinct_segments applies when a
    # set is fact-sized)
    w_set = Window.partitionBy("yr").orderBy("h")
    # sk (<=2k rows) feeds the union sketch and both membership probes
    sk = persist_tracked(
        sets.withColumn("rn", F.row_number().over(w_set)).where(
            F.col("rn") <= _KMV_K
        )
    )
    union_hashes = sk.select("h").distinct()
    w_u = Window.orderBy("h")  # ≤ 2k rows
    usk = union_hashes.withColumn("rn", F.row_number().over(w_u)).where(
        F.col("rn") <= _KMV_K
    )
    u_stats = usk.agg(
        F.count(F.lit(1)).alias("u_k"), F.max("h").alias("u_kth")
    )
    in_a = sk.where(F.col("yr") == 1995).select("h").withColumn("in_a", F.lit(1))
    in_b = sk.where(F.col("yr") == 1996).select("h").withColumn("in_b", F.lit(1))
    both = (
        usk.join(in_a, "h", "left")
        .join(in_b, "h", "left")
        .agg(
            F.sum(
                F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)
            ).alias("k_both")
        )
    )
    exact = (
        o.filter(F.col("yr").isin(1995, 1996))
        .select("yr", "o_custkey")
        .distinct()
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_years"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("exact_union"),
            F.sum(F.when(F.col("n_years") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("exact_inter"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    u_est = F.when(F.col("u_k") < _KMV_K, d("u_k")).otherwise(
        F.round((F.col("u_k") - 1).cast("double") * F.lit(_HASH_SPACE) / d("u_kth"))
    )
    return (
        u_stats.crossJoin(F.broadcast(both))
        .crossJoin(F.broadcast(exact))
        .withColumn("union_est", u_est.cast("bigint"))
        .withColumn(
            "inter_est",
            F.round(d("k_both") / d("u_k") * F.col("union_est").cast("double"))
            .cast("bigint"),
        )
        .select("exact_union", "union_est", "exact_inter", "inter_est")
    )


_H_OCUST = duckdb_md5_int_sql(["o_custkey"])

SQL_KMV_YEAR_OVERLAP = f"""
WITH sets AS (
  SELECT DISTINCT year(o_orderdate) AS yr, {_H_OCUST} AS h
  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
),
sk AS (
  SELECT yr, h FROM (
    SELECT yr, h, row_number() OVER (PARTITION BY yr ORDER BY h) AS rn FROM sets
  ) WHERE rn <= {_KMV_K}
),
usk AS (
  SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn
    FROM (SELECT DISTINCT h FROM sk)
  ) WHERE rn <= {_KMV_K}
),
u_stats AS (SELECT CAST(count(*) AS BIGINT) AS u_k, MAX(h) AS u_kth FROM usk),
ovl AS (
  SELECT CAST(SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_both
  FROM usk
  LEFT JOIN (SELECT h FROM sk WHERE yr = 1995) a ON usk.h = a.h
  LEFT JOIN (SELECT h FROM sk WHERE yr = 1996) b ON usk.h = b.h
),
exact AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_union,
         CAST(SUM(CASE WHEN n_years = 2 THEN 1 ELSE 0 END) AS BIGINT) AS exact_inter
  FROM (
    SELECT o_custkey, count(*) AS n_years
    FROM (SELECT DISTINCT year(o_orderdate) AS yr, o_custkey
          FROM orders WHERE year(o_orderdate) IN (1995, 1996))
    GROUP BY o_custkey
  )
),
est AS (
  SELECT exact_union, exact_inter, u_k, u_kth, k_both,
         CAST(CASE WHEN u_k < {_KMV_K} THEN CAST(u_k AS DOUBLE)
              ELSE round(CAST(u_k - 1 AS DOUBLE) * {_HASH_SPACE!r} / CAST(u_kth AS DOUBLE))
         END AS BIGINT) AS union_est
  FROM u_stats CROSS JOIN ovl CROSS JOIN exact
)
SELECT exact_union, union_est, exact_inter,
       CAST(round(CAST(k_both AS DOUBLE) / CAST(u_k AS DOUBLE)
            * CAST(union_est AS DOUBLE)) AS BIGINT) AS inter_est
FROM est
"""

register("kmv_year_overlap", q_kmv_year_overlap, SQL_KMV_YEAR_OVERLAP)


# ---------------------------------------------------------------------------
# Gini coefficient of customer spend — two-level global rank.
# ---------------------------------------------------------------------------


def q_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer total spend.

    Needs every customer's GLOBAL rank in spend order — assigned two-level
    (the orderkey_gaps seam pattern): (1) row_number within value-range
    blocks — parallel; (2) block row-counts prefix-summed over the tiny
    block summary give each block's rank offset; global rank = offset +
    local.  The rank-weighted sum Σ r·x runs in exact DECIMAL so the
    two-level result is bit-identical to the oracle's single ORDER BY
    row_number; only the final closed form G = 2Σr·x/(nΣx) − (n+1)/n
    drops to double.
    """
    o = table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("sp")
    )
    # blocked feeds the in-block rank AND the block summary
    blocked = persist_tracked(
        spend.withColumn(
            "bk", F.floor(F.col("sp").cast("double") / 100000.0).cast("bigint")
        )
    )
    w_in = Window.partitionBy("bk").orderBy("sp", "o_custkey")
    local = blocked.withColumn("rn_local", F.row_number().over(w_in))
    blk = blocked.groupBy("bk").agg(F.count(F.lit(1)).alias("bn"))
    w_blk = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    offs = blk.withColumn(
        "off", F.coalesce(F.sum("bn").over(w_blk), F.lit(0))
    ).select("bk", "off")
    ranked = local.join(F.broadcast(offs), "bk").withColumn(
        "r", (F.col("off") + F.col("rn_local")).cast("bigint")
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("sp").alias("t_dec"),
        F.sum(F.col("r").cast("decimal(18,0)") * F.col("sp")).alias("s_dec"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return agg.select(
        "n",
        F.round(d("t_dec"), 2).alias("total_spend"),
        F.round(
            2.0 * d("s_dec") / (d("n") * d("t_dec"))
            - (d("n") + 1.0) / d("n"),
            6,
        ).alias("gini"),
    )


SQL_SPEND_GINI = """
WITH spend AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT sp, row_number() OVER (ORDER BY sp, o_custkey) AS r FROM spend
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         SUM(sp) AS t_dec,
         SUM(CAST(r AS DECIMAL(18,0)) * sp) AS s_dec
  FROM ranked
)
SELECT n,
       round(CAST(t_dec AS DOUBLE), 2) AS total_spend,
       round(2.0 * CAST(s_dec AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(t_dec AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
FROM agg
"""

register("spend_gini", q_spend_gini, SQL_SPEND_GINI)


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov statistic — two-level ECDF sweep.
# ---------------------------------------------------------------------------


def q_price_ks_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS statistic between BUILDING and AUTOMOBILE order-price
    distributions: D = max over values of |ECDF_a − ECDF_b|.

    The fact collapses to per-distinct-price counts first, then the
    running (cumulative) counts are decomposed two-level over price-range
    blocks exactly like peak_concurrency's sweep — no global
    single-partition window over the value domain.  Counts stay integer
    until the final ratio, so the block decomposition is exact.
    """
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    x = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .select(
            "o_totalprice",
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("ia"),
            F.when(F.col("c_mktsegment") == "AUTOMOBILE", 1).otherwise(0).alias("ib"),
        )
    )
    # cells feeds the within-block cumsum AND the block summary — persist
    # so the fact join + aggregation runs once.
    cells = persist_tracked(
        x.groupBy("o_totalprice").agg(
            F.sum("ia").alias("ca"), F.sum("ib").alias("cb")
        )
    )
    blocked = cells.withColumn(
        "bk", F.floor(F.col("o_totalprice") / 10000).cast("bigint")
    )
    w_in = (
        Window.partitionBy("bk")
        .orderBy("o_totalprice")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = blocked.withColumn("cum_a_in", F.sum("ca").over(w_in)).withColumn(
        "cum_b_in", F.sum("cb").over(w_in)
    )
    blk = blocked.groupBy("bk").agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb")
    )
    w_blk = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    offs = blk.withColumn(
        "off_a", F.coalesce(F.sum("ta").over(w_blk), F.lit(0))
    ).withColumn("off_b", F.coalesce(F.sum("tb").over(w_blk), F.lit(0))).select(
        "bk", "off_a", "off_b"
    )
    tot = blk.agg(
        F.sum("ta").cast("bigint").alias("n_a"),
        F.sum("tb").cast("bigint").alias("n_b"),
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    ecdf = (
        within.join(F.broadcast(offs), "bk")
        .crossJoin(F.broadcast(tot))  # 1-row scalar totals
        .select(
            "n_a",
            "n_b",
            (
                F.abs(
                    (F.col("off_a") + F.col("cum_a_in")).cast("double") / d("n_a")
                    - (F.col("off_b") + F.col("cum_b_in")).cast("double") / d("n_b")
                )
            ).alias("dd"),
        )
    )
    return ecdf.groupBy("n_a", "n_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_prices"),
        F.round(F.max("dd"), 6).alias("ks_stat"),
    )


SQL_PRICE_KS_SEGMENTS = """
WITH x AS (
  SELECT o_totalprice,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS ia,
         CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS ib
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
),
cells AS (
  SELECT o_totalprice, SUM(ia) AS ca, SUM(ib) AS cb
  FROM x GROUP BY o_totalprice
),
tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b FROM cells),
ecdf AS (
  SELECT SUM(ca) OVER (ORDER BY o_totalprice
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         SUM(cb) OVER (ORDER BY o_totalprice
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
  FROM cells
)
SELECT n_a, n_b,
       CAST(count(*) AS BIGINT) AS n_prices,
       round(MAX(abs(CAST(cum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                     - CAST(cum_b AS DOUBLE) / CAST(n_b AS DOUBLE))), 6) AS ks_stat
FROM ecdf CROSS JOIN tot
GROUP BY n_a, n_b
"""

register("price_ks_segments", q_price_ks_segments, SQL_PRICE_KS_SEGMENTS)


# ---------------------------------------------------------------------------
# Change-point detection: max |CUSUM| over the daily revenue series.
# ---------------------------------------------------------------------------


def q_revenue_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most likely change point in daily revenue: the day maximizing
    |Σ_{j<=i}(x_j − x̄)| (the CUSUM deviation statistic; the argmax is the
    classic single-change-point location estimate).

    The fact collapses to the date dimension first (exact DECIMAL sums),
    so the cumulative window runs over ~2.4k rows — same dimension-bounded
    posture as revenue_autocorr.  Cumsums stay DECIMAL-exact; only the
    mean-adjusted deviation drops to double, identically on both engines.
    Ties on the max break to the earliest day (deterministic).
    """
    o = table(spark, sf_dir, "orders")
    # daily (date-dimension rows) feeds the scalar stats AND the cumsum
    daily = persist_tracked(
        o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
            F.sum(F.col("o_totalprice").cast(DEC)).alias("rev")
        )
    )
    stats = daily.agg(
        F.sum("rev").alias("total"), F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("day")  # date-dimension-bounded (post-aggregate)
    cum = daily.withColumn(
        "i", F.row_number().over(w)
    ).withColumn(
        "cum", F.sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # dev feeds the max probe AND the argmax filter
    dev = persist_tracked(
        cum.crossJoin(F.broadcast(stats)).select(
            "day",
            "n",
            F.abs(d("cum") - d("i") * (d("total") / d("n"))).alias("ad"),
        )
    )
    mx = dev.agg(F.max("ad").alias("m"))
    return (
        dev.crossJoin(F.broadcast(mx))
        .filter(F.col("ad") == F.col("m"))
        .agg(
            F.min("day").alias("changepoint_day"),
            F.max("n").cast("bigint").alias("n_days"),
            F.round(F.max("m"), 6).alias("cusum_stat"),
        )
    )


SQL_REVENUE_CHANGEPOINT = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
),
stats AS (SELECT SUM(rev) AS total, count(*) AS n FROM daily),
cum AS (
  SELECT day,
         row_number() OVER (ORDER BY day) AS i,
         SUM(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM daily
),
dev AS (
  SELECT day, n,
         abs(CAST(cum AS DOUBLE) - CAST(i AS DOUBLE)
             * (CAST(total AS DOUBLE) / CAST(n AS DOUBLE))) AS ad
  FROM cum CROSS JOIN stats
),
mx AS (SELECT MAX(ad) AS m FROM dev)
SELECT MIN(day) AS changepoint_day,
       CAST(MAX(n) AS BIGINT) AS n_days,
       round(MAX(m), 6) AS cusum_stat
FROM dev CROSS JOIN mx WHERE ad = m
"""

register("revenue_changepoint", q_revenue_changepoint, SQL_REVENUE_CHANGEPOINT)


# ---------------------------------------------------------------------------
# Join IVM: maintain an aggregate OVER A JOIN from deltas on both sides.
# ---------------------------------------------------------------------------


def q_ivm_join_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a per-nation revenue view over
    orders ⋈ customer when BOTH sides receive inserts.

    The materialized view aggregates the join of 90% of orders with 95%
    of customers; the remaining rows arrive as delta batches.  The delta
    rows come from the join-IVM rule (ops/merge.py::join_delta —
    ΔO⋈C ∪ O⋈ΔC ∪ ΔO⋈ΔC), are aggregated once, and fold into the view
    with merge_aggregates.  The ORACLE is the full-join recompute over
    all orders and customers: incremental ⊕ must be indistinguishable
    from the nightly rebuild it replaces.  No term re-joins the two full
    tables; the delta-dimension terms broadcast.
    """
    from lakeforge.ops.merge import join_delta, merge_aggregates

    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.col("o_totalprice").cast(DEC).alias("price")
    )
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    o_old = o.filter(F.col("o_orderkey") % 10 != 0)
    o_new = o.filter(F.col("o_orderkey") % 10 == 0)
    c_old = c.filter(F.col("o_custkey") % 20 != 0)
    c_new = c.filter(F.col("o_custkey") % 20 == 0)

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("c_nationkey").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("price").alias("revenue"),
        )

    view_old = agg(o_old.join(c_old, "o_custkey"))
    increment = agg(join_delta(o_old, o_new, c_old, c_new, "o_custkey"))
    return merge_aggregates(
        view_old, increment, ["c_nationkey"],
        {"n_orders": "sum", "revenue": "sum"},
    )


SQL_IVM_JOIN_NATION_REVENUE = """
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
"""

register(
    "ivm_join_nation_revenue", q_ivm_join_nation_revenue, SQL_IVM_JOIN_NATION_REVENUE,
)


# ---------------------------------------------------------------------------
# Survival analysis: Kaplan–Meier curve for customer reorder gaps.
# ---------------------------------------------------------------------------


def q_reorder_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier estimate of time-to-next-order with right-censoring.

    Each consecutive order pair contributes an EVENT duration (gap days);
    each customer's last order contributes a CENSORED duration (to the
    corpus max date).  Durations collapse to the duration dimension
    (bounded by the date span), then the at-risk counts and the survival
    product S(t) = Π(1 − d_i/n_i) run as windows over that small
    dimension — the product via exp(Σ ln), identical IEEE doubles on
    both engines.  The curve stops before the first time with d_i = n_i
    (where S hits exactly 0 and ln is undefined) — deterministic on both
    sides.  Emitted: one row per distinct EVENT duration with at-risk,
    events, censored-at-t, and S(t) in round-6 double.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    )
    horizon = o.agg(F.max("d").alias("mx"))
    w = Window.partitionBy("o_custkey").orderBy("d")
    nxt = F.lead("d").over(w)
    dur = (
        o.withColumn("nd", nxt)
        .crossJoin(F.broadcast(horizon))  # 1-row scalar horizon
        .select(
            F.when(F.col("nd").isNotNull(), F.datediff("nd", "d"))
            .otherwise(F.datediff("mx", "d"))
            .alias("t"),
            F.when(F.col("nd").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    # cells (duration-dimension rows) feeds the total AND the risk table
    cells = persist_tracked(
        dur.groupBy("t").agg(
            F.sum("ev").cast("bigint").alias("d_t"),
            F.sum(1 - F.col("ev")).cast("bigint").alias("c_t"),
        )
    )
    n_total = cells.agg(F.sum(F.col("d_t") + F.col("c_t")).alias("n"))
    w_t = Window.orderBy("t")  # duration-dimension-bounded
    prior = F.coalesce(
        F.sum(F.col("d_t") + F.col("c_t")).over(
            w_t.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    # risk feeds the zero-collapse probe AND the factor table
    risk = persist_tracked(
        cells.crossJoin(F.broadcast(n_total)).withColumn(
            "at_risk", (F.col("n") - prior).cast("bigint")
        )
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    # stop before the first t where every at-risk unit dies (S would be 0)
    zero_t = risk.filter(F.col("d_t") == F.col("at_risk")).agg(
        F.min("t").alias("zt")
    )
    factors = (
        risk.crossJoin(F.broadcast(zero_t))
        .filter(F.col("zt").isNull() | (F.col("t") < F.col("zt")))
        .withColumn(
            "lnf",
            F.when(
                F.col("d_t") > 0,
                F.log((dd("at_risk") - dd("d_t")) / dd("at_risk")),
            ).otherwise(F.lit(0.0)),
        )
    )
    surv = F.exp(
        F.sum("lnf").over(w_t.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        factors.withColumn("survival", F.round(surv, 6))
        .filter(F.col("d_t") > 0)
        .select("t", "at_risk", "d_t", "c_t", "survival")
    )


SQL_REORDER_SURVIVAL = """
WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders),
horizon AS (SELECT MAX(d) AS mx FROM o),
dur AS (
  SELECT CASE WHEN nd IS NOT NULL THEN datediff('day', d, nd)
              ELSE datediff('day', d, mx) END AS t,
         CASE WHEN nd IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM (SELECT o_custkey, d,
               lead(d) OVER (PARTITION BY o_custkey ORDER BY d) AS nd
        FROM o)
  CROSS JOIN horizon
),
cells AS (
  SELECT t, CAST(SUM(ev) AS BIGINT) AS d_t,
         CAST(SUM(1 - ev) AS BIGINT) AS c_t
  FROM dur GROUP BY t
),
n_total AS (SELECT SUM(d_t + c_t) AS n FROM cells),
risk AS (
  SELECT t, d_t, c_t,
         CAST(n - COALESCE(SUM(d_t + c_t) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS at_risk
  FROM cells CROSS JOIN n_total
),
zero_t AS (SELECT MIN(t) AS zt FROM risk WHERE d_t = at_risk),
factors AS (
  SELECT t, at_risk, d_t, c_t,
         CASE WHEN d_t > 0
              THEN ln((CAST(at_risk AS DOUBLE) - CAST(d_t AS DOUBLE))
                      / CAST(at_risk AS DOUBLE))
              ELSE 0.0 END AS lnf
  FROM risk CROSS JOIN zero_t
  WHERE zt IS NULL OR t < zt
)
SELECT t, at_risk, d_t, c_t,
       round(exp(SUM(lnf) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS survival
FROM factors
QUALIFY d_t > 0
"""

register("reorder_survival", q_reorder_survival, SQL_REORDER_SURVIVAL)


# ---------------------------------------------------------------------------
# Funnel conversion with Wilson score intervals.
# ---------------------------------------------------------------------------


def q_funnel_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type view→purchase user conversion with 95% Wilson score
    intervals — the interval that stays calibrated at small n, which is
    exactly what per-segment funnel slices produce.

    One scan → per-(user, flag) presence → per-segment trial/success
    counts; the Wilson algebra is pure column arithmetic on the tiny
    segment table.  z is pinned to 1.959964 (two-sided 95%).
    """
    from lakeforge.io.sources import read_events

    ev = read_events(spark, sf_dir)
    # segment users by the hour-of-day of their FIRST event (stable, small)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.withColumn("rn", F.row_number().over(w))
    users = base.groupBy("user_id").agg(
        F.min(F.when(F.col("rn") == 1, F.hour("ts") % 6)).alias("seg"),
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("viewed"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "purchased"
        ),
    )
    cells = (
        users.filter(F.col("viewed") == 1)
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_viewers"),
            F.sum("purchased").cast("bigint").alias("n_buyers"),
        )
    )
    z = 1.959964
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    p = d("n_buyers") / d("n_viewers")
    n = d("n_viewers")
    denom = 1.0 + (z * z) / n
    center = (p + (z * z) / (2.0 * n)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (1.0 - p) / n + (z * z) / (4.0 * n * n))
        / denom
    )
    return cells.select(
        "seg",
        "n_viewers",
        "n_buyers",
        F.round(p, 6).alias("conversion"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    )


SQL_FUNNEL_WILSON_CI = """
WITH base AS (
  SELECT user_id, ts, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
users AS (
  SELECT user_id,
         MIN(CASE WHEN rn = 1 THEN hour(ts) % 6 END) AS seg,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS viewed,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
  FROM base GROUP BY user_id
),
cells AS (
  SELECT seg, CAST(count(*) AS BIGINT) AS n_viewers,
         CAST(SUM(purchased) AS BIGINT) AS n_buyers
  FROM users WHERE viewed = 1 GROUP BY seg
)
SELECT seg, n_viewers, n_buyers,
       round(CAST(n_buyers AS DOUBLE) / CAST(n_viewers AS DOUBLE), 6) AS conversion,
       round(((CAST(n_buyers AS DOUBLE) / CAST(n_viewers AS DOUBLE))
              + 1.959964 * 1.959964 / (2.0 * CAST(n_viewers AS DOUBLE)))
             / (1.0 + 1.959964 * 1.959964 / CAST(n_viewers AS DOUBLE))
             - 1.959964 * sqrt((CAST(n_buyers AS DOUBLE) / CAST(n_viewers AS DOUBLE))
                   * (1.0 - CAST(n_buyers AS DOUBLE) / CAST(n_viewers AS DOUBLE))
                   / CAST(n_viewers AS DOUBLE)
                   + 1.959964 * 1.959964
                     / (4.0 * CAST(n_viewers AS DOUBLE) * CAST(n_viewers AS DOUBLE)))
               / (1.0 + 1.959964 * 1.959964 / CAST(n_viewers AS DOUBLE)), 6) AS wilson_lo,
       round(((CAST(n_buyers AS DOUBLE) / CAST(n_viewers AS DOUBLE))
              + 1.959964 * 1.959964 / (2.0 * CAST(n_viewers AS DOUBLE)))
             / (1.0 + 1.959964 * 1.959964 / CAST(n_viewers AS DOUBLE))
             + 1.959964 * sqrt((CAST(n_buyers AS DOUBLE) / CAST(n_viewers AS DOUBLE))
                   * (1.0 - CAST(n_buyers AS DOUBLE) / CAST(n_viewers AS DOUBLE))
                   / CAST(n_viewers AS DOUBLE)
                   + 1.959964 * 1.959964
                     / (4.0 * CAST(n_viewers AS DOUBLE) * CAST(n_viewers AS DOUBLE)))
               / (1.0 + 1.959964 * 1.959964 / CAST(n_viewers AS DOUBLE)), 6) AS wilson_hi
FROM cells
"""

register("funnel_wilson_ci", q_funnel_wilson_ci, SQL_FUNNEL_WILSON_CI)


# ---------------------------------------------------------------------------
# Poisson bootstrap: all replicates in ONE scan via deterministic weights.
# ---------------------------------------------------------------------------

_BOOT_B = 32
# cumulative Poisson(1) pmf, pinned literals (identical on both engines)
_POIS_CDF = [
    0.367879441171,  # P(W=0)
    0.735758882343,
    0.919698602929,
    0.981011843124,
    0.996340153172,
    0.999405815182,
    0.999916758850,
]  # W capped at 7


def q_bootstrap_price_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean order price.

    The scalable bootstrap (Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams"; Kleiner et al.'s BLB is the heavier cousin):
    instead of materializing B resamples, each row gets B independent
    Poisson(1) weights and ONE scan computes every replicate's weighted
    (sum, count) as 2B conditional aggregates with map-side combine — no
    row inflation, and the shuffle carries one 2B-column partial per
    task, so the 100 TB bootstrap costs one pass regardless of B.

    Weights are deterministic AND cheap: one md5 per (digest-group, row)
    yields FOUR 32-bit uniforms (hex slices of the 128-bit digest), so B
    replicates cost B/4 digests per row; each uniform inverts through the
    pinned Poisson(1) CDF literals.  Bit-reproducible in the oracle, so
    the whole resampling procedure (not just its output shape) is
    value-checked.  Emitted: point estimate and the normal-approximation
    CI from the replicate spread (avoids cross-engine
    percentile-semantics drift).
    """
    # The B-weight projection is compute-bound (B/4 digests + B CDF
    # inversions per row); a small single-file local input arrives as ONE
    # split and would serialize it, so spread rows across the cluster
    # first.  At 100 TB the scan has ample natural splits and this
    # round-robin exchange is noise next to the projection it feeds.
    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    price = F.col("o_totalprice").cast(DEC)

    def w_col(b: int) -> F.Column:
        g, j = divmod(b, 4)
        digest = F.md5(
            F.concat_ws("\x1f", F.lit(str(g)), F.col("o_orderkey").cast("string"))
        )
        u = (
            F.conv(F.substring(digest, 1 + 8 * j, 8), 16, 10).cast("double")
            / F.lit(float(1 << 32))
        )
        w = F.lit(len(_POIS_CDF))
        for i in range(len(_POIS_CDF) - 1, -1, -1):
            w = F.when(u < F.lit(_POIS_CDF[i]), F.lit(i)).otherwise(w)
        return w

    # Weights are evaluated in the PROJECTION, not inside the aggregate
    # expressions (r12 opt): as aggregate inputs the B md5/conv/CDF chains
    # inflated the hash-aggregate's generated code ~4x (first-execution
    # compile 7.1s -> 5.9s, steady 3.3s -> 2.7s at sf0.1); as projection
    # columns they fuse into the scan stage's codegen, subexpression
    # elimination dedupes the B/4 digests, and the aggregate reduces to
    # 2B trivial sums.  Same expressions, same exact values.
    proj = [price.alias("__p")]
    for b in range(_BOOT_B):
        proj.append(w_col(b).alias(f"w{b}"))
    ow = o.select(*proj)
    aggs = []
    for b in range(_BOOT_B):
        aggs.append(
            F.sum(F.col(f"w{b}").cast("decimal(18,0)") * F.col("__p")).alias(f"s{b}")
        )
        aggs.append(F.sum(f"w{b}").alias(f"c{b}"))
    aggs.append(F.sum("__p").alias("tot"))
    aggs.append(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    wide = ow.agg(*aggs)  # one scan, one 2B+2-column row
    stack_args = []
    for b in range(_BOOT_B):
        stack_args += [
            F.lit(b),
            F.col(f"s{b}").cast("double") / F.col(f"c{b}").cast("double"),
        ]
    reps = wide.select(
        "tot",
        "n_orders",
        F.stack(F.lit(_BOOT_B), *stack_args).alias("b", "mean_b"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    agg = reps.groupBy("tot", "n_orders").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
        F.stddev_samp("mean_b").alias("boot_sd"),
    )
    mean_price = d("tot") / d("n_orders")
    return agg.select(
        "n_orders",
        "n_replicates",
        F.round(mean_price, 6).alias("mean_price"),
        F.round(mean_price - 1.959964 * d("boot_sd"), 6).alias("ci_lo"),
        F.round(mean_price + 1.959964 * d("boot_sd"), 6).alias("ci_hi"),
    )


def _u32_sql(g: int, j: int) -> str:
    concat = f"COALESCE(CAST('{g}' AS VARCHAR), chr(30)) || chr(31) || COALESCE(CAST(o_orderkey AS VARCHAR), chr(30))"
    return (
        f"CAST(CAST(('0x' || substr(md5({concat}), {1 + 8 * j}, 8)) AS UBIGINT)"
        f" AS DOUBLE) / {float(1 << 32)!r}"
    )


def _pois_w_sql(u: str) -> str:
    expr = str(len(_POIS_CDF))
    for i in range(len(_POIS_CDF) - 1, -1, -1):
        expr = f"CASE WHEN {u} < {_POIS_CDF[i]!r} THEN {i} ELSE {expr} END"
    return expr


def _boot_wide_sql() -> str:
    cols = []
    for b in range(_BOOT_B):
        g, j = divmod(b, 4)
        w = _pois_w_sql(_u32_sql(g, j))
        cols.append(
            f"SUM(CAST(({w}) AS DECIMAL(18,0)) * CAST(o_totalprice AS DECIMAL(18,2))) AS s{b}"
        )
        cols.append(f"SUM(({w})) AS c{b}")
    cols.append("SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tot")
    cols.append("CAST(count(*) AS BIGINT) AS n_orders")
    return ",\n         ".join(cols)


def _boot_reps_sql() -> str:
    return "\n  UNION ALL\n  ".join(
        f"SELECT tot, n_orders, CAST(s{b} AS DOUBLE) / CAST(c{b} AS DOUBLE) AS mean_b FROM wide"
        for b in range(_BOOT_B)
    )


SQL_BOOTSTRAP_PRICE_CI = f"""
WITH wide AS (
  SELECT {_boot_wide_sql()}
  FROM orders
),
reps AS (
  {_boot_reps_sql()}
),
agg AS (
  SELECT tot, n_orders,
         CAST(count(*) AS BIGINT) AS n_replicates,
         stddev_samp(mean_b) AS boot_sd
  FROM reps GROUP BY tot, n_orders
)
SELECT n_orders, n_replicates,
       round(CAST(tot AS DOUBLE) / CAST(n_orders AS DOUBLE), 6) AS mean_price,
       round(CAST(tot AS DOUBLE) / CAST(n_orders AS DOUBLE)
             - 1.959964 * boot_sd, 6) AS ci_lo,
       round(CAST(tot AS DOUBLE) / CAST(n_orders AS DOUBLE)
             + 1.959964 * boot_sd, 6) AS ci_hi
FROM agg
"""

register("bootstrap_price_ci", q_bootstrap_price_ci, SQL_BOOTSTRAP_PRICE_CI)


# ---------------------------------------------------------------------------
# Sequential pattern mining: frequent contiguous 3-step paths in sessions.
# ---------------------------------------------------------------------------

_PATH_MIN_SUPPORT = 20


def q_user_path_3grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent contiguous 3-step event-type paths along each user's
    ordered journey (the counting core of PrefixSpan-style sequence
    mining, restricted to contiguous length-3 patterns so support
    counting stays one window pass + one tiny aggregate).

    Paths come from two LEADs over one per-user sort — one shuffle by
    user, both windows share it; the support aggregate is
    |event_types|³-bounded.  A session-scoped variant is the same plan
    with (user, session) as the window key (events_transition_matrix
    shows the session derivation); in this synthetic corpus sessions
    rarely reach three events, so the mined unit is the user journey.
    """
    from lakeforge.io.sources import read_events

    ev = read_events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = ev.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).where(F.col("step3").isNotNull())
    return (
        paths.groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .where(F.col("support") >= _PATH_MIN_SUPPORT)
    )


SQL_USER_PATH_3GRAMS = f"""
WITH paths AS (
  SELECT event_type AS step1,
         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step2,
         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step3
  FROM events
)
SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS support
FROM paths WHERE step3 IS NOT NULL
GROUP BY step1, step2, step3
HAVING count(*) >= {_PATH_MIN_SUPPORT}
"""

register("user_path_3grams", q_user_path_3grams, SQL_USER_PATH_3GRAMS)


# ---------------------------------------------------------------------------
# Difference-in-differences: treatment-effect estimate from a 2x2 design.
# ---------------------------------------------------------------------------


def q_did_segment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of the 1996+ change in mean
    order value for BUILDING-segment customers vs everyone else:
    DiD = (treat_post − treat_pre) − (ctrl_post − ctrl_pre).

    One fact scan to a 2×2 cell table (exact DECIMAL sums / bigint
    counts); the estimator is column arithmetic on four numbers.  The
    orders↔customer join stays unhinted for AQE.
    """
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("treat"),
            F.when(F.year("o_orderdate") >= 1996, 1).otherwise(0).alias("post"),
            F.col("o_totalprice").cast(DEC).alias("price"),
        )
        .groupBy("treat", "post")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("price").alias("tot"),
        )
    )
    d = lambda c_: F.col(c_).cast("double")  # noqa: E731
    m = cells.select(
        "treat",
        "post",
        "n",
        (d("tot") / d("n")).alias("mean_v"),
    )
    pick = lambda t, p: F.max(  # noqa: E731
        F.when((F.col("treat") == t) & (F.col("post") == p), F.col("mean_v"))
    )
    return m.agg(
        F.sum("n").cast("bigint").alias("n_orders"),
        F.round(pick(1, 0), 6).alias("treat_pre"),
        F.round(pick(1, 1), 6).alias("treat_post"),
        F.round(pick(0, 0), 6).alias("ctrl_pre"),
        F.round(pick(0, 1), 6).alias("ctrl_post"),
        F.round(
            (pick(1, 1) - pick(1, 0)) - (pick(0, 1) - pick(0, 0)), 6
        ).alias("did_effect"),
    )


SQL_DID_SEGMENT_EFFECT = """
WITH cells AS (
  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS treat,
         CASE WHEN year(o_orderdate) >= 1996 THEN 1 ELSE 0 END AS post,
         CAST(count(*) AS BIGINT) AS n,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tot
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
m AS (
  SELECT treat, post, n, CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) AS mean_v
  FROM cells
)
SELECT CAST(SUM(n) AS BIGINT) AS n_orders,
       round(MAX(CASE WHEN treat = 1 AND post = 0 THEN mean_v END), 6) AS treat_pre,
       round(MAX(CASE WHEN treat = 1 AND post = 1 THEN mean_v END), 6) AS treat_post,
       round(MAX(CASE WHEN treat = 0 AND post = 0 THEN mean_v END), 6) AS ctrl_pre,
       round(MAX(CASE WHEN treat = 0 AND post = 1 THEN mean_v END), 6) AS ctrl_post,
       round((MAX(CASE WHEN treat = 1 AND post = 1 THEN mean_v END)
              - MAX(CASE WHEN treat = 1 AND post = 0 THEN mean_v END))
             - (MAX(CASE WHEN treat = 0 AND post = 1 THEN mean_v END)
                - MAX(CASE WHEN treat = 0 AND post = 0 THEN mean_v END)), 6) AS did_effect
FROM m
"""

register("did_segment_effect", q_did_segment_effect, SQL_DID_SEGMENT_EFFECT)


# ---------------------------------------------------------------------------
# Benford first-digit audit of order prices.
# ---------------------------------------------------------------------------


def q_benford_price_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order prices vs Benford's
    law (the classic accounting-fraud / data-quality audit).  One scan to
    nine cells; expected shares are log10(1+1/d) computed identically on
    both engines; chi-square contributions per digit.
    """
    o = table(spark, sf_dir, "orders").select("o_totalprice")
    digit = F.floor(
        F.col("o_totalprice") / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    cells = (
        o.where(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    cells = persist_tracked(cells)  # feeds the total AND the output
    tot = cells.agg(F.sum("n").alias("total"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    p_obs = d("n") / d("total")
    p_ben = F.log10(1.0 + 1.0 / d("digit"))
    exp_n = p_ben * d("total")
    return (
        cells.crossJoin(F.broadcast(tot))  # 1-row scalar total
        .select(
            "digit",
            "n",
            F.round(p_obs, 6).alias("obs_share"),
            F.round(p_ben, 6).alias("benford_share"),
            F.round((d("n") - exp_n) * (d("n") - exp_n) / exp_n, 6).alias(
                "chi2_contrib"
            ),
        )
    )


SQL_BENFORD_PRICE_DIGITS = """
WITH cells AS (
  SELECT CAST(floor(o_totalprice / power(10.0, floor(log10(o_totalprice)))) AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS n
  FROM orders WHERE o_totalprice > 0
  GROUP BY 1
),
tot AS (SELECT SUM(n) AS total FROM cells)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS obs_share,
       round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS benford_share,
       round((CAST(n AS DOUBLE) - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * CAST(total AS DOUBLE))
             * (CAST(n AS DOUBLE) - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * CAST(total AS DOUBLE))
             / (log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * CAST(total AS DOUBLE)), 6) AS chi2_contrib
FROM cells CROSS JOIN tot
"""

register("benford_price_digits", q_benford_price_digits, SQL_BENFORD_PRICE_DIGITS)


# ---------------------------------------------------------------------------
# Seasonal-trend decomposition outliers on the daily revenue series.
# ---------------------------------------------------------------------------


def q_revenue_stl_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style decomposition of daily revenue — trend (centered 7-day
    moving average), day-of-week seasonal component, residual — flagging
    days whose residual exceeds 2.5 residual standard deviations.

    All decomposition arithmetic runs in exact integer MICRO-units
    (1e6×): the windowed trend and the per-dow seasonal means use integer
    division, so the result is independent of aggregation order — only
    the final z-scores drop to double.  Everything happens on the date
    dimension (fact collapses first, same posture as revenue_autocorr).
    """
    o = table(spark, sf_dir, "orders")
    daily = persist_tracked(
        o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
            (F.sum(F.col("o_totalprice").cast(DEC)) * 100)
            .cast("bigint")
            .alias("rev_c")  # exact cents
        )
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)  # date-dimension-bounded
    trended = daily.select(
        "day",
        "rev_c",
        F.dayofweek("day").alias("dow"),
        F.expr(
            "(sum(rev_c) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) * 1000000)"
            " div (count(1) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))"
        ).alias("trend_u"),  # micro-cents, exact integer division
    ).withColumn("detr_u", F.col("rev_c") * 1000000 - F.col("trend_u"))
    seas = trended.groupBy("dow").agg(
        F.expr("sum(detr_u) div count(1)").alias("seas_u")
    )
    resid = persist_tracked(
        trended.join(F.broadcast(seas), "dow").withColumn(
            "resid_u", F.col("detr_u") - F.col("seas_u")
        )
    )
    sd = resid.agg(
        F.stddev_samp(F.col("resid_u").cast("double")).alias("sd_u")
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        resid.crossJoin(F.broadcast(sd))  # 1-row scalar spread
        .where(F.abs(d("resid_u")) > 2.5 * F.col("sd_u"))
        .select(
            "day",
            (d("rev_c") / 100.0).alias("revenue"),
            F.round(d("resid_u") / 1e8, 2).alias("residual"),
            F.round(d("resid_u") / F.col("sd_u"), 3).alias("z"),
        )
    )


SQL_REVENUE_STL_OUTLIERS = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_c
  FROM orders GROUP BY 1
),
trended AS (
  SELECT day, rev_c, dayofweek(day) + 1 AS dow,
         (SUM(rev_c) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) * 1000000)
           // (COUNT(1) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS trend_u
  FROM daily
),
detr AS (SELECT *, rev_c * 1000000 - trend_u AS detr_u FROM trended),
seas AS (SELECT dow, SUM(detr_u) // COUNT(1) AS seas_u FROM detr GROUP BY dow),
resid AS (
  SELECT d.day, d.rev_c, d.detr_u - s.seas_u AS resid_u
  FROM detr d JOIN seas s USING (dow)
),
sd AS (SELECT stddev_samp(CAST(resid_u AS DOUBLE)) AS sd_u FROM resid)
SELECT day,
       CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
       round(CAST(resid_u AS DOUBLE) / 1e8, 2) AS residual,
       round(CAST(resid_u AS DOUBLE) / sd_u, 3) AS z
FROM resid CROSS JOIN sd
WHERE abs(CAST(resid_u AS DOUBLE)) > 2.5 * sd_u
"""

register("revenue_stl_outliers", q_revenue_stl_outliers, SQL_REVENUE_STL_OUTLIERS)


# ---------------------------------------------------------------------------
# Drift monitoring: PSI and Jensen–Shannon divergence.
# ---------------------------------------------------------------------------


def q_price_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-price distribution, 1995
    (expected) vs 1996 (actual) — THE standard model-monitoring drift
    metric: PSI = Σ (a_i − e_i)·ln(a_i/e_i) over fixed price bands.

    Bands are closed-form (no quantile pass), so the whole query is one
    scan → band×period cells → broadcast totals → column arithmetic;
    Laplace-smoothed shares (+1 per cell) keep the logs finite when a
    band empties on one side, identically on both engines.  Per-band
    contributions are emitted so the drifting bands are visible, not
    just the scalar.
    """
    from lakeforge.ops.analytics import psi_between

    o = table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    band = F.least(F.lit(9), F.floor(F.col("o_totalprice") / 50000)).cast("int")
    # one scan builds BOTH periods' band counts; the tiny cell frame is
    # persisted and split, so psi_between's full-outer align runs on two
    # ≤10-row inputs.
    cells = persist_tracked(
        o.where(F.year("o_orderdate").isin(1995, 1996))
        .select(
            band.alias("price_band"),
            F.when(F.year("o_orderdate") == 1995, 1).otherwise(0).alias("is_e"),
        )
        .groupBy("price_band")
        .agg(
            F.sum("is_e").cast("bigint").alias("e_raw"),
            F.sum(1 - F.col("is_e")).cast("bigint").alias("a_raw"),
        )
    )
    expected = cells.where(F.col("e_raw") > 0).select(
        "price_band", F.col("e_raw").alias("n")
    )
    actual = cells.where(F.col("a_raw") > 0).select(
        "price_band", F.col("a_raw").alias("n")
    )
    return psi_between(expected, actual, "price_band").select(
        "price_band",
        F.col("expected_n").alias("n_1995"),
        F.col("actual_n").alias("n_1996"),
        "psi_contrib",
    )


SQL_PRICE_PSI_DRIFT = """
WITH cells AS (
  SELECT CAST(least(9, floor(o_totalprice / 50000)) AS INT) AS price_band,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS e_n,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS a_n
  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
  GROUP BY 1
),
tot AS (SELECT SUM(e_n) AS e_tot, SUM(a_n) AS a_tot FROM cells)
SELECT price_band,
       CAST(e_n - 1 AS BIGINT) AS n_1995,
       CAST(a_n - 1 AS BIGINT) AS n_1996,
       round((CAST(a_n AS DOUBLE) / CAST(a_tot AS DOUBLE)
              - CAST(e_n AS DOUBLE) / CAST(e_tot AS DOUBLE))
             * ln((CAST(a_n AS DOUBLE) / CAST(a_tot AS DOUBLE))
                  / (CAST(e_n AS DOUBLE) / CAST(e_tot AS DOUBLE))), 6) AS psi_contrib
FROM cells CROSS JOIN tot
"""

register("price_psi_drift", q_price_psi_drift, SQL_PRICE_PSI_DRIFT)


def q_source_lang_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between each document source's language
    distribution and the corpus-wide distribution — the symmetric,
    bounded ([0, ln 2]) drift metric for categorical mixtures (e.g.
    catching a crawl source whose language mix shifted between ingests).

    One scan → (source, lang) cells; the corpus marginal and per-source
    totals broadcast back; JS = ½KL(p‖m) + ½KL(q‖m) with m the midpoint,
    computed per (source, lang) and summed per source.  Cells where one
    side is zero contribute only the present side's ½·p·ln(p/m) term —
    handled by the full outer join of per-source against corpus cells.
    """
    docs = table(spark, sf_dir, "documents").select("source", "lang")
    cells = persist_tracked(
        docs.groupBy("source", "lang").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
    )
    src_tot = cells.groupBy("source").agg(F.sum("n").alias("src_n"))
    corpus = cells.groupBy("lang").agg(F.sum("n").alias("lang_n"))
    tot = cells.agg(F.sum("n").alias("total"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    j = (
        cells.join(F.broadcast(src_tot), "source")
        .join(F.broadcast(corpus), "lang")
        .crossJoin(F.broadcast(tot))
    )
    p = d("n") / d("src_n")  # source's lang share
    q = d("lang_n") / d("total")  # corpus lang share (always > 0 here)
    m = (p + q) / 2.0
    # per-cell JS terms; langs absent from a source contribute the
    # corpus-side term only, accumulated via the corpus-minus-source sum:
    # JS(source) = 1/2 Σ_present p ln(p/m) + 1/2 Σ_all q ln(q/m_q)
    # where for langs absent from the source m_q = q/2.
    term_p = p / 2.0 * F.log(p / m)
    term_q = q / 2.0 * F.log(q / m)
    present = j.groupBy("source").agg(
        F.sum(term_p + term_q).alias("js_present"),
        F.sum(q).alias("q_covered"),
    )
    # absent langs: q ln(q / (q/2)) / 2 = q ln(2) / 2, summed over the
    # corpus mass NOT covered by this source's language set.
    ln2 = 0.6931471805599453
    out = present.select(
        "source",
        F.round(
            F.col("js_present") + (1.0 - F.col("q_covered")) * ln2 / 2.0, 6
        ).alias("js_divergence"),
    )
    return out.join(F.broadcast(src_tot), "source").select(
        "source", F.col("src_n").cast("bigint").alias("n_docs"), "js_divergence"
    )


SQL_SOURCE_LANG_JS = """
WITH cells AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY source, lang
),
src_tot AS (SELECT source, SUM(n) AS src_n FROM cells GROUP BY source),
corpus AS (SELECT lang, SUM(n) AS lang_n FROM cells GROUP BY lang),
tot AS (SELECT SUM(n) AS total FROM cells),
j AS (
  SELECT c.source, c.lang, c.n, s.src_n, l.lang_n, t.total,
         CAST(c.n AS DOUBLE) / CAST(s.src_n AS DOUBLE) AS p,
         CAST(l.lang_n AS DOUBLE) / CAST(t.total AS DOUBLE) AS q
  FROM cells c
  JOIN src_tot s USING (source)
  JOIN corpus l USING (lang)
  CROSS JOIN tot t
),
present AS (
  SELECT source,
         SUM(p / 2.0 * ln(p / ((p + q) / 2.0))
             + q / 2.0 * ln(q / ((p + q) / 2.0))) AS js_present,
         SUM(q) AS q_covered
  FROM j GROUP BY source
)
SELECT p.source,
       CAST(s.src_n AS BIGINT) AS n_docs,
       round(p.js_present + (1.0 - p.q_covered) * 0.6931471805599453 / 2.0, 6)
         AS js_divergence
FROM present p JOIN src_tot s USING (source)
"""

register("source_lang_js_divergence", q_source_lang_js_divergence, SQL_SOURCE_LANG_JS)


# ---------------------------------------------------------------------------
# CMS inner product: sketch-based equi-join size estimation.
# ---------------------------------------------------------------------------


def q_suppkey_joinsize_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict the size of the supplier-key equi-join between pre-1995
    and 1995+ lineitems from count-min sketches alone (CMS inner
    product), next to the exact answer.

    Each period is sketched once (ops/sketches.py grid — mergeable,
    O(grid) shuffle); the estimate never joins the periods.  The exact
    side is Σ_k fA(k)·fB(k) via per-key counts — a dim-sized join on
    suppkey.  CMS inner product is upper-biased: overcount >= 0 always.
    """
    from lakeforge.ops.sketches import count_min_counters, count_min_join_size

    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_shipdate")
    a = li.where(F.col("l_shipdate") < "1997-01-01").select("l_suppkey")
    b = li.where(F.col("l_shipdate") >= "1997-01-01").select("l_suppkey")
    est = count_min_join_size(
        count_min_counters(a, "l_suppkey"), count_min_counters(b, "l_suppkey")
    )
    fa = a.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("fa"))
    fb = b.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("fb"))
    exact = fa.join(fb, "l_suppkey").agg(
        F.coalesce(F.sum(F.col("fa") * F.col("fb")), F.lit(0))
        .cast("bigint")
        .alias("exact_join_size")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_join_size",
        "join_size_est",
        (F.col("join_size_est") - F.col("exact_join_size"))
        .cast("bigint")
        .alias("overcount"),
    )


def _cms_grid_sql(src_pred: str, d: int) -> str:
    h = duckdb_md5_int_sql(["l_suppkey", "'cms'", str(d)])
    return (
        f"SELECT {d} AS depth, (({h}) % 1024 + 1024) % 1024 AS bucket,"
        f" CAST(count(*) AS BIGINT) AS n"
        f" FROM lineitem WHERE {src_pred} GROUP BY 1, 2"
    )


def _cms_join_sql() -> str:
    ga = "\nUNION ALL\n".join(
        _cms_grid_sql("CAST(l_shipdate AS DATE) < DATE '1997-01-01'", d)
        for d in range(4)
    )
    gb = "\nUNION ALL\n".join(
        _cms_grid_sql("CAST(l_shipdate AS DATE) >= DATE '1997-01-01'", d)
        for d in range(4)
    )
    return f"""
WITH ga AS ({ga}),
gb AS ({gb}),
per_depth AS (
  SELECT ga.depth, CAST(SUM(ga.n * gb.n) AS BIGINT) AS ip
  FROM ga JOIN gb ON ga.depth = gb.depth AND ga.bucket = gb.bucket
  GROUP BY ga.depth
),
est AS (SELECT CAST(COALESCE(MIN(ip), 0) AS BIGINT) AS join_size_est FROM per_depth),
exact AS (
  SELECT CAST(COALESCE(SUM(fa * fb), 0) AS BIGINT) AS exact_join_size
  FROM (SELECT l_suppkey, count(*) AS fa FROM lineitem
        WHERE CAST(l_shipdate AS DATE) < DATE '1997-01-01' GROUP BY 1) a
  JOIN (SELECT l_suppkey, count(*) AS fb FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01' GROUP BY 1) b
  USING (l_suppkey)
)
SELECT exact_join_size, join_size_est,
       CAST(join_size_est - exact_join_size AS BIGINT) AS overcount
FROM exact CROSS JOIN est
"""


SQL_SUPPKEY_JOINSIZE_ESTIMATE = _cms_join_sql()

register(
    "suppkey_joinsize_estimate",
    q_suppkey_joinsize_estimate,
    SQL_SUPPKEY_JOINSIZE_ESTIMATE,
)


# ---------------------------------------------------------------------------
# Vector aggregation: per-group embedding centroid, exact integer math.
# ---------------------------------------------------------------------------

_EMB_SCALE = 1_000_000_000  # same fixed-point contract as the cosine oracle


def q_lang_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean embedding per document language — the vector
    aggregate every embedding pipeline needs (class prototypes, domain
    centroids, nearest-centroid routing), as a first-class operator
    rather than a k-means internal.

    posexplode → (lang, dimension) partial sums gives full map-side
    combine: the shuffle carries |langs|×dim cells, not vectors.
    Components scale to 1e-9 fixed-point BIGINTs first (the cosine
    oracle's contract), the mean is a FLOOR division emulated in exact
    integer arithmetic ((s − pmod(s, n)) / n) because Spark's `div`
    truncates toward zero while DuckDB's // floors — they disagree on
    negative sums.  One row per (lang, pos): scalar columns only, no
    array comparison at the driver boundary.
    """
    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = emb.join(docs, emb.vec_id == docs.doc_id)
    comp = j.select(
        "lang", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "lang",
        "pos",
        F.round(F.col("v").cast("double") * _EMB_SCALE).cast("bigint").alias("sv"),
    )
    g = comp.groupBy("lang", "pos").agg(
        F.sum("sv").alias("s"), F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    floordiv = (F.col("s") - F.pmod("s", F.col("n_vectors"))) / F.col("n_vectors")
    return g.select(
        "lang",
        "pos",
        "n_vectors",
        floordiv.cast("bigint").alias("mean_scaled"),
    )


SQL_LANG_EMBEDDING_CENTROID = f"""
WITH j AS (
  SELECT d.lang, e.embedding
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
comp AS (
  SELECT lang, i AS pos,
         CAST(round(CAST(embedding[i + 1] AS DOUBLE) * {_EMB_SCALE}) AS BIGINT) AS sv
  FROM j CROSS JOIN (SELECT UNNEST(range(64)) AS i)
),
g AS (
  SELECT lang, pos, SUM(sv) AS s, CAST(count(*) AS BIGINT) AS n_vectors
  FROM comp GROUP BY lang, pos
)
SELECT lang, pos, n_vectors,
       CAST((s - (((s % n_vectors) + n_vectors) % n_vectors)) / n_vectors AS BIGINT)
         AS mean_scaled
FROM g
"""

register(
    "lang_embedding_centroid", q_lang_embedding_centroid, SQL_LANG_EMBEDDING_CENTROID,
)


# ---------------------------------------------------------------------------
# Robust statistics: winsorized means and Theil–Sen trend.
# ---------------------------------------------------------------------------

def q_winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean order price per priority: clamp each price into the
    group's [p05, p95] band, then average — the outlier-robust location
    estimate every data-cleaning / feature pipeline needs before training.

    Bounds use ``percentile_disc`` (discrete: smallest value at cumulative
    share >= p — an ACTUAL data value, no interpolation), because
    interpolated percentiles are float arithmetic whose last bits are not
    engine-portable; discrete selection + integer-cents clamping + floor-
    division mean keeps every output bit-exact vs the oracle.

    Plan shape: two fact scans — a bounds aggregate, then the bounds frame
    (group-dimension sized, unhinted so AQE broadcasts it) re-joined for a
    map-side-combined clamp+mean.  Scale caveat, stated not hidden:
    percentile_disc buffers each group's values on its reducer, so with
    billions of rows per group the bounds pass swaps to a two-level
    count-by-value selection (cents are a bounded domain — the spend_gini
    block-decomposition posture) or approx_percentile bounds; the
    join/clamp/mean stages are scale-clean as-is.
    """
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pr"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    bounds = o.groupBy("pr").agg(
        F.expr("percentile_disc(0.05) within group (order by c)")
        .cast("bigint").alias("lo"),
        F.expr("percentile_disc(0.95) within group (order by c)")
        .cast("bigint").alias("hi"),
    )
    return (
        o.join(bounds, "pr")
        .groupBy("pr", "lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.expr("sum(least(greatest(c, lo), hi)) div count(*)")
            .cast("bigint").alias("winsor_mean_cents"),
            F.expr("sum(c) div count(*)").cast("bigint").alias("raw_mean_cents"),
        )
        .select(
            F.col("pr").alias("o_orderpriority"),
            "n_orders", "lo", "hi", "winsor_mean_cents", "raw_mean_cents",
        )
    )


SQL_WINSORIZED_PRICE_STATS = """
WITH base AS (
  SELECT o_orderpriority AS pr,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
),
b AS (
  SELECT pr,
         CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY c) AS BIGINT) AS lo,
         CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY c) AS BIGINT) AS hi
  FROM base GROUP BY pr
)
SELECT base.pr AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders, lo, hi,
       CAST(SUM(LEAST(GREATEST(c, lo), hi)) // count(*) AS BIGINT)
           AS winsor_mean_cents,
       CAST(SUM(c) // count(*) AS BIGINT) AS raw_mean_cents
FROM base JOIN b ON base.pr = b.pr
GROUP BY base.pr, lo, hi
"""

register("winsorized_price_stats", q_winsorized_price_stats, SQL_WINSORIZED_PRICE_STATS)


def q_theilsen_nation_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of yearly revenue per nation: the median of
    all pairwise slopes (rev_j - rev_i) / (year_j - year_i) — up to ~29%
    contaminated years cannot drag the estimate, unlike OLS
    (price_qty_ols), making the pair a robust/classical contrast on the
    same revenue series.

    Exactness: slopes are integer cents/year via floor division; the
    median is ``percentile_disc`` (an actual slope from the pair set, no
    interpolation) — bit-exact vs the oracle.

    Scale: the fact collapses to the nation x year dimension FIRST (exact
    cents sums, map-side combined), so the O(k²) pairwise self-join runs
    on |nations| * |years| rows — bounded by the time dimension, never by
    fact size.  Same posture as revenue_autocorr's daily-series collapse.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    yearly = (
        o.join(cust, o.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "yr")
        .agg(F.sum("c").alias("rev"))
    )
    a = yearly.select("n_name", F.col("yr").alias("y1"), F.col("rev").alias("r1"))
    b = yearly.select("n_name", F.col("yr").alias("y2"), F.col("rev").alias("r2"))
    slopes = (
        a.join(b, "n_name")
        .filter(F.col("y1") < F.col("y2"))
        .select("n_name", F.expr("(r2 - r1) div (y2 - y1)").alias("slope"))
    )
    return slopes.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("percentile_disc(0.5) within group (order by slope)")
        .cast("bigint").alias("ts_slope_cents_per_year"),
    )


SQL_THEILSEN_NATION_TREND = """
WITH yearly AS (
  SELECT n.n_name, CAST(year(o.o_orderdate) AS INT) AS yr,
         SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, yr
),
slopes AS (
  SELECT a.n_name,
         CAST((b.rev - a.rev) // (b.yr - a.yr) AS BIGINT) AS slope
  FROM yearly a JOIN yearly b
    ON a.n_name = b.n_name AND a.yr < b.yr
)
SELECT n_name, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY slope) AS BIGINT)
           AS ts_slope_cents_per_year
FROM slopes GROUP BY n_name
"""

register("theilsen_nation_trend", q_theilsen_nation_trend, SQL_THEILSEN_NATION_TREND)


# ---------------------------------------------------------------------------
# Model-evaluation metrics: distributed ROC-AUC and score calibration.
# Any scalar quality signal a training pipeline produces (classifier score,
# heuristic quality permille, one probe dimension of an embedding) needs
# these two evaluations before it gates data.
# ---------------------------------------------------------------------------


def q_embedding_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC-AUC of one embedding dimension as a classifier
    score for a binary label (label < 5), via the score-histogram
    formulation of the Mann-Whitney U statistic.

    Scale design: a naive AUC ranks every row globally (one giant sort).
    Instead, one groupBy(score) shuffle reduces n rows to k distinct
    scores with per-score (pos, neg) counts; the only ordered pass is a
    cumulative sum over that k-row histogram.  With average-rank tie
    handling, 2U = sum_i pos_i * (2*cumneg_i + neg_i) — kept doubled so
    every intermediate stays an exact BIGINT.  At 100 TB with a
    continuous score, quantize the score (e.g. round to 1e-6) to bound k;
    the result is then exact for the quantized score, which is what any
    rank metric over float scores means in practice.
    """
    from lakeforge.ops.evaluation import roc_auc

    emb = table(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.col("embedding")[0].cast("double").alias("score"),
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
    )
    return roc_auc(
        scored,
        "score",
        "pos",
        block_expr=F.floor(F.col("score") * 20).cast("bigint"),
    )


SQL_EMBEDDING_AUC = """
WITH s AS (
  SELECT CAST(embedding[1] AS DOUBLE) AS score,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings
),
hist AS (
  SELECT score, CAST(SUM(pos) AS BIGINT) AS pos_n,
         CAST(SUM(1 - pos) AS BIGINT) AS neg_n
  FROM s GROUP BY score
),
c AS (
  SELECT pos_n, neg_n,
         CAST(COALESCE(SUM(neg_n) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cumneg
  FROM hist
)
SELECT CAST(SUM(pos_n) AS BIGINT) AS n_pos,
       CAST(SUM(neg_n) AS BIGINT) AS n_neg,
       CAST(SUM(pos_n * (2 * cumneg + neg_n)) AS BIGINT) AS u2,
       CAST((1000 * SUM(pos_n * (2 * cumneg + neg_n)))
            // (2 * SUM(pos_n) * SUM(neg_n)) AS BIGINT) AS auc_permille
FROM c
"""

register("embedding_auc", q_embedding_auc, SQL_EMBEDDING_AUC)


def q_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table for a scalar score vs a binary label: fixed-width
    score bins (floor(score*20)), per-bin trials, positives, observed
    positive rate (permille), and the exact bin score mass in micro units
    — the table an ECE / reliability-diagram computation consumes.

    Single groupBy(bin) shuffle; every output is an exact integer
    (floor(score*1e6) summed, never a float mean), so the result hashes
    identically at any partitioning.  Negative sums are emitted raw
    rather than divided: integer division of negatives differs between
    engines (Spark `div` truncates, DuckDB `//` floors), so only
    non-negative quantities are ratioed.
    """
    from lakeforge.ops.evaluation import calibration_table

    emb = table(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.col("embedding")[0].cast("double").alias("score"),
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
    )
    return calibration_table(scored, "score", "pos", bins_per_unit=20)


SQL_SCORE_CALIBRATION = """
WITH s AS (
  SELECT CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 20) AS BIGINT) AS bin,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos,
         CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)
             AS micros
  FROM embeddings
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST((1000 * SUM(pos)) // COUNT(*) AS BIGINT) AS pos_permille,
       CAST(SUM(micros) AS BIGINT) AS sum_score_micros
FROM s GROUP BY bin ORDER BY bin
"""

register("score_calibration", q_score_calibration, SQL_SCORE_CALIBRATION)


def q_spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between line quantity and extended price,
    with exact average-rank tie handling — the robust (monotone, outlier-
    resistant) complement to the Pearson `qty_price_corr`.

    Scale design: no global row sort.  Each variable is reduced to a
    value histogram (groupBy value → count), average ranks come from a
    cumulative sum over the small distinct-value table, and rows get
    their ranks back via equi-joins (the 50-row quantity histogram is
    broadcast; the price histogram join is a plain shuffle equi-join).
    Doubled average ranks (2r = 2*cum_before + cnt + 1) are exact
    BIGINTs, so all five moment sums are exact integers; the single
    float step is the final rho division (rounded to 6 dp, identical
    IEEE inputs on both engines).  Moment sums fit BIGINT through
    ~sf1; promote to decimal(38,0) sums beyond that.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    li = persist_tracked(li)
    try:
        from lakeforge.ops.analytics import blocked_prefix_sum

        def ranks(col: str, block_width: int) -> DataFrame:
            # Two-level prefix sum: the price histogram has ~|rows|/2
            # distinct cents at this SF, so a single global cumulative
            # window would funnel it through one partition.  Value-range
            # blocks keep the ordered pass parallel (identical result).
            h = li.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
            h = blocked_prefix_sum(
                h,
                col,
                "cnt",
                F.floor(F.col(col) / F.lit(block_width)).cast("bigint"),
                out_col="__cum",
            )
            return h.select(
                col,
                (2 * F.col("__cum") + F.col("cnt") + 1)
                .cast("bigint")
                .alias(f"r2{col}"),
            )

        j = li.join(F.broadcast(ranks("x", 10)), "x").join(
            ranks("y", 1000000), "y"
        )
        m = j.agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("r2x").cast("decimal(38,0)").alias("sx"),
            F.sum("r2y").cast("decimal(38,0)").alias("sy"),
            F.sum(F.col("r2x") * F.col("r2x")).cast("decimal(38,0)").alias("sxx"),
            F.sum(F.col("r2y") * F.col("r2y")).cast("decimal(38,0)").alias("syy"),
            F.sum(F.col("r2x") * F.col("r2y")).cast("decimal(38,0)").alias("sxy"),
        )
        return m.select(
            F.col("n").cast("bigint").alias("n"),
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                    "double"
                )
                / (
                    F.sqrt(
                        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                        .cast("double")
                    )
                    * F.sqrt(
                        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                        .cast("double")
                    )
                ),
                6,
            ).alias("spearman_rho"),
        )
    finally:
        li.unpersist()


SQL_SPEARMAN_QTY_PRICE = """
WITH base AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
hx AS (
  SELECT x, CAST(2 * COALESCE(SUM(cnt) OVER (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + cnt + 1 AS BIGINT) AS r2x
  FROM (SELECT x, COUNT(*) AS cnt FROM base GROUP BY x)
),
hy AS (
  SELECT y, CAST(2 * COALESCE(SUM(cnt) OVER (ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + cnt + 1 AS BIGINT) AS r2y
  FROM (SELECT y, COUNT(*) AS cnt FROM base GROUP BY y)
),
m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(r2x) AS HUGEINT) AS sx,
         CAST(SUM(r2y) AS HUGEINT) AS sy,
         CAST(SUM(r2x * r2x) AS HUGEINT) AS sxx,
         CAST(SUM(r2y * r2y) AS HUGEINT) AS syy,
         CAST(SUM(r2x * r2y) AS HUGEINT) AS sxy
  FROM base JOIN hx USING (x) JOIN hy USING (y)
)
SELECT CAST(n AS BIGINT) AS n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
           AS spearman_rho
FROM m
"""

register("spearman_qty_price", q_spearman_qty_price, SQL_SPEARMAN_QTY_PRICE)


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension profile of the embedding column: count, exact value
    mass, extrema, and second moment in micro fixed-point — the feature-
    variance table that drives whitening / dead-dimension detection
    before embeddings feed ANN indexes or probes.

    One posexplode (rows x dims, JVM-side generator, no Python) and one
    groupBy(dim) shuffle of d partial aggregates per task — map-side
    combine reduces the shuffle to O(tasks x d).  All outputs are exact
    BIGINTs (floor(v * 1e6)), so results hash identically at any
    partitioning; second-moment sums fit BIGINT through ~1e9 rows at
    |v| <= 1 and promote to decimal(38,0) beyond.
    """
    emb = table(spark, sf_dir, "embeddings")
    d = emb.select(F.posexplode("embedding").alias("dim", "v")).select(
        F.col("dim").cast("int").alias("dim"),
        F.floor(F.col("v").cast("double") * 1000000).cast("bigint").alias("m"),
    )
    return d.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("m").cast("bigint").alias("sum_micros"),
        F.min("m").cast("bigint").alias("min_micros"),
        F.max("m").cast("bigint").alias("max_micros"),
        F.sum(F.col("m") * F.col("m")).cast("bigint").alias("sumsq_micros2"),
    )


SQL_EMBEDDING_DIM_STATS = """
WITH dims AS (
  SELECT UNNEST(generate_series(1,
         (SELECT MAX(len(embedding)) FROM embeddings))) AS i
),
d AS (
  SELECT CAST(i - 1 AS INT) AS dim,
         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS m
  FROM embeddings CROSS JOIN dims
  WHERE i <= len(embedding)
)
SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(m) AS BIGINT) AS sum_micros,
       CAST(MIN(m) AS BIGINT) AS min_micros,
       CAST(MAX(m) AS BIGINT) AS max_micros,
       CAST(SUM(m * m) AS BIGINT) AS sumsq_micros2
FROM d GROUP BY dim
"""

register("embedding_dim_stats", q_embedding_dim_stats, SQL_EMBEDDING_DIM_STATS)


def q_threshold_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix plus precision/recall/F1 (permille) for the
    score >= t classifier at a grid of thresholds — with AUC
    (`embedding_auc`) and the reliability table (`score_calibration`)
    this completes the scalar-signal evaluation family.

    One scan: each row contributes to every threshold via a small
    literal threshold array (posexplode of a 7-element lit array — a
    constant fan-out, not a join); one groupBy(threshold) shuffle of
    four partial counts.  All ratios are integer permille; F1's
    denominator uses 2TP+FP+FN so it stays in integers too.
    """
    from lakeforge.ops.evaluation import confusion_grid

    emb = table(spark, sf_dir, "embeddings")
    base = emb.select(
        F.floor(F.col("embedding")[0].cast("double") * 1000000)
        .cast("bigint")
        .alias("score_micros"),
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
    )
    # thresholds in micros: -300k .. +300k step 100k
    return confusion_grid(
        base, "score_micros", "pos", range(-300000, 300001, 100000)
    )


SQL_THRESHOLD_CONFUSION = """
WITH base AS (
  SELECT CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)
             AS score_micros,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings
),
grid AS (
  SELECT UNNEST([-300000, -200000, -100000, 0, 100000, 200000, 300000]) AS t
),
cells AS (
  SELECT t,
         CAST(SUM(CASE WHEN score_micros >= t THEN pos ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN score_micros >= t THEN 1 - pos ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN score_micros < t THEN pos ELSE 0 END)
              AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN score_micros < t THEN 1 - pos ELSE 0 END)
              AS BIGINT) AS tn
  FROM base CROSS JOIN grid GROUP BY t
)
SELECT CAST(t AS BIGINT) AS threshold_micros, tp, fp, fn, tn,
       CAST(CASE WHEN tp + fp > 0 THEN (1000 * tp) // (tp + fp) END
            AS BIGINT) AS precision_permille,
       CAST(CASE WHEN tp + fn > 0 THEN (1000 * tp) // (tp + fn) END
            AS BIGINT) AS recall_permille,
       CAST(CASE WHEN 2 * tp + fp + fn > 0
                 THEN (2000 * tp) // (2 * tp + fp + fn) END
            AS BIGINT) AS f1_permille
FROM cells
"""

register("threshold_confusion", q_threshold_confusion, SQL_THRESHOLD_CONFUSION)


def q_return_risk_auc_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation exact ROC-AUC of order price as a predictor of return
    risk (any lineitem returned) — the grouped variant of
    `embedding_auc`, and the fully scalable plan shape: the cumulative
    pass runs over per-nation score histograms with a PARTITIONED
    window, so no global ordering exists anywhere in the plan.

    Labels: one semi-style aggregation over lineitem (max of
    returnflag='R') keyed by order; groups: customer→nation broadcast
    chain.  Histogram per (nation, price-cent); doubled-rank integer
    arithmetic as in `embedding_auc`.  Nations with a degenerate class
    (all returned / none returned) emit NULL AUC rather than dividing
    by zero.
    """
    li = table(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("pos")
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("score"),
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select("n_name", "score", "pos")
    )
    from lakeforge.ops.evaluation import roc_auc

    return roc_auc(base, "score", "pos", ["n_name"]).select(
        "n_name", "n_pos", "n_neg", "auc_permille"
    )


SQL_RETURN_RISK_AUC_BY_NATION = """
WITH lab AS (
  SELECT l_orderkey,
         MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos
  FROM lineitem GROUP BY l_orderkey
),
base AS (
  SELECT n.n_name,
         CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS score,
         lab.pos
  FROM orders o
  JOIN lab ON o.o_orderkey = lab.l_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
hist AS (
  SELECT n_name, score,
         CAST(SUM(pos) AS BIGINT) AS pos_n,
         CAST(SUM(1 - pos) AS BIGINT) AS neg_n
  FROM base GROUP BY n_name, score
),
c2 AS (
  SELECT n_name, pos_n, neg_n,
         CAST(COALESCE(SUM(neg_n) OVER (PARTITION BY n_name ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cumneg
  FROM hist
),
agg AS (
  SELECT n_name,
         CAST(SUM(pos_n) AS BIGINT) AS n_pos,
         CAST(SUM(neg_n) AS BIGINT) AS n_neg,
         CAST(SUM(pos_n * (2 * cumneg + neg_n)) AS BIGINT) AS u2
  FROM c2 GROUP BY n_name
)
SELECT n_name, n_pos, n_neg,
       CAST(CASE WHEN n_pos > 0 AND n_neg > 0
                 THEN (1000 * u2) // (2 * n_pos * n_neg) END
            AS BIGINT) AS auc_permille
FROM agg
"""

register(
    "return_risk_auc_by_nation",
    q_return_risk_auc_by_nation,
    SQL_RETURN_RISK_AUC_BY_NATION,
)


def q_embedding_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PR curve for the embedding-dimension probe score
    (`embedding_auc`'s signal): one row per distinct score cut.

    The histogram's two prefix counts run through ONE two-level blocked
    decomposition (no single-partition ordered pass over the score
    domain — blocks of 0.05 in score space), totals attach broadcast.
    See ops/evaluation.pr_curve.
    """
    from lakeforge.ops.evaluation import pr_curve

    emb = table(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.col("embedding")[0].cast("double").alias("score"),
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
    )
    return pr_curve(
        scored, "score", "pos", F.floor(F.col("score") * 20).cast("bigint")
    )


SQL_EMBEDDING_PR_CURVE = """
WITH s AS (
  SELECT CAST(embedding[1] AS DOUBLE) AS score,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings
),
hist AS (
  SELECT score, CAST(SUM(pos) AS BIGINT) AS pos_n,
         CAST(SUM(1 - pos) AS BIGINT) AS neg_n
  FROM s GROUP BY score
),
cum AS (
  SELECT score, pos_n, neg_n,
         CAST(COALESCE(SUM(pos_n) OVER w, 0) AS BIGINT) AS cum_pos,
         CAST(COALESCE(SUM(neg_n) OVER w, 0) AS BIGINT) AS cum_neg
  FROM hist
  WINDOW w AS (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
tot AS (
  SELECT CAST(SUM(pos_n) AS BIGINT) AS n_pos,
         CAST(SUM(neg_n) AS BIGINT) AS n_neg
  FROM hist
)
SELECT score AS score_cut,
       CAST(n_pos - cum_pos AS BIGINT) AS tp,
       CAST(n_neg - cum_neg AS BIGINT) AS fp,
       CAST((1000 * (n_pos - cum_pos))
            // ((n_pos - cum_pos) + (n_neg - cum_neg)) AS BIGINT)
           AS precision_permille,
       CAST(CASE WHEN n_pos > 0
                 THEN (1000 * (n_pos - cum_pos)) // n_pos END AS BIGINT)
           AS recall_permille
FROM cum CROSS JOIN tot
"""

register("embedding_pr_curve", q_embedding_pr_curve, SQL_EMBEDDING_PR_CURVE)


def q_quantile_sketch_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-histogram quantile estimation calibrated against the
    exact rank percentile — the sketch-quality eval for the quantile
    path you actually run at 100 TB (a fixed equi-width histogram is
    mergeable across partitions/files; Spark's exact `percentile`
    buffers values per group and is not).

    Estimate path: 256 equi-width bins over the integer cent domain
    (one groupBy(bin) shuffle), rank interpolation inside the target
    bin in pure integer math.  Exact path: distinct-cent histogram with
    the two-level blocked prefix sum — percentile_disc semantics
    (smallest value whose cumulative count reaches ceil(q*n)) without a
    global single-partition pass.  Both sides join the 3-row target
    table as broadcast fan-outs; every output is an exact BIGINT, and
    the DuckDB oracle replays the estimator bit-for-bit (so estimator
    REGRESSIONS, not just bounds, fail the gate).
    """
    from lakeforge.ops.analytics import blocked_prefix_sum

    o = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c")
    )
    o = persist_tracked(o)
    try:
        stats = o.agg(
            F.min("c").alias("cmin"),
            F.max("c").alias("cmax"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        qs = spark.range(1).select(
            F.explode(F.array(F.lit(500), F.lit(900), F.lit(990))).alias(
                "q_permille"
            )
        )
        targets = qs.crossJoin(F.broadcast(stats)).select(
            "q_permille",
            "cmin",
            "n",
            ((F.col("cmax") - F.col("cmin")) / 256 + 1)
            .cast("bigint")
            .alias("width"),
            F.expr("(q_permille * n + 999) div 1000").alias("t"),
        )
        # --- estimate: 256-bin equi-width histogram + integer interpolation
        binned = (
            o.crossJoin(F.broadcast(stats.select("cmin", "cmax")))
            .select(
                F.expr(
                    "(c - cmin) div (((cmax - cmin) div 256) + 1)"
                ).alias("b")
            )
            .groupBy("b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
        bins = binned.withColumn(
            "cum", F.coalesce(F.sum("cnt").over(wb), F.lit(0)).cast("bigint")
        )  # <=256 rows: the tiny-summary global window is the design
        est = (
            bins.join(
                F.broadcast(targets),
                (F.col("cum") < F.col("t"))
                & (F.col("t") <= F.col("cum") + F.col("cnt")),
            )
            .select(
                "q_permille",
                (
                    F.col("cmin")
                    + F.col("b") * F.col("width")
                    + F.expr("((t - cum) * width) div cnt")
                )
                .cast("bigint")
                .alias("est_cents"),
            )
        )
        # --- exact: distinct-cent histogram, blocked prefix sum, rank pick
        h = o.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        h = blocked_prefix_sum(
            h, "c", "cnt", F.expr("c div 1000000"), out_col="cum"
        )
        exact = (
            h.join(
                F.broadcast(targets.select("q_permille", "t")),
                (F.col("cum") < F.col("t"))
                & (F.col("t") <= F.col("cum") + F.col("cnt")),
            )
            .select("q_permille", F.col("c").alias("exact_cents"))
        )
        return (
            est.join(exact, "q_permille")
            .select(
                F.col("q_permille").cast("bigint").alias("q_permille"),
                "exact_cents",
                "est_cents",
                F.abs(F.col("est_cents") - F.col("exact_cents"))
                .cast("bigint")
                .alias("abs_err_cents"),
            )
        )
    finally:
        o.unpersist()


SQL_QUANTILE_SKETCH_CALIBRATION = """
WITH c0 AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders
),
stats AS (
  SELECT MIN(c) AS cmin, MAX(c) AS cmax, CAST(COUNT(*) AS BIGINT) AS n
  FROM c0
),
targets AS (
  SELECT q_permille, cmin, n,
         ((cmax - cmin) // 256) + 1 AS width,
         (q_permille * n + 999) // 1000 AS t
  FROM (SELECT UNNEST([500, 900, 990]) AS q_permille) CROSS JOIN stats
),
binned AS (
  SELECT (c - cmin) // (((cmax - cmin) // 256) + 1) AS b,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM c0 CROSS JOIN stats GROUP BY 1
),
bins AS (
  SELECT b, cnt,
         CAST(COALESCE(SUM(cnt) OVER (ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum
  FROM binned
),
est AS (
  SELECT tg.q_permille,
         CAST(tg.cmin + bins.b * tg.width
              + ((tg.t - bins.cum) * tg.width) // bins.cnt AS BIGINT)
             AS est_cents
  FROM bins JOIN targets tg
    ON bins.cum < tg.t AND tg.t <= bins.cum + bins.cnt
),
h AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(COALESCE(SUM(COUNT(*)) OVER (ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum
  FROM c0 GROUP BY c
),
exact AS (
  SELECT tg.q_permille, h.c AS exact_cents
  FROM h JOIN targets tg
    ON h.cum < tg.t AND tg.t <= h.cum + h.cnt
)
SELECT CAST(est.q_permille AS BIGINT) AS q_permille,
       exact.exact_cents, est.est_cents,
       CAST(ABS(est.est_cents - exact.exact_cents) AS BIGINT)
           AS abs_err_cents
FROM est JOIN exact USING (q_permille)
"""

register(
    "quantile_sketch_calibration",
    q_quantile_sketch_calibration,
    SQL_QUANTILE_SKETCH_CALIBRATION,
)


def q_join_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for orders.o_custkey — the measurement that
    decides between a plain shuffle join, AQE skew splitting, and
    explicit salting (`salted_skew_revenue` is the remedy; this is the
    diagnosis).

    Two cheap reductions: per-key counts (the join's own shuffle
    geometry), then the freq-of-freq histogram (|distinct frequencies|
    rows — tiny) whose cumulative pass picks exact p50/p99 frequencies.
    Outputs are exact integers: skew_ratio_permille =
    1000*max_freq*n_keys/n_rows (max partition-key load vs perfectly
    even), and recommended_salt = ceil(max_freq / p50_freq) — the
    fan-out that levels the hottest key to a median key's cost.
    """
    per_key = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    fof = per_key.groupBy("f").agg(
        F.count(F.lit(1)).cast("bigint").alias("nk")
    )
    w = Window.orderBy("f").rowsBetween(Window.unboundedPreceding, -1)
    cum = fof.withColumn(
        "cum", F.coalesce(F.sum("nk").over(w), F.lit(0)).cast("bigint")
    )  # |distinct frequencies| rows — single tiny ordered pass by design
    tot = cum.agg(
        F.sum(F.col("f") * F.col("nk")).cast("bigint").alias("n_rows"),
        F.sum("nk").cast("bigint").alias("n_keys"),
        F.max("f").cast("bigint").alias("max_freq"),
    )
    picks = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "f",
            "nk",
            "cum",
            "n_keys",
            F.expr("(500 * n_keys + 999) div 1000").alias("t50"),
            F.expr("(990 * n_keys + 999) div 1000").alias("t99"),
        )
    )
    p50 = picks.filter(
        (F.col("cum") < F.col("t50")) & (F.col("t50") <= F.col("cum") + F.col("nk"))
    ).select(F.col("f").alias("p50_freq"))
    p99 = picks.filter(
        (F.col("cum") < F.col("t99")) & (F.col("t99") <= F.col("cum") + F.col("nk"))
    ).select(F.col("f").alias("p99_freq"))
    return (
        tot.crossJoin(F.broadcast(p50))
        .crossJoin(F.broadcast(p99))
        .select(
            "n_rows",
            "n_keys",
            "max_freq",
            "p50_freq",
            "p99_freq",
            F.expr("(1000 * max_freq * n_keys) div n_rows")
            .cast("bigint")
            .alias("skew_ratio_permille"),
            F.expr("(max_freq + p50_freq - 1) div p50_freq")
            .cast("bigint")
            .alias("recommended_salt"),
        )
    )


SQL_JOIN_SKEW_ADVISOR = """
WITH per_key AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS f
  FROM orders GROUP BY o_custkey
),
fof AS (
  SELECT f, CAST(COUNT(*) AS BIGINT) AS nk FROM per_key GROUP BY f
),
cum AS (
  SELECT f, nk,
         CAST(COALESCE(SUM(nk) OVER (ORDER BY f
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum
  FROM fof
),
tot AS (
  SELECT CAST(SUM(f * nk) AS BIGINT) AS n_rows,
         CAST(SUM(nk) AS BIGINT) AS n_keys,
         CAST(MAX(f) AS BIGINT) AS max_freq
  FROM cum
),
p50 AS (
  SELECT f AS p50_freq FROM cum CROSS JOIN tot
  WHERE cum < (500 * n_keys + 999) // 1000
    AND (500 * n_keys + 999) // 1000 <= cum + nk
),
p99 AS (
  SELECT f AS p99_freq FROM cum CROSS JOIN tot
  WHERE cum < (990 * n_keys + 999) // 1000
    AND (990 * n_keys + 999) // 1000 <= cum + nk
)
SELECT n_rows, n_keys, max_freq, p50_freq, p99_freq,
       CAST((1000 * max_freq * n_keys) // n_rows AS BIGINT)
           AS skew_ratio_permille,
       CAST((max_freq + p50_freq - 1) // p50_freq AS BIGINT)
           AS recommended_salt
FROM tot CROSS JOIN p50 CROSS JOIN p99
"""

register("join_skew_advisor", q_join_skew_advisor, SQL_JOIN_SKEW_ADVISOR)


def q_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution with deterministic integer credit:
    every view in the 30 minutes before a same-user purchase shares the
    purchase's 1000 permille of credit equally; the integer remainder
    goes to the LAST touch (closest view, ties broken by view_id) so the
    split is exact and engine-independent.  Credit mass rolls up by the
    view's hour-of-day — "which hours' impressions actually convert".

    The pair generation is the bounded interval join (the batch twin of
    streaming/events.attribute_purchases — shuffle by
    user_id, per-user fan-out bounded by the gap window); the per-
    purchase window is keyed by purchase_id (parallel), and the rollup
    is one tiny groupBy(hour).
    """
    from lakeforge.io.sources import read_events

    ev = read_events(spark, sf_dir)
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    # same bounded interval-join shape as streaming/events.attribute_
    # purchases (which projects view_ts away); shuffle by user, per-user
    # fan-out bounded by the 30-minute window
    pairs = v.join(
        p,
        (v["user_id"] == p["p_user_id"])
        & (p["purchase_ts"] >= v["view_ts"])
        & (
            p["purchase_ts"]
            <= v["view_ts"] + F.expr("INTERVAL 30 MINUTES")
        ),
    )
    w = Window.partitionBy("purchase_id")
    wr = Window.partitionBy("purchase_id").orderBy(
        F.col("view_ts").desc(), F.col("view_id").desc()
    )
    credited = pairs.select(
        "view_id",
        "view_ts",
        "purchase_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.row_number().over(wr).alias("rn"),
    ).withColumn(
        "credit",
        F.expr("1000 div n + CASE WHEN rn = 1 THEN 1000 % n ELSE 0 END"),
    )
    return credited.groupBy(F.hour("view_ts").alias("view_hour")).agg(
        F.sum("credit").cast("bigint").alias("credit_permille"),
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.countDistinct("purchase_id").cast("bigint").alias("purchases_touched"),
    )


SQL_MULTITOUCH_ATTRIBUTION = """
WITH v AS (SELECT event_id AS view_id, user_id, ts AS view_ts
           FROM events WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_id, user_id AS p_user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'),
pairs AS (
  SELECT v.view_id, v.view_ts, p.purchase_id
  FROM v JOIN p
    ON v.user_id = p.p_user_id
   AND p.purchase_ts >= v.view_ts
   AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE
),
credited AS (
  SELECT view_id, view_ts, purchase_id,
         COUNT(*) OVER (PARTITION BY purchase_id) AS n,
         ROW_NUMBER() OVER (PARTITION BY purchase_id
                            ORDER BY view_ts DESC, view_id DESC) AS rn
  FROM pairs
)
SELECT CAST(hour(view_ts) AS INT) AS view_hour,
       CAST(SUM(1000 // n + CASE WHEN rn = 1 THEN 1000 % n ELSE 0 END)
            AS BIGINT) AS credit_permille,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS purchases_touched
FROM credited GROUP BY 1
"""

register("multitouch_attribution", q_multitouch_attribution, SQL_MULTITOUCH_ATTRIBUTION)


def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: for each
    FK relationship, child row count, orphan rows (no parent key), and
    distinct orphan keys — the cross-table completeness gate that
    row-level expectations (orders_expectations) can't express.

    Each CHILD table is scanned ONCE (r8: the first version ran one
    anti-join plus one count per relationship — six passes over
    lineitem alone, the silver_check.py n-actions shape): all of a
    child's FKs resolve through LEFT joins against slim parent-key
    projections carrying a presence marker (unhinted — AQE broadcasts
    dim-sized parents at runtime; the lineitem->orders leg stays a
    shuffle join at fact scale), and one conditional aggregate emits
    child rows + orphan rows + distinct orphan keys for every
    relationship of that child.  Three scans, three aggregates, five
    audit rows."""

    def parent_keys(name: str, pk: str, marker: str) -> DataFrame:
        # DISTINCT before the marked LEFT join: the parent side is its
        # PRIMARY key, but an integrity audit must stay correct on the
        # corrupted data it exists to catch — a duplicated parent PK
        # would otherwise fan child rows out and inflate every count
        # for that child.  The slim key-only distinct shuffles no wider
        # than the countDistinct aggregates below already do.
        return (
            table(spark, sf_dir, name)
            .select(F.col(pk).alias(f"__{marker}_k"))
            .distinct()
            .withColumn(f"__{marker}", F.lit(1))
        )

    def rel_row(src: DataFrame, name: str, ck: str, marker: str) -> DataFrame:
        return src.select(
            F.lit(name).alias("relationship"),
            "child_rows",
            F.col(f"orphan_rows_{marker}").alias("orphan_rows"),
            F.col(f"orphan_keys_{marker}").alias("orphan_keys"),
        )

    def audit(child: DataFrame, fks: list) -> DataFrame:
        # fks: [(rel_name, child_key, parent_table, parent_pk, marker)]
        j = child
        for _, ck, pt, pk, m in fks:
            j = j.join(
                parent_keys(pt, pk, m),
                j[ck] == F.col(f"__{m}_k"),
                "left",
            )
        aggs = [F.count(F.lit(1)).cast("bigint").alias("child_rows")]
        for _, ck, _, _, m in fks:
            orphan = F.col(f"__{m}").isNull()
            aggs += [
                F.sum(F.when(orphan, 1).otherwise(0))
                .cast("bigint")
                .alias(f"orphan_rows_{m}"),
                F.countDistinct(F.when(orphan, F.col(ck)))
                .cast("bigint")
                .alias(f"orphan_keys_{m}"),
            ]
        summary = j.agg(*aggs)
        rows = [rel_row(summary, name, ck, m) for name, ck, _, _, m in fks]
        res = rows[0]
        for r in rows[1:]:
            res = res.unionByName(r)
        return res

    li_audit = audit(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey"
        ),
        [
            ("lineitem.l_orderkey->orders", "l_orderkey", "orders",
             "o_orderkey", "o"),
            ("lineitem.l_partkey->part", "l_partkey", "part",
             "p_partkey", "p"),
            ("lineitem.l_suppkey->supplier", "l_suppkey", "supplier",
             "s_suppkey", "s"),
        ],
    )
    o_audit = audit(
        table(spark, sf_dir, "orders").select("o_custkey"),
        [("orders.o_custkey->customer", "o_custkey", "customer",
          "c_custkey", "c")],
    )
    c_audit = audit(
        table(spark, sf_dir, "customer").select("c_nationkey"),
        [("customer.c_nationkey->nation", "c_nationkey", "nation",
          "n_nationkey", "n")],
    )
    return o_audit.unionByName(li_audit).unionByName(c_audit)


SQL_FK_INTEGRITY_AUDIT = """
SELECT 'orders.o_custkey->customer' AS relationship,
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS child_rows,
       CAST(COUNT(*) AS BIGINT) AS orphan_rows,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS orphan_keys
FROM orders WHERE NOT EXISTS
  (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
UNION ALL
SELECT 'lineitem.l_orderkey->orders',
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
       CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
FROM lineitem WHERE NOT EXISTS
  (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
UNION ALL
SELECT 'lineitem.l_partkey->part',
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
       CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT l_partkey) AS BIGINT)
FROM lineitem WHERE NOT EXISTS
  (SELECT 1 FROM part WHERE p_partkey = l_partkey)
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
       CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)
FROM lineitem WHERE NOT EXISTS
  (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
UNION ALL
SELECT 'customer.c_nationkey->nation',
       CAST((SELECT COUNT(*) FROM customer) AS BIGINT),
       CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT c_nationkey) AS BIGINT)
FROM customer WHERE NOT EXISTS
  (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)
"""

register("fk_integrity_audit", q_fk_integrity_audit, SQL_FK_INTEGRITY_AUDIT)


def q_orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profile in ONE pass: per column, row count,
    nulls, distinct values, and the mode (top-1) frequency — the generic
    profiler a catalog runs on every landed table, as opposed to the
    typed per-column profiles (stats_profile / string_profile).

    Columns unpivot through a stack() projection into (col, val) rows
    — a constant 6-way fan-out, no join — then one groupBy(col, val)
    histogram feeds a per-column rollup.  Values render through
    engine-stable casts (integers/strings verbatim, money as cents,
    timestamps to dates) so the profile hashes identically on both
    engines; all outputs are exact BIGINTs.
    """
    o = table(spark, sf_dir, "orders")
    pairs = o.select(
        F.expr(
            "stack(6,"
            " 'o_orderkey', CAST(o_orderkey AS STRING),"
            " 'o_custkey', CAST(o_custkey AS STRING),"
            " 'o_orderstatus', o_orderstatus,"
            " 'o_totalprice_cents', CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS STRING),"
            " 'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS STRING),"
            " 'o_orderpriority', o_orderpriority"
            ") AS (col, val)"
        )
    )
    hist = pairs.groupBy("col", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    return hist.groupBy("col").agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("val").isNull(), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_nulls"),
        F.sum(F.when(F.col("val").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_distinct"),
        F.max(F.when(F.col("val").isNotNull(), F.col("cnt")))
        .cast("bigint")
        .alias("mode_freq"),
    )


SQL_ORDERS_COLUMN_PROFILE = """
WITH pairs AS (
  SELECT 'o_orderkey' AS col, CAST(o_orderkey AS VARCHAR) AS val FROM orders
  UNION ALL
  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_orderstatus', o_orderstatus FROM orders
  UNION ALL
  SELECT 'o_totalprice_cents',
         CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_orderpriority', o_orderpriority FROM orders
),
hist AS (
  SELECT col, val, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pairs GROUP BY col, val
)
SELECT col,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN val IS NULL THEN cnt ELSE 0 END) AS BIGINT)
           AS n_nulls,
       CAST(SUM(CASE WHEN val IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_distinct,
       CAST(MAX(CASE WHEN val IS NOT NULL THEN cnt END) AS BIGINT)
           AS mode_freq
FROM hist GROUP BY col
"""

register("orders_column_profile", q_orders_column_profile, SQL_ORDERS_COLUMN_PROFILE)


def q_segmented_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented regression around the CUSUM changepoint: the classic
    'find the break, then refit each regime' workflow as one query.
    Locates the change day exactly as `revenue_changepoint`, then fits
    closed-form OLS of daily revenue (cents) on the day index on each
    side of the break.

    Everything after the fact→date collapse is dimension-bounded
    (~thousands of day rows); moment sums for each side are exact
    DECIMAL(38,0); the only floats are the final slope divisions
    (round 6, identical IEEE on both engines).  Ties in the CUSUM max
    break to the earliest day, so the segmentation is deterministic.
    """
    o = table(spark, sf_dir, "orders")
    daily = persist_tracked(
        o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev")
        )
    )
    w = Window.orderBy("day")  # date-dimension-bounded (post-aggregate)
    cum = daily.withColumn("i", F.row_number().over(w)).withColumn(
        "cum",
        F.sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    stats = daily.agg(
        F.sum("rev").cast("decimal(38,0)").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dev = persist_tracked(
        cum.crossJoin(F.broadcast(stats)).select(
            "day",
            "i",
            "rev",
            F.abs(d("cum") - d("i") * (d("total") / d("n"))).alias("ad"),
        )
    )
    mx = dev.agg(F.max("ad").alias("m"))
    cp = (
        dev.crossJoin(F.broadcast(mx))
        .filter(F.col("ad") == F.col("m"))
        .agg(F.min("day").alias("cp_day"))
    )
    sides = dev.crossJoin(F.broadcast(cp)).select(
        F.when(F.col("day") <= F.col("cp_day"), F.lit("before"))
        .otherwise(F.lit("after"))
        .alias("side"),
        "i",
        "rev",
    )
    m = sides.groupBy("side").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("i").cast("decimal(38,0)").alias("sx"),
        F.sum("rev").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("i") * F.col("i")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("i") * F.col("rev")).cast("decimal(38,0)").alias("sxy"),
    )
    return m.select(
        "side",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("sy").cast("bigint").alias("total_rev_cents"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (
                F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
            ).cast("double"),
            6,
        ).alias("slope_cents_per_day"),
    )


SQL_SEGMENTED_REVENUE_TREND = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS rev
  FROM orders GROUP BY 1
),
cum AS (
  SELECT day, rev,
         ROW_NUMBER() OVER (ORDER BY day) AS i,
         SUM(rev) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM daily
),
stats AS (SELECT CAST(SUM(rev) AS HUGEINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS n FROM daily),
dev AS (
  SELECT day, i, rev,
         ABS(CAST(cum AS DOUBLE)
             - CAST(i AS DOUBLE) * (CAST(total AS DOUBLE) / CAST(n AS DOUBLE)))
             AS ad
  FROM cum CROSS JOIN stats
),
mx AS (SELECT MAX(ad) AS m FROM dev),
cp AS (SELECT MIN(day) AS cp_day FROM dev CROSS JOIN mx WHERE ad = m),
sides AS (
  SELECT CASE WHEN day <= cp_day THEN 'before' ELSE 'after' END AS side,
         i, rev
  FROM dev CROSS JOIN cp
),
m AS (
  SELECT side,
         CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(i) AS HUGEINT) AS sx,
         CAST(SUM(rev) AS HUGEINT) AS sy,
         CAST(SUM(i * i) AS HUGEINT) AS sxx,
         CAST(SUM(i * rev) AS HUGEINT) AS sxy
  FROM sides GROUP BY side
)
SELECT side,
       CAST(n AS BIGINT) AS n_days,
       CAST(sy AS BIGINT) AS total_rev_cents,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6)
           AS slope_cents_per_day
FROM m
"""

register(
    "segmented_revenue_trend", q_segmented_revenue_trend, SQL_SEGMENTED_REVENUE_TREND,
)


def q_cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B metric: per-user purchase
    value in the later half of the event window (metric y), adjusted by
    the earlier-half value (pre-period covariate x) with the pooled
    theta = cov(x,y)/var(x) — the standard experimentation technique
    that shrinks metric variance by corr(x,y)^2 without biasing the
    difference between arms.  Variant assignment is the deterministic
    user_id % 2 (the synthetic events carry no experiment column).

    One scan builds per-user (x, y) in exact cents (the epoch-seconds
    midpoint is integer arithmetic); pooled moments are exact
    DECIMAL(38,0) sums, per-variant means likewise; theta, adjusted
    means, and the variance-reduction ratio are the only float steps
    (round 6 / permille floor — identical IEEE on both engines).
    """
    from lakeforge.io.sources import read_events

    ev = read_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    ev = ev.select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("es"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    ev = persist_tracked(ev)
    span = ev.agg(
        F.expr("(min(es) + max(es)) div 2").cast("bigint").alias("mid")
    )
    per_user = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("es") < F.col("mid"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(F.col("es") >= F.col("mid"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("y"),
        )
        .withColumn("variant", (F.col("user_id") % 2).cast("int"))
    )
    per_user = persist_tracked(per_user)
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    g = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("decimal(38,0)").alias("vsx"),
        F.sum("y").cast("decimal(38,0)").alias("vsy"),
    )
    return (
        g.crossJoin(F.broadcast(pooled))
        .select(
            "variant",
            "n_users",
            F.round(d("vsy") / F.col("n_users"), 6).alias("mean_y_cents"),
            F.round(
                d("vsy") / F.col("n_users")
                - (
                    (d("n") * d("sxy") - d("sx") * d("sy"))
                    / (d("n") * d("sxx") - d("sx") * d("sx"))
                )
                * (d("vsx") / F.col("n_users") - d("sx") / d("n")),
                6,
            ).alias("adjusted_mean_y_cents"),
            F.floor(
                F.lit(1000.0)
                * F.pow(d("n") * d("sxy") - d("sx") * d("sy"), F.lit(2.0))
                / (
                    (d("n") * d("sxx") - d("sx") * d("sx"))
                    * (d("n") * d("syy") - d("sy") * d("sy"))
                )
            )
            .cast("bigint")
            .alias("var_reduction_permille"),
        )
        .orderBy("variant")
    )


SQL_CUPED_ADJUSTED_LIFT = """
WITH ev AS (
  SELECT user_id,
         CAST(epoch(ts) AS BIGINT) AS es,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
span AS (SELECT (MIN(es) + MAX(es)) // 2 AS mid FROM ev),
per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN es < mid THEN cents ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN es >= mid THEN cents ELSE 0 END) AS BIGINT) AS y,
         CAST(user_id % 2 AS INT) AS variant
  FROM ev CROSS JOIN span GROUP BY user_id
),
pooled AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS sx,
         CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(x * x) AS HUGEINT) AS sxx,
         CAST(SUM(y * y) AS HUGEINT) AS syy,
         CAST(SUM(x * y) AS HUGEINT) AS sxy
  FROM per_user
),
g AS (
  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(x) AS HUGEINT) AS vsx,
         CAST(SUM(y) AS HUGEINT) AS vsy
  FROM per_user GROUP BY variant
)
SELECT variant, n_users,
       round(CAST(vsy AS DOUBLE) / n_users, 6) AS mean_y_cents,
       round(CAST(vsy AS DOUBLE) / n_users
             - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
               * (CAST(vsx AS DOUBLE) / n_users
                  - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6)
           AS adjusted_mean_y_cents,
       CAST(FLOOR(1000.0
            * POW(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2.0)
            / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS BIGINT)
           AS var_reduction_permille
FROM g CROSS JOIN pooled
ORDER BY variant
"""

register("cuped_adjusted_lift", q_cuped_adjusted_lift, SQL_CUPED_ADJUSTED_LIFT)
