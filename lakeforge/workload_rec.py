"""Recursive-CTE, link-analysis, and reconciliation workload.

Spark 4 ships native ``WITH RECURSIVE`` (SPARK-24497): the anchor seeds a
working table, the recursive step (``UNION ALL`` only — UNION-distinct is
rejected by the analyzer, probed on 4.1.2) expands the PREVIOUS iteration's
rows, and a level limit (``spark.sql.cteRecursionLevelLimit``, default 100)
bounds runaway recursion.  That makes recursion safe exactly for LINEAR
shapes — calendar spines, per-row iterative computations with a strictly
decreasing measure — while graph frontiers (which need UNION-dedup to stay
bounded) remain the job of the iterative operators in ``ops/graph.py``
(``bfs_depths`` / ``sssp_hops``); both styles are covered here side by side.

The reference's pipelines materialize date dimensions and iterate
imperatively host-side (Big_Data_Task batch entry points — see SURVEY.md
§3); this module re-expresses those as declarative recursion the optimizer
can see, plus HITS link analysis and an item-item co-purchase recommender
over the same trade graph.

Scale notes (100 TB):
- Recursive CTE depth is rounds of a driver-coordinated loop, exactly like
  the iterative graph ops: the per-level working table here is tiny (one
  row per month / one row per live supplier), so each level is a narrow
  stage regardless of fact-table size.  The facts are touched once, outside
  the recursion.
- HITS rounds are two hash aggregations per round on the (hub, auth) edge
  list plus a broadcast-scalar normalization (the documented BNLJ
  broadcast-scalar fan-out shape) — no per-round shuffle of anything wider
  than the edge list's two key columns.
- The co-purchase self-join shuffles ONLY (orderkey, partkey) pairs; the
  per-basket fan-out is bounded by basket size (≤ ~7 lines/order in
  TPC-H-shaped data), so pair count is O(|lineitem| * basket), not
  quadratic in the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeforge.io.sources import table
from lakeforge.registry import register


def _with_recursion_limit(spark: SparkSession, limit: int, build) -> DataFrame:
    """Run ``build() -> DataFrame`` under a raised
    ``spark.sql.cteRecursionLevelLimit``, eagerly materialize it
    (``localCheckpoint``) so the recursion EXECUTES while the raised limit
    is active, then restore the prior session value (ADVICE r05 #3: a bare
    ``conf.set`` silently raised the recursion guard for every subsequent
    query in the shared session).  The checkpoint is safe here because
    recursive results are spine-sized (months / live suppliers), never
    fact-sized.

    The checkpoint's RDD blocks are registered with the cache registry
    (VERDICT r06 #1 / ADVICE r06 #3: they previously persisted for the
    session lifetime — ``cache_leaks: 3`` in BENCH_r06).  Same
    ``checkpoint_eager`` + ``track_rdds`` discipline as ``ops/graph.py``:
    the blocks release at the caller's query boundary, after the result
    has been materialized."""
    from lakeforge import cache

    key = "spark.sql.cteRecursionLevelLimit"
    try:
        prior = spark.conf.get(key)
    except Exception:
        prior = None
    spark.conf.set(key, str(limit))
    try:
        out, new_ids = cache.checkpoint_eager(build())
        cache.track_rdds(spark, new_ids)
        return out
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


# ---------------------------------------------------------------------------
# Native recursive CTE #1: calendar month spine + gap-fill.
# ---------------------------------------------------------------------------

def q_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month spine via native ``WITH RECURSIVE`` (Spark 4), left-joined to
    monthly order aggregates so months with zero orders still appear —
    the gap-fill shape every calendar report needs, without a data-driven
    spine (a month with no rows cannot come FROM the data).

    The recursion is linear (one row per level, bounded by the data's month
    span); ``cteRecursionLevelLimit`` is raised so a century of months fits.
    Revenue is BIGINT cents (exact; double->cents rounding is identical in
    Spark and DuckDB for 2-decimal money).

    The [lo, hi] bounds are reduced ONCE to two driver scalars and injected
    as literals (the same bounded single-collect pattern as
    trade_bfs_reach's source node): a recursive step that references a CTE
    over the fact table re-evaluates that CTE at EVERY level — measured
    19s vs ~1s at sf0.01, and at 100 TB it would be 80 full fact scans.
    The DuckDB oracle keeps the pure-SQL bounds CTE (it materializes CTEs),
    so the two formulations also cross-check each other.
    """
    orders = table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("ord_spine")
    lo, hi = orders.agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date"),
        F.date_trunc("month", F.max("o_orderdate")).cast("date"),
    ).collect()[0]
    return _with_recursion_limit(spark, 1200, lambda: spark.sql(f"""
WITH RECURSIVE spine(month_start) AS (
  SELECT DATE '{lo.isoformat()}'
  UNION ALL
  SELECT CAST(add_months(month_start, 1) AS DATE)
  FROM spine WHERE month_start < DATE '{hi.isoformat()}'
),
rev AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
         CAST(count(*) AS BIGINT) AS n_orders,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS revenue_cents
  FROM ord_spine GROUP BY 1
)
SELECT s.month_start,
       CAST(COALESCE(r.n_orders, 0) AS BIGINT) AS n_orders,
       CAST(COALESCE(r.revenue_cents, 0) AS BIGINT) AS revenue_cents
FROM spine s LEFT JOIN rev r ON r.month_start = s.month_start
"""))


SQL_RECURSIVE_MONTH_SPINE = """
WITH RECURSIVE bounds AS (
  SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS lo,
         CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS hi
  FROM orders
),
spine(month_start) AS (
  SELECT lo FROM bounds
  UNION ALL
  SELECT CAST(s.month_start + INTERVAL 1 MONTH AS DATE)
  FROM spine s JOIN bounds b ON s.month_start < b.hi
),
rev AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
         CAST(count(*) AS BIGINT) AS n_orders,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS revenue_cents
  FROM orders GROUP BY 1
)
SELECT s.month_start,
       CAST(COALESCE(r.n_orders, 0) AS BIGINT) AS n_orders,
       CAST(COALESCE(r.revenue_cents, 0) AS BIGINT) AS revenue_cents
FROM spine s LEFT JOIN rev r ON r.month_start = s.month_start
"""

register("recursive_month_spine", q_recursive_month_spine, SQL_RECURSIVE_MONTH_SPINE)


# ---------------------------------------------------------------------------
# Native recursive CTE #2: per-row iterative computation with data-dependent
# termination (each supplier's balance amortizes on its own schedule).
# ---------------------------------------------------------------------------

def q_recursive_balance_depletion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier amortization via native ``WITH RECURSIVE``: each round
    pays down 25% of the outstanding balance plus a 1000-cent fee until the
    balance is depleted; report how many suppliers take each number of
    rounds.  Unlike the month spine the termination depth VARIES PER ROW —
    the working table shrinks as suppliers deplete, which is exactly what
    recursion expresses and a closed-form window cannot.

    All-integer arithmetic (cents, ``DIV`` floor division on positive
    operands) so Spark and the DuckDB recursive oracle agree bit-for-bit.
    The next-balance expression is strictly decreasing for positive
    balances, so termination is guaranteed; depth is O(log balance)
    (~30 levels for 6-digit balances), far under the raised level limit.
    """
    table(spark, sf_dir, "supplier").createOrReplaceTempView("supp_dep")
    return _with_recursion_limit(spark, 1200, lambda: spark.sql("""
WITH RECURSIVE dep(s_suppkey, balance_cents, r) AS (
  SELECT s_suppkey, CAST(ROUND(s_acctbal * 100) AS BIGINT), 0
  FROM supp_dep WHERE s_acctbal > 0
  UNION ALL
  SELECT s_suppkey, (balance_cents * 3) DIV 4 - 1000, r + 1
  FROM dep WHERE balance_cents > 0
),
fin AS (
  SELECT s_suppkey, MAX(r) AS rounds_to_deplete FROM dep GROUP BY s_suppkey
)
SELECT CAST(rounds_to_deplete AS INT) AS rounds_to_deplete,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(min(s_suppkey) AS BIGINT) AS min_suppkey,
       CAST(max(s_suppkey) AS BIGINT) AS max_suppkey
FROM fin GROUP BY 1
"""))


SQL_RECURSIVE_BALANCE_DEPLETION = """
WITH RECURSIVE dep(s_suppkey, balance_cents, r) AS (
  SELECT s_suppkey, CAST(ROUND(s_acctbal * 100) AS BIGINT), 0
  FROM supplier WHERE s_acctbal > 0
  UNION ALL
  SELECT s_suppkey, (balance_cents * 3) // 4 - 1000, r + 1
  FROM dep WHERE balance_cents > 0
),
fin AS (
  SELECT s_suppkey, MAX(r) AS rounds_to_deplete FROM dep GROUP BY s_suppkey
)
SELECT CAST(rounds_to_deplete AS INT) AS rounds_to_deplete,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(min(s_suppkey) AS BIGINT) AS min_suppkey,
       CAST(max(s_suppkey) AS BIGINT) AS max_suppkey
FROM fin GROUP BY 1
"""

register(
    "recursive_balance_depletion",
    q_recursive_balance_depletion,
    SQL_RECURSIVE_BALANCE_DEPLETION,
)


# ---------------------------------------------------------------------------
# Item-item co-purchase recommender (collaborative filtering, exact).
# ---------------------------------------------------------------------------

def q_copurchase_item_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over order baskets: for every pair
    of parts bought together, cosine^2 similarity in integer basis points —
    ``co^2 * 10000 / (n_a * n_b)`` with counts over DISTINCT baskets — the
    classic co-occurrence recommender kernel (Amazon item-to-item, Linden
    et al. 2003), kept exact-integer so the oracle agrees bit-for-bit.

    Plan: the basket self-join shuffles only (orderkey, partkey) and its
    fan-out is bounded by basket size (pairs = O(rows * basket), never
    quadratic in the table).  The per-part count side is part-dimension
    sized — left UNHINTED so AQE broadcasts it while it fits and falls back
    to a shuffle join at catalog scale.  Top-30 by (sim, co, a, b) is a
    total order, so the LIMIT is deterministic on both engines.
    """
    li = table(spark, sf_dir, "lineitem")
    # r12 note: persisting items was tried and REVERTED (ABBA A/B ratio
    # 1.17x WORSE) — AQE's runtime exchange reuse already dedupes the
    # symmetric distinct subtree; the persist only adds a materialization.
    items = li.select("l_orderkey", "l_partkey").distinct()
    cnt = items.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co_cnt"))
    )
    ca = cnt.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    cb = cnt.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .select(
            F.col("part_a").cast("bigint").alias("part_a"),
            F.col("part_b").cast("bigint").alias("part_b"),
            "co_cnt", "n_a", "n_b",
            F.expr("co_cnt * co_cnt * 10000 DIV (n_a * n_b)")
            .cast("bigint").alias("cos2_bps"),
        )
        .orderBy(
            F.col("cos2_bps").desc(), F.col("co_cnt").desc(),
            F.col("part_a").asc(), F.col("part_b").asc(),
        )
        .limit(30)
    )


SQL_COPURCHASE_ITEM_SIM = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
cnt AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS co_cnt
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT CAST(part_a AS BIGINT) AS part_a, CAST(part_b AS BIGINT) AS part_b,
       co_cnt, ca.n AS n_a, cb.n AS n_b,
       CAST(co_cnt * co_cnt * 10000 // (ca.n * cb.n) AS BIGINT) AS cos2_bps
FROM pairs
JOIN cnt ca ON ca.l_partkey = part_a
JOIN cnt cb ON cb.l_partkey = part_b
ORDER BY cos2_bps DESC, co_cnt DESC, part_a ASC, part_b ASC
LIMIT 30
"""

register("copurchase_item_sim", q_copurchase_item_sim, SQL_COPURCHASE_ITEM_SIM)


# ---------------------------------------------------------------------------
# HITS hubs & authorities over the bipartite trade graph.
# ---------------------------------------------------------------------------

def q_trade_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) on the bipartite part->supplier trade graph:
    parts are hubs, suppliers are authorities; two mutual-reinforcement
    rounds with integer parts-per-million normalization (divide by the
    round's max via floor division) so the fixed-round scores are exact and
    the unrolled-CTE oracle replays them bit-for-bit.  Top-15 suppliers by
    authority, ties broken by key (total order -> deterministic LIMIT).

    Uses :func:`lakeforge.ops.graph.hits_ppm`.  Plan: each round is two
    hash aggregations over the 2-column edge list plus a broadcast-scalar
    max (the documented BNLJ broadcast-scalar fan-out); the score vectors
    are vertex-dimension sized and broadcast into the edge join, so the
    persisted edge list is never re-shuffled per round (same discipline as
    pagerank_trade at workload_rel.py).
    """
    from lakeforge.ops.graph import hits_ppm

    # no .distinct() here — hits_ppm dedups the edge list itself (a second
    # distinct would just be a second full shuffle of the same pairs)
    edges = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("hub"), F.col("l_suppkey").alias("auth")
    )
    _hubs, auths = hits_ppm(edges, "hub", "auth", rounds=2, broadcast_scores=True)
    return (
        auths.select(
            F.col("auth").cast("bigint").alias("s_suppkey"),
            F.col("auth_ppm").cast("bigint").alias("auth_ppm"),
        )
        .orderBy(F.col("auth_ppm").desc(), F.col("s_suppkey").asc())
        .limit(15)
    )


SQL_TRADE_HITS_SCORES = """
WITH e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
a1 AS (SELECT s, CAST(count(*) AS BIGINT) * 1000000 AS a1 FROM e0 GROUP BY s),
m1 AS (SELECT max(a1) AS m FROM a1),
a1n AS (SELECT s, (a1 * 1000000) // m AS a1n FROM a1, m1),
h1 AS (SELECT p, SUM(a1n) AS h1 FROM e0 JOIN a1n USING (s) GROUP BY p),
m2 AS (SELECT max(h1) AS m FROM h1),
h1n AS (SELECT p, (h1 * 1000000) // m AS h1n FROM h1, m2),
a2 AS (SELECT s, SUM(h1n) AS a2 FROM e0 JOIN h1n USING (p) GROUP BY s),
m3 AS (SELECT max(a2) AS m FROM a2),
a2n AS (SELECT s, (a2 * 1000000) // m AS auth_ppm FROM a2, m3)
SELECT CAST(s AS BIGINT) AS s_suppkey, CAST(auth_ppm AS BIGINT) AS auth_ppm
FROM a2n ORDER BY auth_ppm DESC, s_suppkey ASC LIMIT 15
"""

register("trade_hits_scores", q_trade_hits_scores, SQL_TRADE_HITS_SCORES)


# ---------------------------------------------------------------------------
# Merkle-style anti-entropy snapshot reconciliation.
# ---------------------------------------------------------------------------

def q_snapshot_merkle_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy reconciliation of two order snapshots WITHOUT joining
    them (ops/merge.py::merkle_bucket_diff): rows hash into 16384 buckets
    by key, each bucket's content digest is an XOR of 60-bit row hashes
    (commutative -> partitioning-independent, md5-based -> engine-
    reproducible), and only bucket digests are compared.  Reports per
    status ('equal' / 'differs') how many buckets and rows fall on each
    side.  The v2 snapshot reuses orders_snapshot_diff's perturbation
    (removals %101, price bumps %97, negated-key additions %103), so the
    two reconciliation styles cross-check: the keyed table_diff sees the
    same drift this digest pass flags.

    At 100 TB the keyed diff shuffles both tables; this first pass
    shuffles 16384 digest rows after map-side combine, and only the
    differing fraction of buckets would need the row-level second pass.
    Hash columns are canonicalized first (cents not doubles, date strings
    not timestamps) — raw double renderings differ across engines.
    """
    from lakeforge.ops.merge import merkle_bucket_diff

    o = table(spark, sf_dir, "orders")

    def canon(df: DataFrame) -> DataFrame:
        return df.select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )

    v1 = canon(o)
    v2 = canon(
        o.filter(F.col("o_custkey") % 101 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_custkey") % 97 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            o.filter(F.col("o_custkey") % 103 == 0).withColumn(
                "o_orderkey", -F.col("o_orderkey")
            )
        )
    )
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "price_cents",
            "order_date", "o_orderpriority"]
    d = merkle_bucket_diff(v1, v2, ["o_orderkey"], cols, n_buckets=16384)
    return d.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("n_a").cast("bigint").alias("rows_v1"),
        F.sum("n_b").cast("bigint").alias("rows_v2"),
    )


def _sql_merkle_diff() -> str:
    from lakeforge.functions.keys import duckdb_md5_int_sql

    canon_cols = (
        "o_orderkey, o_custkey, o_orderstatus, "
        "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents, "
        "CAST(o_orderdate AS DATE) AS order_date, o_orderpriority"
    )
    parts = ["o_orderkey", "o_custkey", "o_orderstatus", "price_cents",
             "order_date", "o_orderpriority"]
    rowh = duckdb_md5_int_sql(parts)
    keyh = duckdb_md5_int_sql(["o_orderkey"])
    return f"""
WITH v1 AS (SELECT {canon_cols} FROM orders),
v2_src AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_custkey % 97 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_custkey % 101 <> 0
  UNION ALL
  SELECT -o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_custkey % 103 = 0
),
v2 AS (SELECT {canon_cols} FROM v2_src),
da AS (
  SELECT {keyh} % 16384 AS bucket, bit_xor({rowh}) AS d, 
         CAST(count(*) AS BIGINT) AS n
  FROM v1 GROUP BY 1
),
db AS (
  SELECT {keyh} % 16384 AS bucket, bit_xor({rowh}) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM v2 GROUP BY 1
),
j AS (
  SELECT COALESCE(da.bucket, db.bucket) AS bucket,
         CASE WHEN da.d IS NOT DISTINCT FROM db.d
               AND da.n IS NOT DISTINCT FROM db.n
              THEN 'equal' ELSE 'differs' END AS status,
         COALESCE(da.n, 0) AS n_a, COALESCE(db.n, 0) AS n_b
  FROM da FULL OUTER JOIN db ON da.bucket = db.bucket
)
SELECT status, CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(SUM(n_a) AS BIGINT) AS rows_v1,
       CAST(SUM(n_b) AS BIGINT) AS rows_v2
FROM j GROUP BY status
"""


register("snapshot_merkle_diff", q_snapshot_merkle_diff, _sql_merkle_diff())
