"""Round-9 wave operators: fourteen new oracle-paired families (two waves).

- revenue_bridge_pvm        — price-volume-mix bridge (YoY revenue decomposition)
- bps_largest_remainder     — Hamilton largest-remainder basis-point allocation
- scd4_order_versions       — SCD Type 4 current + versioned history split
- fuzzy_name_ld1_pairs      — FastSS deletion-neighborhood edit-distance-1 dedup
- word_burstiness           — corpus word dispersion (variance-to-mean ratio)
- source_vocab_overlap      — pairwise source vocabulary Jaccard matrix
- kanon_generalization_ladder — minimal k-anonymous generalization level (ROLLUP)
- order_interarrival_profile  — per-segment order inter-arrival gap statistics
- single_source_risk        — supply-chain single-sourcing exposure by brand
- rrf_hybrid_search         — reciprocal-rank fusion of BM25 + cosine retrieval
- mmr_diverse_topk          — maximal-marginal-relevance diverse top-k (integer d²)
- lang_confusion_matrix     — language-ID classifier confusion matrix (wave 2)
- docs_gate_funnel          — quality-gate attrition funnel, one scan (wave 2)
- skipgram_pmi_pairs        — windowed skip-gram PMI co-occurrence (wave 2)

Repo conventions throughout: exact integer/DECIMAL arithmetic on both
engines (cents / e-4-dollar units, integral ``div``, DECIMAL(38,0) /
HUGEINT widening before any product that could overflow int64 at the
100 TB target), bounded fan-outs documented per op, one DuckDB oracle
per query.  Reference parity: Big_Data_Task (bronze_to_silver.py /
silver_check.py) has no counterpart for any of these — this is engine
surface extending SURVEY.md §2.9's analytics / LLM-pipeline families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakeforge.io.sources import table
from lakeforge.registry import register


# ---------------------------------------------------------------------------
# BI: price-volume-mix bridge.  Decomposes the 1996->1997 revenue change
# per nation into a volume effect (quantity change at held-constant 1996
# unit value) and a residual price/mix effect.  The classic two-factor
# waterfall every revenue review starts from.
#
# Exactness: revenue is kept in e-4-dollar integer units
# (cents x (100 - discount-percent)), summed as DECIMAL(38,0)/HUGEINT so
# a 100 TB fact table cannot overflow, and the volume effect is the
# integral division (dq x r96) div q96 — truncation toward zero on both
# engines, residual defined as delta - vol so the bridge always ties out.
#
# Plan: one lineitem scan with the year filter pushed down, one hash
# aggregate to (nation, year) cells (map-side combinable), then a
# 25-row pivot — nothing wider than the cell table shuffles.  customer
# is UNHINTED (sf-scaling side); nation broadcasts.
# ---------------------------------------------------------------------------

def q_revenue_bridge_pvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(1996, 1997)
    ).select(
        "l_orderkey",
        F.year("l_shipdate").cast("int").alias("yr"),
        F.round("l_quantity").cast("bigint").alias("qty"),
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).cast("decimal(38,0)").alias("rev_e4"),
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cells = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "yr")
        .agg(
            F.sum("qty").cast("decimal(38,0)").alias("q"),
            F.sum("rev_e4").cast("decimal(38,0)").alias("r"),
        )
    )
    y96 = cells.filter(F.col("yr") == 1996).select(
        "n_name", F.col("q").alias("q96"), F.col("r").alias("r96")
    )
    y97 = cells.filter(F.col("yr") == 1997).select(
        "n_name", F.col("q").alias("q97"), F.col("r").alias("r97")
    )
    return (
        y96.join(y97, "n_name")
        .filter(F.col("q96") > 0)
        .select(
            "n_name",
            F.col("r96").cast("bigint").alias("rev96_e4"),
            F.col("r97").cast("bigint").alias("rev97_e4"),
            (F.col("r97") - F.col("r96")).cast("bigint").alias("delta_e4"),
            F.expr("CAST((q97 - q96) * r96 div q96 AS BIGINT)")
            .alias("volume_effect_e4"),
            F.expr(
                "CAST(r97 - r96 - ((q97 - q96) * r96 div q96) AS BIGINT)"
            ).alias("price_mix_effect_e4"),
        )
    )


SQL_REVENUE_BRIDGE_PVM = """
WITH cells AS (
  SELECT n.n_name,
         CAST(year(l.l_shipdate) AS INTEGER) AS yr,
         CAST(SUM(CAST(round(l.l_quantity) AS BIGINT)) AS HUGEINT) AS q,
         CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
              AS HUGEINT) AS r
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  WHERE year(l.l_shipdate) IN (1996, 1997)
  GROUP BY n.n_name, yr
),
y96 AS (SELECT n_name, q AS q96, r AS r96 FROM cells WHERE yr = 1996),
y97 AS (SELECT n_name, q AS q97, r AS r97 FROM cells WHERE yr = 1997)
SELECT y96.n_name,
       CAST(r96 AS BIGINT) AS rev96_e4,
       CAST(r97 AS BIGINT) AS rev97_e4,
       CAST(r97 - r96 AS BIGINT) AS delta_e4,
       CAST((q97 - q96) * r96 // q96 AS BIGINT) AS volume_effect_e4,
       CAST(r97 - r96 - ((q97 - q96) * r96 // q96) AS BIGINT)
           AS price_mix_effect_e4
FROM y96 JOIN y97 USING (n_name)
WHERE q96 > 0
"""

register("revenue_bridge_pvm", q_revenue_bridge_pvm, SQL_REVENUE_BRIDGE_PVM)


# ---------------------------------------------------------------------------
# Allocation: Hamilton / largest-remainder apportionment.  Distribute
# exactly 10,000 basis points across nations proportional to 1997 order
# revenue: every nation gets floor(rev x 10000 / total); the leftover
# points go one each to the largest remainders (ties broken on nation
# name).  The standard exact method for budget splits, seat apportionment,
# and pro-rata rebates where the parts must sum EXACTLY to the whole.
#
# Plan: one fact aggregate to 25 nation cells, then windows over the
# dimension-sized frame.  rev x 10000 is widened to DECIMAL(38,0)/HUGEINT
# before the multiply (cents x 1e4 overflows int64 at ~1e15 cents).
# ---------------------------------------------------------------------------

def q_bps_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1997).select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_nation = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("cents").cast("decimal(38,0)").alias("rev"))
    )
    w_all = Window.partitionBy()
    scaled = per_nation.select(
        "n_name",
        F.col("rev").cast("bigint").alias("rev_cents"),
        F.expr("CAST(rev * 10000 div SUM(rev) OVER () AS BIGINT)").alias("floor_bps"),
        F.expr(
            "CAST(rev * 10000 - (rev * 10000 div SUM(rev) OVER ())"
            " * SUM(rev) OVER () AS DECIMAL(38,0))"
        ).alias("rem"),
    )
    ranked = scaled.select(
        "n_name",
        "rev_cents",
        "floor_bps",
        F.row_number()
        .over(Window.partitionBy().orderBy(F.col("rem").desc(), F.col("n_name")))
        .alias("rem_rank"),
        (F.lit(10000) - F.sum("floor_bps").over(w_all)).alias("leftover"),
    )
    return ranked.select(
        "n_name",
        "rev_cents",
        "floor_bps",
        F.when(F.col("rem_rank") <= F.col("leftover"), F.lit(1))
        .otherwise(F.lit(0)).cast("bigint").alias("extra"),
        (
            F.col("floor_bps")
            + F.when(F.col("rem_rank") <= F.col("leftover"), F.lit(1)).otherwise(
                F.lit(0)
            )
        ).cast("bigint").alias("bps"),
    )


SQL_BPS_LARGEST_REMAINDER = """
WITH per_nation AS (
  SELECT n.n_name,
         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  WHERE year(o.o_orderdate) = 1997
  GROUP BY n.n_name
),
scaled AS (
  SELECT n_name,
         CAST(rev AS BIGINT) AS rev_cents,
         CAST(rev * 10000 // SUM(rev) OVER () AS BIGINT) AS floor_bps,
         rev * 10000 - (rev * 10000 // SUM(rev) OVER ()) * SUM(rev) OVER () AS rem
  FROM per_nation
),
ranked AS (
  SELECT n_name, rev_cents, floor_bps,
         row_number() OVER (ORDER BY rem DESC, n_name) AS rem_rank,
         10000 - SUM(floor_bps) OVER () AS leftover
  FROM scaled
)
SELECT n_name, rev_cents, floor_bps,
       CAST(CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
       CAST(floor_bps + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS bps
FROM ranked
"""

register("bps_largest_remainder", q_bps_largest_remainder, SQL_BPS_LARGEST_REMAINDER)


# ---------------------------------------------------------------------------
# Warehouse: SCD Type 4 — the current/history table split (completes the
# repo's SCD family: SCD2 validity intervals, SCD3 previous-value
# columns, and now SCD4's separate versioned history).  Per customer the
# order stream becomes version-numbered history rows plus an is_current
# marker on the latest; a downstream "current table" is the is_current
# slice, the "history table" is the rest.
#
# Plan: one window per customer (key-partitioned, calendar-bounded
# partition sizes) — no global sort, no self-join.  Output bounded to
# custkey < 100 so the oracle multiset stays small at any SF.
# ---------------------------------------------------------------------------

def q_scd4_order_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100).select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        "o_orderpriority",
    )
    w = Window.partitionBy("o_custkey").orderBy("order_date", "o_orderkey")
    wn = Window.partitionBy("o_custkey")
    return o.select(
        "o_custkey",
        F.row_number().over(w).cast("bigint").alias("version"),
        "o_orderkey",
        "order_date",
        "o_orderpriority",
        (
            F.row_number().over(w) == F.count(F.lit(1)).over(wn)
        ).alias("is_current"),
    )


SQL_SCD4_ORDER_VERSIONS = """
SELECT o_custkey,
       CAST(row_number() OVER w AS BIGINT) AS version,
       o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       o_orderpriority,
       row_number() OVER w = COUNT(*) OVER (PARTITION BY o_custkey)
           AS is_current
FROM orders
WHERE o_custkey < 100
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
"""

register("scd4_order_versions", q_scd4_order_versions, SQL_SCD4_ORDER_VERSIONS)


# ---------------------------------------------------------------------------
# Privacy: k-anonymity generalization-ladder search.  Given the nested
# generalization ladder (priority, status, year) -> (priority, status)
# -> (priority) -> (), find the minimal level whose smallest
# quasi-identifier group has at least K members — the standard release
# decision: generalize no more than anonymity requires.
#
# Plan: ONE fact scan via ROLLUP (map-side-combinable partial aggregate,
# Catalyst expands the grouping sets in a single Expand+Aggregate — no
# per-level rescan), then a 4-row level summary + window for the chosen
# flag.  Nothing wider than the rollup cell table shuffles.
# ---------------------------------------------------------------------------

_KANON_K = 10


def q_kanon_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderstatus",
        F.year("o_orderdate").cast("int").alias("order_year"),
    )
    cells = (
        o.rollup("o_orderpriority", "o_orderstatus", "order_year")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
    )
    levels = cells.groupBy("gid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min("n").alias("min_group_size"),
    )
    # gid 0 = (p,s,y), 1 = (p,s), 3 = (p), 7 = () — map to level 0..3.
    lvl = (
        F.when(F.col("gid") == 0, 0)
        .when(F.col("gid") == 1, 1)
        .when(F.col("gid") == 3, 2)
        .otherwise(3)
    ).cast("bigint")
    w_min = Window.partitionBy()
    flagged = levels.select(
        lvl.alias("level"),
        "n_groups",
        "min_group_size",
        (F.col("min_group_size") >= _KANON_K).alias("k_ok"),
    )
    chosen = F.min(F.when(F.col("k_ok"), F.col("level"))).over(w_min)
    return flagged.select(
        "level",
        "n_groups",
        "min_group_size",
        "k_ok",
        (F.col("level") == chosen).alias("is_chosen"),
    )


SQL_KANON_GENERALIZATION_LADDER = f"""
WITH cells AS (
  SELECT o_orderpriority, o_orderstatus,
         CAST(year(o_orderdate) AS INTEGER) AS order_year,
         CAST(count(*) AS BIGINT) AS n,
         CAST(GROUPING(o_orderpriority, o_orderstatus,
                       year(o_orderdate)) AS BIGINT) AS gid
  FROM orders
  GROUP BY ROLLUP (o_orderpriority, o_orderstatus, year(o_orderdate))
),
levels AS (
  SELECT CASE gid WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 3 THEN 2 ELSE 3 END
             AS level,
         CAST(count(*) AS BIGINT) AS n_groups,
         MIN(n) AS min_group_size
  FROM cells GROUP BY 1
)
SELECT CAST(level AS BIGINT) AS level, n_groups, min_group_size,
       min_group_size >= {_KANON_K} AS k_ok,
       level = MIN(CASE WHEN min_group_size >= {_KANON_K} THEN level END)
               OVER () AS is_chosen
FROM levels
"""

register(
    "kanon_generalization_ladder",
    q_kanon_generalization_ladder,
    SQL_KANON_GENERALIZATION_LADDER,
)


# ---------------------------------------------------------------------------
# Stats: order inter-arrival gap profile per market segment.  The gap
# between a customer's consecutive orders is the base quantity of every
# churn / purchase-frequency model; this profiles it exactly: gap count,
# min/max, and mean in micro-days (integral division — no float drift).
#
# Plan: one key-partitioned LAG window (customer partitions are
# calendar-bounded), one hash aggregate to the 5 segment cells.  The
# customer dimension joins UNHINTED (sf-scaling side; AQE decides).
# ---------------------------------------------------------------------------

def q_order_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(F.col("d"), F.lag("d").over(w)).cast("bigint").alias("gap"),
    ).filter(F.col("gap").isNotNull())
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        gaps.join(c, gaps.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.min("gap").alias("min_gap_days"),
            F.max("gap").alias("max_gap_days"),
            F.expr(
                "CAST(CAST(SUM(gap) AS DECIMAL(38,0)) * 1000000"
                " div COUNT(*) AS BIGINT)"
            ).alias("mean_gap_microdays"),
        )
    )


SQL_ORDER_INTERARRIVAL_PROFILE = """
WITH gaps AS (
  SELECT o_custkey,
         CAST(datediff('day',
              lag(CAST(o_orderdate AS DATE)) OVER w,
              CAST(o_orderdate AS DATE)) AS BIGINT) AS gap
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey
               ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
)
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_gaps,
       MIN(gap) AS min_gap_days,
       MAX(gap) AS max_gap_days,
       CAST(CAST(SUM(gap) AS HUGEINT) * 1000000 // count(*) AS BIGINT)
           AS mean_gap_microdays
FROM gaps g JOIN customer c ON g.o_custkey = c.c_custkey
WHERE gap IS NOT NULL
GROUP BY c.c_mktsegment
"""

register(
    "order_interarrival_profile",
    q_order_interarrival_profile,
    SQL_ORDER_INTERARRIVAL_PROFILE,
)


# ---------------------------------------------------------------------------
# Supply chain: single-sourcing exposure by brand.  A part served by ONE
# supplier is a continuity risk; this measures, per brand, how many
# traded parts are single-sourced and what share of the brand's spend
# (cents, ppm) rides on them.
#
# Plan: lineitem collapses to per-part (distinct-supplier count, spend)
# in one aggregate — count_distinct over the (part, supp) pair is the
# only wide shuffle and it is keyed by part.  part joins UNHINTED
# (sf-scaling side); output is brand-bounded.
# ---------------------------------------------------------------------------

def q_single_source_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.count_distinct("l_suppkey").cast("bigint").alias("n_supp"),
        F.sum("cents").cast("decimal(38,0)").alias("spend"),
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        per_part.join(p, per_part.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum(F.when(F.col("n_supp") == 1, 1).otherwise(0))
            .cast("bigint").alias("n_single_sourced"),
            F.sum("spend").cast("bigint").alias("spend_cents"),
            F.sum(F.when(F.col("n_supp") == 1, F.col("spend")).otherwise(F.lit(0)))
            .cast("bigint").alias("single_spend_cents"),
            F.expr(
                "CAST(SUM(CASE WHEN n_supp = 1 THEN spend ELSE 0 END)"
                " * 1000000 div SUM(spend) AS BIGINT)"
            ).alias("single_spend_ppm"),
        )
    )


SQL_SINGLE_SOURCE_RISK = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS HUGEINT)
             AS spend
  FROM lineitem GROUP BY l_partkey
)
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(SUM(CASE WHEN n_supp = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_single_sourced,
       CAST(SUM(spend) AS BIGINT) AS spend_cents,
       CAST(SUM(CASE WHEN n_supp = 1 THEN spend ELSE 0 END) AS BIGINT)
           AS single_spend_cents,
       CAST(SUM(CASE WHEN n_supp = 1 THEN spend ELSE 0 END) * 1000000
            // SUM(spend) AS BIGINT) AS single_spend_ppm
FROM per_part pp JOIN part p ON pp.l_partkey = p.p_partkey
GROUP BY p.p_brand
"""

register("single_source_risk", q_single_source_risk, SQL_SINGLE_SOURCE_RISK)


# ---------------------------------------------------------------------------
# Text: word burstiness (variance-to-mean ratio across documents) for the
# top-V corpus words.  A word whose occurrences CLUMP into few documents
# (VMR >> 1) is topical; one spread evenly (VMR ~ 1, Poisson-like) is
# function-like.  Standard dispersion diagnostic for stopword lists and
# keyword extraction.
#
# Exactness: with Sx = total count, Sx2 = sum of squared per-doc counts,
# N = corpus docs (absent docs count 0), population VMR = var/mean =
# (N*Sx2 - Sx^2) / (N*Sx) — all integers; emitted in ppm via integral
# division with DECIMAL(38,0)/HUGEINT widening.
#
# Plan: one tokenize+explode scan, per-(word, doc) counts only for the
# top-V words (vocab top-V is a TakeOrderedAndProject, broadcast back as
# a bounded 50-row artifact), one 1-row corpus-size scalar.
# ---------------------------------------------------------------------------

_BURST_V = 50


def q_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.cache import persist_tracked

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    words = persist_tracked(
        d.select(
            "doc_id", F.explode(F.split(F.col("text"), " +")).alias("w")
        ).filter(F.col("w") != "")
    )
    top = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(_BURST_V)
        .select("w")
    )
    per_doc = (
        words.join(F.broadcast(top), "w")  # bounded 50-row artifact
        .groupBy("w", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    n_docs = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        per_doc.groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_with"),
            F.sum("x").cast("decimal(38,0)").alias("sx"),
            F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sx2"),
        )
        .crossJoin(F.broadcast(n_docs))  # 1-row scalar
        .select(
            "w",
            "n_docs_with",
            F.col("sx").cast("bigint").alias("total_count"),
            F.expr(
                "CAST((n_docs * sx2 - sx * sx) * 1000000"
                " div (n_docs * sx) AS BIGINT)"
            ).alias("vmr_ppm"),
        )
    )


SQL_WORD_BURSTINESS = f"""
WITH words AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(string_split_regex(text, ' +')) AS w
        FROM documents)
  WHERE w <> ''
),
top AS (
  SELECT w FROM words GROUP BY w
  ORDER BY count(*) DESC, w LIMIT {_BURST_V}
),
per_doc AS (
  SELECT w.w, w.doc_id, CAST(count(*) AS BIGINT) AS x
  FROM words w JOIN top USING (w)
  GROUP BY w.w, w.doc_id
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT w,
       CAST(count(*) AS BIGINT) AS n_docs_with,
       CAST(SUM(x) AS BIGINT) AS total_count,
       CAST((CAST(nd.n_docs AS HUGEINT) * SUM(CAST(x AS HUGEINT) * x)
             - CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) * SUM(CAST(x AS HUGEINT)))
            * 1000000
            // (CAST(nd.n_docs AS HUGEINT) * SUM(CAST(x AS HUGEINT)))
            AS BIGINT) AS vmr_ppm
FROM per_doc, nd
GROUP BY w, nd.n_docs
"""

register("word_burstiness", q_word_burstiness, SQL_WORD_BURSTINESS)


# ---------------------------------------------------------------------------
# Text: pairwise source-vocabulary overlap (Jaccard, ppm).  Which corpus
# sources speak the same vocabulary?  Drives source dedup, mixture
# weighting, and contamination triage between feeds.
#
# Plan: one DISTINCT (source, word) collapse; the pair join is keyed on
# the WORD, and each word contributes at most C(n_sources, 2) pairs —
# with a schema-bounded source count the candidate volume is linear in
# distinct (source, word) rows.  Vocab sizes join in as a bounded
# |sources|-row broadcast.
# ---------------------------------------------------------------------------

def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.cache import persist_tracked

    d = table(spark, sf_dir, "documents").select("source", "text")
    vocab = persist_tracked(
        d.select(
            "source", F.explode(F.split(F.col("text"), " +")).alias("w")
        )
        .filter(F.col("w") != "")
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    a = vocab.select(F.col("source").alias("source_a"), "w")
    b = vocab.select(F.col("source").alias("source_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("v").alias("va"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("v").alias("vb"))
    return (
        inter.join(F.broadcast(sa), "source_a")  # |sources|-bounded
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_inter",
            (F.col("va") + F.col("vb") - F.col("n_inter")).alias("n_union"),
            F.expr(
                "CAST(CAST(n_inter AS DECIMAL(38,0)) * 1000000"
                " div (va + vb - n_inter) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


SQL_SOURCE_VOCAB_OVERLAP = """
WITH vocab AS (
  SELECT DISTINCT source, w
  FROM (SELECT source, unnest(string_split_regex(text, ' +')) AS w
        FROM documents)
  WHERE w <> ''
),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS v FROM vocab GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, i.n_inter,
       sa.v + sb.v - i.n_inter AS n_union,
       CAST(CAST(i.n_inter AS HUGEINT) * 1000000
            // (sa.v + sb.v - i.n_inter) AS BIGINT) AS jaccard_ppm
FROM inter i
JOIN sizes sa ON i.source_a = sa.source
JOIN sizes sb ON i.source_b = sb.source
"""

register("source_vocab_overlap", q_source_vocab_overlap, SQL_SOURCE_VOCAB_OVERLAP)


# ---------------------------------------------------------------------------
# Fuzzy dedup: edit-distance-1 name pairs via the FastSS deletion
# neighborhood (Bocek et al. 2007) — the edit-distance modality the
# dedup family did not cover (exact fp / MinHash / SimHash / n-gram
# Jaccard / containment / embedding LSH all exist).  Two strings within
# Levenshtein distance 1 ALWAYS share a member of their deletion
# neighborhoods (the string itself + every single-character deletion),
# so candidates form ONLY inside shared-variant buckets and the exact
# distance verifies each candidate — recall is provably 1.0, no
# all-pairs scan exists in the plan.
#
# Plan: distinct names (a vocabulary — grows far slower than rows),
# explode to len+1 variants, variant equi-join, verify with the
# built-in levenshtein.  Candidate volume is sum(len+1) over names;
# per-variant fan-out tracks true near-dup density.  The oracle states
# the SEMANTICS (all LD<=1 pairs) naively — fine at oracle scale.
# ---------------------------------------------------------------------------

def q_fuzzy_name_ld1_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = table(spark, sf_dir, "part").select("p_name").distinct()
    variants = names.select(
        "p_name",
        F.explode(
            F.expr(
                "array_union(array(p_name),"
                " transform(sequence(1, length(p_name)),"
                " i -> concat(substring(p_name, 1, i - 1),"
                " substring(p_name, i + 1, length(p_name)))))"
            )
        ).alias("variant"),
    )
    a = variants.select(F.col("p_name").alias("name_a"), "variant")
    b = variants.select(F.col("p_name").alias("name_b"), "variant")
    return (
        a.join(b, "variant")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
        .filter(F.levenshtein("name_a", "name_b") <= 1)
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("bigint").alias("dist"),
        )
    )


SQL_FUZZY_NAME_LD1_PAIRS = """
WITH names AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM names a JOIN names b ON a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 1
"""

register("fuzzy_name_ld1_pairs", q_fuzzy_name_ld1_pairs, SQL_FUZZY_NAME_LD1_PAIRS)


# ---------------------------------------------------------------------------
# Retrieval: reciprocal-rank fusion of lexical (BM25) and dense (cosine)
# rankings — the standard hybrid-search combiner (Cormack et al. 2009).
# Each list contributes 1/(60 + rank) to a fused score; here the
# contribution is the INTEGER 1_000_000 div (60 + rank) so the fusion is
# exact on both engines.  vec_id aligns with doc_id in the testdata, the
# usual "one embedding per document" layout.
#
# Plan: the BM25 side is the existing inverted-index probe (hit tokens
# only reach the shuffle); the dense side broadcasts the single query
# vector against a one-pass corpus scan; both lists are top-20 bounded,
# so the fusion join is a 40-row-max full outer.
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_LIST = 20
_RRF_OUT = 10


def q_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.llm.ranking import bm25_topk
    from lakeforge.llm.similarity import cosine_topk
    from lakeforge.workload_llm import BM25_QUERY_TERMS, _documents

    bm = bm25_topk(
        _documents(spark, sf_dir), BM25_QUERY_TERMS, topk=_RRF_LIST
    ).select(
        "doc_id",
        F.row_number()
        .over(Window.partitionBy().orderBy(F.col("bm25").desc(), F.col("doc_id")))
        .cast("bigint")
        .alias("bm25_rank"),
    )
    emb = table(spark, sf_dir, "embeddings")
    cos = cosine_topk(
        emb.filter(F.col("vec_id") == 0), emb, "embedding", "vec_id", k=_RRF_LIST
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("cos_rank"))
    fused = (
        bm.join(cos, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("bm25_rank", F.lit(0)).cast("bigint").alias("bm25_rank"),
            F.coalesce("cos_rank", F.lit(0)).cast("bigint").alias("cos_rank"),
        )
        .select(
            "doc_id",
            "bm25_rank",
            "cos_rank",
            (
                F.when(
                    F.col("bm25_rank") > 0,
                    F.expr(f"1000000 div ({_RRF_K} + bm25_rank)"),
                ).otherwise(F.lit(0))
                + F.when(
                    F.col("cos_rank") > 0,
                    F.expr(f"1000000 div ({_RRF_K} + cos_rank)"),
                ).otherwise(F.lit(0))
            ).cast("bigint").alias("rrf_micros"),
        )
    )
    return fused.orderBy(
        F.col("rrf_micros").desc(), F.col("doc_id").asc()
    ).limit(_RRF_OUT)


SQL_RRF_HYBRID_SEARCH = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              t -> t <> '')) AS BIGINT) AS dl,
         unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            t -> t <> '')) AS term
  FROM documents
),
hits AS (SELECT * FROM toks WHERE term IN ('spark', 'join', 'window')),
tfq AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf, max(dl) AS dl
        FROM hits GROUP BY doc_id, term),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfq GROUP BY term),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         avg(CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  t -> t <> '')) AS BIGINT)) AS avgdl
  FROM documents
),
bm_scored AS (
  SELECT t.doc_id,
         round(sum(
             ln(1.0 + CAST(s.n_docs - d.df + 0.5 AS DOUBLE)
                      / CAST(d.df + 0.5 AS DOUBLE))
             * (CAST(t.tf AS DOUBLE) * 2.5)
               / (CAST(t.tf AS DOUBLE)
                  + 1.5 * (0.25 + 0.75 * CAST(t.dl AS DOUBLE) / s.avgdl))
         ), 4) AS bm25
  FROM tfq t JOIN dfq d USING (term), stats s
  GROUP BY t.doc_id
),
bm AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
             AS bm25_rank
  FROM bm_scored
  ORDER BY bm25 DESC, doc_id LIMIT {_RRF_LIST}
),
e AS (
  SELECT vec_id,
         list_transform(embedding,
             v -> CAST(round(CAST(v AS DOUBLE) * 1000000000) AS BIGINT)) AS ie
  FROM embeddings
),
n AS (SELECT vec_id, ie,
             CAST(list_sum(list_transform(ie, x -> x * x)) AS HUGEINT) AS n2
      FROM e),
q AS (SELECT ie AS qv, n2 AS qn FROM n WHERE vec_id = 0),
cos_scored AS (
  SELECT c.vec_id AS doc_id,
         round(CAST(CAST(list_sum(list_transform(list_zip(q.qv, c.ie),
                                                 s -> s[1] * s[2]))
                         AS BIGINT) AS DOUBLE)
               / sqrt(CAST(q.qn AS DOUBLE) * CAST(c.n2 AS DOUBLE)), 6) AS sim
  FROM q, n c WHERE c.vec_id <> 0
),
cos AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS BIGINT)
             AS cos_rank
  FROM cos_scored
  ORDER BY sim DESC, doc_id LIMIT {_RRF_LIST}
),
fused AS (
  SELECT COALESCE(bm.doc_id, cos.doc_id) AS doc_id,
         CAST(COALESCE(bm.bm25_rank, 0) AS BIGINT) AS bm25_rank,
         CAST(COALESCE(cos.cos_rank, 0) AS BIGINT) AS cos_rank
  FROM bm FULL OUTER JOIN cos ON bm.doc_id = cos.doc_id
)
SELECT doc_id, bm25_rank, cos_rank,
       CAST(CASE WHEN bm25_rank > 0
                 THEN 1000000 // ({_RRF_K} + bm25_rank) ELSE 0 END
          + CASE WHEN cos_rank > 0
                 THEN 1000000 // ({_RRF_K} + cos_rank) ELSE 0 END
            AS BIGINT) AS rrf_micros
FROM fused
ORDER BY rrf_micros DESC, doc_id
LIMIT {_RRF_OUT}
"""

register("rrf_hybrid_search", q_rrf_hybrid_search, SQL_RRF_HYBRID_SEARCH)


# ---------------------------------------------------------------------------
# Retrieval: maximal-marginal-relevance diverse top-k (Carbonell &
# Goldstein 1998), the standard answer to "the top-k nearest neighbors
# are all near-duplicates of each other".  Greedy: each round picks the
# candidate minimizing  d2(query, c) - min over selected s of d2(s, c)
# — closest to the query, repelled by what is already picked (lambda =
# 1/2 folded into integer arithmetic).  EXACT: vectors quantize to
# micro-int (1e-6) fixed point, d2 is an int64 sum (64 dims x (2 x
# 3e5)^2 ~ 2.3e13 per pair — no overflow), so the argmin is the same on
# both engines (ties on vec_id).
#
# Plan: k bounded driver rounds (the BPE/codebook control-plane class:
# ONE 1-row collect per round).  Each round is one scan of the persisted
# micro-int candidate frame; the selected set (<= k vectors) enters the
# scoring expression as literals — nothing is ever broadcast or shuffled
# beyond the k scans.  The unrolled-CTE oracle states the identical
# recurrence.
# ---------------------------------------------------------------------------

_MMR_K = 5
_MMR_QUERY_ID = 0

_MICRO_VEC = (
    "transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000)"
    " AS BIGINT))"
)


def _d2_expr(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        f" 0L, (acc, e) -> acc + e)"
    )


def q_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.cache import persist_tracked

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_MICRO_VEC).alias("mv")
    )
    qrow = emb.filter(F.col("vec_id") == _MMR_QUERY_ID).select("mv").collect()
    qlit = "array(" + ", ".join(f"{int(x)}L" for x in qrow[0][0]) + ")"
    cand = persist_tracked(
        emb.filter(F.col("vec_id") != _MMR_QUERY_ID).select(
            "vec_id", "mv", F.expr(_d2_expr("mv", qlit)).alias("d2q")
        )
    )
    picked: list[tuple[int, int, list[int]]] = []  # (vec_id, d2q, mv)
    for _ in range(_MMR_K):
        if picked:
            reps = [
                _d2_expr(
                    "mv", "array(" + ", ".join(f"{int(x)}L" for x in mv) + ")"
                )
                for _, _, mv in picked
            ]
            rep = reps[0] if len(reps) == 1 else f"least({', '.join(reps)})"
            score = F.expr(f"d2q - {rep}")
            cur = cand.filter(
                ~F.col("vec_id").isin([vid for vid, _, _ in picked])
            )
        else:
            score = F.col("d2q")
            cur = cand
        # Single-stage argmin: min_by over a (score, vec_id) struct —
        # map-side partials merge to one row, no TakeOrdered sort.
        row = (
            cur.select("vec_id", "d2q", "mv", score.alias("s"))
            .agg(
                F.min_by(
                    F.struct("vec_id", "d2q", "mv"),
                    F.struct(F.col("s"), F.col("vec_id")),
                ).alias("p")
            )
            .select("p.*")
            .collect()[0]
        )
        picked.append((int(row["vec_id"]), int(row["d2q"]), list(row["mv"])))
    return spark.createDataFrame(
        [(i + 1, vid, d2q) for i, (vid, d2q, _) in enumerate(picked)],
        "rank_k bigint, vec_id bigint, d2_to_query bigint",
    )


def _sql_mmr() -> str:
    d2 = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    head = f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mv
  FROM embeddings
),
q AS (SELECT mv AS qv FROM v WHERE vec_id = {_MMR_QUERY_ID}),
cand AS (
  SELECT v.vec_id, v.mv,
         CAST({d2.format(a='v.mv', b='q.qv')} AS BIGINT) AS d2q
  FROM v, q WHERE v.vec_id <> {_MMR_QUERY_ID}
),
s1 AS (SELECT vec_id, mv, d2q FROM cand ORDER BY d2q, vec_id LIMIT 1)"""
    steps = [head]
    for t in range(2, _MMR_K + 1):
        prevs = [f"s{i}" for i in range(1, t)]
        froms = ", ".join(prevs)
        not_in = " AND ".join(f"c.vec_id <> {p}.vec_id" for p in prevs)
        rep = ", ".join(
            d2.format(a="c.mv", b=f"{p}.mv") for p in prevs
        )
        steps.append(
            f"""
s{t} AS (
  SELECT c.vec_id, c.mv, c.d2q
  FROM cand c, {froms}
  WHERE {not_in}
  ORDER BY c.d2q - LEAST({rep}), c.vec_id LIMIT 1
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS BIGINT) AS rank_k, CAST(vec_id AS BIGINT)"
        f" AS vec_id, CAST(d2q AS BIGINT) AS d2_to_query FROM s{t}"
        for t in range(1, _MMR_K + 1)
    )
    return ",".join(steps) + "\n" + union


SQL_MMR_DIVERSE_TOPK = _sql_mmr()

register("mmr_diverse_topk", q_mmr_diverse_topk, SQL_MMR_DIVERSE_TOPK)


# ---------------------------------------------------------------------------
# r9 wave 2 — three more oracle-paired families.
# ---------------------------------------------------------------------------

# Classifier evaluation: language-ID confusion matrix.  The lang_id
# heuristic (llm/text.py — stopword-ratio threshold) predicts en/unk;
# the documents table carries the ACTUAL lang label.  The confusion
# matrix — and the per-actual-language row shares — is the standard
# evaluation artifact before trusting any classifier for corpus
# routing, and the repo had the classifier but not its evaluation.
#
# Plan: ONE scan computes prediction and keeps the label; the matrix is
# a |langs x 2|-bounded aggregate with a window over those few rows for
# the row shares.  Exact ppm via integral division.

def q_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.llm.text import _STOP_SQL, tokens_col

    d = table(spark, sf_dir, "documents").select(
        "lang",
        tokens_col("text").alias("__toks"),
    )
    n_toks = F.size("__toks").cast("bigint")
    n_stop = F.expr(
        f"size(filter(__toks, t -> t IN ({_STOP_SQL})))"
    ).cast("bigint")
    pm = F.when(n_toks == 0, F.lit(0).cast("bigint")).otherwise(
        F.expr(f"(size(filter(__toks, t -> t IN ({_STOP_SQL}))) * 1000)"
               " div size(__toks)")
    )
    scored = d.select(
        F.col("lang").alias("actual_lang"),
        F.when(pm >= 30, F.lit("en")).otherwise(F.lit("unk")).alias("lang_pred"),
    )
    cells = scored.groupBy("actual_lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w_row = Window.partitionBy("actual_lang")
    return cells.select(
        "actual_lang",
        "lang_pred",
        "n",
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * 1000000"
            " div SUM(n) OVER (PARTITION BY actual_lang) AS BIGINT)"
        ).alias("row_share_ppm"),
    )


def _sql_lang_confusion() -> str:
    from lakeforge.llm.text import _STOP_SQL

    toks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"
    return f"""
WITH s AS (
  SELECT lang AS actual_lang,
         CASE WHEN len({toks}) = 0 THEN 0
              ELSE (len(list_filter({toks}, t -> t IN ({_STOP_SQL}))) * 1000)
                   // len({toks})
         END AS pm
  FROM documents
),
cells AS (
  SELECT actual_lang,
         CASE WHEN pm >= 30 THEN 'en' ELSE 'unk' END AS lang_pred,
         CAST(count(*) AS BIGINT) AS n
  FROM s GROUP BY 1, 2
)
SELECT actual_lang, lang_pred, n,
       CAST(CAST(n AS HUGEINT) * 1000000
            // SUM(n) OVER (PARTITION BY actual_lang) AS BIGINT)
           AS row_share_ppm
FROM cells
"""


SQL_LANG_CONFUSION_MATRIX = _sql_lang_confusion()

register("lang_confusion_matrix", q_lang_confusion_matrix, SQL_LANG_CONFUSION_MATRIX)


# ---------------------------------------------------------------------------
# Curation ops: quality-gate attrition funnel.  The C4/Gopher-style
# gates exist individually (llm/text.py::quality_score); what a corpus
# operator actually reads each morning is the FUNNEL — how many
# documents each successive gate drops.  One scan computes every
# feature; sequential survivorship is five conditional aggregates; the
# per-gate report fans the 1-row counter frame across a 4-row gate
# spine (the documented broadcast-scalar BNLJ family).
# ---------------------------------------------------------------------------

_FUNNEL_GATES = (
    ("min_tokens_10", "n_tokens >= 10"),
    ("stopword_pm_20", "stop_pm >= 20"),
    ("unique_pm_300", "uniq_pm >= 300"),
    ("score_700", "quality_score >= 700"),
)


def q_docs_gate_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.llm.text import quality_score

    q = quality_score(table(spark, sf_dir, "documents"), "text", "doc_id")
    g = [F.expr(cond) for _, cond in _FUNNEL_GATES]
    surv = [g[0]]
    for cond in g[1:]:
        surv.append(surv[-1] & cond)
    counters = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        *[
            F.sum(F.when(s, 1).otherwise(0)).cast("bigint").alias(f"s{i+1}")
            for i, s in enumerate(surv)
        ],
    )
    spine = spark.range(1, len(_FUNNEL_GATES) + 1).select(
        F.col("id").cast("int").alias("gate_no")
    )
    ins = "CASE gate_no " + " ".join(
        f"WHEN {i + 1} THEN {'n0' if i == 0 else f's{i}'}"
        for i in range(len(_FUNNEL_GATES))
    ) + " END"
    outs = "CASE gate_no " + " ".join(
        f"WHEN {i + 1} THEN s{i + 1}" for i in range(len(_FUNNEL_GATES))
    ) + " END"
    names = "CASE gate_no " + " ".join(
        f"WHEN {i + 1} THEN '{name}'" for i, (name, _) in enumerate(_FUNNEL_GATES)
    ) + " END"
    return (
        spine.crossJoin(F.broadcast(counters))  # 1-row counter scalars
        .select(
            F.col("gate_no").cast("bigint").alias("gate_no"),
            F.expr(names).alias("gate"),
            F.expr(ins).cast("bigint").alias("n_in"),
            F.expr(outs).cast("bigint").alias("n_out"),
            (F.expr(ins) - F.expr(outs)).cast("bigint").alias("n_dropped"),
            F.expr(
                f"CAST(CASE WHEN {ins} = 0 THEN 0"
                f" ELSE CAST(({ins} - ({outs})) AS DECIMAL(38,0)) * 1000000"
                f" div ({ins}) END AS BIGINT)"
            ).alias("drop_ppm"),
        )
    )


def _sql_gate_funnel() -> str:
    from lakeforge.llm.text import _STOP_SQL

    toks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"
    gates = [cond for _, cond in _FUNNEL_GATES]
    surv_exprs = []
    acc = []
    for cond in gates:
        acc.append(f"({cond})")
        surv_exprs.append(" AND ".join(acc))
    sels = ",\n         ".join(
        f"CAST(SUM(CASE WHEN {s} THEN 1 ELSE 0 END) AS BIGINT) AS s{i+1}"
        for i, s in enumerate(surv_exprs)
    )
    rows = []
    for i, (name, _) in enumerate(_FUNNEL_GATES):
        n_in = "n0" if i == 0 else f"s{i}"
        rows.append(
            f"SELECT CAST({i+1} AS BIGINT) AS gate_no, '{name}' AS gate,"
            f" {n_in} AS n_in, s{i+1} AS n_out, {n_in} - s{i+1} AS n_dropped,"
            f" CAST(CASE WHEN {n_in} = 0 THEN 0"
            f" ELSE CAST({n_in} - s{i+1} AS HUGEINT) * 1000000 // {n_in} END"
            f" AS BIGINT) AS drop_ppm FROM c"
        )
    union = "\nUNION ALL\n".join(rows)
    return f"""
WITH f AS (
  SELECT CAST(len({toks}) AS BIGINT) AS n_tokens,
         CASE WHEN len({toks}) = 0 THEN 0
              ELSE (len(list_filter({toks}, t -> t IN ({_STOP_SQL}))) * 1000)
                   // len({toks}) END AS stop_pm,
         CASE WHEN len({toks}) = 0 THEN 0
              ELSE (len(list_distinct({toks})) * 1000) // len({toks})
         END AS uniq_pm
  FROM documents
),
scored AS (
  SELECT n_tokens, stop_pm, uniq_pm,
         stop_pm * 2 + uniq_pm
         + CASE WHEN n_tokens BETWEEN 30 AND 500 THEN 200 ELSE 0 END
             AS quality_score
  FROM f
),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
         {sels}
  FROM scored
)
{union}
"""


SQL_DOCS_GATE_FUNNEL = _sql_gate_funnel()

register("docs_gate_funnel", q_docs_gate_funnel, SQL_DOCS_GATE_FUNNEL)


# ---------------------------------------------------------------------------
# LLM curation: skip-gram PMI co-occurrence (window +-2).  Bigram lift
# (workload_r8) scores ADJACENT pairs; embedding training and
# collocation discovery both want the windowed version — unordered
# co-occurrence within a +-K token window, scored by the same integer
# lift (= exp(PMI)) statistic.  Same exactness discipline: two-stage
# DECIMAL(38,0)/HUGEINT integral division survives 1e13-token corpora.
#
# Plan: ONE persisted tokenization pass feeds pair counts, unigram
# counts, and the totals; pair fan-out is rows x K (row-local array
# transform, offsets unrolled); aggregates are distinct-pair bounded.
# ---------------------------------------------------------------------------

_SG_WINDOW = 2
_SG_MIN_PAIR = 3
_SG_TOP_K = 50


def q_skipgram_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.cache import persist_tracked

    d = table(spark, sf_dir, "documents").select("text")
    toks = persist_tracked(
        d.select(F.expr("filter(split(text, ' +'), x -> x <> '')").alias("ws"))
    )
    offset_arrays = ", ".join(
        f"CASE WHEN size(ws) > {o} THEN"
        f" transform(sequence(1, size(ws) - {o}),"
        f" i -> struct(least(ws[i - 1], ws[i + {o} - 1]) AS wa,"
        f"             greatest(ws[i - 1], ws[i + {o} - 1]) AS wb))"
        f" ELSE array() END"
        for o in range(1, _SG_WINDOW + 1)
    )
    pairs = toks.select(
        F.explode(F.expr(f"concat({offset_arrays})")).alias("p")
    ).select("p.wa", "p.wb")
    pair_counts = pairs.groupBy("wa", "wb").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_pair")
    ).filter(F.col("c_pair") >= _SG_MIN_PAIR)
    uni = toks.select(F.explode("ws").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_w")
    )
    ctx_terms = " + ".join(
        f"greatest(size(ws) - {o}, 0)" for o in range(1, _SG_WINDOW + 1)
    )
    totals = toks.agg(
        F.sum(F.expr(ctx_terms)).cast("bigint").alias("n_ctx"),
        F.sum(F.expr("size(ws)")).cast("bigint").alias("n_tokens"),
    )
    return (
        pair_counts
        .join(uni.select(F.col("w").alias("wa"), F.col("c_w").alias("ca")), "wa")
        .join(uni.select(F.col("w").alias("wb"), F.col("c_w").alias("cb")), "wb")
        .crossJoin(F.broadcast(totals))
        .select(
            "wa", "wb", "c_pair",
            F.expr(
                "CAST(CAST(CAST(c_pair AS DECIMAL(38,0)) * 1000000"
                " * n_tokens div (CAST(ca AS DECIMAL(38,0)) * cb)"
                " AS DECIMAL(38,0)) * n_tokens div n_ctx AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.col("lift_ppm").desc(), F.col("wa"), F.col("wb"))
        .limit(_SG_TOP_K)
    )


def _sql_skipgram() -> str:
    offs = []
    for o in range(1, _SG_WINDOW + 1):
        offs.append(
            f"SELECT least(ws[i], ws[i + {o}]) AS wa,"
            f" greatest(ws[i], ws[i + {o}]) AS wb"
            f" FROM toks, unnest(generate_series(1, greatest(len(ws) - {o}, 0)))"
            f" AS t(i) WHERE len(ws) >= {o + 1}"
        )
    pair_union = "\nUNION ALL\n".join(offs)
    ctx_terms = " + ".join(
        f"greatest(len(ws) - {o}, 0)" for o in range(1, _SG_WINDOW + 1)
    )
    return f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(text, ' +'), x -> x <> '') AS ws
  FROM documents
),
pairs AS (
{pair_union}
),
pair_counts AS (
  SELECT wa, wb, CAST(count(*) AS BIGINT) AS c_pair
  FROM pairs GROUP BY wa, wb HAVING count(*) >= {_SG_MIN_PAIR}
),
words AS (
  SELECT w FROM (SELECT unnest(string_split_regex(text, ' +')) AS w
                 FROM documents) WHERE w <> ''
),
uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM words GROUP BY w),
tot AS (
  SELECT (SELECT CAST(SUM({ctx_terms}) AS BIGINT) FROM toks) AS n_ctx,
         (SELECT CAST(count(*) AS BIGINT) FROM words) AS n_tokens
)
SELECT p.wa, p.wb, p.c_pair,
       CAST((CAST(p.c_pair AS HUGEINT) * 1000000 * t.n_tokens
             // (CAST(ua.c_w AS HUGEINT) * ub.c_w))
            * t.n_tokens // t.n_ctx AS BIGINT) AS lift_ppm
FROM pair_counts p
JOIN uni ua ON ua.w = p.wa
JOIN uni ub ON ub.w = p.wb
CROSS JOIN tot t
ORDER BY lift_ppm DESC, p.wa, p.wb
LIMIT {_SG_TOP_K}
"""


SQL_SKIPGRAM_PMI_PAIRS = _sql_skipgram()

register("skipgram_pmi_pairs", q_skipgram_pmi_pairs, SQL_SKIPGRAM_PMI_PAIRS)
