"""Round-9 wave-3..8 operators: thirty-nine new oracle-paired families.

Wave 3:
- part_profit_trend          — Q9-shaped supplier-nation × year profit
- customer_decile_migration  — YoY spend-decile migration matrix
- order_value_band_transitions — per-customer order-value Markov matrix
- brand_margin_depth         — realized-vs-retail margin depth by brand
- doc_mean_token_rarity      — unigram-LM token-rarity quality signal
- dedup_impact_curve         — exact-dup group-size histogram / removal mass
- dedup_survivor_quality_shift — TTR quality shift from dedup survivorship
- tokenizer_fertility        — fixed-chunk subword fertility by source
- sq8_reconstruction_error   — per-dimension SQ8 quantization error audit
- lsh_bucket_skew_audit      — MinHash-LSH bucket-size histogram

Wave 4:
- share_of_wallet_concentration — top-supplier spend share bands
- nation_trade_balance       — supply-side minus buy-side revenue by nation
- doc_prefix_redundancy      — template detection by 8-token prefix groups
- hapax_share_by_source      — hapax-legomena vocabulary share
- token_branching_factor     — distinct-successor branching by freq band
- embedding_norm_profile     — per-label integer L2-norm² audit
- event_type_user_lift       — event-type co-occurrence lift across users
- order_priority_share_drift — priority mix drift vs base year (bps)
- customer_reactivation      — >180-day-gap resurrection curve
- embedding_centroid_drift   — half-vs-half per-label centroid distance²

Wave 5 (ops/percentile.py ships with this wave):
- ship_lag_percentiles       — bounded-domain exact p50/p90/p99 ship lag
- order_gap_percentiles      — reorder-cadence median/p90 by segment
- discount_depth_curve       — volume-discount depth + revenue share
- length_quality_histogram   — 2-D (length band × TTR band) doc grid
- simhash_hamming_histogram  — banded candidate Hamming-distance audit
- ivf_cell_balance           — k-means coarse-quantizer cell balance

Wave 6:
- cohort_ltv_curve           — first-order-year cumulative revenue triangle
- ivf_recall_curve           — recall@k at nprobe 1/2/4 (index tuning table)
- neardup_cluster_sizes      — near-dup component size histogram
- time_to_second_order       — activation gap median/p90 by segment
- event_value_percentiles    — cent-resolution p50/p95/p99 by event type

Wave 7:
- lateral_topk_customers     — correlated LATERAL ORDER BY/LIMIT top-k
- region_nation_share        — percent-of-parent hierarchy shares
- events_position_attribution — U-shaped 40/20/40 multi-touch credit
- jaccard_threshold_sweep    — dedup-threshold admission tuning table

Wave 8 (data-quality / audit family):
- order_total_reconciliation — header-vs-lines conformance per year
- duplicate_order_audit      — double-charge screen (injected twins)
- basket_size_by_segment     — lines-per-order grid by segment
- seasonal_index_by_segment  — month-of-year revenue index (ppm)

Conventions as the rest of the registry: exact integer/DECIMAL arithmetic
on both engines (cents / e-4-dollar units, integral ``div`` / ``//``,
DECIMAL(38,0) / HUGEINT widening before any product that could overflow
int64 at the 100 TB target), identical column aliases Spark-vs-oracle,
deterministic tie-breaks, no broadcast hints on sf-scaling frames (only
true dims / bounded artifacts).  Reference parity: Big_Data_Task has no
counterpart for any of these — this extends SURVEY.md §2.9's analytics and
LLM-pipeline families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakeforge.functions.keys import md5_int
from lakeforge.io.sources import table
from lakeforge.llm.dedup import (
    MINHASH_P,
    exact_dedup,
    lsh_band_buckets,
    minhash_constants,
    minhash_signatures,
)
from lakeforge.llm.text import tokens_col
from lakeforge.registry import register
from lakeforge.workload_llm import (
    _EXACTDUP_CORPUS,
    _NEARDUP_CORPUS,
    _TOKS,
    _exactdup_corpus,
    _md5_60,
    _neardup_corpus,
    _shingle_ctes,
)


# ---------------------------------------------------------------------------
# TPC-H Q9 shape: profit trend for a part-name family, by the SUPPLIER's
# nation and order year.  (The schema has no partsupp/ps_supplycost, so
# profit is the discounted revenue of the matching lines — the Q9 POINT is
# the 4-way join tree with a pushed-down part filter, supplier-side nation
# resolution, and an order-year roll-up.)
#
# Plan: the p_name LIKE filter is pushed into the part scan and prunes the
# join's build side before anything shuffles; part/supplier/orders are all
# sf-scaling so they stay UNHINTED (AQE broadcasts what fits at runtime);
# nation (25 rows) broadcasts explicitly.  Revenue rides in e-4-dollar
# integer units, summed as DECIMAL(38,0)/HUGEINT.
# ---------------------------------------------------------------------------

def q_part_profit_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).cast("decimal(38,0)").alias("rev_e4"),
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("o_year")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("n_name", "o_year")
        .agg(
            F.sum("rev_e4").cast("bigint").alias("profit_e4"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


SQL_PART_PROFIT_TREND = """
SELECT n.n_name,
       CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
            AS BIGINT) AS profit_e4,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p     ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%red%'
GROUP BY n.n_name, o_year
"""

register("part_profit_trend", q_part_profit_trend, SQL_PART_PROFIT_TREND)


# ---------------------------------------------------------------------------
# Customer spend-decile migration 1995 -> 1996: where does each 1995 decile
# land one year later?  The classic value-migration matrix behind retention
# economics.
#
# Exact ntile(10) per year WITHOUT a global single-partition window — the
# same row-grain blocked decomposition customer_rfm_segments uses (global
# row_number = within-block row_number + strict-prefix block offset over a
# BOUNDED block summary).  Block key is annual spend in $100k-cent blocks:
# per-customer-ANNUAL spend is SF-invariant (orders per customer does not
# grow with corpus size), so the block count stays a tiny broadcast at any
# SF.  Both years ride ONE exploded frame keyed (yr, __bk) so the offset
# aggregate and the ranking window share a single hash exchange.
# ---------------------------------------------------------------------------

_MIG_Y0, _MIG_Y1 = 1995, 1996
_MIG_BLOCK = 10_000_000  # $100k in cents


def q_customer_decile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(_MIG_Y0, _MIG_Y1)
    )
    per_cy = o.groupBy(
        "o_custkey", F.year("o_orderdate").cast("int").alias("yr")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    ex = per_cy.select(
        "o_custkey", "yr", "cents",
        F.expr(f"cents div {_MIG_BLOCK}").alias("__bk"),
    ).repartition("yr", "__bk")
    w_off = Window.partitionBy("yr").orderBy("__bk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy("yr").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = (
        ex.groupBy("yr", "__bk")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .select(
            "yr", "__bk",
            F.coalesce(F.sum("__bn").over(w_off), F.lit(0)).alias("__off"),
            F.sum("__bn").over(w_all).cast("bigint").alias("__n"),
        )
    )
    w_rank = Window.partitionBy("yr", "__bk").orderBy("cents", "o_custkey")
    # SQL-standard ntile(10) from the global rank with (n, q) as COLUMNS.
    tile = (
        "CASE WHEN __rr <= (__n - (__n div 10) * 10) * ((__n div 10) + 1)"
        " THEN (__rr - 1) div ((__n div 10) + 1) + 1"
        " ELSE (__n - (__n div 10) * 10)"
        "      + (__rr - (__n - (__n div 10) * 10) * ((__n div 10) + 1) - 1)"
        "        div greatest(__n div 10, 1) + 1 END"
    )
    deciles = (
        ex.join(F.broadcast(offs), ["yr", "__bk"])
        .withColumn("__rr", F.col("__off") + F.row_number().over(w_rank))
        .select("o_custkey", "yr", F.expr(tile).cast("bigint").alias("decile"))
    )
    d0 = deciles.filter(F.col("yr") == _MIG_Y0).select(
        "o_custkey", F.col("decile").alias("decile_from")
    )
    d1 = deciles.filter(F.col("yr") == _MIG_Y1).select(
        "o_custkey", F.col("decile").alias("decile_to")
    )
    return (
        d0.join(d1, "o_custkey")
        .groupBy("decile_from", "decile_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


SQL_CUSTOMER_DECILE_MIGRATION = f"""
WITH per_cy AS (
  SELECT o_custkey, CAST(year(o_orderdate) AS INTEGER) AS yr,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders
  WHERE year(o_orderdate) IN ({_MIG_Y0}, {_MIG_Y1})
  GROUP BY o_custkey, yr
),
deciles AS (
  SELECT o_custkey, yr,
         CAST(ntile(10) OVER (PARTITION BY yr
                              ORDER BY cents ASC, o_custkey ASC) AS BIGINT)
             AS decile
  FROM per_cy
)
SELECT d0.decile AS decile_from, d1.decile AS decile_to,
       CAST(count(*) AS BIGINT) AS n_customers
FROM deciles d0
JOIN deciles d1 ON d0.o_custkey = d1.o_custkey
WHERE d0.yr = {_MIG_Y0} AND d1.yr = {_MIG_Y1}
GROUP BY 1, 2
"""

register(
    "customer_decile_migration",
    q_customer_decile_migration,
    SQL_CUSTOMER_DECILE_MIGRATION,
)


# ---------------------------------------------------------------------------
# Order-value band transitions: per customer, consecutive orders move
# between $100k-wide totalprice bands (capped at band 4 = $400k+); the
# transition counts form the first-order Markov matrix of purchase-size
# drift.  Window is partitioned BY CUSTOMER (orders-per-customer is
# SF-invariant), so no global sort exists anywhere in the plan; ordering
# within a customer is (o_orderdate, o_orderkey) — fully deterministic.
# ---------------------------------------------------------------------------

_BAND = 10_000_000  # $100k in cents
_BAND_CAP = 4


def q_order_value_band_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey",
        F.least(
            F.expr(
                f"CAST(round(o_totalprice * 100) AS BIGINT) div {_BAND}"
            ),
            F.lit(_BAND_CAP).cast("bigint"),
        ).alias("band"),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("band_from", F.lag("band").over(w))
        .filter(F.col("band_from").isNotNull())
        .groupBy("band_from", F.col("band").alias("band_to"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    )


SQL_ORDER_VALUE_BAND_TRANSITIONS = f"""
WITH banded AS (
  SELECT o_custkey, o_orderdate, o_orderkey,
         LEAST(CAST(round(o_totalprice * 100) AS BIGINT) // {_BAND},
               {_BAND_CAP}) AS band
  FROM orders
),
lagged AS (
  SELECT band,
         lag(band) OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey) AS band_from
  FROM banded
)
SELECT band_from, band AS band_to, CAST(count(*) AS BIGINT) AS n_transitions
FROM lagged WHERE band_from IS NOT NULL
GROUP BY 1, 2
"""

register(
    "order_value_band_transitions",
    q_order_value_band_transitions,
    SQL_ORDER_VALUE_BAND_TRANSITIONS,
)


# ---------------------------------------------------------------------------
# Brand margin depth: realized (discounted) selling value vs list value
# (p_retailprice x quantity) per brand, margin depth in basis points via
# integral division.  The lineitem->part join is UNHINTED (part scales with
# SF; AQE broadcasts it while it fits); the aggregate is map-side
# combinable to ~25 brand cells, so only those cells shuffle.
# ---------------------------------------------------------------------------

def q_brand_margin_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round("l_quantity").cast("bigint").alias("qty"),
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).cast("decimal(38,0)").alias("sell_e4"),
    )
    p = table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("retail_cents"),
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(
                (F.col("retail_cents") * F.col("qty") * F.lit(100))
                .cast("decimal(38,0)")
            ).alias("__tr"),
            F.sum("sell_e4").alias("__ts"),
        )
        .select(
            "p_brand", "n_lines",
            F.col("__tr").cast("bigint").alias("retail_e4"),
            F.col("__ts").cast("bigint").alias("sell_e4"),
            F.expr("CAST((__tr - __ts) * 10000 div __tr AS BIGINT)")
            .alias("margin_depth_bps"),
        )
    )


SQL_BRAND_MARGIN_DEPTH = """
WITH cells AS (
  SELECT p.p_brand,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(SUM(CAST(CAST(round(p.p_retailprice * 100) AS BIGINT)
                       * CAST(round(l.l_quantity) AS BIGINT) * 100
                       AS HUGEINT)) AS HUGEINT) AS tr,
         CAST(SUM(CAST(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                       AS HUGEINT)) AS HUGEINT) AS ts
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
)
SELECT p_brand, n_lines,
       CAST(tr AS BIGINT) AS retail_e4,
       CAST(ts AS BIGINT) AS sell_e4,
       CAST((tr - ts) * 10000 // tr AS BIGINT) AS margin_depth_bps
FROM cells
"""

register("brand_margin_depth", q_brand_margin_depth, SQL_BRAND_MARGIN_DEPTH)


# ---------------------------------------------------------------------------
# Unigram-LM token rarity (CCNet-style quality signal without the KenLM
# dependency): per document, the mean CORPUS frequency of its tokens in
# parts-per-billion — wildly low means gibberish / OOV-heavy text, wildly
# high means stopword soup; both tails get gated before training.
#
# Plan: tokenize once into (doc_id, w); the unigram table is the groupBy of
# that same frame (vocab-bounded, orders of magnitude below corpus tokens);
# tokens join the vocab on the word — an equi-join whose build side is
# vocab-sized, left UNHINTED because vocab grows with the corpus.  The
# corpus-total token count joins in as a broadcast 1-row scalar.  All
# arithmetic is integral: rarity_ppb = sum(count_w) * 1e9 div (n_toks *
# total_tokens), widened to DECIMAL(38,0)/HUGEINT so a 1e13-token corpus
# cannot overflow.
# ---------------------------------------------------------------------------

def q_doc_mean_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # NOT persisted: the exploded token frame is corpus-sized (~8x the
    # text bytes) — caching it would spill ~the corpus at 100 TB.  The
    # vocab aggregate and the per-doc join each re-derive it from the
    # columnar scan instead (the same re-scan-beats-spill call as the
    # SQ8 error audit); only the vocab-sized aggregate ever shuffles.
    toks = d.select("doc_id", F.explode(tokens_col("text")).alias("w"))
    vocab = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cw")
    )
    total = vocab.agg(
        F.sum("cw").cast("decimal(38,0)").alias("total_tokens")
    )
    per_doc = (
        toks.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
            F.sum("cw").cast("decimal(38,0)").alias("__s"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id", "n_toks",
        F.expr(
            "CAST(__s * 1000000000 div (CAST(n_toks AS DECIMAL(38,0))"
            " * total_tokens) AS BIGINT)"
        ).alias("mean_tok_freq_ppb"),
    )


SQL_DOC_MEAN_TOKEN_RARITY = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS w FROM documents
),
vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM toks GROUP BY w),
tot AS (SELECT CAST(SUM(cw) AS HUGEINT) AS total_tokens FROM vocab),
per_doc AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_toks,
         CAST(SUM(v.cw) AS HUGEINT) AS s
  FROM toks t JOIN vocab v USING (w)
  GROUP BY t.doc_id
)
SELECT doc_id, n_toks,
       CAST(s * 1000000000 // (CAST(n_toks AS HUGEINT) * total_tokens)
            AS BIGINT) AS mean_tok_freq_ppb
FROM per_doc, tot
"""

register("doc_mean_token_rarity", q_doc_mean_token_rarity, SQL_DOC_MEAN_TOKEN_RARITY)


# ---------------------------------------------------------------------------
# Dedup impact curve: the exact-dup group-size histogram — for each
# multiplicity s, how many content groups have s copies and how many rows
# dedup would remove.  The curve is what you read BEFORE running a 100 TB
# dedup: it prices the shuffle (rows_removed) and exposes pathological
# boilerplate (giant s).  Text never shuffles — only the 60-bit
# fingerprint groupBy from exact_dedup, then a second tiny aggregate over
# group rows.  Output is bounded by the largest multiplicity.
# ---------------------------------------------------------------------------

def q_dedup_impact_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups = exact_dedup(_exactdup_corpus(spark, sf_dir), "text", "doc_id")
    return (
        groups.groupBy(F.col("n_copies").alias("group_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum(F.col("n_copies") - 1).cast("bigint").alias("rows_removed"),
        )
    )


SQL_DEDUP_IMPACT_CURVE = f"""
WITH {_EXACTDUP_CORPUS},
t AS (SELECT doc_id, {_TOKS} AS toks FROM corpus),
fp AS (SELECT doc_id, {_md5_60("array_to_string(toks, ' ')")} AS fp FROM t),
g AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_copies FROM fp GROUP BY fp)
SELECT n_copies AS group_size,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(SUM(n_copies - 1) AS BIGINT) AS rows_removed
FROM g GROUP BY n_copies
"""

register("dedup_impact_curve", q_dedup_impact_curve, SQL_DEDUP_IMPACT_CURVE)


# ---------------------------------------------------------------------------
# Dedup survivor quality shift: does keeping one copy per exact-dup group
# (min doc_id survives) CHANGE the corpus quality profile?  Quality proxy
# is the type-token ratio in ppm — entirely ROW-LOCAL on both engines
# (size(array_distinct(toks)) — no explode, no per-token shuffle).  The
# only exchanges are the fingerprint window (groups are tiny by
# construction) and the final per-source aggregate.
# ---------------------------------------------------------------------------

def q_dedup_survivor_quality_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text", "source"
    )
    corpus = docs.unionByName(copies)
    scored = corpus.select(
        "doc_id", "source",
        md5_int(F.array_join(tokens_col("text"), " ")).alias("fp"),
        F.size(tokens_col("text")).cast("bigint").alias("n_words"),
        F.size(F.array_distinct(tokens_col("text"))).cast("bigint").alias("n_distinct"),
    ).withColumn(
        "ttr_ppm",
        F.expr(
            "CASE WHEN n_words = 0 THEN 0"
            " ELSE n_distinct * 1000000 div n_words END"
        ).cast("bigint"),
    )
    w_fp = Window.partitionBy("fp")
    flagged = scored.withColumn(
        "is_surv", F.col("doc_id") == F.min("doc_id").over(w_fp)
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("is_surv"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_survivors"),
        F.expr("CAST(SUM(ttr_ppm) div COUNT(*) AS BIGINT)")
        .alias("mean_ttr_all_ppm"),
        F.expr(
            "CAST(SUM(CASE WHEN is_surv THEN ttr_ppm ELSE 0 END)"
            " div SUM(CASE WHEN is_surv THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("mean_ttr_surv_ppm"),
    )


SQL_DEDUP_SURVIVOR_QUALITY_SHIFT = f"""
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text, source
  FROM documents WHERE doc_id % 7 = 0
),
scored AS (
  SELECT doc_id, source,
         {_md5_60("array_to_string(toks, ' ')")} AS fp,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
  FROM (SELECT doc_id, source, {_TOKS} AS toks FROM corpus)
),
ttr AS (
  SELECT doc_id, source, fp,
         CAST(CASE WHEN n_words = 0 THEN 0
              ELSE n_distinct * 1000000 // n_words END AS BIGINT) AS ttr_ppm
  FROM scored
),
flagged AS (
  SELECT source, ttr_ppm,
         doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS is_surv
  FROM ttr
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN is_surv THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
       CAST(SUM(ttr_ppm) // count(*) AS BIGINT) AS mean_ttr_all_ppm,
       CAST(SUM(CASE WHEN is_surv THEN ttr_ppm ELSE 0 END)
            // SUM(CASE WHEN is_surv THEN 1 ELSE 0 END) AS BIGINT)
           AS mean_ttr_surv_ppm
FROM flagged GROUP BY source
"""

register(
    "dedup_survivor_quality_shift",
    q_dedup_survivor_quality_shift,
    SQL_DEDUP_SURVIVOR_QUALITY_SHIFT,
)


# ---------------------------------------------------------------------------
# Tokenizer fertility by source: subword-per-word ratio under a fixed
# 4-char-chunk subword proxy (ceil(len/4) pieces per word) — the fertility
# metric tokenizer teams track per language/source before committing a
# vocab.  Entirely row-local until one map-side-combinable aggregate to
# ~|sources| cells; n_subtokens is widened to DECIMAL(38,0)/HUGEINT before
# the ppm multiply so a 1e13-token corpus cannot overflow int64.
# ---------------------------------------------------------------------------

def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("source", "text")
    w = d.select("source", F.explode(tokens_col("text")).alias("w"))
    return (
        w.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.expr("(length(w) + 3) div 4"))
            .cast("bigint")
            .alias("n_subtokens"),
        )
        .select(
            "source", "n_words", "n_subtokens",
            F.expr(
                "CAST(CAST(n_subtokens AS DECIMAL(38,0)) * 1000000"
                " div n_words AS BIGINT)"
            ).alias("fertility_ppm"),
        )
    )


SQL_TOKENIZER_FERTILITY = f"""
WITH w AS (
  SELECT source, unnest({_TOKS}) AS w FROM documents
),
cells AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(SUM((length(w) + 3) // 4) AS BIGINT) AS n_subtokens
  FROM w GROUP BY source
)
SELECT source, n_words, n_subtokens,
       CAST(CAST(n_subtokens AS HUGEINT) * 1000000 // n_words AS BIGINT)
           AS fertility_ppm
FROM cells
"""

register("tokenizer_fertility", q_tokenizer_fertility, SQL_TOKENIZER_FERTILITY)


# ---------------------------------------------------------------------------
# SQ8 reconstruction-error audit: per dimension, the absolute error the
# 8-bit scalar quantizer (micro-unit integer grid, per-dim [min,max]) would
# introduce — the audit you run before trusting sq8_recall_at_k's index at
# a new data distribution.  All arithmetic is integer micro-units, so the
# error is value-exact on both engines.
#
# Plan: two columnar scans of embeddings (posexplode -> per-dim min/max,
# a 64-row artifact; then posexplode again joined to the BROADCAST stats —
# bounded by dimensionality, never by corpus size).  Persisting the
# exploded frame instead would spill 64x the vector bytes at 100 TB; the
# second scan is the cheaper path and keeps everything in whole-stage
# codegen.
# ---------------------------------------------------------------------------

def _exploded_micro(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "v")
    ).select(
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.round(F.col("v").cast("double") * 1000000).cast("bigint").alias("vi"),
    )


def q_sq8_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = _exploded_micro(spark, sf_dir)
    dims = ex.groupBy("pos").agg(
        F.min("vi").alias("dmin"),
        F.greatest(F.max("vi") - F.min("vi"), F.lit(1)).alias("rng"),
    )
    ex2 = _exploded_micro(spark, sf_dir)
    err = ex2.join(F.broadcast(dims), "pos").select(
        "pos",
        F.abs(
            F.col("vi")
            - (
                F.col("dmin")
                + F.expr("((vi - dmin) * 255 div rng) * rng div 255")
            )
        ).alias("abs_err"),
    )
    return err.groupBy("pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("abs_err").cast("bigint").alias("max_abs_err"),
        F.expr("CAST(SUM(abs_err) div COUNT(*) AS BIGINT)").alias("mean_abs_err"),
    )


SQL_SQ8_RECONSTRUCTION_ERROR = """
WITH mu AS (
  SELECT vec_id,
         list_transform(embedding,
                        v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS iv
  FROM embeddings
),
ex AS (SELECT vec_id, generate_subscripts(iv, 1) AS pos, unnest(iv) AS vi FROM mu),
dims AS (
  SELECT pos, min(vi) AS dmin, GREATEST(max(vi) - min(vi), 1) AS rng
  FROM ex GROUP BY pos
),
err AS (
  SELECT e.pos,
         abs(e.vi - (d.dmin + ((e.vi - d.dmin) * 255 // d.rng) * d.rng // 255))
             AS abs_err
  FROM ex e JOIN dims d USING (pos)
)
SELECT CAST(pos AS INTEGER) AS pos,
       CAST(count(*) AS BIGINT) AS n,
       CAST(max(abs_err) AS BIGINT) AS max_abs_err,
       CAST(SUM(abs_err) // count(*) AS BIGINT) AS mean_abs_err
FROM err GROUP BY pos
"""

register(
    "sq8_reconstruction_error",
    q_sq8_reconstruction_error,
    SQL_SQ8_RECONSTRUCTION_ERROR,
)


# ---------------------------------------------------------------------------
# LSH bucket-skew audit: the bucket-size histogram of the EXACT banding
# minhash_lsh_pairs self-joins on (shared code path: lsh_band_buckets).
# pairs_implied prices the candidate join per bucket size — the number you
# check BEFORE launching the 100 TB self-join, because one hot bucket of
# size s contributes s*(s-1)/2 candidate pairs on its own.  Output is
# bounded by the largest bucket size.
# ---------------------------------------------------------------------------

_LSH_K, _LSH_BANDS = 32, 8


def q_lsh_bucket_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = minhash_signatures(
        _neardup_corpus(spark, sf_dir), "text", "doc_id", k=_LSH_K, shingle_n=3
    )
    banded = lsh_band_buckets(sig, k=_LSH_K, bands=_LSH_BANDS)
    buckets = banded.groupBy("band", "bh").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return (
        buckets.groupBy(F.col("sz").alias("bucket_size"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_buckets"))
        .select(
            "bucket_size", "n_buckets",
            F.expr(
                "CAST(n_buckets * (bucket_size * (bucket_size - 1) div 2)"
                " AS BIGINT)"
            ).alias("pairs_implied"),
        )
    )


def _sql_lsh_bucket_skew_audit() -> str:
    consts = minhash_constants(_LSH_K)
    mins = ",\n           ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(consts)
    )
    rows = _LSH_K // _LSH_BANDS
    band_selects = []
    for j in range(_LSH_BANDS):
        cols = [f"m{i}" for i in range(j * rows, (j + 1) * rows)]
        concat = " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {j} AS band, {_md5_60(concat)} AS bh FROM sig"
        )
    bands_sql = "\n    UNION ALL\n    ".join(band_selects)
    md5_32 = "CAST(('0x' || substr(md5(shingle), 1, 8)) AS UBIGINT)::BIGINT"
    return f"""
WITH {_NEARDUP_CORPUS},
{_shingle_ctes(3)},
h AS (SELECT doc_id, {md5_32} AS h FROM sh),
sig AS (SELECT doc_id,
           {mins}
        FROM h GROUP BY doc_id),
bands AS (
    {bands_sql}
),
buckets AS (
  SELECT band, bh, CAST(count(*) AS BIGINT) AS sz FROM bands GROUP BY band, bh
)
SELECT sz AS bucket_size,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(count(*) * (sz * (sz - 1) // 2) AS BIGINT) AS pairs_implied
FROM buckets GROUP BY sz
"""


register("lsh_bucket_skew_audit", q_lsh_bucket_skew_audit, _sql_lsh_bucket_skew_audit())


# ===========================================================================
# Wave 4
# ===========================================================================

# ---------------------------------------------------------------------------
# Share-of-wallet concentration: per customer, the share (bps) its TOP
# supplier takes of its total spend, rolled into 10 concentration bands.
# The procurement-risk twin of single_source_risk, seen from the buyer
# side.  Plan: (cust, supp) cells via one keyed partial aggregate, then a
# per-customer max/sum aggregate (orders-per-customer is SF-invariant, so
# both exchanges are well-distributed keyed shuffles); the band histogram
# is bounded at 11 rows.  MAX of the per-supplier revenue makes the share
# tie-proof — no supplier identity is needed.
# ---------------------------------------------------------------------------

def q_share_of_wallet_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).cast("decimal(38,0)").alias("rev_e4"),
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cells = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.sum("rev_e4").alias("rev"))
    )
    per_cust = cells.groupBy("o_custkey").agg(
        F.max("rev").alias("top_rev"), F.sum("rev").alias("tot_rev")
    )
    return (
        per_cust.select(
            F.expr("CAST(top_rev * 10000 div tot_rev AS BIGINT)").alias("bps")
        )
        .groupBy(F.expr("bps div 1000").cast("bigint").alias("share_band"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


SQL_SHARE_OF_WALLET = """
WITH cells AS (
  SELECT o.o_custkey, l.l_suppkey,
         CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
              AS HUGEINT) AS rev
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, l.l_suppkey
),
per_cust AS (
  SELECT o_custkey, MAX(rev) AS top_rev, SUM(rev) AS tot_rev
  FROM cells GROUP BY o_custkey
)
SELECT CAST((top_rev * 10000 // tot_rev) // 1000 AS BIGINT) AS share_band,
       CAST(count(*) AS BIGINT) AS n_customers
FROM per_cust GROUP BY 1
"""

register(
    "share_of_wallet_concentration",
    q_share_of_wallet_concentration,
    SQL_SHARE_OF_WALLET,
)


# ---------------------------------------------------------------------------
# Nation trade balance: revenue where the nation SUPPLIES minus revenue
# where the nation BUYS, in e-4-dollar units.  Two independent fact
# aggregations meet in a 25-row full-outer join — the macro view on top of
# nation_trade_volume's pair matrix.  supplier/customer/orders UNHINTED;
# nation broadcasts.
# ---------------------------------------------------------------------------

def q_nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint"))
    ).cast("decimal(38,0)")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", rev.alias("rev_e4")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    exp = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("rev_e4").alias("exp"))
    )
    imp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("rev_e4").alias("imp"))
    )
    return (
        exp.join(imp, "n_name", "full_outer")
        .select(
            "n_name",
            F.coalesce(F.col("exp"), F.lit(0)).cast("bigint").alias("export_e4"),
            F.coalesce(F.col("imp"), F.lit(0)).cast("bigint").alias("import_e4"),
            (F.coalesce(F.col("exp"), F.lit(0)) - F.coalesce(F.col("imp"), F.lit(0)))
            .cast("bigint")
            .alias("balance_e4"),
        )
    )


SQL_NATION_TRADE_BALANCE = """
WITH rev AS (
  SELECT l_orderkey, l_suppkey,
         CAST(round(l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_e4
  FROM lineitem
),
exp AS (
  SELECT n.n_name, CAST(SUM(CAST(r.rev_e4 AS HUGEINT)) AS HUGEINT) AS exp
  FROM rev r
  JOIN supplier s ON r.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name
),
imp AS (
  SELECT n.n_name, CAST(SUM(CAST(r.rev_e4 AS HUGEINT)) AS HUGEINT) AS imp
  FROM rev r
  JOIN orders o   ON r.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT COALESCE(e.n_name, i.n_name) AS n_name,
       CAST(COALESCE(e.exp, 0) AS BIGINT) AS export_e4,
       CAST(COALESCE(i.imp, 0) AS BIGINT) AS import_e4,
       CAST(COALESCE(e.exp, 0) - COALESCE(i.imp, 0) AS BIGINT) AS balance_e4
FROM exp e FULL OUTER JOIN imp i ON e.n_name = i.n_name
"""

register("nation_trade_balance", q_nation_trade_balance, SQL_NATION_TRADE_BALANCE)


# ---------------------------------------------------------------------------
# Document prefix redundancy: template detection by the 60-bit fingerprint
# of each document's FIRST 8 tokens — shared prefixes are headers /
# boilerplate templates that exact dedup misses (bodies differ) and
# near-dup may under-weight.  Only (prefix_fp, doc) pairs shuffle; output
# is the multiplicity histogram, bounded by the hottest template.
# ---------------------------------------------------------------------------

_PREFIX_K = 8


def q_doc_prefix_redundancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    fp = d.select(
        md5_int(
            F.concat_ws(" ", F.slice(tokens_col("text"), 1, _PREFIX_K))
        ).alias("pfp")
    )
    groups = fp.groupBy("pfp").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return (
        groups.groupBy(F.col("sz").alias("group_size"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_groups"))
        .select(
            "group_size", "n_groups",
            F.expr("CAST(group_size * n_groups AS BIGINT)").alias("n_docs"),
        )
    )


SQL_DOC_PREFIX_REDUNDANCY = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
fp AS (
  SELECT {_md5_60(f"array_to_string(toks[1:{_PREFIX_K}], ' ')")} AS pfp FROM t
),
g AS (SELECT pfp, CAST(count(*) AS BIGINT) AS sz FROM fp GROUP BY pfp)
SELECT sz AS group_size,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sz * count(*) AS BIGINT) AS n_docs
FROM g GROUP BY sz
"""

register("doc_prefix_redundancy", q_doc_prefix_redundancy, SQL_DOC_PREFIX_REDUNDANCY)


# ---------------------------------------------------------------------------
# Hapax share by source: what fraction of each source's VOCABULARY occurs
# exactly once there — the classic lexical-richness / noise indicator
# (OCR garbage and boilerplate sit at opposite extremes).  One explode,
# one (source, word) aggregate (vocab-bounded), one per-source roll-up.
# ---------------------------------------------------------------------------

def q_hapax_share_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("source", "text")
    w = d.select("source", F.explode(tokens_col("text")).alias("w"))
    sv = w.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return sv.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        F.expr(
            "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000"
            " div COUNT(*) AS BIGINT)"
        ).alias("hapax_ppm"),
    )


SQL_HAPAX_SHARE_BY_SOURCE = f"""
WITH w AS (SELECT source, unnest({_TOKS}) AS w FROM documents),
sv AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
       FROM w GROUP BY source, w)
SELECT source,
       CAST(count(*) AS BIGINT) AS vocab_size,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
            AS BIGINT) AS hapax_ppm
FROM sv GROUP BY source
"""

register("hapax_share_by_source", q_hapax_share_by_source, SQL_HAPAX_SHARE_BY_SOURCE)


# ---------------------------------------------------------------------------
# Token branching factor: how many DISTINCT successor tokens each token
# has, rolled up by the token's frequency magnitude (decimal digit count).
# The branching curve is a cheap corpus-health signal: templated/generated
# text collapses branching at high frequencies.  Plan: consecutive-pair
# extraction is row-local (transform over the token array), pairs reduce
# to DISTINCT (w1, w2) before the successor count, and unigram counts ride
# the same exploded frame — the output is bounded by the digit-count
# bands (<= 19 for int64).
# ---------------------------------------------------------------------------

def q_token_branching_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        tokens_col("text").alias("toks")
    )
    pairs = d.select(
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN "
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i-1] AS w1, toks[i] AS w2)) "
                "ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    succ = pairs.distinct().groupBy("w1").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_succ")
    )
    uni = d.select(F.explode("toks").alias("w1")).groupBy("w1").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    joined = uni.join(succ, "w1", "left").select(
        F.length(F.col("freq").cast("string")).cast("bigint").alias("freq_band"),
        F.coalesce(F.col("n_succ"), F.lit(0)).alias("n_succ"),
    )
    return joined.groupBy("freq_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("n_succ").cast("bigint").alias("total_successors"),
        F.expr("CAST(SUM(n_succ) * 1000 div COUNT(*) AS BIGINT)")
        .alias("mean_branching_milli"),
    )


SQL_TOKEN_BRANCHING_FACTOR = f"""
WITH t AS (SELECT {_TOKS} AS toks FROM documents),
pairs AS (
  SELECT DISTINCT toks[i] AS w1, toks[i+1] AS w2
  FROM (SELECT toks, unnest(range(1, greatest(len(toks), 1))) AS i FROM t)
),
succ AS (SELECT w1, CAST(count(*) AS BIGINT) AS n_succ FROM pairs GROUP BY w1),
uni AS (
  SELECT w1, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY w1
),
joined AS (
  SELECT CAST(length(CAST(u.freq AS VARCHAR)) AS BIGINT) AS freq_band,
         COALESCE(s.n_succ, 0) AS n_succ
  FROM uni u LEFT JOIN succ s USING (w1)
)
SELECT freq_band,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(SUM(n_succ) AS BIGINT) AS total_successors,
       CAST(SUM(n_succ) * 1000 // count(*) AS BIGINT) AS mean_branching_milli
FROM joined GROUP BY freq_band
"""

register("token_branching_factor", q_token_branching_factor, SQL_TOKEN_BRANCHING_FACTOR)


# ---------------------------------------------------------------------------
# Embedding norm profile: per class label, the integer micro-unit squared
# L2 norm (min / max / mean) — the five-second sanity audit before any
# cosine index is trusted (un-normalized or zero vectors surface here).
# One posexplode, per-vector partial sums, one bounded label roll-up.
# ---------------------------------------------------------------------------

def q_embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    per_vec = e.select(
        "label",
        F.aggregate(
            F.transform(
                "embedding",
                lambda v: F.round(v.cast("double") * 1000000).cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, vi: acc + vi * vi,
        ).alias("norm2"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.min("norm2").cast("bigint").alias("min_norm2"),
        F.max("norm2").cast("bigint").alias("max_norm2"),
        F.expr(
            "CAST(SUM(CAST(norm2 AS DECIMAL(38,0))) div COUNT(*) AS BIGINT)"
        ).alias("mean_norm2"),
    )


SQL_EMBEDDING_NORM_PROFILE = """
WITH per_vec AS (
  SELECT label,
         CAST(list_sum(list_transform(embedding,
              v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)
                   * CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)))
              AS BIGINT) AS norm2
  FROM embeddings
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(min(norm2) AS BIGINT) AS min_norm2,
       CAST(max(norm2) AS BIGINT) AS max_norm2,
       CAST(SUM(CAST(norm2 AS HUGEINT)) // count(*) AS BIGINT) AS mean_norm2
FROM per_vec GROUP BY label
"""

register("embedding_norm_profile", q_embedding_norm_profile, SQL_EMBEDDING_NORM_PROFILE)


# ---------------------------------------------------------------------------
# Event-type co-occurrence lift across users: for each unordered pair of
# event types, do the SAME users produce both?  lift_ppm > 1e6 means the
# types attract, < 1e6 they repel.  The type universe is schema-bounded
# (~5), so the per-user pair fan-out is <= C(5,2) — the self-join is keyed
# by user and structurally tiny.  events ride the dtype-adaptive
# read_events (ts physical type drifts across testdata generations).
# ---------------------------------------------------------------------------

def q_event_type_user_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.io.sources import read_events

    ev = read_events(spark, sf_dir).select("user_id", "event_type").distinct()
    n_users = (
        read_events(spark, sf_dir).select("user_id").distinct()
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n_users"))
    )
    per_type = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_t")
    )
    a, b = ev.alias("a"), ev.alias("b")
    both = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n_both"))
    )
    ta = per_type.select(
        F.col("event_type").alias("type_a"), F.col("n_t").alias("na")
    )
    tb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("n_t").alias("nb")
    )
    return (
        both.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a", "type_b",
            F.col("n_both").cast("bigint").alias("n_both"),
            F.expr(
                "CAST(n_both * n_users * 1000000 div (na * nb) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


SQL_EVENT_TYPE_USER_LIFT = """
WITH ev AS (SELECT DISTINCT user_id, event_type FROM events),
n_users AS (SELECT CAST(count(DISTINCT user_id) AS HUGEINT) AS n_users
            FROM events),
per_type AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n_t
             FROM ev GROUP BY event_type),
pair_counts AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS HUGEINT) AS n_both
  FROM ev a JOIN ev b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b,
       CAST(n_both AS BIGINT) AS n_both,
       CAST(n_both * n_users * 1000000 // (ta.n_t * tb.n_t) AS BIGINT)
           AS lift_ppm
FROM pair_counts
JOIN per_type ta ON ta.event_type = type_a
JOIN per_type tb ON tb.event_type = type_b
CROSS JOIN n_users
"""

register("event_type_user_lift", q_event_type_user_lift, SQL_EVENT_TYPE_USER_LIFT)


# ---------------------------------------------------------------------------
# Order-priority mix drift: each priority's share of the year's orders
# (bps) and its drift against the base year.  Shares come from one keyed
# aggregate; the per-year totals and base-year shares are calendar x
# priority bounded artifacts (<= ~35 rows), so their joins broadcast by
# POLICY (bounded-artifact frames, not sf-scaling sides).
# ---------------------------------------------------------------------------

_DRIFT_BASE_YEAR = 1995


def q_order_priority_share_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("o_year"), "o_orderpriority"
    )
    cells = o.groupBy("o_year", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    totals = cells.groupBy("o_year").agg(F.sum("n").alias("yr_total"))
    shares = cells.join(F.broadcast(totals), "o_year").select(
        "o_year", "o_orderpriority",
        F.expr("CAST(n * 10000 div yr_total AS BIGINT)").alias("share_bps"),
    )
    base = shares.filter(F.col("o_year") == _DRIFT_BASE_YEAR).select(
        "o_orderpriority", F.col("share_bps").alias("base_bps")
    )
    return shares.join(F.broadcast(base), "o_orderpriority").select(
        "o_year", "o_orderpriority", "share_bps",
        (F.col("share_bps") - F.col("base_bps")).cast("bigint").alias("drift_bps"),
    )


SQL_ORDER_PRIORITY_SHARE_DRIFT = f"""
WITH cells AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, o_orderpriority,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
),
shares AS (
  SELECT o_year, o_orderpriority,
         CAST(n * 10000 // SUM(n) OVER (PARTITION BY o_year) AS BIGINT)
             AS share_bps
  FROM cells
),
base AS (SELECT o_orderpriority, share_bps AS base_bps
         FROM shares WHERE o_year = {_DRIFT_BASE_YEAR})
SELECT s.o_year, s.o_orderpriority, s.share_bps,
       CAST(s.share_bps - b.base_bps AS BIGINT) AS drift_bps
FROM shares s JOIN base b USING (o_orderpriority)
"""

register(
    "order_priority_share_drift",
    q_order_priority_share_drift,
    SQL_ORDER_PRIORITY_SHARE_DRIFT,
)


# ---------------------------------------------------------------------------
# Customer reactivation: an order is a REACTIVATION when it follows the
# customer's previous order by more than 180 days.  Counts per calendar
# year of the returning order — the resurrection curve next to the cohort
# retention and churn views.  Window is keyed by customer (SF-invariant
# group size); output is calendar-bounded.
# ---------------------------------------------------------------------------

_REACT_GAP_DAYS = 180


def q_customer_reactivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey",
        F.col("o_orderdate").cast("date").alias("od"),
    )
    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    gaps = o.withColumn("prev_od", F.lag("od").over(w)).filter(
        F.col("prev_od").isNotNull()
        & (F.datediff("od", "prev_od") > _REACT_GAP_DAYS)
    )
    return gaps.groupBy(F.year("od").cast("int").alias("o_year")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reactivations"),
        F.count_distinct(F.col("o_custkey")).cast("bigint").alias("n_customers"),
    )


SQL_CUSTOMER_REACTIVATION = f"""
WITH lagged AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
         lag(CAST(o_orderdate AS DATE)) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_od
  FROM orders
)
SELECT CAST(year(od) AS INTEGER) AS o_year,
       CAST(count(*) AS BIGINT) AS n_reactivations,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM lagged
WHERE prev_od IS NOT NULL AND date_diff('day', prev_od, od) > {_REACT_GAP_DAYS}
GROUP BY 1
"""

register("customer_reactivation", q_customer_reactivation, SQL_CUSTOMER_REACTIVATION)


# ---------------------------------------------------------------------------
# Centroid drift between corpus halves: per class label, the squared
# micro-unit distance between the centroid computed from even vec_ids and
# the one from odd vec_ids — the train/serve drift audit for an embedding
# store (a healthy ingest has near-identical halves).  Centroids are
# integral (sum div n per dimension); the K x dim centroid frames are
# bounded artifacts, so their join is label+dim keyed and tiny.
# ---------------------------------------------------------------------------

def q_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    ex = e.select(
        "label",
        (F.col("vec_id") % 2).cast("int").alias("half"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "label", "half", "pos",
        F.round(F.col("v").cast("double") * 1000000).cast("bigint").alias("vi"),
    )
    cent = ex.groupBy("label", "half", "pos").agg(
        F.expr("CAST(SUM(CAST(vi AS DECIMAL(38,0))) div COUNT(*) AS BIGINT)")
        .alias("c")
    )
    c0 = cent.filter(F.col("half") == 0).select(
        "label", "pos", F.col("c").alias("c0")
    )
    c1 = cent.filter(F.col("half") == 1).select(
        "label", "pos", F.col("c").alias("c1")
    )
    return (
        c0.join(c1, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dims"),
            F.sum((F.col("c0") - F.col("c1")) * (F.col("c0") - F.col("c1")))
            .cast("bigint")
            .alias("drift_sq"),
        )
    )


SQL_EMBEDDING_CENTROID_DRIFT = """
WITH mu AS (
  SELECT label, CAST(vec_id % 2 AS INTEGER) AS half,
         list_transform(embedding,
                        v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS iv
  FROM embeddings
),
ex AS (SELECT label, half, generate_subscripts(iv, 1) AS pos, unnest(iv) AS vi
       FROM mu),
cent AS (
  SELECT label, half, pos,
         CAST(SUM(CAST(vi AS HUGEINT)) // count(*) AS BIGINT) AS c
  FROM ex GROUP BY label, half, pos
)
SELECT c0.label,
       CAST(count(*) AS BIGINT) AS n_dims,
       CAST(SUM((c0.c - c1.c) * (c0.c - c1.c)) AS BIGINT) AS drift_sq
FROM cent c0 JOIN cent c1
  ON c0.label = c1.label AND c0.pos = c1.pos
WHERE c0.half = 0 AND c1.half = 1
GROUP BY c0.label
"""

register(
    "embedding_centroid_drift",
    q_embedding_centroid_drift,
    SQL_EMBEDDING_CENTROID_DRIFT,
)


# ===========================================================================
# Wave 5
# ===========================================================================

# ---------------------------------------------------------------------------
# Ship-lag percentiles by priority — the scale-safe exact-percentile
# pattern (ops/percentile.py::bounded_domain_percentiles).  Unlike
# exact_percentiles' F.percentile (which buffers + sorts every group
# member — a memory hazard when one priority holds 1/5 of a 100 TB fact
# table), the day-lag domain is calendar-bounded, so the exact p50/p90/p99
# come from a counting histogram: one map-side-combinable aggregate whose
# output is |priorities| x |days|, then windows over that bounded frame.
# ---------------------------------------------------------------------------

def q_ship_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.ops.percentile import bounded_domain_percentiles

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    lag = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).cast("bigint").alias("lag_days"),
    )
    return bounded_domain_percentiles(
        lag, ["o_orderpriority"], "lag_days",
        [(50, "p50_lag"), (90, "p90_lag"), (99, "p99_lag")],
    )


def _sql_ship_lag_percentiles() -> str:
    from lakeforge.ops.percentile import duckdb_percentile_sql

    src = """
  SELECT o.o_orderpriority,
         CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""
    return duckdb_percentile_sql(
        src, ["o_orderpriority"], "lag_days",
        [(50, "p50_lag"), (90, "p90_lag"), (99, "p99_lag")],
    )


register("ship_lag_percentiles", q_ship_lag_percentiles, _sql_ship_lag_percentiles())


# ---------------------------------------------------------------------------
# Median (and p90) days between consecutive orders, by market segment —
# the reorder-cadence number planners quote.  Gap extraction is a keyed
# per-customer window (SF-invariant group size); the segment join is
# UNHINTED (customer scales); the percentile rides the same bounded
# histogram operator (gap domain is calendar-bounded).
# ---------------------------------------------------------------------------

def q_order_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.ops.percentile import bounded_domain_percentiles

    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    gaps = (
        o.withColumn("prev_od", F.lag("od").over(w))
        .filter(F.col("prev_od").isNotNull())
        .select(
            "o_custkey",
            F.datediff("od", "prev_od").cast("bigint").alias("gap_days"),
        )
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg_gaps = gaps.join(c, gaps.o_custkey == c.c_custkey).select(
        "c_mktsegment", "gap_days"
    )
    return bounded_domain_percentiles(
        seg_gaps, ["c_mktsegment"], "gap_days",
        [(50, "median_gap"), (90, "p90_gap")],
    )


def _sql_order_gap_percentiles() -> str:
    from lakeforge.ops.percentile import duckdb_percentile_sql

    src = """
  SELECT c.c_mktsegment,
         CAST(date_diff('day', g.prev_od, g.od) AS BIGINT) AS gap_days
  FROM (
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
           lag(CAST(o_orderdate AS DATE)) OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_od
    FROM orders) g
  JOIN customer c ON g.o_custkey = c.c_custkey
  WHERE g.prev_od IS NOT NULL
"""
    return duckdb_percentile_sql(
        src, ["c_mktsegment"], "gap_days",
        [(50, "median_gap"), (90, "p90_gap")],
    )


register("order_gap_percentiles", q_order_gap_percentiles, _sql_order_gap_percentiles())


# ---------------------------------------------------------------------------
# Discount depth vs quantity band: mean discount (bps) and revenue share
# (ppm) per 10-unit quantity band — the volume-discount curve pricing
# reads.  One scan to 5 band cells; the revenue total is a full-frame
# window over that BOUNDED cell table (the documented block-summary
# pattern), so no second scan and no sf-scaling broadcast.
# ---------------------------------------------------------------------------

def q_discount_depth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        F.expr("(CAST(round(l_quantity) AS BIGINT) - 1) div 10").alias("qty_band"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("disc_bps"),
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).cast("decimal(38,0)").alias("rev_e4"),
    )
    cells = li.groupBy("qty_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("disc_bps").cast("decimal(38,0)")).alias("__sd"),
        F.sum("rev_e4").alias("__rev"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cells.withColumn(
        "__tot", F.sum("__rev").over(w_all)
    ).select(
        "qty_band", "n_lines",
        F.expr("CAST(__sd div n_lines AS BIGINT)").alias("mean_discount_bps"),
        F.expr("CAST(__rev * 1000000 div __tot AS BIGINT)")
        .alias("revenue_share_ppm"),
    )


SQL_DISCOUNT_DEPTH_CURVE = """
WITH cells AS (
  SELECT (CAST(round(l_quantity) AS BIGINT) - 1) // 10 AS qty_band,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(SUM(CAST(round(l_discount * 10000) AS BIGINT)) AS HUGEINT) AS sd,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT)))
              AS HUGEINT) AS rev
  FROM lineitem GROUP BY 1
)
SELECT qty_band, n_lines,
       CAST(sd // n_lines AS BIGINT) AS mean_discount_bps,
       CAST(rev * 1000000 // SUM(rev) OVER () AS BIGINT) AS revenue_share_ppm
FROM cells
"""

register("discount_depth_curve", q_discount_depth_curve, SQL_DISCOUNT_DEPTH_CURVE)


# ---------------------------------------------------------------------------
# Length x quality joint histogram: the 2-D (char-length band, TTR band)
# doc-count grid that training-mix reviews read before setting quality
# gates (are we about to drop all the LONG docs?).  Entirely row-local
# feature extraction, one bounded aggregate (<= 100 cells).
# ---------------------------------------------------------------------------

def q_length_quality_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("n_chars", "text")
    scored = d.select(
        F.least(F.expr("n_chars div 100"), F.lit(9).cast("bigint")).alias("len_band"),
        tokens_col("text").alias("toks"),
    ).select(
        "len_band",
        F.expr(
            "CASE WHEN size(toks) = 0 THEN CAST(0 AS BIGINT) ELSE "
            "CAST(size(array_distinct(toks)) AS BIGINT) * 1000000"
            " div size(toks) END"
        ).alias("ttr_ppm"),
    )
    return (
        scored.select(
            "len_band",
            F.least(F.expr("ttr_ppm div 100000"), F.lit(9).cast("bigint"))
            .alias("ttr_band"),
        )
        .groupBy("len_band", "ttr_band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


SQL_LENGTH_QUALITY_HISTOGRAM = f"""
WITH scored AS (
  SELECT LEAST(n_chars // 100, 9) AS len_band,
         CASE WHEN len(toks) = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(len(list_distinct(toks)) AS BIGINT) * 1000000
                   // len(toks) END AS ttr_ppm
  FROM (SELECT n_chars, {_TOKS} AS toks FROM documents)
)
SELECT len_band, LEAST(ttr_ppm // 100000, 9) AS ttr_band,
       CAST(count(*) AS BIGINT) AS n_docs
FROM scored GROUP BY 1, 2
"""

register(
    "length_quality_histogram",
    q_length_quality_histogram,
    SQL_LENGTH_QUALITY_HISTOGRAM,
)


# ---------------------------------------------------------------------------
# SimHash Hamming-distance histogram over the BANDED candidate pairs —
# the threshold-tuning audit for simhash_neardup: how many candidate
# pairs sit at each distance, i.e. what would a max_hamming of 2/3/4
# admit?  Candidates come from the same pigeonhole banding the dedup
# join uses (exact recall for hamming <= bands-1; higher distances appear
# only via band collisions — which is exactly what the audit measures).
#
# Scale rebuild (VERDICT r09 #4): the r9 shape (32-bit/4x8-bit bands) had
# a fixed 4x256-value bucket universe, so candidate volume saturated
# toward n^2/1024 and the 100x probe had to be capped.  The failure mode
# is band WIDTH, not fingerprint width — 64-bit/8x8-bit bands (the note's
# literal suggestion) keeps the same 256-value slices and saturates
# identically, only with MORE bands feeding it.  Fixed three ways at once:
#   1. 60-bit fingerprint (md5_int's 15-hex convention; bit 63 of a
#      signed BIGINT can't ride `1 << b`), 4 bands x 15 bits -> 32,768
#      bucket values per band, 256x fewer random collisions, and exact
#      recall for hamming <= 3 — exactly the 2/3/4 thresholds the audit
#      tunes.
#   2. Dup-flood collapse: the self-join runs over DISTINCT fingerprints
#      carrying their multiplicity, never over docs.  Exact-duplicate
#      floods (the measured pathology: one 136-doc bucket in a 500-doc
#      corpus) contribute C(cnt,2) hamming-0 pairs ANALYTICALLY and
#      cnt_a*cnt_b cross pairs via the weights, so a million-copy
#      boilerplate flood costs ONE row in the join.  Result is exactly
#      the r9 per-doc-pair histogram, computed without enumerating pairs.
#   3. A deterministic per-bucket cap (first _SH_CAP distinct fps per
#      (band, bh)): join work per bucket <= C(cap,2) and buckets <= 4n,
#      so candidate volume is provably O(n * bands * cap) — LINEAR at any
#      corpus size.  After the collapse, no test-SF bucket comes near the
#      cap (max 82 of 128), so the histogram there is exact; oracle
#      applies the identical QUALIFY rank, capping in lockstep.
# Fingerprints are persisted 16-byte rows; only (fp, band, bh) shuffles.
# ---------------------------------------------------------------------------

_SH_BITS, _SH_BANDS, _SH_CAP = 60, 4, 128


def q_simhash_hamming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.cache import persist_tracked
    from lakeforge.llm.dedup import simhash_fingerprints

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # Collapse to (fingerprint, multiplicity) BEFORE any pair machinery.
    grp = persist_tracked(
        simhash_fingerprints(docs, "text", "doc_id", bits=_SH_BITS)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    width = _SH_BITS // _SH_BANDS
    mask = (1 << width) - 1
    banded = grp.select(
        "simhash", "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bh"),
                    )
                    for b in range(_SH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("simhash", "cnt", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    # Deterministic bucket cap on distinct fps: the rank window partitions
    # by (band, bh) — the same key the self-join shuffles on — no new
    # exchange.
    w_bucket = Window.partitionBy("band", "bh").orderBy("simhash")
    capped = banded.withColumn("__r", F.row_number().over(w_bucket)).filter(
        F.col("__r") <= _SH_CAP
    ).drop("__r")
    a, b = capped.alias("a"), capped.alias("b")
    cross = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .select(
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
            (F.col("a.cnt") * F.col("b.cnt")).alias("w"),
        )
        .dropDuplicates(["sa", "sb"])
        .select(
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
            .cast("bigint")
            .alias("hamming"),
            "w",
        )
    )
    # Hamming-0 pairs are WITHIN a fingerprint group: C(cnt, 2), no join.
    # Exact integer C(cnt,2) (ADVICE r10 #3): double division loses
    # exactness past 2^53 pairs (cnt >= ~1.3e8 identical fingerprints);
    # `div` keeps the dup-flood collapse exact at any scale.
    zero = grp.filter(F.col("cnt") > 1).select(
        F.lit(0).cast("bigint").alias("hamming"),
        F.expr("CAST(cnt * (cnt - 1) div 2 AS BIGINT)").alias("w"),
    )
    return (
        cross.unionByName(zero)
        .groupBy("hamming")
        .agg(F.sum("w").cast("bigint").alias("n_pairs"))
    )


def _sql_simhash_hamming_histogram() -> str:
    from lakeforge.workload_llm import _sql_simhash

    width = _SH_BITS // _SH_BANDS
    mask = (1 << width) - 1
    banded = "\n  UNION ALL\n".join(
        f"  SELECT simhash, cnt, {b} AS band,"
        f" (simhash >> {b * width}) & {mask} AS bh FROM grp"
        for b in range(_SH_BANDS)
    )
    return f"""
WITH fp AS ({_sql_simhash(bits=_SH_BITS)}),
grp AS (
  SELECT simhash, CAST(count(*) AS BIGINT) AS cnt FROM fp GROUP BY simhash
),
banded AS (
{banded}
),
capped AS (
  SELECT simhash, cnt, band, bh
  FROM banded
  QUALIFY row_number() OVER (PARTITION BY band, bh ORDER BY simhash) <= {_SH_CAP}
),
cross_pairs AS (
  SELECT DISTINCT a.simhash AS sa, b.simhash AS sb,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming,
         a.cnt * b.cnt AS w
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.bh = b.bh AND a.simhash < b.simhash
),
pairs AS (
  SELECT hamming, w FROM cross_pairs
  UNION ALL
  SELECT CAST(0 AS BIGINT) AS hamming, cnt * (cnt - 1) // 2 AS w
  FROM grp WHERE cnt > 1
)
SELECT hamming, CAST(SUM(w) AS BIGINT) AS n_pairs
FROM pairs GROUP BY hamming
"""


register(
    "simhash_hamming_histogram",
    q_simhash_hamming_histogram,
    _sql_simhash_hamming_histogram(),
)


# ---------------------------------------------------------------------------
# IVF cell-balance audit: the k-means coarse quantizer's assignment
# counts and share (bps) per cell — dead or bloated cells are what make
# an IVF index's nprobe guarantees lie.  Rides the EXACT kmeans the
# kmeans_embeddings / ivf queries use (same integer micro-unit
# arithmetic, same deterministic seeding), so the audit describes the
# real index, and the share computation is a window over <= k rows.
# ---------------------------------------------------------------------------

def q_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.llm.clustering import kmeans_assignments
    from lakeforge.workload_llm import _KMEANS_ITERS, _KMEANS_K

    emb = table(spark, sf_dir, "embeddings")
    asg = kmeans_assignments(emb, k=_KMEANS_K, iters=_KMEANS_ITERS)
    cells = asg.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cells.withColumn(
        "__tot", F.sum("n_vectors").over(w_all)
    ).select(
        "cluster", "n_vectors",
        F.expr("CAST(n_vectors * 10000 div __tot AS BIGINT)").alias("share_bps"),
    )


def _sql_ivf_cell_balance() -> str:
    from lakeforge.workload_llm import _KMEANS_ITERS, _KMEANS_K, _sql_kmeans

    return f"""
WITH asg AS ({_sql_kmeans(_KMEANS_K, _KMEANS_ITERS)}),
cells AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors
  FROM asg GROUP BY cluster
)
SELECT cluster, n_vectors,
       CAST(n_vectors * 10000 // SUM(n_vectors) OVER () AS BIGINT) AS share_bps
FROM cells
"""


register("ivf_cell_balance", q_ivf_cell_balance, _sql_ivf_cell_balance())


# ===========================================================================
# Wave 6
# ===========================================================================

# ---------------------------------------------------------------------------
# Cohort LTV curve: the classic revenue triangle — customers grouped by
# first-order year, cumulative revenue per cohort at each age.  The
# first-order year is one keyed aggregate (orders-per-customer is
# SF-invariant); the curve's cumulative window runs over the
# calendar-bounded (cohort, age) cell table, never over fact rows.
# ---------------------------------------------------------------------------

def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    first = o.groupBy("o_custkey").agg(F.min("o_year").alias("cohort_year"))
    cells = (
        o.join(first, "o_custkey")
        .groupBy("cohort_year", (F.col("o_year") - F.col("cohort_year")).alias("age"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("__rev"),
        )
    )
    w_cum = Window.partitionBy("cohort_year").orderBy("age").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return cells.select(
        "cohort_year",
        F.col("age").cast("int").alias("age"),
        "n_orders",
        F.sum("__rev").over(w_cum).cast("bigint").alias("cum_rev_cents"),
    )


SQL_COHORT_LTV_CURVE = """
WITH o AS (
  SELECT o_custkey, CAST(year(o_orderdate) AS INTEGER) AS o_year,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
first_yr AS (SELECT o_custkey, MIN(o_year) AS cohort_year FROM o GROUP BY o_custkey),
cells AS (
  SELECT f.cohort_year, o.o_year - f.cohort_year AS age,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o.cents AS HUGEINT)) AS HUGEINT) AS rev
  FROM o JOIN first_yr f USING (o_custkey)
  GROUP BY 1, 2
)
SELECT cohort_year, CAST(age AS INTEGER) AS age, n_orders,
       CAST(SUM(rev) OVER (PARTITION BY cohort_year ORDER BY age
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
FROM cells
"""

register("cohort_ltv_curve", q_cohort_ltv_curve, SQL_COHORT_LTV_CURVE)


# ---------------------------------------------------------------------------
# IVF recall-vs-nprobe curve: the tuning table every IVF deployment
# reads — overall recall@k at nprobe = 1 / 2 / 4 against the exact
# top-k, in one bounded report.  Scale note: the exact side is the
# expensive one (O(Q x N)) and runs on the fixed 20-query probe set;
# each nprobe branch prunes the corpus to ~nprobe/n_cells of its cells
# exactly as the production index would.
# ---------------------------------------------------------------------------

_CURVE_NPROBES = (1, 2, 4)


def q_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.llm.similarity import ivf_topk_curve
    from lakeforge.workload_llm import (
        _IVF_CELLS,
        _N_QUERIES,
        _TOPK,
        q_embedding_cosine_topk,
    )

    from lakeforge.cache import persist_tracked

    # The exact top-k is the expensive side (O(Q x N)) and all three
    # nprobe branches reference it: persist the bounded Q x k artifact.
    exact = persist_tracked(
        q_embedding_cosine_topk(spark, sf_dir).select(
            "query_id", F.col("neighbor_id").alias("e_nb")
        )
    )
    # r12 opt (guide §2.4): the three nprobe branches previously rebuilt
    # the whole IVF pipeline (assign + probe + score) each — ivf_topk_curve
    # runs it ONCE and derives every curve point by probe_rank filter +
    # top-k window (provably identical per point; see similarity.py).
    curve = ivf_topk_curve(
        table(spark, sf_dir, "embeddings"), "embedding", "vec_id",
        nprobes=_CURVE_NPROBES,
        n_cells=_IVF_CELLS, n_queries=_N_QUERIES, k=_TOPK,
    )
    out = None
    for np_ in _CURVE_NPROBES:
        approx = curve.filter(F.col("nprobe") == np_).select(
            "query_id", F.col("neighbor_id").alias("a_nb")
        )
        hits = (
            exact.join(
                approx,
                (exact.query_id == approx.query_id)
                & (F.col("e_nb") == F.col("a_nb")),
                "left",
            )
            .agg(
                F.count("a_nb").cast("bigint").alias("n_hits"),
                F.count(F.lit(1)).cast("bigint").alias("__n"),
            )
            .select(
                F.lit(np_).cast("int").alias("nprobe"),
                "n_hits",
                F.expr("CAST(n_hits * 1000 div __n AS BIGINT)")
                .alias("recall_permille"),
            )
        )
        out = hits if out is None else out.unionByName(hits)
    return out


def _sql_ivf_recall_curve() -> str:
    # ADVICE r09 #2: the O(Q x N) exact top-k is hoisted into ONE shared
    # CTE referenced by all three nprobe branches (mirroring the Spark
    # side's persist of the same artifact) instead of being inlined —
    # and so recomputed — once per branch.
    from lakeforge.workload_llm import SQL_EMBEDDING_COSINE_TOPK, _sql_ivf_topk

    blocks = []
    for np_ in _CURVE_NPROBES:
        blocks.append(f"""
SELECT CAST({np_} AS INTEGER) AS nprobe,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
       CAST(COUNT(a.neighbor_id) * 1000 // COUNT(*) AS BIGINT) AS recall_permille
FROM __exact e
LEFT JOIN (SELECT query_id, neighbor_id
           FROM ({_sql_ivf_topk(np_)}) _a{np_}) a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id""")
    union = "\nUNION ALL\n".join(blocks)
    return (
        f"WITH __exact AS (SELECT query_id, neighbor_id"
        f" FROM ({SQL_EMBEDDING_COSINE_TOPK}) _e)\n{union}"
    )


register("ivf_recall_curve", q_ivf_recall_curve, _sql_ivf_recall_curve())


# ---------------------------------------------------------------------------
# Near-dup cluster-size histogram: the shape of the duplicate graph the
# LSH pipeline finds — a few big clusters means boilerplate families,
# many pairs means mutation chains.  Rolls up the SAME connected
# components neardup_clusters emits; output is bounded by the largest
# cluster.
# ---------------------------------------------------------------------------

def q_neardup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.workload_llm import q_neardup_clusters

    clusters = q_neardup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
    )


def _sql_neardup_cluster_sizes() -> str:
    from lakeforge.workload_llm import _sql_neardup_clusters

    return f"""
WITH clusters AS ({_sql_neardup_clusters()}),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
  FROM clusters GROUP BY cluster_id
)
SELECT sz AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs
FROM sizes GROUP BY sz
"""


register("neardup_cluster_sizes", q_neardup_cluster_sizes, _sql_neardup_cluster_sizes())


# ---------------------------------------------------------------------------
# Time to second order: days between a customer's first and second order
# — the activation metric growth teams watch — as exact median/p90 per
# market segment via the bounded-domain histogram percentile (the gap
# domain is calendar-bounded).
# ---------------------------------------------------------------------------

def q_time_to_second_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.ops.percentile import bounded_domain_percentiles

    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    ranked = o.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    first = ranked.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("od").alias("d1")
    )
    second = ranked.filter(F.col("rn") == 2).select(
        "o_custkey", F.col("od").alias("d2")
    )
    gaps = first.join(second, "o_custkey").select(
        "o_custkey", F.datediff("d2", "d1").cast("bigint").alias("gap_days")
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = gaps.join(c, gaps.o_custkey == c.c_custkey).select(
        "c_mktsegment", "gap_days"
    )
    return bounded_domain_percentiles(
        seg, ["c_mktsegment"], "gap_days",
        [(50, "median_days"), (90, "p90_days")],
    )


def _sql_time_to_second_order() -> str:
    from lakeforge.ops.percentile import duckdb_percentile_sql

    src = """
  SELECT c.c_mktsegment,
         CAST(date_diff('day', g.d1, g.d2) AS BIGINT) AS gap_days
  FROM (
    SELECT o_custkey,
           MIN(CASE WHEN rn = 1 THEN od END) AS d1,
           MIN(CASE WHEN rn = 2 THEN od END) AS d2
    FROM (SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
                 row_number() OVER (PARTITION BY o_custkey
                     ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 2 GROUP BY o_custkey) g
  JOIN customer c ON g.o_custkey = c.c_custkey
  WHERE g.d2 IS NOT NULL
"""
    return duckdb_percentile_sql(
        src, ["c_mktsegment"], "gap_days",
        [(50, "median_days"), (90, "p90_days")],
    )


register("time_to_second_order", q_time_to_second_order, _sql_time_to_second_order())


# ---------------------------------------------------------------------------
# Event-value percentiles by type: p50/p95/p99 of the event's value at
# cent resolution — the value domain becomes a bounded integer grid
# (~10k cells), so the same counting-histogram percentile applies to a
# DOUBLE column the moment a fixed resolution is chosen.  events ride
# the dtype-adaptive read_events.
# ---------------------------------------------------------------------------

def q_event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.io.sources import read_events
    from lakeforge.ops.percentile import bounded_domain_percentiles

    ev = read_events(spark, sf_dir).select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    return bounded_domain_percentiles(
        ev, ["event_type"], "value_cents",
        [(50, "p50_cents"), (95, "p95_cents"), (99, "p99_cents")],
    )


def _sql_event_value_percentiles() -> str:
    from lakeforge.ops.percentile import duckdb_percentile_sql

    src = """
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS value_cents
  FROM events
"""
    return duckdb_percentile_sql(
        src, ["event_type"], "value_cents",
        [(50, "p50_cents"), (95, "p95_cents"), (99, "p99_cents")],
    )


register(
    "event_value_percentiles",
    q_event_value_percentiles,
    _sql_event_value_percentiles(),
)


# ===========================================================================
# Wave 7
# ===========================================================================

# ---------------------------------------------------------------------------
# Correlated LATERAL top-k: the two highest-balance customers per nation
# via a lateral subquery with correlated ORDER BY ... LIMIT — the SQL
# engine surface (Spark 4 lateral correlated subquery) next to the
# window-function formulation rank_orders_top3 demonstrates.  Catalyst
# rewrites the lateral limit into a per-nation top-k; customer stays
# UNHINTED.
# ---------------------------------------------------------------------------

def q_lateral_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ADVICE r09 #3: session-global fixed view names can race when one
    # SparkSession is pointed at different sf_dirs (every other query in
    # the registry is view-free).  Views are named per-sf_dir and dropped
    # immediately: spark.sql() resolves them at ANALYSIS time, so the
    # returned DataFrame's plan no longer references the catalog entries.
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    nview, cview = f"__r9b_nation_{tag}", f"__r9b_customer_{tag}"
    table(spark, sf_dir, "nation").createOrReplaceTempView(nview)
    table(spark, sf_dir, "customer").createOrReplaceTempView(cview)
    try:
        return spark.sql(f"""
          SELECT n.n_name, t.c_name, t.acctbal_cents
          FROM {nview} n, LATERAL (
            SELECT c_name,
                   CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
            FROM {cview} c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2
          ) t
        """)
    finally:
        spark.catalog.dropTempView(nview)
        spark.catalog.dropTempView(cview)


SQL_LATERAL_TOPK_CUSTOMERS = """
SELECT n.n_name, t.c_name, t.acctbal_cents
FROM nation n, LATERAL (
  SELECT c_name,
         CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2
) t
"""

register("lateral_topk_customers", q_lateral_topk_customers, SQL_LATERAL_TOPK_CUSTOMERS)


# ---------------------------------------------------------------------------
# Percent-of-parent hierarchy shares: each nation's revenue share within
# its REGION (bps) and each region's share of the total — the drill-down
# companion to rollup_revenue's subtotals.  One fact aggregate to 25
# nation cells; both share levels are windows over that bounded frame.
# ---------------------------------------------------------------------------

def q_region_nation_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).cast("decimal(38,0)").alias("rev_e4"),
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    cells = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum("rev_e4").alias("rev"))
    )
    w_region = Window.partitionBy("r_name")
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # ADVICE r09 #1: the all-nations total must be summed on the
    # decimal(38,0) column — at the 100 TB target the global e-4 revenue
    # total (~2e20) overflows int64 before any cast, diverging from the
    # oracle's HUGEINT SUM(rev) OVER ().  Same convention as
    # share_of_region_bps / discount_depth_curve.
    return cells.select(
        "r_name", "n_name", "rev",
        F.col("rev").cast("bigint").alias("rev_e4"),
        F.expr(
            "CAST(rev * 10000 div SUM(rev) OVER (PARTITION BY r_name)"
            " AS BIGINT)"
        ).alias("share_of_region_bps"),
        (F.col("rev") * 10000).alias("__r4"),
    ).withColumn(
        "__tot", F.sum("rev").over(w_all)
    ).select(
        "r_name", "n_name", "rev_e4", "share_of_region_bps",
        F.expr("CAST(__r4 div __tot AS BIGINT)").alias("share_of_total_bps"),
    )


SQL_REGION_NATION_SHARE = """
WITH cells AS (
  SELECT r.r_name, n.n_name,
         CAST(SUM(CAST(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                  AS HUGEINT)) AS HUGEINT) AS rev
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  JOIN region r   ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name
)
SELECT r_name, n_name,
       CAST(rev AS BIGINT) AS rev_e4,
       CAST(rev * 10000 // SUM(rev) OVER (PARTITION BY r_name) AS BIGINT)
           AS share_of_region_bps,
       CAST(rev * 10000 // SUM(rev) OVER () AS BIGINT) AS share_of_total_bps
FROM cells
"""

register("region_nation_share", q_region_nation_share, SQL_REGION_NATION_SHARE)


# ---------------------------------------------------------------------------
# Position-based (U-shaped 40/20/40) multi-touch attribution: next to the
# LINEAR split multitouch_attribution demonstrates, the industry's other
# standard scheme — 400 permille to the FIRST touch, 400 to the LAST,
# 200 split across the middles, integer remainders assigned
# deterministically (to the last touch) so every purchase's credit sums
# to exactly 1000 on both engines.  Same bounded interval join (shuffle
# by user, fan-out bounded by the 30-minute window); per-purchase
# windows are keyed by purchase.
# ---------------------------------------------------------------------------

def q_events_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.io.sources import read_events

    ev = read_events(spark, sf_dir)
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id",
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    pairs = v.join(
        p,
        (v["user_id"] == p["p_user_id"])
        & (p["purchase_ts"] >= v["view_ts"])
        & (p["purchase_ts"] <= v["view_ts"] + F.expr("INTERVAL 30 MINUTES")),
    )
    w = Window.partitionBy("purchase_id")
    wr = Window.partitionBy("purchase_id").orderBy("view_ts", "view_id")
    credited = pairs.select(
        "view_id", "view_ts", "purchase_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.row_number().over(wr).cast("bigint").alias("rn"),
    ).withColumn(
        "credit",
        F.expr(
            "CASE WHEN n = 1 THEN 1000 "
            "WHEN n = 2 THEN 500 "
            "WHEN rn = 1 THEN 400 "
            # last touch: 400 + whatever 200 div (n-2) truncation left over
            "WHEN rn = n THEN 400 + (200 - (200 div (n - 2)) * (n - 2)) "
            "ELSE 200 div (n - 2) END"
        ).cast("bigint"),
    )
    return credited.groupBy(F.hour("view_ts").alias("view_hour")).agg(
        F.sum("credit").cast("bigint").alias("credit_permille"),
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
    )


SQL_EVENTS_POSITION_ATTRIBUTION = """
WITH v AS (
  SELECT event_id AS view_id, user_id, ts AS view_ts
  FROM events WHERE event_type = 'view'
),
p AS (
  SELECT event_id AS purchase_id, user_id AS p_user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT v.view_id, v.view_ts, p.purchase_id
  FROM v JOIN p
    ON v.user_id = p.p_user_id
   AND p.purchase_ts >= v.view_ts
   AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE
),
credited AS (
  SELECT view_id, view_ts,
         CAST(count(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n,
         CAST(row_number() OVER (PARTITION BY purchase_id
                                 ORDER BY view_ts, view_id) AS BIGINT) AS rn
  FROM pairs
)
SELECT CAST(hour(view_ts) AS INTEGER) AS view_hour,
       CAST(SUM(CASE WHEN n = 1 THEN 1000
                     WHEN n = 2 THEN 500
                     WHEN rn = 1 THEN 400
                     WHEN rn = n THEN 400 + (200 - (200 // (n - 2)) * (n - 2))
                     ELSE 200 // (n - 2) END) AS BIGINT) AS credit_permille,
       CAST(count(*) AS BIGINT) AS n_touches
FROM credited GROUP BY 1
"""

register(
    "events_position_attribution",
    q_events_position_attribution,
    SQL_EVENTS_POSITION_ATTRIBUTION,
)


# ---------------------------------------------------------------------------
# Jaccard threshold sweep: how many near-dup pairs (and docs) a dedup at
# permille threshold 300/500/700/900 would admit — the tuning table read
# BEFORE committing a threshold, from ONE pass over the candidate pairs
# (conditional aggregates + a 4-row stack; no per-threshold rescan).
# ---------------------------------------------------------------------------

_SWEEP_TS = (300, 500, 700, 900)


def q_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.llm.dedup import jaccard_pairs

    pairs = jaccard_pairs(
        _neardup_corpus(spark, sf_dir), "text", "doc_id",
        shingle_n=3, df_cap=50, min_permille=300,
    )
    ex = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("id"),
        F.col("jaccard_permille").alias("j"),
    )
    aggs = []
    for t in _SWEEP_TS:
        aggs.append(
            F.expr(
                f"CAST(SUM(CASE WHEN j >= {t} THEN 1 ELSE 0 END)"
                " div 2 AS BIGINT)"
            ).alias(f"__p{t}")
        )
        aggs.append(
            F.count_distinct(F.when(F.col("j") >= t, F.col("id")))
            .cast("bigint").alias(f"__d{t}")
        )
    one = ex.agg(*aggs)
    stack = ", ".join(
        f"CAST({t} AS BIGINT), __p{t}, __d{t}" for t in _SWEEP_TS
    )
    return one.selectExpr(
        f"stack({len(_SWEEP_TS)}, {stack})"
        " AS (threshold_permille, n_pairs, n_docs)"
    )


def _sql_jaccard_threshold_sweep() -> str:
    blocks = []
    for t in _SWEEP_TS:
        blocks.append(f"""
SELECT CAST({t} AS BIGINT) AS threshold_permille,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT id) AS BIGINT) AS n_docs
FROM (SELECT doc_a, doc_b, jaccard_permille,
             unnest([doc_a, doc_b]) AS id FROM pairs) _x{t}
WHERE jaccard_permille >= {t}""")
    # count(*) counts exploded halves: halve it for pair count
    blocks = [
        b.replace("CAST(count(*) AS BIGINT) AS n_pairs",
                  "CAST(count(*) // 2 AS BIGINT) AS n_pairs")
        for b in blocks
    ]
    return (
        f"WITH pairs AS ({SQL_NGRAM_JACCARD_PAIRS_300})\n"
        + "\nUNION ALL\n".join(blocks)
    )


# the 300-permille-floor pair SQL (same constants as the Spark call above)
from lakeforge.workload_llm import SQL_NGRAM_JACCARD_PAIRS as _SQL_NJP  # noqa: E402

SQL_NGRAM_JACCARD_PAIRS_300 = _SQL_NJP

register(
    "jaccard_threshold_sweep",
    q_jaccard_threshold_sweep,
    _sql_jaccard_threshold_sweep(),
)


# ===========================================================================
# Wave 8
# ===========================================================================

# ---------------------------------------------------------------------------
# Header-vs-lines reconciliation: does o_totalprice equal the sum of its
# lines' extendedprice x (1-discount) x (1+tax)?  The classic
# cross-table conformance audit (TPC-H constructs the header FROM the
# lines, so drift here means ingestion corruption).  All money math is
# exact DECIMAL on both engines, so match/mismatch classification is
# deterministic; one fact-fact equi-join on the order key (zero-shuffle
# under the prescribed bucketing), one calendar-bounded roll-up.
# ---------------------------------------------------------------------------

def q_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
            * (F.lit(1).cast("decimal(18,2)") + F.col("l_tax").cast("decimal(18,2)"))
        ).alias("line_val"),
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.sum("line_val").cast("decimal(38,6)").alias("lines_total")
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("decimal(38,6)")
        .alias("header_total"),
    )
    j = o.join(per_order, o.o_orderkey == per_order.l_orderkey, "left").select(
        "o_year",
        F.when(F.col("lines_total").isNull(), F.lit("no_lines"))
        .when(F.col("header_total") == F.col("lines_total"), F.lit("exact"))
        .when(F.col("header_total") > F.col("lines_total"), F.lit("header_higher"))
        .otherwise(F.lit("lines_higher"))
        .alias("status"),
    )
    return (
        j.groupBy("o_year")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.when(F.col("status") == "exact", 1).otherwise(0))
            .cast("bigint").alias("n_exact"),
            F.sum(F.when(F.col("status") == "header_higher", 1).otherwise(0))
            .cast("bigint").alias("n_header_higher"),
            F.sum(F.when(F.col("status") == "lines_higher", 1).otherwise(0))
            .cast("bigint").alias("n_lines_higher"),
            F.sum(F.when(F.col("status") == "no_lines", 1).otherwise(0))
            .cast("bigint").alias("n_no_lines"),
        )
        .withColumn(
            "match_ppm",
            F.expr("CAST(n_exact * 1000000 div n_orders AS BIGINT)"),
        )
    )


SQL_ORDER_TOTAL_RECONCILIATION = """
WITH per_order AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                  * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2))))
              AS DECIMAL(38,6)) AS lines_total
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
         CASE WHEN p.lines_total IS NULL THEN 'no_lines'
              WHEN CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,6))
                   = p.lines_total THEN 'exact'
              WHEN CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,6))
                   > p.lines_total THEN 'header_higher'
              ELSE 'lines_higher' END AS status
  FROM orders o LEFT JOIN per_order p ON o.o_orderkey = p.l_orderkey
)
SELECT o_year,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN status = 'exact' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN status = 'header_higher' THEN 1 ELSE 0 END) AS BIGINT) AS n_header_higher,
       CAST(SUM(CASE WHEN status = 'lines_higher' THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_higher,
       CAST(SUM(CASE WHEN status = 'no_lines' THEN 1 ELSE 0 END) AS BIGINT) AS n_no_lines,
       CAST(SUM(CASE WHEN status = 'exact' THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS match_ppm
FROM j GROUP BY o_year
"""

register(
    "order_total_reconciliation",
    q_order_total_reconciliation,
    SQL_ORDER_TOTAL_RECONCILIATION,
)


# ---------------------------------------------------------------------------
# Duplicate-payment style audit: two orders by the SAME customer for the
# SAME cent amount within 7 days — the classic double-charge screen.
# Blocking key is (customer, cents): the window runs inside those tiny
# groups (orders-per-customer is SF-invariant, same-amount repeats are
# rarer still), so no pair explosion exists anywhere.
#
# TPC-H-shaped data has no natural double-charges (order dates are
# years apart per customer), so — exactly like the _EXACTDUP_CORPUS
# convention for document dedup — every 97th order gets a deterministic
# duplicate twin (orderkey + 10_000_000, same customer and amount,
# +3 days), mirrored verbatim in the oracle: the audit must find
# PRECISELY the injected twins and nothing else.
# ---------------------------------------------------------------------------

_DUP_WINDOW_DAYS = 7


def _dup_orders_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.col("o_orderdate").cast("date").alias("od"),
    )
    twins = o.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_custkey",
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "cents",
        F.date_add("od", 3).alias("od"),
    )
    return o.unionByName(twins)


def q_duplicate_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _dup_orders_corpus(spark, sf_dir)
    w = Window.partitionBy("o_custkey", "cents").orderBy("od", "o_orderkey")
    sus = (
        o.withColumn("prev_od", F.lag("od").over(w))
        .filter(
            F.col("prev_od").isNotNull()
            & (F.datediff("od", "prev_od") <= _DUP_WINDOW_DAYS)
        )
    )
    return sus.groupBy(F.year("od").cast("int").alias("o_year")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suspect_pairs"),
        F.count_distinct("o_custkey").cast("bigint").alias("n_customers"),
    )


SQL_DUPLICATE_ORDER_AUDIT = f"""
WITH corpus AS (
  SELECT o_custkey, o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(o_orderdate AS DATE) AS od
  FROM orders
  UNION ALL
  SELECT o_custkey, o_orderkey + 10000000,
         CAST(round(o_totalprice * 100) AS BIGINT),
         CAST(o_orderdate AS DATE) + INTERVAL 3 DAY
  FROM orders WHERE o_orderkey % 97 = 0
),
lagged AS (
  SELECT o_custkey, od,
         lag(od) OVER (PARTITION BY o_custkey, cents
                       ORDER BY od, o_orderkey) AS prev_od
  FROM corpus
)
SELECT CAST(year(od) AS INTEGER) AS o_year,
       CAST(count(*) AS BIGINT) AS n_suspect_pairs,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM lagged
WHERE prev_od IS NOT NULL AND date_diff('day', prev_od, od) <= {_DUP_WINDOW_DAYS}
GROUP BY 1
"""

register("duplicate_order_audit", q_duplicate_order_audit, SQL_DUPLICATE_ORDER_AUDIT)


# ---------------------------------------------------------------------------
# Basket size by segment: the lines-per-order distribution per market
# segment (schema-bounds the line count, so the output is a tiny grid).
# Two keyed aggregates + one unhinted customer join — the Q13 shape one
# level deeper (lines per order instead of orders per customer).
# ---------------------------------------------------------------------------

def q_basket_size_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        o.join(per_order, o.o_orderkey == per_order.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "n_lines")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )


SQL_BASKET_SIZE_BY_SEGMENT = """
WITH per_order AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY l_orderkey
)
SELECT c.c_mktsegment, p.n_lines, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
JOIN per_order p ON o.o_orderkey = p.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment, p.n_lines
"""

register("basket_size_by_segment", q_basket_size_by_segment, SQL_BASKET_SIZE_BY_SEGMENT)


# ---------------------------------------------------------------------------
# Seasonal index by segment: each calendar month's revenue as ppm of the
# segment's uniform-month expectation (sum x 12e6 / (total x months-
# present)) — actually the standard index: month_rev * 12 * 1e6 div
# segment_total.  One fact aggregate to a <= |segments| x 12 cell table;
# the index division runs over that bounded frame.
# ---------------------------------------------------------------------------

def q_seasonal_index_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.month("o_orderdate").cast("int").alias("mon"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "mon")
        .agg(F.sum(F.col("cents").cast("decimal(38,0)")).alias("rev"))
    )
    w_seg = Window.partitionBy("c_mktsegment")
    return cells.withColumn(
        "__tot", F.sum("rev").over(w_seg)
    ).select(
        "c_mktsegment", "mon",
        F.col("rev").cast("bigint").alias("rev_cents"),
        F.expr("CAST(rev * 12000000 div __tot AS BIGINT)").alias("index_ppm"),
    )


SQL_SEASONAL_INDEX_BY_SEGMENT = """
WITH cells AS (
  SELECT c.c_mktsegment, CAST(month(o.o_orderdate) AS INTEGER) AS mon,
         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS rev
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT c_mktsegment, mon,
       CAST(rev AS BIGINT) AS rev_cents,
       CAST(rev * 12000000 // SUM(rev) OVER (PARTITION BY c_mktsegment)
            AS BIGINT) AS index_ppm
FROM cells
"""

register(
    "seasonal_index_by_segment",
    q_seasonal_index_by_segment,
    SQL_SEASONAL_INDEX_BY_SEGMENT,
)
