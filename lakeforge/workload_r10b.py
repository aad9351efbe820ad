"""Round-10 wave B: five more oracle-paired families, shipped with local
dual-SF evidence and queued for the r11 driver window via the attestation
ledger (the r10 window's 50 slots are committed to draining the r9
backlog — VERDICT r09 #1).

- event_audience_overlap       — pairwise event-type audience Jaccard
  without a user-level self-join (per-user set, row-local pair emission)
- orders_backlog_age_waterfall — age bands of still-open orders at the
  corpus horizon (the ops dashboard's backlog table)
- nation_retention_matrix      — YoY customer state transitions
  (new / retained / reactivated) per nation
- doc_quotation_density        — row-local char-class profile per source
  (digit / quote / terminal-punctuation mass, integer bps)
- doc_crosslang_contamination  — docs carrying other languages' top-vocab
  tokens (the cross-lingual leakage audit before a monolingual train)

Conventions as everywhere: exact integer/decimal arithmetic, DuckDB twin
per query, bounded outputs, deterministic tie-breaks, no sf-scaling
broadcasts (the one hint below rides a 250-row bounded top-vocab table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakeforge.io.sources import table
from lakeforge.registry import register


# ---------------------------------------------------------------------------
# Pairwise event-type audience overlap: |users(A) ∩ users(B)| and Jaccard
# for every unordered type pair.  The naive shape self-joins the distinct
# (user, type) frame on user_id; here each user's type set (<= |types|,
# ~5) emits its pairs ROW-LOCALLY via an array comprehension, so the only
# exchanges are the distinct aggregate and a |types|^2-bounded rollup —
# no user-level join fan-out at any scale.  The oracle keeps the naive
# self-join (per-user fan-out <= C(5,2) rows there too).
# ---------------------------------------------------------------------------


def q_event_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.io.sources import read_events

    dt = (
        read_events(spark, sf_dir)
        .select("user_id", "event_type")
        .distinct()
    )
    per_user = dt.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    pairs = per_user.select(
        F.explode(
            F.expr(
                "flatten(transform(types, (x, i) ->"
                " transform(slice(types, i + 2, size(types)),"
                " y -> struct(x AS ta, y AS tb))))"
            )
        ).alias("p")
    ).select("p.ta", "p.tb")
    inter = pairs.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_both")
    )
    sizes = dt.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("nu")
    )
    # |types|-bounded build sides (<= ~5 rows at any SF).
    sa = sizes.select(F.col("event_type").alias("ta"), F.col("nu").alias("na"))
    sb = sizes.select(F.col("event_type").alias("tb"), F.col("nu").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "ta")
        .join(F.broadcast(sb), "tb")
        .select(
            "ta", "tb", "n_both",
            F.expr(
                "CAST(n_both * 1000 div (na + nb - n_both) AS BIGINT)"
            ).alias("jaccard_permille"),
        )
    )


SQL_EVENT_AUDIENCE_OVERLAP = """
WITH dt AS (SELECT DISTINCT user_id, event_type FROM events),
inter AS (
  SELECT a.event_type AS ta, b.event_type AS tb,
         CAST(count(*) AS BIGINT) AS n_both
  FROM dt a JOIN dt b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nu FROM dt GROUP BY 1)
SELECT i.ta, i.tb, i.n_both,
       CAST(i.n_both * 1000 // (sa.nu + sb.nu - i.n_both) AS BIGINT)
           AS jaccard_permille
FROM inter i
JOIN sizes sa ON sa.event_type = i.ta
JOIN sizes sb ON sb.event_type = i.tb
"""

register("event_audience_overlap", q_event_audience_overlap, SQL_EVENT_AUDIENCE_OVERLAP)


# ---------------------------------------------------------------------------
# Backlog age waterfall: orders still open at the corpus horizon T0
# (= max order date, a broadcast 1-row scalar), bucketed by age in days.
# "Open" uses the same close rule as open_orders_month_grid: last line
# shipment closes the order; no lines = never closes; ship-before-order
# clamps to same-day close (empty interval -> not in backlog).  One scan
# of each fact, a keyed join at order grain, 4-row output.
# ---------------------------------------------------------------------------


def q_orders_backlog_age_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("od"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    t0 = o.agg(F.max("od").alias("t0"))
    close = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("last_ship"))
    )
    j = (
        o.join(close, o.o_orderkey == close.l_orderkey, "left")
        .crossJoin(F.broadcast(t0))
        .withColumn(
            "close_eff",
            F.when(F.col("last_ship").isNull(), F.lit(None).cast("date"))
            .otherwise(F.greatest("od", "last_ship")),
        )
        .filter(F.col("close_eff").isNull() | (F.col("close_eff") > F.col("t0")))
        .withColumn("age_days", F.datediff("t0", "od"))
        # orders dated at the horizon itself have age 0 and are open
        .filter(F.col("age_days") >= 0)
    )
    band = (
        F.when(F.col("age_days") <= 30, F.lit("age_0_30"))
        .when(F.col("age_days") <= 90, F.lit("age_31_90"))
        .when(F.col("age_days") <= 365, F.lit("age_91_365"))
        .otherwise(F.lit("age_366_plus"))
    )
    return j.groupBy(band.alias("age_band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("open_value_cents"),
        F.max("age_days").cast("bigint").alias("max_age_days"),
    )


SQL_ORDERS_BACKLOG_AGE_WATERFALL = """
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
t0 AS (SELECT MAX(od) AS t0 FROM o),
close AS (
  SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS last_ship
  FROM lineitem GROUP BY l_orderkey
),
open_orders AS (
  SELECT o.od, o.cents, date_diff('day', o.od, t0.t0) AS age_days
  FROM o
  LEFT JOIN close c ON o.o_orderkey = c.l_orderkey
  CROSS JOIN t0
  WHERE (c.last_ship IS NULL OR greatest(o.od, c.last_ship) > t0.t0)
    AND date_diff('day', o.od, t0.t0) >= 0
)
SELECT CASE WHEN age_days <= 30 THEN 'age_0_30'
            WHEN age_days <= 90 THEN 'age_31_90'
            WHEN age_days <= 365 THEN 'age_91_365'
            ELSE 'age_366_plus' END AS age_band,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS open_value_cents,
       CAST(MAX(age_days) AS BIGINT) AS max_age_days
FROM open_orders GROUP BY 1
"""

register(
    "orders_backlog_age_waterfall",
    q_orders_backlog_age_waterfall,
    SQL_ORDERS_BACKLOG_AGE_WATERFALL,
)


# ---------------------------------------------------------------------------
# YoY customer retention matrix per nation: for every active (customer,
# year), classify the customer as NEW (first active year), RETAINED
# (active the year before) or REACTIVATED (active some earlier year but
# not the one before) — the state-transition mix every subscription/
# marketplace health dashboard tracks.  One distinct aggregate, one
# per-customer keyed LAG (bounded partitions: active years per
# customer), one keyed join to nation, |nations x years x 3| output.
# ---------------------------------------------------------------------------


def q_nation_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").cast("int").alias("yr")
    )
    cy = o.distinct()
    w = Window.partitionBy("o_custkey").orderBy("yr")
    state = (
        cy.withColumn("prev_yr", F.lag("yr").over(w))
        .withColumn(
            "state",
            F.when(F.col("prev_yr").isNull(), F.lit("new"))
            .when(F.col("prev_yr") == F.col("yr") - 1, F.lit("retained"))
            .otherwise(F.lit("reactivated")),
        )
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        state.join(c, state.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "yr", "state")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


SQL_NATION_RETENTION_MATRIX = """
WITH cy AS (
  SELECT DISTINCT o_custkey, CAST(year(o_orderdate) AS INTEGER) AS yr
  FROM orders
),
state AS (
  SELECT o_custkey, yr,
         CASE WHEN lag(yr) OVER (PARTITION BY o_custkey ORDER BY yr) IS NULL
              THEN 'new'
              WHEN lag(yr) OVER (PARTITION BY o_custkey ORDER BY yr) = yr - 1
              THEN 'retained'
              ELSE 'reactivated' END AS state
  FROM cy
)
SELECT n.n_name, s.yr, s.state, CAST(count(*) AS BIGINT) AS n_customers
FROM state s
JOIN customer c ON s.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1, 2, 3
"""

register(
    "nation_retention_matrix", q_nation_retention_matrix, SQL_NATION_RETENTION_MATRIX,
)


# ---------------------------------------------------------------------------
# Char-class density profile per source: digit / quote / terminal-
# punctuation character mass in integer bps of each doc's char length,
# averaged per source (sum of per-doc bps div docs — exact integer).
# Entirely ROW-LOCAL feature extraction (regexp_replace + length) before
# a |sources|-bounded aggregate: the C4-style boilerplate signals
# (numeric tables, quote farms, headline fragments) at zero shuffle
# cost.  DuckDB twin passes the 'g' flag (its regexp_replace is
# first-match by default; Spark's is global).
# ---------------------------------------------------------------------------


def q_doc_quotation_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("source", "text").filter(
        F.length("text") > 0
    )
    # Pure integer bps on both engines (ADVICE r10 #1): Spark `div`
    # truncates and DuckDB `//` floors — identical on the non-negative
    # char-count domain — whereas double division + CAST diverged
    # (Spark truncates the double, DuckDB rounds it).
    scored = d.select(
        "source",
        F.expr(
            "CAST((length(text) - length(regexp_replace(text, '[0-9]', '')))"
            " * 10000 div length(text) AS BIGINT)"
        ).alias("digit_bps"),
        F.expr(
            "CAST((length(text) - length(regexp_replace(text,"
            " '[\"\\']', ''))) * 10000 div length(text) AS BIGINT)"
        ).alias("quote_bps"),
        F.expr(
            "CAST((length(text) - length(regexp_replace(text, '[.!?]', '')))"
            " * 10000 div length(text) AS BIGINT)"
        ).alias("punct_bps"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("CAST(sum(digit_bps) div count(*) AS BIGINT)").alias(
            "digit_bps_avg"
        ),
        F.expr("CAST(sum(quote_bps) div count(*) AS BIGINT)").alias(
            "quote_bps_avg"
        ),
        F.expr("CAST(sum(punct_bps) div count(*) AS BIGINT)").alias(
            "punct_bps_avg"
        ),
    )


SQL_DOC_QUOTATION_DENSITY = """
WITH d AS (SELECT source, text FROM documents WHERE length(text) > 0),
scored AS (
  SELECT source,
         CAST((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
              * 10000 // length(text) AS BIGINT) AS digit_bps,
         CAST((length(text) - length(regexp_replace(text, '["'']', '', 'g')))
              * 10000 // length(text) AS BIGINT) AS quote_bps,
         CAST((length(text) - length(regexp_replace(text, '[.!?]', '', 'g')))
              * 10000 // length(text) AS BIGINT) AS punct_bps
  FROM d
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(digit_bps) // count(*) AS BIGINT) AS digit_bps_avg,
       CAST(SUM(quote_bps) // count(*) AS BIGINT) AS quote_bps_avg,
       CAST(SUM(punct_bps) // count(*) AS BIGINT) AS punct_bps_avg
FROM scored GROUP BY source
"""

register("doc_quotation_density", q_doc_quotation_density, SQL_DOC_QUOTATION_DENSITY)


# ---------------------------------------------------------------------------
# Cross-lingual contamination: per language, how many docs contain >= 3
# DISTINCT tokens from another language's top-vocab (top _XL_TOPV by
# frequency, ties broken on the token) that are NOT also in their own
# language's top-vocab — the leakage audit run before any monolingual
# train or per-language quality model.  The foreign-token table is
# |langs| x top-V bounded (<= ~250 rows -> broadcast is scale-safe by
# construction); doc tokens join against it after an array_distinct, so
# the corpus-sized side only ever meets a constant-sized build.
# ---------------------------------------------------------------------------

_XL_TOPV, _XL_MIN_HITS = 50, 3


def q_doc_crosslang_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.llm.text import tokens_col

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens_col("text").alias("__toks")
    )
    vocab = (
        d.select("lang", F.explode("__toks").alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_rank = Window.partitionBy("lang").orderBy(
        F.col("c").desc(), F.col("tok").asc()
    )
    top = (
        vocab.withColumn("__r", F.row_number().over(w_rank))
        .filter(F.col("__r") <= _XL_TOPV)
        .select(F.col("lang").alias("v_lang"), "tok")
    )
    # token -> the set of languages whose top-vocab contains it; bounded
    # |langs| x topV rows, aggregated to <= that many distinct tokens.
    tok_langs = top.groupBy("tok").agg(
        F.array_sort(F.collect_set("v_lang")).alias("langs_with")
    )
    hits = (
        d.select("doc_id", "lang", F.explode(F.array_distinct("__toks")).alias("tok"))
        .join(F.broadcast(tok_langs), "tok")
        # foreign = in some other lang's top list AND not in own lang's
        .filter(~F.array_contains(F.col("langs_with"), F.col("lang")))
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_foreign"))
    )
    per_doc = d.select("doc_id", "lang").join(hits, ["doc_id", "lang"], "left")
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            F.when(F.coalesce("n_foreign", F.lit(0)) >= _XL_MIN_HITS, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_contaminated"),
        F.expr(
            f"CAST(sum(CASE WHEN coalesce(n_foreign, 0) >= {_XL_MIN_HITS}"
            " THEN 1 ELSE 0 END) * 1000 div count(*) AS BIGINT)"
        ).alias("contaminated_permille"),
    )


def _sql_crosslang() -> str:
    toks = (
        "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"
    )
    return f"""
WITH d AS (SELECT doc_id, lang, {toks} AS toks FROM documents),
u AS (SELECT doc_id, lang, unnest(toks) AS tok FROM d),
vocab AS (SELECT lang, tok, count(*) AS c FROM u GROUP BY 1, 2),
top AS (
  SELECT lang AS v_lang, tok FROM vocab
  QUALIFY row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok ASC)
          <= {_XL_TOPV}
),
dt AS (SELECT DISTINCT doc_id, lang, tok FROM u),
hits AS (
  -- join on DISTINCT top tokens (one row per token) so a token in
  -- several foreign top lists still counts once, matching the Spark
  -- side's token-grouped langs_with table
  SELECT dt.doc_id, dt.lang, CAST(count(*) AS BIGINT) AS n_foreign
  FROM dt
  JOIN (SELECT DISTINCT tok FROM top) t ON dt.tok = t.tok
  WHERE NOT EXISTS (SELECT 1 FROM top o
                    WHERE o.tok = dt.tok AND o.v_lang = dt.lang)
  GROUP BY 1, 2
),
per_doc AS (
  SELECT d.doc_id, d.lang, COALESCE(h.n_foreign, 0) AS n_foreign
  FROM d LEFT JOIN hits h ON d.doc_id = h.doc_id AND d.lang = h.lang
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_foreign >= {_XL_MIN_HITS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated,
       CAST(SUM(CASE WHEN n_foreign >= {_XL_MIN_HITS} THEN 1 ELSE 0 END)
            * 1000 // count(*) AS BIGINT) AS contaminated_permille
FROM per_doc GROUP BY lang
"""


register("doc_crosslang_contamination", q_doc_crosslang_contamination, _sql_crosslang())


# ---------------------------------------------------------------------------
# Spark 4 SQL pipe syntax (|>): the TPC-H-Q1-style pricing summary
# written as a linear pipeline — FROM |> WHERE |> AGGREGATE ... GROUP BY
# |> ORDER BY — the 4.0 SQL surface for analysts who read top-to-bottom.
# Semantically identical to the relational form (the oracle is plain
# ANSI SQL; Catalyst plans both identically: one pushed-filter scan into
# a map-side-combinable aggregate — the same probed plan as
# pricing_summary, composition note in lieu of a probe row).  Temp view
# name is per-sf_dir-hashed and dropped post-analysis (ADVICE r9 #3
# convention).
# ---------------------------------------------------------------------------


def q_pipe_syntax_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    view = f"__r10b_lineitem_{tag}"
    table(spark, sf_dir, "lineitem").createOrReplaceTempView(view)
    try:
        return spark.sql(f"""
          FROM {view}
          |> WHERE l_quantity < 45
          |> AGGREGATE
               COUNT(*) AS n_lines,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS gross_cents,
               SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT))
                        AS DECIMAL(38,0))) AS disc_e4
             GROUP BY l_returnflag, l_linestatus
          |> SELECT l_returnflag, l_linestatus,
                    CAST(n_lines AS BIGINT) AS n_lines,
                    gross_cents,
                    CAST(disc_e4 div 100 AS BIGINT) AS disc_cents
        """)
    finally:
        spark.catalog.dropTempView(view)


SQL_PIPE_SYNTAX_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS gross_cents,
       CAST(SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS HUGEINT))
            // 100 AS BIGINT) AS disc_cents
FROM lineitem
WHERE l_quantity < 45
GROUP BY l_returnflag, l_linestatus
"""

register("pipe_syntax_pricing", q_pipe_syntax_pricing, SQL_PIPE_SYNTAX_PRICING)


# ---------------------------------------------------------------------------
# Parameterized SQL (named parameter markers, spark.sql(..., args=...)):
# the injection-safe surface for templated analytics — the literal never
# enters the SQL text, so plans cache on the parameter marker.  Typed
# args (DOUBLE threshold, INT limit-band count) flow through Catalyst as
# foldable literals: the filter still pushes to the scan.  Composition
# note: single pushed-filter scan + bounded aggregate (the probed
# large_orders/pricing plan family).
# ---------------------------------------------------------------------------

_PARAM_THRESHOLD = 250_000.0


def q_param_sql_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    view = f"__r10b_orders_{tag}"
    table(spark, sf_dir, "orders").createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"""
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents,
                   CAST(MIN(round(o_totalprice * 100)) AS BIGINT) AS min_cents
            FROM {view}
            WHERE o_totalprice > :threshold
            GROUP BY o_orderpriority
            """,
            args={"threshold": _PARAM_THRESHOLD},
        )
    finally:
        spark.catalog.dropTempView(view)


SQL_PARAM_SQL_VALUE_BANDS = f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
       CAST(MIN(round(o_totalprice * 100)) AS BIGINT) AS min_cents
FROM orders
WHERE o_totalprice > {_PARAM_THRESHOLD}
GROUP BY o_orderpriority
"""

register("param_sql_value_bands", q_param_sql_value_bands, SQL_PARAM_SQL_VALUE_BANDS)
