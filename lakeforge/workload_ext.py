"""Round-5 extension workload: storage-format round-trips, warehouse
modeling patterns, privacy release, ML data prep, and embedding geometry.

Families covered here (none previously in the registry):

- **Format round-trips** (ORC, JSON lines): the engine's sink+source pair
  for each format is exercised end-to-end — write a real slice, read it
  back, aggregate — and the oracle aggregates the ORIGINAL parquet, so the
  round-trip must be lossless for the row to hash-match.
- **Warehouse modeling**: late-arriving-dimension handling (inferred
  members for early-arriving facts) and a periodic month-end snapshot fact
  built by event-diff + cumulative sum over a month spine — the classic
  Kimball patterns re-expressed as Spark plans.
- **Privacy**: an epsilon-DP-style seeded discrete-Laplace (two-sided
  geometric) count release whose noise ladder is exact integer arithmetic,
  reproducible bit-for-bit in any engine with md5().
- **ML data prep**: leakage-safe out-of-fold target encoding — the
  canonical categorical feature transform, computed without ever letting a
  row see its own fold's statistics.
- **Embedding geometry**: the exact Gram-moment table (pairwise dimension
  co-moments) via per-partition NumPy matmul over Arrow batches — the
  scalable O(tasks x d^2)-shuffle way to get a covariance/correlation
  matrix out of billions of vectors.

Same conventions as every other workload module: identical column aliases
Spark-vs-oracle, exact integer/cents math before any double, deterministic
orderings, broadcast small sides, no driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakeforge.functions.keys import duckdb_md5_int_sql, md5_int
from lakeforge.io.sources import table
from lakeforge.registry import register


# ---------------------------------------------------------------------------
# Storage-format round-trips.  The oracle never sees the staged copy — it
# aggregates the original parquet — so a green row proves the sink+source
# pair preserved every value (doubles, timestamps, strings) exactly.
# ---------------------------------------------------------------------------


def q_orc_roundtrip_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink -> ORC source round-trip (io/sinks.py::write_orc,
    io/sources.py::read_orc): the 1996 lineitem slice is written as ORC,
    read back, and summarized per (returnflag, linestatus).

    The filter runs BEFORE the write so the staged copy is bounded (one
    year, ~1/7 of the table); the re-read aggregation is a single
    map-side-combined hash shuffle over <=6 groups.  At 100 TB the write
    is the one full-slice pass any format migration pays; Spark's ORC
    writer carries min/max stripe statistics so later scans of the staged
    copy keep predicate pushdown.
    """
    import tempfile

    from lakeforge.io.sinks import write_orc
    from lakeforge.io.sources import read_orc

    stage = tempfile.mkdtemp(prefix="lf_orc_")
    path = f"{stage}/lineitem_1996"
    li = table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate") == 1996
    ).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_linestatus",
    )
    write_orc(li, path)
    back = read_orc(spark, path)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("bigint"))
        .cast("bigint").alias("qty_cents"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint").alias("price_cents"),
        F.min(md5_int("l_orderkey", "l_linenumber")).cast("bigint")
        .alias("min_line_hash"),
    )


SQL_ORC_ROUNDTRIP_REVENUE = f"""
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS qty_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents,
       CAST(MIN({duckdb_md5_int_sql(["l_orderkey", "l_linenumber"])})
            AS BIGINT) AS min_line_hash
FROM lineitem
WHERE EXTRACT(year FROM l_shipdate) = 1996
GROUP BY l_returnflag, l_linestatus
"""

register("orc_roundtrip_revenue", q_orc_roundtrip_revenue, SQL_ORC_ROUNDTRIP_REVENUE)


def q_json_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink -> schema-enforced JSON source round-trip: purchase
    events are written as JSONL, read back with an EXPLICIT schema (never
    inference — at 100 TB schema inference is a full extra pass), and
    rolled up per day.

    Proves timestamp and double round-tripping through JSON text: Spark
    writes ISO-8601 instants and shortest-round-trip doubles, so the
    cents-exact sums must match the oracle's aggregation of the original
    parquet.  The staged slice is bounded by the purchase filter (~1/6 of
    events).
    """
    import tempfile

    from lakeforge.io.sources import read_events

    stage = tempfile.mkdtemp(prefix="lf_json_")
    path = f"{stage}/purchases_json"
    ev = read_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "ts", "user_id", "value")
    ev.write.mode("overwrite").json(path)
    from lakeforge.io.sources import read_json

    back = read_json(
        spark, path,
        schema="event_id bigint, ts timestamp, user_id bigint, value double",
    )
    return back.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint").alias("value_cents"),
        F.min("event_id").cast("bigint").alias("min_event_id"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
    )


SQL_JSON_ROUNDTRIP_EVENTS = """
SELECT CAST(ts AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
           AS value_cents,
       CAST(MIN(event_id) AS BIGINT) AS min_event_id,
       CAST(MAX(event_id) AS BIGINT) AS max_event_id
FROM events
WHERE event_type = 'purchase'
GROUP BY CAST(ts AS DATE)
"""

register("json_roundtrip_events", q_json_roundtrip_events, SQL_JSON_ROUNDTRIP_EVENTS)


# ---------------------------------------------------------------------------
# Warehouse modeling: late-arriving dimension (inferred members).
# ---------------------------------------------------------------------------


def q_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving-dimension handling: facts (orders) referencing
    dimension members that have NOT arrived yet get an INFERRED member —
    a placeholder row keyed by the natural key with is_inferred=true —
    so fact loads never drop or orphan rows and the member backfills in
    place when the real dimension record lands (a plain SCD1 upsert on
    the same key).

    The simulated gap: customers with c_custkey % 7 == 0 are "late".
    Inferred members come from the FACT side (distinct missing keys —
    one aggregate, no dimension scan), and the output audits both sides:
    member counts and the fact rows each class of member covers.

    Plan: distinct missing keys is one hash aggregate on the fact's key
    column; the coverage join is fact x augmented-dim on the dim key with
    the dim side broadcast (dimension-sized).  No shuffle of the fact
    table beyond the one aggregate.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    present = c.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey", F.lit(False).alias("is_inferred")
    )
    inferred = (
        o.join(
            present.select("c_custkey"),
            o.o_custkey == present.c_custkey,
            "left_anti",
        )
        .select(F.col("o_custkey").alias("c_custkey")).distinct()
        .select("c_custkey", F.lit(True).alias("is_inferred"))
    )
    dim = present.unionByName(inferred)
    return (
        o.join(dim, o.o_custkey == dim.c_custkey, "inner")
        .groupBy("is_inferred")
        .agg(
            F.countDistinct("c_custkey").cast("bigint").alias("n_members"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint").alias("order_cents"),
        )
    )


SQL_LATE_ARRIVING_DIM = """
WITH present AS (
    SELECT c_custkey, FALSE AS is_inferred FROM customer WHERE c_custkey % 7 <> 0
),
inferred AS (
    SELECT DISTINCT o_custkey AS c_custkey, TRUE AS is_inferred
    FROM orders
    WHERE o_custkey NOT IN (SELECT c_custkey FROM present)
),
dim AS (SELECT * FROM present UNION ALL SELECT * FROM inferred)
SELECT d.is_inferred,
       CAST(count(DISTINCT d.c_custkey) AS BIGINT) AS n_members,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS order_cents
FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey
GROUP BY d.is_inferred
"""

register("late_arriving_dim", q_late_arriving_dim, SQL_LATE_ARRIVING_DIM)


# ---------------------------------------------------------------------------
# Warehouse modeling: periodic month-end snapshot fact.
# ---------------------------------------------------------------------------


def q_periodic_month_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodic snapshot fact: how many orders are OPEN at each month-end,
    where an order is open from o_orderdate until its last shipment
    (max l_shipdate); orders with no lineitem never close.

    Built the scalable way — NOT by joining every order to every
    month-end (O(orders x months)), but by event-diff + prefix sum:
    each order contributes +1 at the first month-end >= o_orderdate and
    -1 at the first month-end >= close (an order is open at month-end m
    iff orderdate <= m < close, and last_day() of each date IS that first
    month-end).  Monthly deltas aggregate to one row per month; the
    cumulative sum runs over the TINY post-aggregation spine (~80 rows),
    where a single-partition window is free.  The month spine itself is
    sequence() over the global min/max — a one-row broadcast, no
    generate-and-shuffle.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("od")
    )
    close = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("close_d"))
    )
    # Dirty-data guard: the synthetic corpus has orders whose last shipment
    # PRECEDES the order date; an order cannot close before it opens, so
    # the close clamps to the open (degenerate interval -> never counted
    # open, +1 and -1 land on the same month-end).
    spans = o.join(close, o.o_orderkey == close.l_orderkey, "left").select(
        "od",
        F.when(
            F.col("close_d").isNotNull(), F.greatest("close_d", "od")
        ).alias("close_d"),
    )
    deltas = (
        spans.select(F.last_day("od").alias("month_end"), F.lit(1).alias("d"))
        .unionByName(
            spans.filter(F.col("close_d").isNotNull()).select(
                F.last_day("close_d").alias("month_end"),
                F.lit(-1).alias("d"),
            )
        )
        .groupBy("month_end")
        .agg(F.sum("d").alias("net"),
             F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("opened"))
    )
    bounds = spans.agg(
        F.min(F.trunc("od", "MM")).alias("lo"),
        F.max(F.trunc(F.coalesce("close_d", "od"), "MM")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 month)")).alias("m")
    ).select(F.last_day("m").alias("month_end"))
    w = Window.orderBy("month_end").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(deltas, "month_end", "left")
        .select(
            "month_end",
            F.coalesce("net", F.lit(0)).alias("net"),
            F.coalesce("opened", F.lit(0)).alias("opened"),
        )
        .select(
            "month_end",
            F.sum("net").over(w).cast("bigint").alias("n_open"),
            F.col("opened").cast("bigint").alias("n_opened"),
        )
    )


SQL_PERIODIC_MONTH_SNAPSHOT = """
WITH spans AS (
    SELECT CAST(o.o_orderdate AS DATE) AS od,
           CASE WHEN c.close_d IS NOT NULL
                THEN GREATEST(c.close_d, CAST(o.o_orderdate AS DATE))
           END AS close_d
    FROM orders o
    LEFT JOIN (SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS close_d
               FROM lineitem GROUP BY l_orderkey) c
      ON o.o_orderkey = c.l_orderkey
),
deltas AS (
    SELECT month_end, SUM(d) AS net, SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END)
               AS opened
    FROM (
        SELECT last_day(od) AS month_end, 1 AS d FROM spans
        UNION ALL
        SELECT last_day(close_d), -1 FROM spans WHERE close_d IS NOT NULL
    ) GROUP BY month_end
),
bounds AS (
    SELECT date_trunc('month', MIN(od)) AS lo,
           date_trunc('month', MAX(COALESCE(close_d, od))) AS hi
    FROM spans
),
spine AS (
    SELECT last_day(CAST(m AS DATE)) AS month_end
    FROM (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 MONTH)) AS m
          FROM bounds)
)
SELECT s.month_end,
       CAST(SUM(COALESCE(d.net, 0)) OVER (ORDER BY s.month_end
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_open,
       CAST(COALESCE(d.opened, 0) AS BIGINT) AS n_opened
FROM spine s LEFT JOIN deltas d ON s.month_end = d.month_end
"""

register(
    "periodic_month_snapshot", q_periodic_month_snapshot, SQL_PERIODIC_MONTH_SNAPSHOT,
)


# ---------------------------------------------------------------------------
# Privacy: seeded discrete-Laplace (two-sided geometric) count release.
# ---------------------------------------------------------------------------

# Exact integer inverse-CDF ladder for the two-sided geometric distribution
# with alpha = 1/2 (epsilon = ln 2 per count), truncated at |noise| <= 8.
# P(0) = (1-a)/(1+a) = 1/3; P(+-k) = P(0) * a^k.  Over a sample space of
# M = 3 * 2**20 equally likely hash values every boundary is an exact
# integer: 0 gets 2**20 units, +-k gets 2**20 / 2**k units each, and the
# 2**13 units the truncated tail leaves unassigned fall to 0 (documented
# truncation at ~2^-8 total mass).  Both engines walk the SAME ladder with
# pure integer comparisons — no transcendentals, so no cross-engine float
# divergence can flip a bucket.
_DP_M = 3 * 2**20


def _dp_ladder() -> list[tuple[int, int]]:
    """(upper_bound_exclusive, noise) pairs in ladder order."""
    steps: list[tuple[int, int]] = []
    acc = 2**20
    steps.append((acc, 0))
    for k in range(1, 9):
        width = 2**20 >> k
        acc += width
        steps.append((acc, k))
        acc += width
        steps.append((acc, -k))
    return steps


def _dp_noise_spark(u: Column) -> Column:
    # build from the last rung down so earlier bounds take precedence
    col = F.lit(0)
    for bound, noise in reversed(_dp_ladder()):
        col = F.when(u < F.lit(bound), F.lit(noise)).otherwise(col)
    return col


def _dp_noise_sql(u_expr: str) -> str:
    whens = "\n".join(
        f"         WHEN {u_expr} < {bound} THEN {noise}"
        for bound, noise in _dp_ladder()
    )
    return f"CASE\n{whens}\n         ELSE 0 END"


def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSAFE FOR RELEASE — mechanism-shape DEMO ONLY, NOT a privacy
    mechanism (ADVICE r05 #4).  The noise is seeded DETERMINISTICALLY
    from the group key (zero privacy: anyone can recompute it) and the
    exact ``true_n`` is emitted beside the noisy value, so this output
    must never be published as a DP release.  The output column is named
    ``demo_released_n`` to make copy-paste misuse loud.

    What it demonstrates: per-(priority, status) order counts plus
    integer noise from a two-sided geometric (discrete Laplace)
    distribution with alpha = 1/2 — the geometric mechanism, epsilon =
    ln 2 for counting queries — via an exact integer inverse-CDF ladder
    seeded from md5(group key || salt).  A production release keeps this
    exact pipeline shape but draws REAL randomness at publish time and
    drops ``true_n`` from the output.  Seeding makes the demo
    reproducible and oracle-checkable.  Noise is truncated at |8| (total
    truncated mass ~2^-8, folded into 0 — documented bias, standard for
    bounded-release mechanisms).

    Plan: one map-side-combined hash aggregate to the tiny group table,
    then pure column arithmetic — the mechanism adds zero shuffles.
    """
    o = table(spark, sf_dir, "orders")
    grp = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    u = F.pmod(
        md5_int(F.col("o_orderpriority"), F.col("o_orderstatus"),
                F.lit("dp-release-v1")),
        F.lit(_DP_M),
    )
    return grp.select(
        "o_orderpriority",
        "o_orderstatus",
        "true_n",
        _dp_noise_spark(u).cast("bigint").alias("noise"),
        F.greatest(
            F.lit(0).cast("bigint"),
            (F.col("true_n") + _dp_noise_spark(u)).cast("bigint"),
        ).alias("demo_released_n"),
    )


_DP_U_SQL = (
    duckdb_md5_int_sql(["o_orderpriority", "o_orderstatus", "'dp-release-v1'"])
    + f" % {_DP_M}"
)

SQL_DP_NOISY_COUNTS = f"""
WITH grp AS (
    SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS true_n
    FROM orders GROUP BY o_orderpriority, o_orderstatus
),
seeded AS (
    SELECT *, {_DP_U_SQL} AS u FROM grp
)
SELECT o_orderpriority, o_orderstatus, true_n,
       CAST({_dp_noise_sql("u")} AS BIGINT) AS noise,
       CAST(GREATEST(0, true_n + {_dp_noise_sql("u")}) AS BIGINT)
           AS demo_released_n
FROM seeded
"""

register("dp_noisy_counts", q_dp_noisy_counts, SQL_DP_NOISY_COUNTS)


# ---------------------------------------------------------------------------
# ML data prep: leakage-safe out-of-fold target encoding.
# ---------------------------------------------------------------------------


def q_target_encode_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding of c_mktsegment against order value:
    each (segment, fold) cell's encode is the mean order cents over the
    OTHER four folds — (seg_sum - fold_sum) / (seg_n - fold_n) — so no
    row's own target leaks into its feature.  The canonical categorical
    encoder for GBDT/linear training data, done the leakage-safe way.

    Exact arithmetic: cents sums stay BIGINT and the mean is floor
    division, so the result hashes identically at any partitioning.
    Plan: ONE hash aggregate to the (segment, fold) cell table (25 rows);
    segment totals come from a window over that tiny frame, partitioned
    by segment — no second scan and no single-partition funnel.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    rows = o.join(
        c.select("c_custkey", "c_mktsegment"),
        o.o_custkey == c.c_custkey,
    ).select(
        "c_mktsegment",
        F.pmod(md5_int("o_orderkey", F.lit("fold-v1")), F.lit(5))
        .cast("int").alias("fold"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cells = rows.groupBy("c_mktsegment", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    wseg = Window.partitionBy("c_mktsegment")
    return cells.select(
        "c_mktsegment",
        "fold",
        "n",
        F.expr(
            "(sum(cents) over (partition by c_mktsegment) - cents)"
            " div (sum(n) over (partition by c_mktsegment) - n)"
        ).cast("bigint").alias("oof_mean_cents"),
        (F.sum("n").over(wseg) - F.col("n")).cast("bigint").alias("oof_n"),
    )


SQL_TARGET_ENCODE_OOF = f"""
WITH rows_ AS (
    SELECT c.c_mktsegment,
           CAST({duckdb_md5_int_sql(["o_orderkey", "'fold-v1'"])} % 5 AS INT)
               AS fold,
           CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
cells AS (
    SELECT c_mktsegment, fold,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM rows_ GROUP BY c_mktsegment, fold
)
SELECT c_mktsegment, fold, n,
       CAST((SUM(cents) OVER (PARTITION BY c_mktsegment) - cents)
            // (SUM(n) OVER (PARTITION BY c_mktsegment) - n) AS BIGINT)
           AS oof_mean_cents,
       CAST(SUM(n) OVER (PARTITION BY c_mktsegment) - n AS BIGINT) AS oof_n
FROM cells
"""

register("target_encode_oof", q_target_encode_oof, SQL_TARGET_ENCODE_OOF)


# ---------------------------------------------------------------------------
# Embedding geometry: exact Gram-moment table via Arrow-batched matmul.
# ---------------------------------------------------------------------------

_GRAM_D = 32  # leading dimensions profiled (d*(d+1)/2 = 528 pairs)


def q_embedding_dim_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise co-moment (Gram) table over the first 32 embedding
    dimensions — n, sum_i, sum_j, sum_ij in integer micros — from which
    covariance / Pearson correlation of every dimension pair derives in
    closed form.  The input to whitening, redundant-dimension pruning,
    and PCA-by-covariance over an embedding corpus.

    Scale design: each Arrow batch contributes ONE d x d int64 matmul
    (NumPy, vectorized) and emits d*(d+1)/2 partial rows, so the shuffle
    is O(tasks x d^2) — never O(rows).  Quantization (floor(v * 1e6) in
    float64) happens before the product, making every partial an exact
    integer: the final groupBy-sum hashes identically at any partitioning
    and the oracle can replay it row-by-row in SQL.  sum_ij fits BIGINT
    through ~9e6 rows at |v| <= 1e3; beyond that, promote partials to
    decimal(38,0).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    d = _GRAM_D
    iu = np.triu_indices(d)

    def gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy())[:, :d].astype(np.float64)
            m = np.floor(x * 1_000_000).astype(np.int64)
            g = m.T @ m
            s = m.sum(axis=0)
            yield pd.DataFrame(
                {
                    "dim_i": iu[0].astype("int32"),
                    "dim_j": iu[1].astype("int32"),
                    "pn": np.full(len(iu[0]), len(pdf), dtype="int64"),
                    "psum_i": s[iu[0]],
                    "psum_j": s[iu[1]],
                    "psum_ij": g[iu],
                }
            )

    emb = table(spark, sf_dir, "embeddings").select("embedding")
    partials = emb.mapInPandas(
        gram,
        schema="dim_i int, dim_j int, pn bigint, psum_i bigint,"
        " psum_j bigint, psum_ij bigint",
    )
    return partials.groupBy("dim_i", "dim_j").agg(
        F.sum("pn").cast("bigint").alias("n"),
        F.sum("psum_i").cast("bigint").alias("sum_i"),
        F.sum("psum_j").cast("bigint").alias("sum_j"),
        F.sum("psum_ij").cast("bigint").alias("sum_ij"),
    )


SQL_EMBEDDING_DIM_CORR = f"""
WITH pairs AS (
    SELECT di, dj FROM
        (SELECT UNNEST(generate_series(1, {_GRAM_D})) AS di),
        (SELECT UNNEST(generate_series(1, {_GRAM_D})) AS dj)
    WHERE dj >= di
),
m AS (
    SELECT p.di, p.dj,
           CAST(FLOOR(CAST(e.embedding[p.di] AS DOUBLE) * 1000000) AS BIGINT)
               AS mi,
           CAST(FLOOR(CAST(e.embedding[p.dj] AS DOUBLE) * 1000000) AS BIGINT)
               AS mj
    FROM embeddings e CROSS JOIN pairs p
)
SELECT CAST(di - 1 AS INT) AS dim_i, CAST(dj - 1 AS INT) AS dim_j,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(mi) AS BIGINT) AS sum_i,
       CAST(SUM(mj) AS BIGINT) AS sum_j,
       CAST(SUM(mi * mj) AS BIGINT) AS sum_ij
FROM m GROUP BY di, dj
"""

register("embedding_dim_corr", q_embedding_dim_corr, SQL_EMBEDDING_DIM_CORR)


# ---------------------------------------------------------------------------
# Bitemporal modeling: valid-time x transaction-time as-of query.
# ---------------------------------------------------------------------------


def q_bitemporal_orders_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of query: 'what did we BELIEVE on transaction date
    1996-09-15 about orders VALID on business date 1996-09-01?' — the
    two-clock warehouse pattern (valid time = when the fact is true in
    the world, transaction time = when the warehouse learned it).

    The version log is derived deterministically: every order's v1 is
    recorded at tx_from = o_orderdate; orders with o_orderkey % 13 == 0
    receive a +10% price CORRECTION recorded 30 days later (same valid
    interval — a retroactive restatement, the case single-clock SCD2
    cannot represent).  The tx date sits only 14 days past the valid
    date, so corrections from the last ~30 days of valid orders have NOT
    landed yet — the believed state genuinely differs from the final
    state, which is what makes the second clock non-degenerate (and what
    the pytest invariant pins).  Transaction intervals close via LEAD(tx_from)
    per key; the as-of filter then needs both clocks: valid_from <= B
    (valid_to is open) AND tx_from <= D < tx_to.

    Plan: the valid-time predicate is version-independent so it pushes
    below the version fan-out to the scan; the only shuffle is the
    orderkey-partitioned LEAD window, then one hash aggregate over <=3
    status groups.
    """
    B, D = "1996-09-01", "1996-09-15"
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.to_date("o_orderdate").alias("od"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    ).filter(F.col("od") <= F.lit(B))  # valid-time pushdown (valid_from = od)
    v1 = base.select(
        "o_orderkey", "o_orderstatus", "od", "cents",
        F.lit(1).alias("version"), F.col("od").alias("tx_from"),
    )
    v2 = base.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey", "o_orderstatus", "od",
        (F.col("cents") + F.expr("cents div 10")).alias("cents"),
        F.lit(2).alias("version"), F.date_add("od", 30).alias("tx_from"),
    )
    w = Window.partitionBy("o_orderkey").orderBy("tx_from", "version")
    closed = v1.unionByName(v2).withColumn("tx_to", F.lead("tx_from").over(w))
    return (
        closed.filter(
            (F.col("tx_from") <= F.lit(D))
            & (F.col("tx_to").isNull() | (F.col("tx_to") > F.lit(D)))
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("believed_cents"),
            F.sum(F.when(F.col("version") == 2, 1).otherwise(0))
            .cast("bigint").alias("n_corrected"),
        )
    )


SQL_BITEMPORAL_ORDERS_ASOF = """
WITH base AS (
    SELECT o_orderkey, o_orderstatus, CAST(o_orderdate AS DATE) AS od,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    WHERE CAST(o_orderdate AS DATE) <= DATE '1996-09-01'
),
vers AS (
    SELECT o_orderkey, o_orderstatus, od, cents, 1 AS version, od AS tx_from
    FROM base
    UNION ALL
    SELECT o_orderkey, o_orderstatus, od, cents + cents // 10, 2, od + 30
    FROM base WHERE o_orderkey % 13 = 0
),
closed AS (
    SELECT *, LEAD(tx_from) OVER (PARTITION BY o_orderkey
                                  ORDER BY tx_from, version) AS tx_to
    FROM vers
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS believed_cents,
       CAST(SUM(CASE WHEN version = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_corrected
FROM closed
WHERE tx_from <= DATE '1996-09-15'
  AND (tx_to IS NULL OR tx_to > DATE '1996-09-15')
GROUP BY o_orderstatus
"""

register("bitemporal_orders_asof", q_bitemporal_orders_asof, SQL_BITEMPORAL_ORDERS_ASOF)


# ---------------------------------------------------------------------------
# SCD type 3: current + previous attribute regime per entity.
# ---------------------------------------------------------------------------


def q_scd3_priority_regimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-3 build from a change log: each customer's order-priority
    history (ordered by date, orderkey) collapses to REGIMES (consecutive
    runs of one priority); the type-3 row keeps the CURRENT regime and
    ONE previous regime — the limited-history middle ground between SCD1
    (overwrite, scd1 upsert in ops/merge.py) and SCD2 (full history,
    ops/scd2.py), completing the SCD family.

    Output is the audit rollup: per (current_priority, prev_priority)
    cell — prev NULL = single-regime customers — member count, total
    regime count, and a membership-pinning hash sum (md5 mod 1e12 so the
    BIGINT sum cannot overflow below ~1e6 members per cell).

    Plan: two orderkey/custkey-partitioned windows (LAG change-detect,
    ROW_NUMBER regime recency) and two hash aggregates; no global sort,
    no single-partition window.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("od"),
        "o_orderkey", "o_orderpriority",
    )
    wseq = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    chg = o.withColumn("prev_p", F.lag("o_orderpriority").over(wseq)).filter(
        F.col("prev_p").isNull()
        | (F.col("prev_p") != F.col("o_orderpriority"))
    )
    wrec = Window.partitionBy("o_custkey").orderBy(
        F.desc("od"), F.desc("o_orderkey")
    )
    regimes = chg.withColumn("rn", F.row_number().over(wrec))
    per_cust = regimes.groupBy("o_custkey").agg(
        F.max(F.when(F.col("rn") == 1, F.col("o_orderpriority")))
        .alias("current_priority"),
        F.max(F.when(F.col("rn") == 2, F.col("o_orderpriority")))
        .alias("prev_priority"),
        F.count(F.lit(1)).cast("bigint").alias("n_regimes"),
    )
    return per_cust.groupBy("current_priority", "prev_priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("n_regimes").cast("bigint").alias("regimes_total"),
        F.sum(F.pmod(md5_int("o_custkey"), F.lit(1_000_000_000_000)))
        .cast("bigint").alias("cust_hash_sum"),
    )


SQL_SCD3_PRIORITY_REGIMES = f"""
WITH chg AS (
    SELECT o_custkey, o_orderpriority,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC)
               AS rn
    FROM (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS o_orderdate,
               o_orderkey, o_orderpriority,
               LAG(o_orderpriority) OVER (PARTITION BY o_custkey
                   ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_p
        FROM orders
    )
    WHERE prev_p IS NULL OR prev_p <> o_orderpriority
),
per_cust AS (
    SELECT o_custkey,
           MAX(CASE WHEN rn = 1 THEN o_orderpriority END) AS current_priority,
           MAX(CASE WHEN rn = 2 THEN o_orderpriority END) AS prev_priority,
           CAST(count(*) AS BIGINT) AS n_regimes
    FROM chg GROUP BY o_custkey
)
SELECT current_priority, prev_priority,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(SUM(n_regimes) AS BIGINT) AS regimes_total,
       CAST(SUM({duckdb_md5_int_sql(["o_custkey"])} % 1000000000000)
            AS BIGINT) AS cust_hash_sum
FROM per_cust
GROUP BY current_priority, prev_priority
"""

register("scd3_priority_regimes", q_scd3_priority_regimes, SQL_SCD3_PRIORITY_REGIMES)


# ---------------------------------------------------------------------------
# Financial allocation: largest-remainder pro-rata split with exact
# conservation.
# ---------------------------------------------------------------------------


def q_prorata_rebate_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder pro-rata allocation: each order's 5% rebate pool
    (floor cents of the header total) is split across its lineitems
    proportionally to extended price, with the integer remainder going
    +1-at-a-time to the lines with the largest fractional share
    (tiebreak: line number) — so every order's allocations sum EXACTLY
    to its pool.  The canonical way to spread a header-level amount to
    detail rows without losing or inventing pennies; same integer
    apportionment math as multitouch_attribution, applied to the
    financial fan-out direction.

    Output proves conservation in-band: n_exact (orders whose lines sum
    exactly to the pool) must equal n_orders in every priority group.

    Plan: one fact-x-fact equi-join (orderkey — AQE-sized SMJ), two
    orderkey-partitioned windows (partition total + remainder rank), and
    two hash aggregates.  pool*w <= ~5e12 keeps every product in BIGINT.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("w"),
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.expr("(cast(round(o_totalprice * 100) as bigint) * 5) div 100")
        .alias("pool"),
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    wk = Window.partitionBy("l_orderkey")
    wrank = Window.partitionBy("l_orderkey").orderBy(
        F.desc("rem_units"), "l_linenumber"
    )
    alloc = (
        j.withColumn("tot", F.sum("w").over(wk))
        .withColumn("floor_share", F.expr("(pool * w) div tot"))
        .withColumn("rem_units", F.pmod(F.col("pool") * F.col("w"), F.col("tot")))
        .withColumn("leftover", F.col("pool") - F.sum("floor_share").over(wk))
        .withColumn("rn", F.row_number().over(wrank))
        .withColumn(
            "alloc",
            F.col("floor_share")
            + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0),
        )
    )
    per_order = alloc.groupBy("l_orderkey", "o_orderpriority").agg(
        F.sum("alloc").cast("bigint").alias("alloc_sum"),
        F.max("pool").cast("bigint").alias("pool"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )
    return per_order.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("n_lines").cast("bigint").alias("n_lines"),
        F.sum("pool").cast("bigint").alias("pool_cents"),
        F.sum("alloc_sum").cast("bigint").alias("alloc_cents"),
        F.sum(F.when(F.col("alloc_sum") == F.col("pool"), 1).otherwise(0))
        .cast("bigint").alias("n_exact"),
    )


SQL_PRORATA_REBATE_ALLOCATION = """
WITH j AS (
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderpriority,
           CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS w,
           (CAST(ROUND(o.o_totalprice * 100) AS BIGINT) * 5) // 100 AS pool
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
alloc AS (
    SELECT *,
           (pool * w) // tot
               + CASE WHEN rn <= pool - floor_total THEN 1 ELSE 0 END AS alloc
    FROM (
        SELECT *,
               SUM((pool * w) // tot) OVER (PARTITION BY l_orderkey)
                   AS floor_total,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY (pool * w) % tot DESC,
                                           l_linenumber) AS rn
        FROM (SELECT *, SUM(w) OVER (PARTITION BY l_orderkey) AS tot FROM j)
    )
),
per_order AS (
    SELECT l_orderkey, o_orderpriority,
           CAST(SUM(alloc) AS BIGINT) AS alloc_sum,
           CAST(MAX(pool) AS BIGINT) AS pool,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM alloc GROUP BY l_orderkey, o_orderpriority
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(n_lines) AS BIGINT) AS n_lines,
       CAST(SUM(pool) AS BIGINT) AS pool_cents,
       CAST(SUM(alloc_sum) AS BIGINT) AS alloc_cents,
       CAST(SUM(CASE WHEN alloc_sum = pool THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact
FROM per_order
GROUP BY o_orderpriority
"""

register(
    "prorata_rebate_allocation",
    q_prorata_rebate_allocation,
    SQL_PRORATA_REBATE_ALLOCATION,
)


# ---------------------------------------------------------------------------
# Nonparametric inference: Mann-Whitney U rank-sum test.
# ---------------------------------------------------------------------------

# One shared z-score formula text, parsed by BOTH engines (valid Spark SQL
# and DuckDB SQL), so the single float step is the same expression tree
# over identical exact-integer inputs.
_MWU_Z_SQL = (
    "cast(round((cast(u2_r as double) / 2 - cast(n_r * n_n as double) / 2)"
    " / sqrt(cast(n_r as double) * cast(n_n as double) / 12.0"
    "        * (cast(n_all + 1 as double)"
    "           - cast(tie3 as double)"
    "             / (cast(n_all as double) * cast(n_all - 1 as double)))),"
    " 6) as decimal(20,6))"
)


def q_mannwhitney_price_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test: do returned lines ('R') and
    delivered lines ('N') draw extended prices from the same
    distribution?  The nonparametric two-sample complement to the
    parametric z/KS machinery (price_ks_segments) — exact average-rank
    tie handling, tie-corrected normal approximation.

    Exactness: doubled midranks (2r = 2*cum_before + cnt + 1) over the
    price histogram are exact BIGINTs, so U2 = 2U, the tie term
    sum(t^3 - t), and all counts are exact integers; the ONE float step
    is the final z formula, evaluated from the same shared SQL text on
    both engines (identical expression tree, identical IEEE result).

    Scale design: no global row sort — prices collapse to a value
    histogram (groupBy cents), the global cumulative count runs through
    blocked_prefix_sum (two-level decomposition: ~100-cent-value blocks
    in parallel + a tiny per-block carry), and everything after is a
    single-row aggregate.  Cites SURVEY.md §2 A-family; same rank
    machinery as spearman_qty_price.
    """
    from lakeforge.ops.analytics import blocked_prefix_sum

    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "N")
    ).select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_r"),
    )
    h = li.groupBy("cents").agg(
        F.count(F.lit(1)).alias("n_tot"), F.sum("is_r").alias("n_r")
    )
    h = blocked_prefix_sum(
        h, "cents", "n_tot",
        F.floor(F.col("cents") / F.lit(100_000)).cast("bigint"),
        out_col="cum_before",
    )
    agg = h.agg(
        F.sum(F.col("n_r") * (2 * F.col("cum_before") + F.col("n_tot") + 1))
        .alias("sum_r2"),
        F.sum("n_r").alias("n_r"),
        F.sum(F.col("n_tot") - F.col("n_r")).alias("n_n"),
        F.sum("n_tot").alias("n_all"),
        F.sum(F.col("n_tot") * F.col("n_tot") * F.col("n_tot") - F.col("n_tot"))
        .alias("tie3"),
    ).withColumn("u2_r", F.col("sum_r2") - F.col("n_r") * (F.col("n_r") + 1))
    return agg.select(
        F.col("n_r").cast("bigint").alias("n_r"),
        F.col("n_n").cast("bigint").alias("n_n"),
        F.col("u2_r").cast("bigint").alias("u2_r"),
        (F.col("n_r") * F.col("n_n")).cast("bigint").alias("u2_expected"),
        F.expr(_MWU_Z_SQL).alias("z_score"),
    )


SQL_MANNWHITNEY_PRICE_RANK = f"""
WITH s AS (
    SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_r
    FROM lineitem WHERE l_returnflag IN ('R', 'N')
),
h AS (
    SELECT cents, count(*) AS n_tot, SUM(is_r) AS n_r FROM s GROUP BY cents
),
r AS (
    SELECT *, COALESCE(SUM(n_tot) OVER (ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS cum_before
    FROM h
),
agg AS (
    SELECT SUM(n_r * (2 * cum_before + n_tot + 1)) AS sum_r2,
           SUM(n_r) AS n_r, SUM(n_tot - n_r) AS n_n, SUM(n_tot) AS n_all,
           SUM(n_tot * n_tot * n_tot - n_tot) AS tie3
    FROM r
),
u AS (SELECT *, sum_r2 - n_r * (n_r + 1) AS u2_r FROM agg)
SELECT CAST(n_r AS BIGINT) AS n_r,
       CAST(n_n AS BIGINT) AS n_n,
       CAST(u2_r AS BIGINT) AS u2_r,
       CAST(n_r * n_n AS BIGINT) AS u2_expected,
       {_MWU_Z_SQL} AS z_score
FROM u
"""

register("mannwhitney_price_rank", q_mannwhitney_price_rank, SQL_MANNWHITNEY_PRICE_RANK)


# ---------------------------------------------------------------------------
# Partition management: consistent-hash vs modulo reshard movement.
# ---------------------------------------------------------------------------

_CH_VNODES = 16  # virtual nodes per shard on the hash ring
_CH_SPACE = 2**32


def _ring_intervals(spark: SparkSession, n_shards: int) -> DataFrame:
    """Ownership intervals (lo, hi] of an n-shard consistent-hash ring
    with _CH_VNODES seeded vnodes per shard.  lo NULL marks the first
    interval; wraparound (h > max point) is handled by the caller's
    remap.  144 rows at n=9 — broadcast-sized by construction, so the
    single-partition LAG window is free."""
    ring = (
        spark.range(n_shards).select(F.col("id").cast("int").alias("shard"))
        .crossJoin(
            spark.range(_CH_VNODES).select(F.col("id").cast("int").alias("vnode"))
        )
        .select(
            "shard",
            F.pmod(
                md5_int(F.lit("ring-v1"), F.col("shard"), F.col("vnode")),
                F.lit(_CH_SPACE),
            ).alias("point"),
        )
    )
    w = Window.orderBy("point", "shard")
    return ring.select(
        "shard", F.col("point").alias("hi"), F.lag("point").over(w).alias("lo")
    )


def q_consistent_hash_reshard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshard movement audit: when the customer fleet grows from 8 to 9
    shards, how many keys MOVE under (a) modulo placement (h % n) versus
    (b) a consistent-hash ring (first vnode clockwise, 16 seeded vnodes
    per shard)?  Modulo reassigns ~(n-1)/n of all keys — a cluster-wide
    rebalance storm; the ring reassigns ~1/n — the property that makes
    consistent hashing the standard for distributed caches, shard maps,
    and streaming-state reassignment.  This query measures both rates
    exactly, on real keys, with the ring arithmetic reproduced in the
    oracle.

    Plan: each ring is a 128/144-row broadcast interval table; the
    customer side joins it via a single-match non-equi broadcast join
    (the documented broadcast-scalar BNLJ family) after a one-row
    broadcast remap that folds wraparound keys onto the first interval.
    The two assignments re-join on c_custkey (NOT on the 32-bit hash,
    which can collide).  No shuffle of the customer table beyond that
    equi-join; output is two rows.
    """
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.pmod(md5_int(F.col("c_custkey"), F.lit("chash-v1")), F.lit(_CH_SPACE))
        .alias("h"),
    )

    def ring_assign(n_shards: int, out: str) -> DataFrame:
        iv = _ring_intervals(spark, n_shards)
        bounds = iv.agg(
            F.max("hi").alias("max_pt"), F.min("hi").alias("min_pt")
        )
        remapped = cust.crossJoin(F.broadcast(bounds)).select(
            "c_custkey",
            F.when(F.col("h") > F.col("max_pt"), F.col("min_pt"))
            .otherwise(F.col("h")).alias("hp"),
        )
        return remapped.join(
            F.broadcast(iv),
            (F.col("lo").isNull() & (F.col("hp") <= F.col("hi")))
            | ((F.col("hp") > F.col("lo")) & (F.col("hp") <= F.col("hi"))),
        ).select("c_custkey", F.col("shard").alias(out))

    ring = ring_assign(8, "s8").join(ring_assign(9, "s9"), "c_custkey")
    ring_stats = ring.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.when(F.col("s8") != F.col("s9"), 1).otherwise(0))
        .cast("bigint").alias("n_moved"),
    ).select(F.lit("ring").alias("strategy"), "n_customers", "n_moved")
    mod_stats = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(
            F.when(F.pmod("h", F.lit(8)) != F.pmod("h", F.lit(9)), 1)
            .otherwise(0)
        ).cast("bigint").alias("n_moved"),
    ).select(F.lit("modulo").alias("strategy"), "n_customers", "n_moved")
    return ring_stats.unionByName(mod_stats).select(
        "strategy", "n_customers", "n_moved",
        F.expr("(1000 * n_moved) div n_customers").cast("bigint")
        .alias("moved_permille"),
    )


def _ch_ring_sql(max_shard: int) -> str:
    return f"""
    SELECT shard, point AS hi,
           LAG(point) OVER (ORDER BY point, shard) AS lo
    FROM (
        SELECT s.shard, v.vnode,
               {duckdb_md5_int_sql(["'ring-v1'", "s.shard", "v.vnode"])}
                   % {_CH_SPACE} AS point
        FROM (SELECT CAST(UNNEST(generate_series(0, {max_shard})) AS INT)
                  AS shard) s,
             (SELECT CAST(UNNEST(generate_series(0, {_CH_VNODES - 1})) AS INT)
                  AS vnode) v
    )
    """


def _ch_assign_sql(ring_cte: str, out: str) -> str:
    return f"""
    SELECT c.c_custkey, i.shard AS {out}
    FROM (
        SELECT c_custkey,
               CASE WHEN h > (SELECT MAX(hi) FROM {ring_cte}) THEN
                    (SELECT MIN(hi) FROM {ring_cte}) ELSE h END AS hp
        FROM cust
    ) c
    JOIN {ring_cte} i
      ON (i.lo IS NULL AND c.hp <= i.hi) OR (c.hp > i.lo AND c.hp <= i.hi)
    """


SQL_CONSISTENT_HASH_RESHARD = f"""
WITH cust AS (
    SELECT c_custkey,
           {duckdb_md5_int_sql(["c_custkey", "'chash-v1'"])} % {_CH_SPACE}
               AS h
    FROM customer
),
ring_s8 AS ({_ch_ring_sql(7)}),
ring_s9 AS ({_ch_ring_sql(8)}),
a8 AS ({_ch_assign_sql("ring_s8", "s8")}),
a9 AS ({_ch_assign_sql("ring_s9", "s9")}),
ring_stats AS (
    SELECT 'ring' AS strategy,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN a8.s8 <> a9.s9 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved
    FROM a8 JOIN a9 ON a8.c_custkey = a9.c_custkey
),
mod_stats AS (
    SELECT 'modulo' AS strategy,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN h % 8 <> h % 9 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved
    FROM cust
)
SELECT strategy, n_customers, n_moved,
       CAST((1000 * n_moved) // n_customers AS BIGINT) AS moved_permille
FROM (SELECT * FROM ring_stats UNION ALL SELECT * FROM mod_stats)
"""

register(
    "consistent_hash_reshard", q_consistent_hash_reshard, SQL_CONSISTENT_HASH_RESHARD,
)


# ---------------------------------------------------------------------------
# Geospatial: grid-bucketed spatial join and density map.  Coordinates are
# derived deterministically from keys (micro-degree fixed point), so both
# engines synthesize the identical geometry and every distance is exact
# BIGINT arithmetic — no trig, no floats, no cross-engine divergence.
# ---------------------------------------------------------------------------

_GEO_LAT_SPACE = 180_000_000  # micro-degrees, kept non-negative [0, 180M)
_GEO_LON_SPACE = 360_000_000  # [0, 360M)
_GEO_CELL = 10_000_000        # 10-degree grid cell


def _geo_lat(kind: str, key) -> Column:
    return F.pmod(
        md5_int(F.lit(f"geo-{kind}-lat-v1"), key), F.lit(_GEO_LAT_SPACE)
    )


def _geo_lon(kind: str, key) -> Column:
    return F.pmod(
        md5_int(F.lit(f"geo-{kind}-lon-v1"), key), F.lit(_GEO_LON_SPACE)
    )


def _geo_lat_sql(kind: str, key: str) -> str:
    return (
        duckdb_md5_int_sql([f"'geo-{kind}-lat-v1'", key])
        + f" % {_GEO_LAT_SPACE}"
    )


def _geo_lon_sql(kind: str, key: str) -> str:
    return (
        duckdb_md5_int_sql([f"'geo-{kind}-lon-v1'", key])
        + f" % {_GEO_LON_SPACE}"
    )


def q_spatial_nearest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial nearest-neighbor join: each customer finds its
    nearest supplier within the surrounding 3x3 block of 10-degree grid
    cells (squared Euclidean distance in micro-degrees — exact BIGINT),
    rolled up per supplier nation.

    The query SEMANTICS stay the fixed 10-degree neighborhood box (the
    DuckDB oracle still probes the 3x3 coarse cells), but the EXECUTION
    now rides ops/spatial.py::nearest_in_box (VERDICT r06 #3): the
    supplier side is re-bucketed into density-adaptive FINE cells sized
    so each holds ~2 suppliers, and each customer ring-expands outward
    (radius doubling, clipped to its box) until its best candidate is
    provably the box minimum.  Candidates per customer are O(1) in
    expectation at ANY supplier density — the previous fixed-cell join's
    candidates grew linearly with density and measured executor OOM at
    100x in docs/SCALE_PROBE.md.  Customers with no supplier in their
    box drop out (inner-join semantics, unchanged); d2 ships as
    div 1000 so nation totals stay far inside BIGINT at any SF.
    """
    from lakeforge.ops.spatial import adaptive_cell_size, nearest_in_box

    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        _geo_lat("c", F.col("c_custkey")).alias("plat"),
        _geo_lon("c", F.col("c_custkey")).alias("plon"),
    ).select(
        "*",
        F.expr(f"plat div {_GEO_CELL}").alias("cell_lat"),
        F.expr(f"plon div {_GEO_CELL}").alias("cell_lon"),
    ).select(
        "id", "plat", "plon",
        F.greatest(
            F.lit(0), (F.col("cell_lat") - 1) * _GEO_CELL
        ).alias("box_lat_lo"),
        F.least(
            F.lit(_GEO_LAT_SPACE), (F.col("cell_lat") + 2) * _GEO_CELL
        ).alias("box_lat_hi"),
        F.greatest(
            F.lit(0), (F.col("cell_lon") - 1) * _GEO_CELL
        ).alias("box_lon_lo"),
        F.least(
            F.lit(_GEO_LON_SPACE), (F.col("cell_lon") + 2) * _GEO_CELL
        ).alias("box_lon_hi"),
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
        F.col("s_nationkey").cast("bigint").alias("s_nationkey"),
        _geo_lat("s", F.col("s_suppkey")).alias("blat"),
        _geo_lon("s", F.col("s_suppkey")).alias("blon"),
    )
    n_supp = supp.count()  # dim-sized; bounded driver scalar
    cell = adaptive_cell_size(
        _GEO_LAT_SPACE * _GEO_LON_SPACE, n_supp, tau=2.0
    )
    # When the adaptive cell clamps to the coarse 10-degree grid (low
    # density), every box spans exactly cells {cl-1, cl, cl+1} -> r_box=1
    # and the operator takes its one-job single-shot path (the classic
    # 3x3 grid join); at higher densities it ring-expands.
    best = nearest_in_box(
        cust, supp, cell,
        payload_cols=["s_suppkey", "s_nationkey"],
        n_build=n_supp,
        box_radius_cells=1 if cell == _GEO_CELL else None,
        # box bounds are coarse-cell multiples, so they are fine-cell
        # aligned exactly when the adaptive cell divides the coarse cell
        box_aligned=(_GEO_CELL % cell == 0),
    )
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        best.join(
            F.broadcast(nation), best.s_nationkey == nation.n_nationkey
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.min("d2").cast("bigint").alias("min_d2"),
            F.sum(F.expr("d2 div 1000")).cast("bigint").alias("sum_d2_k"),
        )
    )


SQL_SPATIAL_NEAREST_SUPPLIER = f"""
WITH cust AS (
    SELECT c_custkey,
           {_geo_lat_sql("c", "c_custkey")} AS clat,
           {_geo_lon_sql("c", "c_custkey")} AS clon
    FROM customer
),
supp AS (
    SELECT s_suppkey, s_nationkey,
           {_geo_lat_sql("s", "s_suppkey")} AS slat,
           {_geo_lon_sql("s", "s_suppkey")} AS slon
    FROM supplier
),
probe AS (
    SELECT c.c_custkey, c.clat, c.clon,
           c.clat // {_GEO_CELL} + o1.dlat AS p_cell_lat,
           c.clon // {_GEO_CELL} + o2.dlon AS p_cell_lon
    FROM cust c
    CROSS JOIN (SELECT UNNEST([-1, 0, 1]) AS dlat) o1
    CROSS JOIN (SELECT UNNEST([-1, 0, 1]) AS dlon) o2
),
cand AS (
    SELECT p.c_custkey, s.s_suppkey, s.s_nationkey,
           (p.clat - s.slat) * (p.clat - s.slat)
           + (p.clon - s.slon) * (p.clon - s.slon) AS d2
    FROM probe p
    JOIN supp s
      ON p.p_cell_lat = s.slat // {_GEO_CELL}
     AND p.p_cell_lon = s.slon // {_GEO_CELL}
),
best AS (
    SELECT c_custkey, d2, s_nationkey,
           ROW_NUMBER() OVER (PARTITION BY c_custkey
                              ORDER BY d2, s_suppkey) AS rn
    FROM cand
)
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(MIN(b.d2) AS BIGINT) AS min_d2,
       CAST(SUM(b.d2 // 1000) AS BIGINT) AS sum_d2_k
FROM best b JOIN nation n ON b.s_nationkey = n.n_nationkey
WHERE b.rn = 1
GROUP BY n.n_name
"""

register(
    "spatial_nearest_supplier",
    q_spatial_nearest_supplier,
    SQL_SPATIAL_NEAREST_SUPPLIER,
)


def q_spatial_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial density map: per 10-degree grid cell, how many customers
    and suppliers land there (geohash-style space indexing — the layout
    that makes the nearest-neighbor join above an equi-join).  Cells with
    customers but zero suppliers are the 'supplier deserts' a coverage
    planner looks for.

    Plan: one hash aggregate per side (map-side combined), then a full
    outer join of two <=648-row frames — the cell universe is bounded by
    the grid (18 x 36), NOT by data volume, so the join cost is constant
    at any SF.
    """
    cust = table(spark, sf_dir, "customer").select(
        _geo_lat("c", F.col("c_custkey")).alias("lat"),
        _geo_lon("c", F.col("c_custkey")).alias("lon"),
    ).select(
        F.expr(f"lat div {_GEO_CELL}").alias("cell_lat"),
        F.expr(f"lon div {_GEO_CELL}").alias("cell_lon"),
    ).groupBy("cell_lat", "cell_lon").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust")
    )
    supp = table(spark, sf_dir, "supplier").select(
        _geo_lat("s", F.col("s_suppkey")).alias("lat"),
        _geo_lon("s", F.col("s_suppkey")).alias("lon"),
    ).select(
        F.expr(f"lat div {_GEO_CELL}").alias("cell_lat"),
        F.expr(f"lon div {_GEO_CELL}").alias("cell_lon"),
    ).groupBy("cell_lat", "cell_lon").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_supp")
    )
    return (
        cust.join(supp, ["cell_lat", "cell_lon"], "full_outer")
        .select(
            "cell_lat",
            "cell_lon",
            F.coalesce("n_cust", F.lit(0)).cast("bigint").alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).cast("bigint").alias("n_supp"),
        )
    )


SQL_SPATIAL_GRID_DENSITY = f"""
WITH cust AS (
    SELECT ({_geo_lat_sql("c", "c_custkey")}) // {_GEO_CELL} AS cell_lat,
           ({_geo_lon_sql("c", "c_custkey")}) // {_GEO_CELL} AS cell_lon,
           CAST(count(*) AS BIGINT) AS n_cust
    FROM customer GROUP BY 1, 2
),
supp AS (
    SELECT ({_geo_lat_sql("s", "s_suppkey")}) // {_GEO_CELL} AS cell_lat,
           ({_geo_lon_sql("s", "s_suppkey")}) // {_GEO_CELL} AS cell_lon,
           CAST(count(*) AS BIGINT) AS n_supp
    FROM supplier GROUP BY 1, 2
)
SELECT COALESCE(c.cell_lat, s.cell_lat) AS cell_lat,
       COALESCE(c.cell_lon, s.cell_lon) AS cell_lon,
       CAST(COALESCE(c.n_cust, 0) AS BIGINT) AS n_cust,
       CAST(COALESCE(s.n_supp, 0) AS BIGINT) AS n_supp
FROM cust c FULL OUTER JOIN supp s
  ON c.cell_lat = s.cell_lat AND c.cell_lon = s.cell_lon
"""

register("spatial_grid_density", q_spatial_grid_density, SQL_SPATIAL_GRID_DENSITY)
