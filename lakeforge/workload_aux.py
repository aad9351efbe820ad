"""Round-6 auxiliary workload: privacy depth, sketch calibration,
imputation, interval occupancy, repeated-span dedup, feature hashing, and
graph cores.

Families covered here (none previously in the registry):

- **Privacy depth**: l-diversity on top of the existing k-anonymity
  release — a group can be k-large yet reveal everyone's sensitive value
  if that value is constant; the l-gate requires >= l DISTINCT sensitive
  values per quasi-identifier group.
- **Sketch calibration**: a count-min sketch (Cormode & Muthukrishnan
  2005) built map-side over the raw fact rows, with the estimate-vs-exact
  overcount audited per item — CMS complements the existing KMV/HLL/Bloom/
  KLL family (point-frequency estimates, mergeable counters).
- **Imputation**: LOCF (last-observation-carried-forward) gap fill of a
  per-key monthly series over a dense spine — the standard time-series
  repair before any ML feature extraction.
- **Interval occupancy**: interval x calendar-bucket overlap aggregate
  (in-transit days per supplier-month) via bounded month explode — the
  resource-occupancy rollup shape (no sweep line, no global sort).
- **Repeated-span detection**: the ExactSubstr training-data dedup
  primitive (Lee et al. 2022, "Deduplicating Training Data Makes Language
  Models Better"): positional n-grams repeated ACROSS documents, merged
  into maximal per-document spans via gaps-and-islands.
- **Feature hashing**: the hashing-trick categorical encoder (Weinberger
  et al. 2009) with signed buckets and explicit collision accounting.
- **Graph cores**: k-core decomposition by synchronized peeling rounds
  over the part-supplier trade graph — the density backbone next to the
  existing BFS/SSSP/CC/PageRank/HITS/triangle family.

Same conventions as every other workload module: identical column aliases
Spark-vs-oracle, exact integer/cents math before any double, deterministic
orderings, broadcast small sides, no unbounded driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakeforge.functions.keys import duckdb_md5_int_sql, md5_int
from lakeforge.io.sources import table
from lakeforge.registry import register


# ---------------------------------------------------------------------------
# Privacy: l-diversity release audit (extends orders_kanon_release).
# ---------------------------------------------------------------------------

_LDIV_K, _LDIV_L = 10, 3


def q_orders_ldiversity_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the (market segment, order year) quasi-
    identifier with o_orderpriority as the sensitive attribute: a group
    passes release only if it is k-anonymous (n >= 10) AND l-diverse
    (>= 3 distinct priorities) — k alone cannot stop a homogeneity
    attack (Machanavajjhala et al. 2007: a k-large group with ONE
    sensitive value reveals it for every member).

    Plan: one broadcast dim join + one map-side-combined hash aggregate
    to the QI-group table (|segments| x |years| rows); the distinct-
    sensitive count rides the same aggregate via count(distinct) over a
    5-value domain (Spark expands it to a tiny two-phase agg).  No
    second scan, no window.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    rows = o.join(
        c.select("c_custkey", "c_mktsegment"),
        o.o_custkey == c.c_custkey,
    ).select(
        "c_mktsegment",
        F.year("o_orderdate").cast("int").alias("order_year"),
        "o_orderpriority",
    )
    grp = rows.groupBy("c_mktsegment", "order_year").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.countDistinct("o_orderpriority").cast("bigint").alias("n_priorities"),
    )
    return grp.select(
        "c_mktsegment",
        "order_year",
        "n",
        "n_priorities",
        (
            (F.col("n") >= _LDIV_K) & (F.col("n_priorities") >= _LDIV_L)
        ).alias("released"),
    )


SQL_ORDERS_LDIVERSITY = f"""
WITH rows_ AS (
    SELECT c.c_mktsegment,
           CAST(year(o.o_orderdate) AS INT) AS order_year,
           o.o_orderpriority
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT c_mktsegment, order_year,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
       (count(*) >= {_LDIV_K}
        AND count(DISTINCT o_orderpriority) >= {_LDIV_L}) AS released
FROM rows_ GROUP BY c_mktsegment, order_year
"""

register(
    "orders_ldiversity_release", q_orders_ldiversity_release, SQL_ORDERS_LDIVERSITY,
)


# ---------------------------------------------------------------------------
# Sketch: count-min calibration (estimate vs exact, overcount >= 0).
# ---------------------------------------------------------------------------

_CMS_D, _CMS_W = 4, 64


def q_cms_heavy_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over (priority, status) order frequencies with
    the estimate audited against the exact count per item.  The counter
    build is the honest streaming shape: each RAW order row contributes
    d = 4 (row, col) increments MAP-SIDE; partial aggregation collapses
    them before the shuffle, so the exchange carries at most d*w = 256
    cells per task regardless of fact size — the mergeability that makes
    CMS the standard distributed frequency sketch.  The estimate is the
    min over the item's d counters; CMS never undercounts, so
    ``overcount = cms_n - exact_n >= 0`` is a hard invariant the oracle
    (and tests) check.
    """
    o = table(spark, sf_dir, "orders").select("o_orderpriority", "o_orderstatus")
    # d hash rows per fact row, map-side fan-out, 256-cell shuffle.
    cells = [
        F.struct(
            F.lit(r).alias("r"),
            F.pmod(
                md5_int("o_orderpriority", "o_orderstatus", F.lit(f"cms-r{r}")),
                F.lit(_CMS_W),
            ).alias("col"),
        )
        for r in range(_CMS_D)
    ]
    counters = (
        o.select(F.explode(F.array(*cells)).alias("c"))
        .groupBy(F.col("c.r").alias("r"), F.col("c.col").alias("col"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    items = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_n")
    )
    probes = items.select(
        "o_orderpriority",
        "o_orderstatus",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.pmod(
                            md5_int(
                                "o_orderpriority",
                                "o_orderstatus",
                                F.lit(f"cms-r{r}"),
                            ),
                            F.lit(_CMS_W),
                        ).alias("col"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("p"),
    ).select(
        "o_orderpriority", "o_orderstatus", "exact_n",
        F.col("p.r").alias("r"), F.col("p.col").alias("col"),
    )
    est = (
        probes.join(F.broadcast(counters), ["r", "col"])
        .groupBy("o_orderpriority", "o_orderstatus", "exact_n")
        .agg(F.min("cnt").cast("bigint").alias("cms_n"))
    )
    return est.select(
        "o_orderpriority",
        "o_orderstatus",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).cast("bigint").alias("overcount"),
    )


def _cms_hash_sql(r: int) -> str:
    return (
        duckdb_md5_int_sql(["o_orderpriority", "o_orderstatus", f"'cms-r{r}'"])
        + f" % {_CMS_W}"
    )


SQL_CMS_HEAVY_STATUS = f"""
WITH o AS (SELECT o_orderpriority, o_orderstatus FROM orders),
incr AS (
    {" UNION ALL ".join(
        f"SELECT {r} AS r, {_cms_hash_sql(r)} AS col FROM o"
        for r in range(_CMS_D)
    )}
),
counters AS (
    SELECT r, col, CAST(count(*) AS BIGINT) AS cnt FROM incr GROUP BY r, col
),
items AS (
    SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS exact_n
    FROM o GROUP BY o_orderpriority, o_orderstatus
),
probes AS (
    {" UNION ALL ".join(
        f"SELECT o_orderpriority, o_orderstatus, exact_n, {r} AS r, "
        f"{_cms_hash_sql(r)} AS col FROM items"
        for r in range(_CMS_D)
    )}
)
SELECT p.o_orderpriority, p.o_orderstatus, p.exact_n,
       CAST(MIN(c.cnt) AS BIGINT) AS cms_n,
       CAST(MIN(c.cnt) - p.exact_n AS BIGINT) AS overcount
FROM probes p JOIN counters c USING (r, col)
GROUP BY p.o_orderpriority, p.o_orderstatus, p.exact_n
"""

register("cms_heavy_status", q_cms_heavy_status, SQL_CMS_HEAVY_STATUS)


# ---------------------------------------------------------------------------
# ML prep: hashing-trick categorical encoder with collision accounting.
# ---------------------------------------------------------------------------

_FH_D = 32


def q_feature_hash_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick encoding of the (segment x nation) cross feature
    into D = 32 signed buckets (Weinberger et al. 2009): bucket =
    md5(feature) % D, sign = +-1 from an independent hash bit.  The
    output audits what a fixed-width hashed feature space costs:
    per-bucket row mass, how many DISTINCT source features collided into
    the bucket, and the signed sum (sign-hashing makes collisions cancel
    in expectation — the reason Vowpal-Wabbit-style learners tolerate
    D << vocabulary).

    Plan: one broadcast dim join, row-local hash arithmetic, one
    map-side-combined aggregate to D rows.  No shuffle wider than the
    bucket table at any corpus size — the encoder never materializes a
    vocabulary, which is exactly its 100 TB selling point.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    feat = F.concat_ws(
        "&",
        F.concat(F.lit("seg="), F.col("c_mktsegment")),
        F.concat(F.lit("nat="), F.col("c_nationkey").cast("string")),
    )
    rows = o.join(
        c.select("c_custkey", "c_mktsegment", "c_nationkey"),
        o.o_custkey == c.c_custkey,
    ).select(
        feat.alias("feature"),
        F.pmod(md5_int(feat, F.lit("fh-bucket")), F.lit(_FH_D))
        .cast("int").alias("bucket"),
        (F.pmod(md5_int(feat, F.lit("fh-sign")), F.lit(2)) * 2 - 1)
        .cast("bigint").alias("sign"),
    )
    return rows.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("feature").cast("bigint").alias("n_features"),
        F.sum("sign").cast("bigint").alias("signed_n"),
    )


_FH_FEAT = "concat('seg=', c_mktsegment, '&', 'nat=', CAST(c_nationkey AS VARCHAR))"

SQL_FEATURE_HASH_SEGMENTS = f"""
WITH rows_ AS (
    SELECT {_FH_FEAT} AS feature,
           CAST({duckdb_md5_int_sql([_FH_FEAT, "'fh-bucket'"])} % {_FH_D}
                AS INT) AS bucket,
           CAST({duckdb_md5_int_sql([_FH_FEAT, "'fh-sign'"])} % 2 * 2 - 1
                AS BIGINT) AS sign
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT feature) AS BIGINT) AS n_features,
       CAST(SUM(sign) AS BIGINT) AS signed_n
FROM rows_ GROUP BY bucket
"""

register("feature_hash_segments", q_feature_hash_segments, SQL_FEATURE_HASH_SEGMENTS)

# ---------------------------------------------------------------------------
# Imputation: LOCF gap-fill over a dense (nation, month) spine.
# ---------------------------------------------------------------------------


def q_nation_spend_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF (last observation carried forward) imputation of each
    nation's monthly order spend over a DENSE month spine: months where a
    nation had no orders inherit the nation's most recent observed value,
    flagged ``imputed`` (leading months before the first observation stay
    NULL — LOCF has nothing to carry).  The standard series repair before
    lag/rolling feature extraction, done as one window — not a loop.

    Plan: one fact aggregate to (nation, month) cells; the spine is
    |nations| x |observed months| built by a documented broadcast-scalar
    fan-out (nation dim x collected-free month list, both dimension-
    sized); the fill is ONE window per nation ordered by month
    (F.last ignorenulls) — a single narrow shuffle of the cell table,
    never of the fact."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    cells = (
        o.join(c.select("c_custkey", "c_nationkey"),
               o.o_custkey == c.c_custkey)
        .select(
            F.col("c_nationkey").cast("int").alias("nationkey"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("nationkey", "month")
        .agg(F.sum("cents").cast("bigint").alias("spend_cents"))
    )
    months = o.select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).distinct()
    # nations x observed-months spine: both sides dimension-sized; the
    # BNLJ here is the documented broadcast fan-out shape (PLAN_AUDIT).
    spine = (
        n.select(F.col("n_nationkey").cast("int").alias("nationkey"),
                 "n_name")
        .crossJoin(F.broadcast(months))
    )
    # cells is nations x months at ANY fact size — broadcast explicitly
    # (post-aggregate stats are unknown to Catalyst, which otherwise
    # plans an SMJ for this dimension-sized join).
    joined = spine.join(F.broadcast(cells), ["nationkey", "month"], "left")
    w = (
        Window.partitionBy("nationkey")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "nationkey",
        "n_name",
        "month",
        F.last("spend_cents", ignorenulls=True).over(w)
        .cast("bigint").alias("spend_cents_locf"),
        F.col("spend_cents").isNull().alias("imputed"),
    )


SQL_NATION_SPEND_LOCF = """
WITH cells AS (
    SELECT CAST(c.c_nationkey AS INT) AS nationkey,
           CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS spend_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
months AS (
    SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS month
    FROM orders
),
spine AS (
    SELECT CAST(n.n_nationkey AS INT) AS nationkey, n.n_name, m.month
    FROM nation n, months m
)
SELECT s.nationkey, s.n_name, s.month,
       CAST(last_value(c.spend_cents IGNORE NULLS) OVER (
            PARTITION BY s.nationkey ORDER BY s.month
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS spend_cents_locf,
       c.spend_cents IS NULL AS imputed
FROM spine s LEFT JOIN cells c USING (nationkey, month)
"""

register("nation_spend_locf", q_nation_spend_locf, SQL_NATION_SPEND_LOCF)


# ---------------------------------------------------------------------------
# Interval occupancy: in-transit days per (supplier, month).
# ---------------------------------------------------------------------------

_TRANSIT_MOD = 28


def q_supplier_transit_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x calendar-bucket occupancy rollup: each shipment is
    in transit for [l_shipdate, l_shipdate + 1 + quantity % 28 days]
    (deterministic synthetic duration — the testdata carries no receipt
    date); the query reports, per (supplier, month), how many
    shipment-days fell inside that month plus how many shipments touched
    it.  The resource-occupancy shape (bed-days, machine-hours,
    in-transit inventory) computed WITHOUT a sweep line or global sort:
    explode each interval onto the months it overlaps (fan-out bounded
    by max duration / month length + 1 = 2 here), clip, aggregate.

    Plan: the month explode is row-local (sequence over at most 2
    elements); ONE map-side-combined aggregate to (supplier, month).
    At 100 TB the same plan holds because the fan-out bound comes from
    the DURATION CAP, not data volume — the standard trick is capping
    pathological intervals before the explode."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.col("l_shipdate").cast("date").alias("ship"),
        F.date_add(
            F.col("l_shipdate").cast("date"),
            (F.col("l_quantity").cast("int") % _TRANSIT_MOD) + 1,
        ).alias("receipt"),
    )
    exploded = li.select(
        "l_suppkey",
        "ship",
        "receipt",
        F.explode(
            F.sequence(
                F.date_trunc("month", "ship").cast("date"),
                F.date_trunc("month", "receipt").cast("date"),
                F.expr("interval 1 month"),
            )
        ).alias("month"),
    )
    month_end = F.last_day(F.col("month"))
    overlap = (
        F.datediff(F.least(F.col("receipt"), month_end),
                   F.greatest(F.col("ship"), F.col("month"))) + 1
    )
    return (
        exploded.groupBy("l_suppkey", "month")
        .agg(
            F.sum(overlap.cast("bigint")).alias("transit_days"),
            F.count(F.lit(1)).cast("bigint").alias("n_shipments"),
        )
    )


SQL_SUPPLIER_TRANSIT_OCCUPANCY = f"""
WITH iv AS (
    SELECT l_suppkey,
           CAST(l_shipdate AS DATE) AS ship,
           CAST(l_shipdate AS DATE)
               + (CAST(l_quantity AS INT) % {_TRANSIT_MOD} + 1) AS receipt
    FROM lineitem
),
ex AS (
    SELECT l_suppkey, ship, receipt,
           CAST(unnest(generate_series(
               CAST(date_trunc('month', ship) AS DATE),
               CAST(date_trunc('month', receipt) AS DATE),
               INTERVAL 1 MONTH)) AS DATE) AS month
    FROM iv
)
SELECT l_suppkey, month,
       CAST(SUM(date_diff('day',
                GREATEST(ship, month),
                LEAST(receipt, last_day(month))) + 1) AS BIGINT)
           AS transit_days,
       CAST(count(*) AS BIGINT) AS n_shipments
FROM ex GROUP BY l_suppkey, month
"""

register(
    "supplier_transit_occupancy",
    q_supplier_transit_occupancy,
    SQL_SUPPLIER_TRANSIT_OCCUPANCY,
)


# ---------------------------------------------------------------------------
# Graph: k-core of the part-supplier trade graph (synchronized peeling).
# ---------------------------------------------------------------------------

_KCORE_K, _KCORE_ROUNDS = 25, 6


def q_trade_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (ops/graph.py::kcore_nodes) of the bipartite
    part<->supplier trade graph (same node encoding as pagerank_trade:
    2*part / 2*supp+1, symmetric edges): peel nodes with degree < 25 in
    synchronized rounds until stable, report survivors with their
    residual in-core degree — the dense trading backbone (parts carried
    by many well-connected suppliers), the graph-density counterpart of
    the HITS/PageRank importance scores already in the registry.

    The DuckDB oracle unrolls the SAME 6 peeling rounds as a CTE chain,
    so the iterative Spark formulation and the relational one
    cross-check each other (bfs_depths contract)."""
    from lakeforge.ops.graph import kcore_nodes

    li = table(spark, sf_dir, "lineitem")
    e0 = li.select("l_partkey", "l_suppkey").distinct()
    # Both orientations from ONE scan of the distinct pipeline (r13 opt,
    # guide §2.4): the unionAll branches differed in projection order, so
    # AQE exchange reuse could not dedupe them and the 600k-row distinct
    # executed twice.  explode emits the identical edge MULTISET (k-core
    # degrees depend on multiplicity, so multiset equality is the
    # contract; the oracle's g0 is the same UNION ALL).
    p2 = F.col("l_partkey") * 2
    s2 = F.col("l_suppkey") * 2 + 1
    edges = e0.select(
        F.explode(
            F.array(
                F.struct(p2.alias("src"), s2.alias("dst")),
                F.struct(s2.alias("src"), p2.alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    core = kcore_nodes(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)
    return core.select(
        F.when(F.col("node") % 2 == 0, "part").otherwise("supplier")
        .alias("kind"),
        F.expr("node div 2").cast("bigint").alias("key"),
        "core_deg",
    )


def _sql_kcore(k: int, rounds: int) -> str:
    # MATERIALIZED is load-bearing: k{r} is referenced twice per round and
    # each g{r} chains on g{r-1}, so DuckDB's default CTE inlining would
    # re-evaluate the whole prefix ~3^rounds times (measured 40s at
    # sf0.001 vs <1s materialized).
    ctes = [
        "e0 AS MATERIALIZED (SELECT DISTINCT l_partkey, l_suppkey"
        " FROM lineitem)",
        "g0 AS MATERIALIZED (SELECT 2*l_partkey AS a, 2*l_suppkey+1 AS b"
        " FROM e0 UNION ALL SELECT 2*l_suppkey+1, 2*l_partkey FROM e0)",
    ]
    prev = "g0"
    for r in range(1, rounds + 1):
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT a, count(*) AS deg FROM {prev}"
            f" GROUP BY a)"
        )
        ctes.append(
            f"k{r} AS MATERIALIZED (SELECT a FROM d{r} WHERE deg >= {k})"
        )
        ctes.append(
            f"g{r} AS MATERIALIZED (SELECT g.a, g.b FROM {prev} g"
            f" JOIN k{r} x ON g.a = x.a JOIN k{r} y ON g.b = y.a)"
        )
        prev = f"g{r}"
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT CASE WHEN a % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
       CAST(a // 2 AS BIGINT) AS key,
       CAST(count(*) AS BIGINT) AS core_deg
FROM {prev} GROUP BY 1, 2 HAVING count(*) >= {k}
"""
    )


register("trade_kcore", q_trade_kcore, _sql_kcore(_KCORE_K, _KCORE_ROUNDS))


# ---------------------------------------------------------------------------
# Training-data dedup primitive: cross-document repeated spans
# (ExactSubstr, Lee et al. 2022 "Deduplicating Training Data Makes
# Language Models Better").
# ---------------------------------------------------------------------------

_SPAN_N = 5  # token n-gram granularity of the repeated-substring probe

_TOKS_SQL = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"


def q_docs_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document maximal repeated spans: positional 5-gram shingles
    whose gram occurs in >= 2 DISTINCT documents, merged into maximal
    spans via gaps-and-islands (grams at positions i and j belong to one
    span when j - i <= n, i.e. their token windows overlap or touch).
    Reports per doc the span count, repeated token mass, and longest
    span — the signal ExactSubstr-style training-data dedup cuts on
    (shared boilerplate, licensing blocks, copied passages).

    Plan: grams shuffle as 60-bit HASHES, never text (the same
    text-never-shuffles rule as the MinHash path); the df >= 2 filter is
    a map-side-combined aggregate on gram_h; the island merge is one
    window per doc over the (small) matched-position set.  Cost is
    O(tokens) end-to-end — no pairwise doc comparison exists in the
    plan, which is what lets ExactSubstr run corpus-wide at 100 TB."""
    n = _SPAN_N
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.array_remove(F.split(F.lower(F.col("text")), r"\s+"), "").alias("toks"),
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(toks) >= {n} THEN "
                f"transform(sequence(1, size(toks) - {n} + 1), "
                f"i -> concat_ws(' ', slice(toks, i, {n}))) "
                f"ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("pos0", "gram"),
    ).select("doc_id", (F.col("pos0") + 1).alias("i"), md5_int("gram").alias("gram_h"))
    # r12 opt (guide §2.4): grams feeds the df aggregate AND the semi
    # join — unpersisted, the tokenize -> posexplode -> md5 pipeline ran
    # twice.  Persisted, released at the query boundary.
    from lakeforge.cache import persist_tracked

    grams = persist_tracked(grams)
    rep = (
        grams.groupBy("gram_h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("gram_h")
    )
    hits = grams.join(rep, "gram_h", "left_semi").select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    brk = F.when(F.col("i") - F.lag("i").over(w) <= n, F.lit(0)).otherwise(F.lit(1))
    spans = (
        hits.withColumn("brk", brk)
        .withColumn(
            "span_id",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "span_id")
        .agg(F.min("i").alias("s"), F.max("i").alias("e"))
    )
    span_len = F.col("e") - F.col("s") + n
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(span_len).cast("bigint").alias("repeated_tokens"),
        F.max(span_len).cast("bigint").alias("max_span_tokens"),
    )


SQL_DOCS_REPEATED_SPANS = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
pos AS (SELECT doc_id,
               unnest(range(1, greatest(len(toks) - {_SPAN_N} + 2, 1))) AS i,
               toks
        FROM toks),
grams AS (SELECT doc_id, i,
                 {duckdb_md5_int_sql([f"array_to_string(toks[i:i+{_SPAN_N - 1}], ' ')"])}
                     AS gram_h
          FROM pos),
rep AS (SELECT gram_h FROM grams GROUP BY gram_h
        HAVING count(DISTINCT doc_id) >= 2),
hits AS (SELECT g.doc_id, g.i FROM grams g
         WHERE g.gram_h IN (SELECT gram_h FROM rep)),
brk AS (SELECT doc_id, i,
               CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                         <= {_SPAN_N} THEN 0 ELSE 1 END AS brk
        FROM hits),
isl AS (SELECT doc_id, i,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS span_id
        FROM brk),
spans AS (SELECT doc_id, span_id, MIN(i) AS s, MAX(i) AS e
          FROM isl GROUP BY doc_id, span_id)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(SUM(e - s + {_SPAN_N}) AS BIGINT) AS repeated_tokens,
       CAST(MAX(e - s + {_SPAN_N}) AS BIGINT) AS max_span_tokens
FROM spans GROUP BY doc_id
"""

register("docs_repeated_spans", q_docs_repeated_spans, SQL_DOCS_REPEATED_SPANS)


# ---------------------------------------------------------------------------
# Privacy: t-closeness (completes the k-anonymity / l-diversity / t-closeness
# release triad).
# ---------------------------------------------------------------------------

_TCLOSE_T_PERMILLE = 200


def q_tcloseness_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) over the same
    (segment, year) quasi-identifier as the l-diversity release: a group
    passes only if its o_orderpriority DISTRIBUTION is within t of the
    GLOBAL distribution — diversity alone cannot stop a skewness attack
    (a group can hold 3 distinct priorities yet be 95% '1-URGENT' while
    the population is 20%).  Distance = total variation (the categorical
    Earth-Mover with unit ground distance), computed EXACTLY in integers:
    tvd_permille = 500 * sum_v |n_gv*N - n_v*N_g| / (N_g*N), floor div.
    The 500x scaling runs in DECIMAL(38,0) (ADVICE r06 #2: dev_sum is
    bounded by 2*N_g*N, so 500*dev_sum can exceed int64 at ~1e9-row fact
    x 1e8-row groups; the per-cell products themselves stay within int64
    up to N ~ 9e18/N_g).  The decimal widening changes no value — the
    result is floor-div exact and cast back to BIGINT.

    Plan: one fact aggregate to (group, value) cells; the value universe
    spine is group-table x 5-row broadcast (documented BNLJ fan-out) so
    ABSENT values contribute their full |0 - n_v*N_g| mass; global counts
    join broadcast.  Nothing wider than the cell table ever shuffles."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    rows = o.join(
        c.select("c_custkey", "c_mktsegment"),
        o.o_custkey == c.c_custkey,
    ).select(
        "c_mktsegment",
        F.year("o_orderdate").cast("int").alias("order_year"),
        "o_orderpriority",
    )
    cells = rows.groupBy("c_mktsegment", "order_year", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gv")
    )
    groups = rows.groupBy("c_mktsegment", "order_year").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g")
    )
    glob = rows.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v")
    )
    total = rows.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    spine = groups.crossJoin(F.broadcast(glob)).crossJoin(F.broadcast(total))
    # cells is |groups| x 5 at any fact size — broadcast explicitly (same
    # post-aggregate-stats reasoning as nation_spend_locf).
    full = spine.join(
        F.broadcast(cells),
        ["c_mktsegment", "order_year", "o_orderpriority"], "left"
    ).select(
        "c_mktsegment",
        "order_year",
        "n_g",
        "n_total",
        F.abs(
            F.coalesce("n_gv", F.lit(0)) * F.col("n_total")
            - F.col("n_v") * F.col("n_g")
        ).alias("dev"),
    )
    agg = full.groupBy("c_mktsegment", "order_year", "n_g", "n_total").agg(
        F.sum("dev").alias("dev_sum")
    )
    tvd = F.expr(
        "CAST(500 AS DECIMAL(38,0)) * dev_sum div (n_g * n_total)"
    )
    return agg.select(
        "c_mktsegment",
        "order_year",
        F.col("n_g").alias("n"),
        tvd.cast("bigint").alias("tvd_permille"),
        (tvd <= _TCLOSE_T_PERMILLE).alias("released_t"),
    )


SQL_TCLOSENESS_PRIORITIES = f"""
WITH rows_ AS (
    SELECT c.c_mktsegment,
           CAST(year(o.o_orderdate) AS INT) AS order_year,
           o.o_orderpriority
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
cells AS (
    SELECT c_mktsegment, order_year, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_gv
    FROM rows_ GROUP BY 1, 2, 3
),
groups AS (
    SELECT c_mktsegment, order_year, CAST(count(*) AS BIGINT) AS n_g
    FROM rows_ GROUP BY 1, 2
),
gdist AS (
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_v
    FROM rows_ GROUP BY 1
),
total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM rows_),
spine AS (SELECT * FROM groups, gdist, total),
full_ AS (
    SELECT s.c_mktsegment, s.order_year, s.n_g, s.n_total,
           ABS(COALESCE(c.n_gv, 0) * s.n_total - s.n_v * s.n_g) AS dev
    FROM spine s LEFT JOIN cells c
      USING (c_mktsegment, order_year, o_orderpriority)
),
agg AS (
    SELECT c_mktsegment, order_year, n_g, n_total, SUM(dev) AS dev_sum
    FROM full_ GROUP BY 1, 2, 3, 4
)
SELECT c_mktsegment, order_year, n_g AS n,
       CAST(500 * dev_sum // (n_g * n_total) AS BIGINT) AS tvd_permille,
       (500 * dev_sum // (n_g * n_total)) <= {_TCLOSE_T_PERMILLE}
           AS released_t
FROM agg
"""

register("tcloseness_priorities", q_tcloseness_priorities, SQL_TCLOSENESS_PRIORITIES)


# ---------------------------------------------------------------------------
# Embedding: Matryoshka truncation quality (recall@k of prefix dims).
# ---------------------------------------------------------------------------

_MRL_QUERIES, _MRL_TOPK = 20, 10
_MRL_DIMS = (16, 32)


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka evaluation (Kusupati et al. 2022, MRL): recall@10 of
    exact L2 search over PREFIX-truncated embeddings (first 16 / first
    32 of 64 dims) against full-dimension exact search — the measurement
    that tells you how much of the ANN serving bill a nested-dimension
    embedding can shed before quality falls off.  Everything exact
    integer micro-units, so even the ranking ties resolve identically on
    both engines.

    Plan: both sides are the broadcast-query-side exact scan (l2_topk),
    restricted to the standard 20-probe set — the truncated scans touch
    the SAME corpus pass shape with shorter arrays, which is precisely
    the cost model MRL exploits at scale."""
    from lakeforge.llm.similarity import l2_topk_prefixes

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < _MRL_QUERIES)
    exact = _aux_l2_truth(spark, sf_dir)
    # r12 opt (guide §2.4): both truncation dims previously ran their own
    # l2_topk (corpus scan + broadcast join each); l2_topk_prefixes
    # computes every prefix d2 over ONE shared pair frame — provably
    # identical because micro-quantization commutes with slice.
    approx_all = l2_topk_prefixes(
        queries, emb, "embedding", "vec_id", dims=_MRL_DIMS, k=_MRL_TOPK
    ).select("trunc_dim", "query_id", F.col("neighbor_id").alias("a_nb"))
    # approx_all is |dims| x |probes| x k rows (400) — broadcast it as the
    # BUILD side.  The preserved (left) side of a left join cannot be
    # broadcast (ADVICE r06 #4: the earlier F.broadcast(exact) hint was
    # silently ignored); hinting the right side is the supported
    # BroadcastHashJoin shape, so the recall join really is shuffle-free.
    hits = (
        exact.join(
            F.broadcast(approx_all),
            (exact.query_id == approx_all.query_id)
            & (F.col("e_nb") == F.col("a_nb")),
            "left",
        )
        .groupBy("trunc_dim", exact.query_id)
        .agg(F.count("a_nb").cast("bigint").alias("n_hits"))
    )
    # LEFT join puts NULL trunc_dim on queries with zero hits at some dim;
    # regenerate the dense (dim x query) grid instead of risking dropouts.
    grid = (
        exact.select("query_id").distinct()
        .crossJoin(
            F.broadcast(
                spark.createDataFrame(
                    [(d,) for d in _MRL_DIMS], "trunc_dim int"
                )
            )
        )
    )
    # hits is at most |dims| x |probes| rows — broadcast (see above).
    out = grid.join(F.broadcast(hits), ["trunc_dim", "query_id"], "left").select(
        "trunc_dim",
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
    )
    return out.select(
        "trunc_dim",
        "query_id",
        "n_hits",
        F.expr(f"(n_hits * 1000) div {_MRL_TOPK}")
        .cast("bigint")
        .alias("recall_permille"),
    )


_AUX_L2_TRUTH: dict[tuple, list] = {}


def _aux_l2_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-dimension exact-L2 ground truth (query_id, e_nb) for the
    20-probe set — the same memoized-evaluation-artifact pattern as
    workload_llm._l2_ground_truth (train/compute once per corpus)."""
    from lakeforge.llm.similarity import l2_topk

    from lakeforge.io.sources import data_version

    key = (spark.sparkContext.applicationId, sf_dir,
           data_version(f"{sf_dir}/embeddings.parquet"),
           _MRL_QUERIES, _MRL_TOPK)
    if key not in _AUX_L2_TRUTH:
        emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        q = emb.filter(F.col("vec_id") < _MRL_QUERIES)
        _AUX_L2_TRUTH[key] = [
            (int(r["query_id"]), int(r["neighbor_id"]))
            for r in l2_topk(q, emb, "embedding", "vec_id", k=_MRL_TOPK)
            .select("query_id", "neighbor_id")
            .collect()
        ]
    return spark.createDataFrame(
        _AUX_L2_TRUTH[key], "query_id bigint, e_nb bigint"
    )


def _sql_matryoshka() -> str:
    per_dim = []
    for d in _MRL_DIMS:
        per_dim.append(f"""
exd{d} AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         SUM((q.x - c.x) * (q.x - c.x)) AS d2
  FROM exl q JOIN exl c USING (pos)
  WHERE q.pos <= {d} AND q.vec_id < {_MRL_QUERIES}
    AND c.vec_id <> q.vec_id
  GROUP BY 1, 2
),
ap{d} AS (
  SELECT {d} AS trunc_dim, query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
               ORDER BY d2 ASC, neighbor_id ASC) AS rn
    FROM exd{d}) WHERE rn <= {_MRL_TOPK}
)""")
    approx_union = " UNION ALL ".join(
        f"SELECT * FROM ap{d}" for d in _MRL_DIMS
    )
    dims_values = ", ".join(f"({d})" for d in _MRL_DIMS)
    return f"""
WITH mb AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding,
      v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS vec
  FROM embeddings
),
exl AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(vec, 1) AS pos, unnest(vec) AS x
  FROM mb
),
exdf AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         SUM((q.x - c.x) * (q.x - c.x)) AS d2
  FROM exl q JOIN exl c USING (pos)
  WHERE q.vec_id < {_MRL_QUERIES} AND c.vec_id <> q.vec_id
  GROUP BY 1, 2
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
               ORDER BY d2 ASC, neighbor_id ASC) AS rn
    FROM exdf) WHERE rn <= {_MRL_TOPK}
),
{",".join(per_dim)},
approx AS ({approx_union}),
dims(trunc_dim) AS (VALUES {dims_values}),
grid AS (
  SELECT d.trunc_dim, e.query_id
  FROM dims d, (SELECT DISTINCT query_id FROM exact) e
),
hits AS (
  SELECT a.trunc_dim, e.query_id,
         CAST(count(a.neighbor_id) AS BIGINT) AS n_hits
  FROM exact e LEFT JOIN approx a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY 1, 2
)
SELECT g.trunc_dim, g.query_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) * 1000 // {_MRL_TOPK} AS BIGINT)
           AS recall_permille
FROM grid g LEFT JOIN hits h
  ON g.trunc_dim = h.trunc_dim AND g.query_id = h.query_id
"""


register("matryoshka_recall", q_matryoshka_recall, _sql_matryoshka())


# ---------------------------------------------------------------------------
# Layout: Z-order vs linear file-skipping audit.
# ---------------------------------------------------------------------------

_ZA_BITS = 10          # 1024 x 1024 key domain (matches zorder_keys)
_ZA_FILES = 64         # value-range "files" per layout
_ZA_PROBES = 16        # yq point probes (secondary-dimension workload)


def q_zorder_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measures WHY Z-ordering exists: lay the orders fact out into 64
    value-range files two ways — linear (range-partitioned by xq, the
    customer hash) and Z-order (range-partitioned by the interleaved
    zval) — record per-file min/max of the SECONDARY dimension yq (order
    date offset), then replay a 16-point yq probe workload against the
    min/max index.  ``files_scanned`` is how many files the engine must
    touch per probe; linear layout keeps ~the full yq range in every
    file (nothing prunes), Z-order bounds both dimensions per file.

    Plan: file ids are row-local bit arithmetic (NO global sort — value-
    range bucketing is exactly what a range-partitioned write produces);
    one map-side-combined min/max aggregate per layout; the probe replay
    is a 16-row broadcast against the 128-row file index (documented
    BNLJ fan-out).  This is the audit you run BEFORE paying for a
    100 TB OPTIMIZE ZORDER rewrite."""
    from lakeforge.ops.layout import zorder_key

    o = table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 1024).alias("xq"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1995-01-01").cast("date"),
            )
            % 1024
        ).cast("bigint").alias("yq"),
    )
    zval = zorder_key(["xq", "yq"], bits=_ZA_BITS)
    keyed = o.select(
        "xq", "yq",
        F.expr(f"xq div {1024 // _ZA_FILES}").cast("int").alias("linear_file"),
        (zval / F.lit(2 ** (2 * _ZA_BITS) // _ZA_FILES))
        .cast("int").alias("zorder_file"),
    )
    idx = None
    for layout in ("linear", "zorder"):
        part = keyed.groupBy(
            F.lit(layout).alias("layout"),
            F.col(f"{layout}_file").alias("file_id"),
        ).agg(
            F.min("yq").alias("min_yq"), F.max("yq").alias("max_yq")
        )
        idx = part if idx is None else idx.unionByName(part)
    probes = spark.createDataFrame(
        [(32 + 64 * i,) for i in range(_ZA_PROBES)], "probe bigint"
    )
    hits = (
        idx.crossJoin(F.broadcast(probes))
        .select(
            "layout",
            "file_id",
            ((F.col("probe") >= F.col("min_yq"))
             & (F.col("probe") <= F.col("max_yq"))).cast("int").alias("hit"),
        )
    )
    return hits.groupBy("layout").agg(
        F.countDistinct("file_id").cast("bigint").alias("n_files"),
        F.sum("hit").cast("bigint").alias("files_scanned_total"),
        F.expr(
            f"1000 * sum(hit) div (count(distinct file_id) * {_ZA_PROBES})"
        ).cast("bigint").alias("scan_permille"),
    )


def _sql_zorder_audit() -> str:
    terms = []
    for b in range(_ZA_BITS):
        terms.append(f"(((xq >> {b}) & 1) << {b * 2})")
        terms.append(f"(((yq >> {b}) & 1) << {b * 2 + 1})")
    zexpr = " + ".join(terms)
    probes = ", ".join(f"({32 + 64 * i})" for i in range(_ZA_PROBES))
    return f"""
WITH o AS (
  SELECT o_custkey % 1024 AS xq,
         CAST(datediff('day', DATE '1995-01-01',
              CAST(o_orderdate AS DATE)) % 1024 AS BIGINT) AS yq
  FROM orders
),
keyed AS (
  SELECT xq, yq,
         CAST(xq // {1024 // _ZA_FILES} AS INT) AS linear_file,
         CAST(({zexpr}) // {2 ** (2 * _ZA_BITS) // _ZA_FILES} AS INT)
             AS zorder_file
  FROM o
),
idx AS (
  SELECT 'linear' AS layout, linear_file AS file_id,
         MIN(yq) AS min_yq, MAX(yq) AS max_yq
  FROM keyed GROUP BY 2
  UNION ALL
  SELECT 'zorder', zorder_file, MIN(yq), MAX(yq)
  FROM keyed GROUP BY 2
),
probes(probe) AS (VALUES {probes}),
hits AS (
  SELECT layout, file_id,
         CAST(probe >= min_yq AND probe <= max_yq AS INT) AS hit
  FROM idx, probes
)
SELECT layout,
       CAST(count(DISTINCT file_id) AS BIGINT) AS n_files,
       CAST(SUM(hit) AS BIGINT) AS files_scanned_total,
       CAST(1000 * SUM(hit) // (count(DISTINCT file_id) * {_ZA_PROBES})
            AS BIGINT) AS scan_permille
FROM hits GROUP BY layout
"""


register("zorder_skipping_audit", q_zorder_skipping_audit, _sql_zorder_audit())


# ---------------------------------------------------------------------------
# Join: nearest-event join (closest view to each purchase, +-30 min).
# ---------------------------------------------------------------------------

_NV_GAP_S = 1800


def q_nearest_view_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event join: for every purchase, the SAME-USER view closest
    in time within +-30 minutes (ties -> earlier view, then lower id) —
    the bidirectional cousin of the backward-only as-of join already in
    the registry, and the standard attach-telemetry-to-transaction
    primitive.

    Plan: both streams bucket into 30-minute epochs; each purchase probes
    its own and both ADJACENT buckets (a |gap| <= 30 min match cannot
    span further), so candidates form in a (user, bucket) equi-join with
    a bounded x3 fan-out — never a full temporal cross join.  One window
    per purchase ranks the survivors.  At 100 TB the bucket width is the
    knob: it trades probe fan-out against per-bucket candidate count."""
    from lakeforge.io.sources import read_events

    ev = read_events(spark, sf_dir)
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
        (F.unix_timestamp("ts") / F.lit(_NV_GAP_S)).cast("bigint").alias("vb"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        (F.unix_timestamp("ts") / F.lit(_NV_GAP_S)).cast("bigint").alias("pb"),
    )
    probes = p.select(
        "purchase_id", "user_id", "purchase_ts",
        F.explode(
            F.array(F.col("pb") - 1, F.col("pb"), F.col("pb") + 1)
        ).alias("vb"),
    )
    gap = F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts")
    cand = (
        probes.join(v, ["user_id", "vb"])
        .select(
            "purchase_id",
            "view_id",
            "view_ts",
            gap.cast("bigint").alias("gap_seconds"),
        )
        .filter(F.abs(F.col("gap_seconds")) <= _NV_GAP_S)
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.abs(F.col("gap_seconds")).asc(),
        F.col("view_ts").asc(),
        F.col("view_id").asc(),
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("purchase_id", "view_id", "gap_seconds")
    )


SQL_NEAREST_VIEW_JOIN = f"""
WITH v AS (SELECT event_id AS view_id, user_id, ts AS view_ts
           FROM events WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'),
cand AS (
  SELECT p.purchase_id, v.view_id, v.view_ts,
         CAST(date_diff('second', v.view_ts, p.purchase_ts) AS BIGINT)
             AS gap_seconds
  FROM p JOIN v USING (user_id)
  WHERE ABS(date_diff('second', v.view_ts, p.purchase_ts)) <= {_NV_GAP_S}
)
SELECT purchase_id, view_id, gap_seconds FROM (
  SELECT purchase_id, view_id, gap_seconds,
         row_number() OVER (PARTITION BY purchase_id
             ORDER BY ABS(gap_seconds) ASC, view_ts ASC, view_id ASC) AS rn
  FROM cand) WHERE rn = 1
"""

register("nearest_view_join", q_nearest_view_join, SQL_NEAREST_VIEW_JOIN)


# ---------------------------------------------------------------------------
# ExactSubstr ACTION: strip repeated spans and fingerprint the cleaned text.
# ---------------------------------------------------------------------------


def q_docs_strip_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACT half of ExactSubstr dedup (detection = docs_repeated_spans):
    remove every token covered by a cross-document repeated span and
    fingerprint the surviving text.  Emitting (tokens_before,
    tokens_removed, cleaned_fp) instead of the cleaned text keeps the
    result compact while still value-checking the RECONSTRUCTION — an
    off-by-one in span coverage or a nondeterministic token order flips
    the fingerprint.

    Plan: span coverage explodes back to token positions (fan-out =
    repeated token mass <= doc length, so total stays O(tokens)); kept
    tokens anti-join coverage on (doc, pos); the rebuild is a sorted
    collect_list per doc — deterministic because the sort key is the
    token position, mirrored by the oracle's string_agg(... ORDER BY
    pos).  Text shuffles ONCE (the rebuild); detection still shuffles
    hashes only."""
    n = _SPAN_N
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.array_remove(F.split(F.lower(F.col("text")), r"\s+"), "").alias("toks"),
    )
    tok_pos = toks.select(
        "doc_id",
        F.posexplode("toks").alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    # r12 opt (guide §2.4): tok_pos feeds the anti-join AND the before
    # count, grams feeds the df aggregate AND the semi join — the full
    # tokenize pipeline ran 4x per query.  Persist both; released at the
    # query boundary.
    from lakeforge.cache import persist_tracked

    tok_pos = persist_tracked(tok_pos)
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(toks) >= {n} THEN "
                f"transform(sequence(1, size(toks) - {n} + 1), "
                f"i -> concat_ws(' ', slice(toks, i, {n}))) "
                f"ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("pos0", "gram"),
    ).select("doc_id", (F.col("pos0") + 1).alias("i"), md5_int("gram").alias("gram_h"))
    grams = persist_tracked(grams)
    rep = (
        grams.groupBy("gram_h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("gram_h")
    )
    hits = grams.join(rep, "gram_h", "left_semi").select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    brk = F.when(F.col("i") - F.lag("i").over(w) <= n, F.lit(0)).otherwise(F.lit(1))
    spans = (
        hits.withColumn("brk", brk)
        .withColumn(
            "span_id",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "span_id")
        .agg(F.min("i").alias("s"), F.max("i").alias("e"))
    )
    covered = spans.select(
        "doc_id",
        F.explode(F.sequence(F.col("s"), F.col("e") + n - 1)).alias("pos"),
    ).distinct()
    kept = tok_pos.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens_after"),
        md5_int(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("cleaned_fp"),
    )
    before = tok_pos.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens_before")
    )
    return (
        before.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens_before",
            (
                F.col("n_tokens_before") - F.coalesce("n_tokens_after", F.lit(0))
            ).cast("bigint").alias("n_tokens_removed"),
            # a fully-stripped doc has no surviving tokens: fingerprint of
            # the empty string on both engines
            F.coalesce(
                F.col("cleaned_fp"), md5_int(F.lit(""))
            ).alias("cleaned_fp"),
        )
    )


SQL_DOCS_STRIP_REPEATED_SPANS = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
tok_pos AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos,
                   unnest(toks) AS tok
            FROM toks),
pos AS (SELECT doc_id,
               unnest(range(1, greatest(len(toks) - {_SPAN_N} + 2, 1))) AS i,
               toks
        FROM toks),
grams AS (SELECT doc_id, i,
                 {duckdb_md5_int_sql([f"array_to_string(toks[i:i+{_SPAN_N - 1}], ' ')"])}
                     AS gram_h
          FROM pos),
rep AS (SELECT gram_h FROM grams GROUP BY gram_h
        HAVING count(DISTINCT doc_id) >= 2),
hits AS (SELECT g.doc_id, g.i FROM grams g
         WHERE g.gram_h IN (SELECT gram_h FROM rep)),
brk AS (SELECT doc_id, i,
               CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                         <= {_SPAN_N} THEN 0 ELSE 1 END AS brk
        FROM hits),
isl AS (SELECT doc_id, i,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS span_id
        FROM brk),
spans AS (SELECT doc_id, span_id, MIN(i) AS s, MAX(i) AS e
          FROM isl GROUP BY doc_id, span_id),
covered AS (SELECT DISTINCT doc_id,
                   unnest(range(s, e + {_SPAN_N})) AS pos
            FROM spans),
kept AS (SELECT t.doc_id, t.pos, t.tok
         FROM tok_pos t LEFT JOIN covered c
           ON t.doc_id = c.doc_id AND t.pos = c.pos
         WHERE c.pos IS NULL),
rebuilt AS (SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens_after,
                   {duckdb_md5_int_sql(["string_agg(tok, ' ' ORDER BY pos)"])}
                       AS cleaned_fp
            FROM kept GROUP BY doc_id),
before AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_before
           FROM tok_pos GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens_before,
       CAST(b.n_tokens_before - COALESCE(r.n_tokens_after, 0) AS BIGINT)
           AS n_tokens_removed,
       COALESCE(r.cleaned_fp, {duckdb_md5_int_sql(["''"])}) AS cleaned_fp
FROM before b LEFT JOIN rebuilt r USING (doc_id)
"""

register(
    "docs_strip_repeated_spans",
    q_docs_strip_repeated_spans,
    SQL_DOCS_STRIP_REPEATED_SPANS,
)


# ---------------------------------------------------------------------------
# Bitmap index: packed-word set intersections (roaring-style membership).
# ---------------------------------------------------------------------------


def q_active_years_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year active-customer overlap via a PACKED BITMAP index:
    each (year, word) row packs 63 customers into one BIGINT (bit c%63 of
    word c//63 — 63, not 64, keeps the sign bit clear so checked engines
    like DuckDB never see a signed overflow), intersections are bitwise
    AND + popcount — the bitmap-
    index representation OLAP engines (Druid, Pinot, ClickHouse) use for
    high-cardinality membership, here exact and oracle-checkable because
    DuckDB has the same bit_or/bit_count semantics on BIGINT.

    Against the equivalent self-join (active_both_years in the
    registry): the bitmap form compresses |active| rows to |active|/64
    words ONCE, then every pairwise overlap is a word-aligned merge —
    the reason bitmap indexes win when MANY set operations reuse one
    index.  Plan: one distinct + one bit_or aggregate (map-side
    combined) to |years| x |custkeys|/63 rows; the pair join is
    word-index equi, output one row per year pair."""
    o = table(spark, sf_dir, "orders")
    active = o.select(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.col("o_custkey").alias("c"),
    ).distinct()
    words = active.groupBy(
        "yr", F.expr("c div 63").cast("bigint").alias("word_idx")
    ).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(c % 63 AS INT)))")
        .alias("w"),
        F.count(F.lit(1)).cast("bigint").alias("n_set"),
    )
    a = words.select(
        F.col("yr").alias("year_a"), "word_idx",
        F.col("w").alias("wa"), F.col("n_set").alias("na"),
    )
    b = words.select(
        F.col("yr").alias("year_b"), "word_idx",
        F.col("w").alias("wb"), F.col("n_set").alias("nb"),
    )
    pairs = a.join(b, "word_idx").filter(F.col("year_a") < F.col("year_b"))
    return pairs.groupBy("year_a", "year_b").agg(
        F.sum(F.expr("bit_count(wa & wb)")).cast("bigint").alias("n_both"),
        F.sum("na").cast("bigint").alias("n_a_words"),
        F.sum("nb").cast("bigint").alias("n_b_words"),
    )


SQL_ACTIVE_YEARS_BITMAP = """
WITH active AS (
    SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS yr, o_custkey AS c
    FROM orders
),
words AS (
    SELECT yr, CAST(c // 63 AS BIGINT) AS word_idx,
           bit_or(CAST(1 AS BIGINT) << CAST(c % 63 AS INT)) AS w,
           CAST(count(*) AS BIGINT) AS n_set
    FROM active GROUP BY 1, 2
)
SELECT a.yr AS year_a, b.yr AS year_b,
       CAST(SUM(bit_count(a.w & b.w)) AS BIGINT) AS n_both,
       CAST(SUM(a.n_set) AS BIGINT) AS n_a_words,
       CAST(SUM(b.n_set) AS BIGINT) AS n_b_words
FROM words a JOIN words b USING (word_idx)
WHERE a.yr < b.yr
GROUP BY 1, 2
"""

register("active_years_bitmap", q_active_years_bitmap, SQL_ACTIVE_YEARS_BITMAP)


# ---------------------------------------------------------------------------
# Exact weighted median per group — two-level blocked sweep, no global
# single-partition window (the spend_gini / orderkey_gaps seam pattern).
# ---------------------------------------------------------------------------


def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median of extended price per return flag: the
    smallest price whose cumulative quantity reaches half the group's
    total (lower weighted median; the upper twin is emitted too, so the
    even/odd boundary case is visible).  Weighted medians are the robust
    location estimate when rows carry multiplicity — unit-priced line
    items here, token counts or sample weights in a training pipeline.

    Needs each price's GLOBAL cumulative weight in price order WITHIN
    its group.  Rebuilt per VERDICT r07 #2 (the row-level blocked sweep
    measured alpha=1.11 at the 10x->100x probe leg — the per-flag value
    frame re-shuffled every row): the fact now collapses FIRST to a
    (flag, price) histogram — one map-side-combined hash aggregate,
    linear in rows, shuffling only distinct cells (bounded by the price
    DOMAIN, not the row count) — and the two-level cumulative sweep
    (local window within price-range block + tiny per-flag block-offset
    prefix) runs over that bounded histogram.  Equivalence to the
    oracle's row-level cumulative window: the histogram's cumulative
    through price p equals the MAX row-level cumulative among rows at
    p, and ``min(price where cw*2 >= total)`` is invariant under
    replacing the rows of a price by their max — so lo/hi medians are
    bit-identical.  All integer cents and quantities."""
    from lakeforge.cache import persist_tracked

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    hist = persist_tracked(
        li.groupBy("l_returnflag", "price_c")
        .agg(
            F.sum("qty").alias("w"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .withColumn("bk", F.expr("price_c div 1000000"))
    )
    w_in = Window.partitionBy("l_returnflag", "bk").orderBy(
        "price_c"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = hist.withColumn("cw_local", F.sum("w").over(w_in))
    blk = hist.groupBy("l_returnflag", "bk").agg(F.sum("w").alias("bw"))
    w_blk = (
        Window.partitionBy("l_returnflag").orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = blk.withColumn(
        "off", F.coalesce(F.sum("bw").over(w_blk), F.lit(0))
    ).select("l_returnflag", "bk", "off")
    ranked = local.join(F.broadcast(offs), ["l_returnflag", "bk"]).withColumn(
        "cw", F.col("off") + F.col("cw_local")
    )
    totals = hist.groupBy("l_returnflag").agg(
        F.sum("w").cast("bigint").alias("w_total"),
        F.sum("cnt").cast("bigint").alias("n_items"),
    )
    j = ranked.join(F.broadcast(totals), "l_returnflag")
    return j.groupBy("l_returnflag", "w_total", "n_items").agg(
        F.min(
            F.when(F.col("cw") * 2 >= F.col("w_total"), F.col("price_c"))
        ).cast("bigint").alias("wmedian_lo_cents"),
        F.min(
            F.when(F.col("cw") * 2 > F.col("w_total"), F.col("price_c"))
        ).cast("bigint").alias("wmedian_hi_cents"),
    ).select(
        "l_returnflag", "n_items", "w_total",
        "wmedian_lo_cents", "wmedian_hi_cents",
    )


SQL_WEIGHTED_MEDIAN_PRICE = """
WITH li AS (
  SELECT l_returnflag,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(l_quantity AS BIGINT) AS qty,
         l_orderkey, l_linenumber
  FROM lineitem
),
ranked AS (
  SELECT l_returnflag, price_c, qty,
         SUM(qty) OVER (PARTITION BY l_returnflag
             ORDER BY price_c, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM li
),
totals AS (
  SELECT l_returnflag, CAST(SUM(qty) AS BIGINT) AS w_total,
         CAST(count(*) AS BIGINT) AS n_items
  FROM li GROUP BY l_returnflag
)
SELECT r.l_returnflag, t.n_items, t.w_total,
       CAST(MIN(CASE WHEN r.cw * 2 >= t.w_total THEN r.price_c END)
            AS BIGINT) AS wmedian_lo_cents,
       CAST(MIN(CASE WHEN r.cw * 2 > t.w_total THEN r.price_c END)
            AS BIGINT) AS wmedian_hi_cents
FROM ranked r JOIN totals t USING (l_returnflag)
GROUP BY r.l_returnflag, t.n_items, t.w_total
"""

register("weighted_median_price", q_weighted_median_price, SQL_WEIGHTED_MEDIAN_PRICE)


# ---------------------------------------------------------------------------
# Capped running balance — sequential per-key recurrence that built-in
# window functions CANNOT express (the clamp makes each step depend on the
# clamped previous step).  Arrow-batched grouped-map is the documented
# escape hatch (SCALE.md "Python boundary policy"); the DuckDB oracle
# states the SAME recurrence as a recursive CTE, so two maximally
# different formulations check each other.
# ---------------------------------------------------------------------------


def q_capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running balance floored at zero: orders arrive in
    (date, key) order; every 3rd order key is a debit, others credit;
    balance_i = max(0, balance_{i-1} + delta_i).  The floor is the
    non-linearity — prefix sums, windows, and segment tricks cannot
    produce it, because the clamp at step i rewrites the state every
    later step depends on (inventory floors, prepaid-credit burn-down,
    budget caps are all this recurrence).

    Plan (VERDICT r06 #5): ONE shuffle — ``repartition(o_custkey)`` +
    ``sortWithinPartitions(o_custkey, od, o_orderkey)`` — into
    ``mapInPandas``, which folds MANY contiguous key segments per Arrow
    batch (the previous ``applyInPandas`` built one 1-row pandas frame
    per customer: 150k tiny frames dominated the 13.4s wall time).  The
    clamp recurrence has a closed form over the segment's prefix sums
    (with T_j = bal0 + cumsum: bal_n = T_n - min(0, min T_j); a clamp
    fires exactly when T_i drops below the running min(0, T_<i)), so
    each segment is four numpy array ops — no per-row Python.  Segments
    straddling Arrow-batch boundaries carry (key, bal, clamps, n) state
    across batches, the same fold a stateful streaming replay
    (applyInPandasWithState) would keep.
    Output per customer: final balance, clamp count, order count."""
    import numpy as np
    import pandas as pd

    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("od"),
        (
            F.round(F.col("o_totalprice") * 100).cast("bigint")
            * F.when(F.col("o_orderkey") % 3 == 0, F.lit(-1)).otherwise(F.lit(1))
        ).alias("delta_c"),
    ).repartition("o_custkey").sortWithinPartitions(
        "o_custkey", "od", "o_orderkey"
    )

    def fold(batches):
        cur = None  # carried key
        bal = clamps = n = 0
        out_k: list = []
        out_b: list = []
        out_c: list = []
        out_n: list = []
        for pdf in batches:
            keys = pdf["o_custkey"].to_numpy()
            deltas = pdf["delta_c"].to_numpy(dtype=np.int64)
            if len(keys) == 0:
                continue
            starts = np.flatnonzero(
                np.concatenate(([True], keys[1:] != keys[:-1]))
            )
            ends = np.append(starts[1:], len(keys))
            for s, e in zip(starts, ends):
                k = keys[s]
                if cur is not None and k != cur:
                    out_k.append(cur)
                    out_b.append(bal)
                    out_c.append(clamps)
                    out_n.append(n)
                    bal = clamps = n = 0
                elif cur is None:
                    bal = clamps = n = 0
                cur = k
                t = np.concatenate(
                    ([bal], bal + np.cumsum(deltas[s:e]))
                )
                m = np.minimum.accumulate(np.minimum(t, 0))
                clamps += int(np.sum(t[1:] < m[:-1]))
                bal = int(t[-1] - m[-1])
                n += int(e - s)
            if out_k:
                yield pd.DataFrame(
                    {
                        "o_custkey": out_k,
                        "final_balance_cents": out_b,
                        "n_clamps": out_c,
                        "n_orders": out_n,
                    }
                )
                out_k, out_b, out_c, out_n = [], [], [], []
        if cur is not None:
            yield pd.DataFrame(
                {
                    "o_custkey": [cur],
                    "final_balance_cents": [bal],
                    "n_clamps": [clamps],
                    "n_orders": [n],
                }
            )

    return o.mapInPandas(
        fold,
        schema="o_custkey bigint, final_balance_cents bigint,"
        " n_clamps bigint, n_orders bigint",
    )


SQL_CAPPED_RUNNING_BALANCE = """
WITH RECURSIVE seq AS (
  SELECT o_custkey,
         row_number() OVER (PARTITION BY o_custkey
             ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS i,
         CAST(ROUND(o_totalprice * 100) AS BIGINT)
             * (CASE WHEN o_orderkey % 3 = 0 THEN -1 ELSE 1 END) AS delta_c
  FROM orders
),
n_per AS (SELECT o_custkey, MAX(i) AS n FROM seq GROUP BY o_custkey),
walk(o_custkey, i, bal, clamps) AS (
  SELECT o_custkey, 1,
         GREATEST(0, delta_c),
         CASE WHEN delta_c < 0 THEN 1 ELSE 0 END
  FROM seq WHERE i = 1
  UNION ALL
  SELECT w.o_custkey, w.i + 1,
         GREATEST(0, w.bal + s.delta_c),
         w.clamps + CASE WHEN w.bal + s.delta_c < 0 THEN 1 ELSE 0 END
  FROM walk w JOIN seq s ON s.o_custkey = w.o_custkey AND s.i = w.i + 1
)
SELECT w.o_custkey,
       CAST(w.bal AS BIGINT) AS final_balance_cents,
       CAST(w.clamps AS BIGINT) AS n_clamps,
       CAST(n.n AS BIGINT) AS n_orders
FROM walk w JOIN n_per n ON n.o_custkey = w.o_custkey AND w.i = n.n
"""

register("capped_running_balance", q_capped_running_balance, SQL_CAPPED_RUNNING_BALANCE)


# ---------------------------------------------------------------------------
# Sliding-window DISTINCT — the classic non-distributive aggregate, done
# exactly with a bounded day-bucket fan-out.
# ---------------------------------------------------------------------------


def q_rolling_7day_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users over a trailing 7-day window, per day.
    DISTINCT does not decompose over window panes (yesterday's count
    can't be combined with today's — overlap is unknown), which is why
    engines either re-scan per window or keep mergeable sketches.

    r9 rebuild (the probe file's slowest cell, 44.5s at 100x): the old
    shape fanned every DISTINCT (day, user) pair to its <= 7 window
    ends and then re-deduplicated the fan by (window, user) with a
    second COUNT(DISTINCT) shuffle.  The dedup is unnecessary: with
    prev = lag(day) per user, day d is the FIRST active day inside
    window e exactly when e in [max(d, prev+7), d+6] (prev < d always,
    so the range is never empty and never longer than 7) — each (day,
    user) row emits only the windows it is first-in, every (window,
    user) pair is emitted EXACTLY once by construction, and a plain
    map-side-combinable count(*) per window end replaces the fan-wide
    distinct.  Fan volume drops from pairs x 7 to pairs x (mean gap
    run-length), ~1-2 for active users.

    Scale: one dedup shuffle to (day, user), one keyed lag window per
    user (calendar-bounded partitions), one partial-agg count.  At
    100 TB the same query keeps per-day KMV/HLL sketches instead (see
    kmv_distinct_segments / hll_union_regions) and unions 7 sketches
    per day — this exact form is the oracle those sketches calibrate
    against.  The DuckDB oracle keeps the NAIVE fan + COUNT(DISTINCT)
    formulation — maximally different derivation, same multiset.
    Output also carries the single-day distinct so the window's lift is
    visible."""
    from lakeforge.cache import persist_tracked
    from lakeforge.io.sources import read_events

    ev = read_events(spark, sf_dir)
    day_user = persist_tracked(
        ev.select(F.col("ts").cast("date").alias("d"), "user_id").distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    marked = day_user.withColumn("prev", F.lag("d").over(w))
    lo = F.when(
        F.col("prev").isNull(), F.col("d")
    ).otherwise(F.greatest(F.col("d"), F.date_add(F.col("prev"), 7)))
    fan = marked.select(
        F.explode(F.sequence(lo, F.date_add(F.col("d"), 6))).alias("win_end")
    )
    win = fan.groupBy("win_end").agg(
        F.count(F.lit(1)).cast("bigint").alias("users_7d")
    )
    # day_user is DISTINCT by construction, so the per-day distinct-user
    # count is a plain count — no second dedup exchange.  The INNER join
    # below also restricts output to REAL event days (a ghost window-end
    # after the last event has no users_1d row), so no separate day-spine
    # join is needed.
    single = day_user.groupBy(F.col("d").alias("win_end")).agg(
        F.count(F.lit(1)).cast("bigint").alias("users_1d")
    )
    return win.join(single, "win_end").select(
        "win_end", "users_1d", "users_7d"
    )


SQL_ROLLING_7DAY_DISTINCT_USERS = """
WITH day_user AS (
    SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
),
days AS (SELECT DISTINCT d AS win_end FROM day_user),
fan AS (
    SELECT du.user_id,
           CAST(unnest(generate_series(du.d, du.d + 6, INTERVAL 1 DAY))
                AS DATE) AS win_end
    FROM day_user du
),
win AS (
    SELECT f.win_end, CAST(count(DISTINCT f.user_id) AS BIGINT) AS users_7d
    FROM fan f JOIN days USING (win_end)
    GROUP BY f.win_end
),
single AS (
    SELECT d AS win_end, CAST(count(DISTINCT user_id) AS BIGINT) AS users_1d
    FROM day_user GROUP BY d
)
SELECT w.win_end, s.users_1d, w.users_7d
FROM win w JOIN single s USING (win_end)
"""

register(
    "rolling_7day_distinct_users",
    q_rolling_7day_distinct_users,
    SQL_ROLLING_7DAY_DISTINCT_USERS,
)
