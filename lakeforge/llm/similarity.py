"""Embedding similarity search: brute-force cosine top-k (baseline) and
random-hyperplane LSH bucketing (the scale path).

Fixed-point determinism: float32 embeddings are scaled to nano-unit int64
("nano embedding": round(v * 1e9)).  Dot products and norms are then EXACT
integer sums — independent of summation order, identical across Spark,
numpy, and DuckDB — and only the final divide/sqrt touch IEEE doubles
(correctly-rounded ops on identical inputs => identical bits).  This is
what lets an approximate-NN operator be oracle-checked value-for-value.

Scale notes:
- ``cosine_topk`` is the O(Q*N) baseline: broadcast the (small) query set,
  scan the corpus once, per-partition top-k via window.  Right answer for
  Q small; for Q ~ N use ``rp_lsh_buckets`` to bucket both sides and join
  on bucket (candidate generation), then re-rank with the exact kernel.
- ``rp_lsh_buckets`` runs as an Arrow-batched pandas UDF (one matmul per
  batch) — the vectorized Python path, ~100x a row-at-a-time UDF.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from lakeforge import cache

NANO = 1_000_000_000


def nano_embedding(col: Column | str) -> Column:
    """array<float> -> array<bigint> nano-units (exact, portable).

    DuckDB twin: ``list_transform(e, v -> CAST(round(CAST(v AS DOUBLE) *
    1000000000) AS BIGINT))``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c, lambda v: F.round(v.cast("double") * F.lit(NANO).cast("double")).cast("bigint")
    )


def _dot(a: Column | str, b: Column | str) -> Column:
    # Each nano-unit product is <= ~1.1e18 (fits int64 for |v| <= ~3), but
    # the SUM over d dims reaches d * 1e18 — 6.4e19 at dim 64 for
    # unit-range vectors, past int64 (found by the r10 probe: docgen's
    # [-1,1] vectors threw ARITHMETIC_OVERFLOW under ANSI; the testdata's
    # small-magnitude vectors had masked it).  Accumulate in DECIMAL(38,0)
    # — exact to 1e38, so safe to ~1e20 dims — and every caller casts the
    # result straight to DOUBLE, so attested values are bit-identical.
    # DuckDB twins accumulate list_sum in int128 already; their internal
    # dot/n2 casts are HUGEINT to match.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, v: acc + v,
    )


def _norm2(a: Column | str) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, v: acc + v,
    )


MAX_BROADCAST_QUERIES = 100_000  # ~100k x 64-dim int64 ≈ 50 MB serialized


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    max_queries: int = MAX_BROADCAST_QUERIES,
) -> DataFrame:
    """Exact cosine top-k of each query vector against the corpus.

    Returns (query_id, neighbor_id, rank, sim) — sim rounded to 6dp; rank
    ordered by (sim desc, neighbor_id) so ties break deterministically.

    The query side is BROADCAST — correct only while it is small.  A
    corpus-sized ``queries`` frame would OOM every executor, so the size
    is asserted up front (round-2 review #6): callers over the limit get
    an actionable error instead of a mid-job executor death.  For large
    query sets use ``ivf_topk`` (probe join, no broadcast of all queries)
    or ``embedding_neardup_pairs`` (bucketed all-pairs).

    The guard count persists ``queries`` first (query-boundary release via
    lakeforge.cache), so the frame's plan executes ONCE: the count
    materializes the cache and the broadcast build reads it back — no
    second scan of the query side (round-3 review #3).
    """
    queries = cache.persist_tracked(queries)
    n_q = queries.count()
    if n_q > max_queries:
        raise ValueError(
            f"cosine_topk broadcasts the query side: got {n_q} queries > "
            f"max_queries={max_queries}. Use ivf_topk / "
            f"embedding_neardup_pairs for corpus-sized query sets, or "
            f"raise max_queries explicitly if executors have the memory."
        )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        nano_embedding(vec_col).alias("q_vec"),
    ).withColumn("q_n2", _norm2("q_vec"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        nano_embedding(vec_col).alias("c_vec"),
    ).withColumn("c_n2", _norm2("c_vec"))

    # Broadcast the small query side; the corpus streams through once.
    joined = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    sim = F.round(
        _dot("q_vec", "c_vec").cast("double")
        / F.sqrt(F.col("q_n2").cast("double") * F.col("c_n2").cast("double")),
        6,
    )
    scored = joined.select("query_id", "neighbor_id", sim.alias("sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


MICRO = 1_000_000


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """Approximate cosine top-k over INT8 scalar-quantized vectors — the
    memory-side ANN lever (4x smaller vectors than float32, 8x smaller
    than the int64 nano form): per-dimension [min, max] over the corpus,
    ``code = ((v - dmin) * 255) // range`` (one byte per dimension), and
    similarity computed on the dequantized reconstruction
    ``vt = dmin*255 + code*range`` (scaled by 255 to stay integer).

    All quantization math is integer on micro-unit vectors (|v| < 9, so
    |vt| < 2.3e9*255... bounded by 255*|micro| ≤ 5.8e8 for unit-norm
    embeddings; 64-dim dot stays under int64) — bit-reproducible across
    engines, so even the approximate index is value-oracle-checkable.

    Scale: the per-dimension stats are ONE map-side-combinable aggregate
    (64 output rows, collected and inlined as literal arrays — same
    bounded-driver pattern as IVF centroids); codes are computed in a
    single JVM-side transform; the query side broadcasts under the same
    guard as cosine_topk.  At 100 TB the codes (8 bytes/dim -> 1) are
    what you'd persist next to the corpus.
    """
    micro = F.transform(
        F.col(vec_col),
        lambda v: F.round(v.cast("double") * F.lit(MICRO).cast("double")).cast("bigint"),
    )

    stats = (
        corpus.select(F.posexplode(micro).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("dmin"), F.max("v").alias("dmax"))
        .collect()  # bounded: one row per dimension
    )
    srows = sorted(stats, key=lambda r: r["pos"])
    dmin_arr = F.array(*[F.lit(int(r["dmin"])) for r in srows])
    rng_arr = F.array(
        *[F.lit(max(int(r["dmax"]) - int(r["dmin"]), 1)) for r in srows]
    )

    def reconstruct(df: DataFrame, out_id: str) -> DataFrame:
        vt = F.transform(
            micro,
            lambda x, i: (
                F.element_at(dmin_arr, i + 1) * 255
                + F.floor(
                    (x - F.element_at(dmin_arr, i + 1)) * 255
                    / F.element_at(rng_arr, i + 1)
                ).cast("bigint")
                * F.element_at(rng_arr, i + 1)
            ),
        )
        return df.select(
            F.col(id_col).alias(out_id), vt.alias(f"{out_id}_vt")
        ).withColumn(f"{out_id}_n2", _norm2(f"{out_id}_vt"))

    q = reconstruct(queries, "query_id")
    q = cache.persist_tracked(q)
    n_q = q.count()
    if n_q > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"sq8_topk broadcasts the query side: got {n_q} queries > "
            f"MAX_BROADCAST_QUERIES={MAX_BROADCAST_QUERIES}."
        )
    c = reconstruct(corpus, "neighbor_id")
    joined = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    sim = F.round(
        _dot("query_id_vt", "neighbor_id_vt").cast("double")
        / F.sqrt(
            F.col("query_id_n2").cast("double")
            * F.col("neighbor_id_n2").cast("double")
        ),
        6,
    )
    scored = joined.select("query_id", "neighbor_id", sim.alias("sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def lsh_planes(n_planes: int, dim: int) -> np.ndarray:
    """±1 hyperplane matrix derived from md5 — identical in the DuckDB
    oracle (same md5, same layout)."""
    w = np.empty((n_planes, dim), dtype=np.int64)
    for p in range(n_planes):
        for d in range(dim):
            h = int(hashlib.md5(f"h|{p}|{d}".encode()).hexdigest()[:8], 16)
            w[p, d] = (h % 2) * 2 - 1
    return w


def rp_lsh_buckets(
    df: DataFrame, vec_col: str, id_col: str, n_planes: int = 16, dim: int = 64
) -> DataFrame:
    """Random-hyperplane LSH: sign-pattern bucket id per vector.

    Arrow-batched pandas UDF: each batch is one int64 matmul
    (batch x dim) @ (dim x planes) — exact integer math, no float drift.
    """
    w_t = lsh_planes(n_planes, dim).T  # (dim, planes)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf(LongType())
    def bucket_of(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64) * NANO
        # HALF_UP like SQL round(), not numpy's banker's rounding.
        nano = (np.sign(mat) * np.floor(np.abs(mat) + 0.5)).astype(np.int64)
        dots = nano @ w_t  # exact: |dot| <= 64 * 3e8 << 2^63
        return pd.Series(((dots >= 0) * weights).sum(axis=1))

    return df.select(
        F.col(id_col).alias("vec_id"), bucket_of(F.col(vec_col)).alias("bucket")
    )


def _nano_with_norm(df: DataFrame, vec_col: str, id_col: str, id_out: str,
                    vec_out: str, n2_out: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(id_out), nano_embedding(vec_col).alias(vec_out)
    ).withColumn(n2_out, _norm2(vec_out))


def ivf_topk(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 16,
    nprobe: int = 4,
    n_queries: int = 20,
    k: int = 10,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    ``n_cells`` cells around centroid vectors, then search each query only
    in its ``nprobe`` most-similar cells.

    Centroid choice is deterministic (the vectors with id < n_cells) so the
    whole operator is exactly reproducible — the oracle replays the same
    index, making an *approximate* ANN structure value-checkable.  A
    production variant would swap in k-means centroids; everything
    downstream (assign/probe/re-rank) is unchanged.

    Scale path vs cosine_topk's O(Q*N): centroids broadcast (tiny), cell
    assignment is one corpus scan, and the probe join shuffles by cell_id
    only — the exact kernel runs on ~(nprobe/n_cells) of the corpus per
    query.  Hot cells (skewed clusters) are the known hazard; raise
    n_cells or salt the probe join if one cell dominates.
    """
    scored = _ivf_scored(corpus, vec_col, id_col, n_cells, nprobe, n_queries)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _ivf_scored(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int,
    max_np: int,
    n_queries: int,
) -> DataFrame:
    """Shared IVF assign/probe/score kernel (ADVICE r12: ``ivf_topk`` and
    ``ivf_topk_curve`` carried verbatim copies that could silently drift).
    Returns the scored candidate frame (query_id, neighbor_id, sim,
    probe_rank) for probes up to cell rank ``max_np``; callers window it
    to top-k (and, for the curve, filter probe_rank per point)."""
    e = _nano_with_norm(corpus, vec_col, id_col, "vec_id", "vec", "n2")
    cents = e.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"),
        F.col("vec").alias("c_vec"),
        F.col("n2").alias("c_n2"),
    )
    csim = F.round(
        _dot("vec", "c_vec").cast("double")
        / F.sqrt(F.col("n2").cast("double") * F.col("c_n2").cast("double")),
        6,
    )
    scored_cells = e.crossJoin(F.broadcast(cents)).select(
        "vec_id", "vec", "n2", "cell_id", csim.alias("csim")
    )
    by_sim = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("cell_id").asc()
    )
    ranked_cells = scored_cells.withColumn("crank", F.row_number().over(by_sim))
    assign = ranked_cells.filter(F.col("crank") == 1).select(
        "vec_id", "vec", "n2", "cell_id"
    )
    probe = ranked_cells.filter(
        (F.col("vec_id") < n_queries) & (F.col("crank") <= max_np)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("q_vec"),
        F.col("n2").alias("q_n2"),
        "cell_id",
        F.col("crank").alias("probe_rank"),
    )
    # Broadcast the probe side (queries x nprobe rows — tiny): joining BY
    # cell_id would shuffle the whole corpus onto <= n_cells reducers (low
    # cardinality => capped parallelism + skew).  Broadcasting keeps the
    # corpus scan shuffle-free end-to-end.
    cand = assign.join(F.broadcast(probe), "cell_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    sim = F.round(
        _dot("q_vec", "vec").cast("double")
        / F.sqrt(F.col("q_n2").cast("double") * F.col("n2").cast("double")),
        6,
    )
    return cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        sim.alias("sim"),
        "probe_rank",
    )


def ivf_topk_curve(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    nprobes: tuple,
    n_cells: int = 16,
    n_queries: int = 20,
    k: int = 10,
) -> DataFrame:
    """``ivf_topk`` evaluated at SEVERAL nprobe settings from ONE shared
    candidate pass (r12 opt, guide §2.4): the nprobe-p candidate set is
    exactly the max-nprobe candidate set restricted to probe_rank <= p
    (each corpus vector lives in one cell; probe_rank is that cell's rank
    in the query's deterministic cell ordering), and the cosine score of
    a candidate does not depend on nprobe — so assignment, probing and
    scoring run once and each curve point is a filter + top-k window.
    Emits (nprobe, query_id, neighbor_id); per-point equality with
    ``ivf_topk(nprobe=p)`` is asserted by tests/test_llm.py.
    """
    from lakeforge.cache import persist_tracked

    if not nprobes or len(set(nprobes)) != len(nprobes):
        raise ValueError(
            "ivf_topk_curve: nprobes must be non-empty and duplicate-free, "
            f"got {nprobes!r}"
        )
    scored = persist_tracked(
        _ivf_scored(corpus, vec_col, id_col, n_cells, max(nprobes), n_queries)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    out = None
    for np_ in nprobes:
        topk = (
            scored.filter(F.col("probe_rank") <= np_)
            .withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k)
            .select(
                F.lit(np_).cast("int").alias("nprobe"),
                "query_id",
                "neighbor_id",
            )
        )
        out = topk if out is None else out.unionByName(topk)
    return out


def embedding_neardup_pairs(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    n_planes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: RP-LSH bucket join for
    candidate generation, exact cosine re-rank, keep pairs >= threshold.

    The bucket join prunes the O(N^2) pair space to same-bucket pairs
    (recall is bounded by the LSH: near-identical vectors agree on all
    sign bits with high probability).  Output (a, b, sim), a < b.
    """
    from lakeforge.cache import persist_tracked

    buckets = rp_lsh_buckets(corpus, vec_col, id_col, n_planes, dim)
    e = _nano_with_norm(corpus, vec_col, id_col, "vec_id", "vec", "n2")
    # Persist: both sides of the bucket self-join reference this plan —
    # without it the RP-LSH pandas-UDF projection runs twice.  Tracked for
    # query-boundary release (lakeforge/cache.py).
    v = persist_tracked(e.join(buckets, "vec_id"))
    a = v.select(
        F.col("vec_id").alias("a"), F.col("vec").alias("a_vec"),
        F.col("n2").alias("a_n2"), "bucket",
    )
    b = v.select(
        F.col("vec_id").alias("b"), F.col("vec").alias("b_vec"),
        F.col("n2").alias("b_n2"), "bucket",
    )
    pairs = a.join(b, "bucket").filter(F.col("a") < F.col("b"))
    sim = F.round(
        _dot("a_vec", "b_vec").cast("double")
        / F.sqrt(F.col("a_n2").cast("double") * F.col("b_n2").cast("double")),
        6,
    )
    # Each vector lands in exactly one bucket, so a pair can only arise
    # once — no dedup shuffle needed (multi-band variants would need one).
    return pairs.select("a", "b", sim.alias("sim")).filter(
        F.col("sim") >= threshold
    )


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining: per query, the top-k most-similar corpus
    vectors with a DIFFERENT label — contrastive-training pair generation.

    Same physical shape as ``cosine_topk`` (broadcast query side, one
    corpus scan), but the label-mismatch predicate rides the join
    condition, so same-label pairs are dropped BEFORE scoring and the
    window ranks strictly fewer rows.  Exact integer kernel as
    everywhere in this module — value-oracle-checkable.

    As in ``cosine_topk``, the guard count persists ``queries`` so its
    plan executes once: the count materializes the cache and the
    broadcast build reads it back."""
    queries = cache.persist_tracked(queries)
    n_q = queries.count()
    if n_q > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"hard_negative_topk broadcasts the query side: got {n_q} "
            f"queries > MAX_BROADCAST_QUERIES={MAX_BROADCAST_QUERIES}."
        )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("q_label"),
        nano_embedding(vec_col).alias("q_vec"),
    ).withColumn("q_n2", _norm2("q_vec"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("c_label"),
        nano_embedding(vec_col).alias("c_vec"),
    ).withColumn("c_n2", _norm2("c_vec"))
    joined = c.join(F.broadcast(q), F.col("q_label") != F.col("c_label"))
    sim = F.round(
        _dot("q_vec", "c_vec").cast("double")
        / F.sqrt(F.col("q_n2").cast("double") * F.col("c_n2").cast("double")),
        6,
    )
    scored = joined.select("query_id", "neighbor_id", sim.alias("sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def l2_topk(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact squared-L2 top-k on micro-int vectors (the ground truth for
    the PQ evaluation; all-integer, rank deterministic).  Same
    broadcast-query-side contract and guard as cosine_topk."""
    from lakeforge.llm.clustering import _d2, micro_embedding

    q = queries.select(
        F.col(id_col).alias("query_id"),
        micro_embedding(vec_col).alias("qvec"),
    )
    q = cache.persist_tracked(q)
    if q.count() > MAX_BROADCAST_QUERIES:
        raise ValueError(f"l2_topk broadcasts queries; > {MAX_BROADCAST_QUERIES}")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        micro_embedding(vec_col).alias("cvec"),
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id", "neighbor_id", _d2("qvec", "cvec").alias("d2")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def l2_topk_prefixes(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    dims: tuple,
    k: int = 10,
) -> DataFrame:
    """``l2_topk`` over PREFIX-truncated vectors at SEVERAL truncation
    dims from ONE broadcast join (r12 opt, guide §2.4): micro-unit
    quantization is elementwise, so ``slice(micro(v), 1, d) ==
    micro(slice(v, 1, d))`` and each dim's exact integer d2 is an
    independent column over the same Q x N pair frame — one corpus scan
    and one join instead of one per dim.  Emits (trunc_dim, query_id,
    neighbor_id, rank); per-dim equality with ``l2_topk`` on pre-sliced
    input is asserted by tests/test_llm.py.

    MEMORY CONTRACT (ADVICE r12): unlike ``l2_topk``, which streams the
    scored pairs straight into the window, this variant PERSISTS the full
    Q x N pair frame so every dim reuses one join — so it is for SMALL
    query sets (the callers pass ~20).  At the broadcast guard limit
    (``MAX_BROADCAST_QUERIES``) the persisted frame would be 100k x
    |corpus| rows; use per-dim ``l2_topk`` if the query set grows beyond
    what storage memory can hold."""
    from lakeforge.llm.clustering import _d2, micro_embedding

    if not dims or len(set(dims)) != len(dims):
        raise ValueError(
            "l2_topk_prefixes: dims must be non-empty and duplicate-free, "
            f"got {dims!r}"
        )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        micro_embedding(vec_col).alias("qvec"),
    )
    q = cache.persist_tracked(q)
    if q.count() > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"l2_topk_prefixes broadcasts queries; > {MAX_BROADCAST_QUERIES}"
        )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        micro_embedding(vec_col).alias("cvec"),
    )
    scored = cache.persist_tracked(
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
            "query_id",
            "neighbor_id",
            *[
                _d2(F.slice("qvec", 1, d), F.slice("cvec", 1, d)).alias(f"d2_{d}")
                for d in dims
            ],
        )
    )
    out = None
    for d in dims:
        w = Window.partitionBy("query_id").orderBy(
            F.col(f"d2_{d}").asc(), F.col("neighbor_id").asc()
        )
        topk = (
            scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k)
            .select(
                F.lit(d).cast("int").alias("trunc_dim"),
                "query_id",
                "neighbor_id",
                "rank",
            )
        )
        out = topk if out is None else out.unionByName(topk)
    return out


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_subspaces: int = 4,
    k_codes: int = 8,
    iters: int = 2,
) -> list[list[tuple[int, list[int]]]]:
    """Train the per-subspace PQ codebooks ONCE and return them as plain
    driver-side rows — ``[(cluster, cvec), ...]`` per subspace.

    The trained quantizer is TINY (n_subspaces * k_codes centroids of
    sub_len ints — 512 ints at the defaults) and deterministic, so it is
    the canonical shareable index artifact: train once, persist next to
    the corpus, reuse across every query that prices distances with it
    (VERDICT r05 #3 — pq_topk and ivfpq_topk each re-ran Lloyd's per
    query, the two slowest non-prefix queries on the board).  The
    ``.collect()`` is k_codes rows per subspace — a bounded driver-side
    scalar in the same class as the BPE winner-per-round."""
    from lakeforge.llm.clustering import kmeans_fit_grouped

    # All subspaces train in ONE grouped Lloyd's loop (r12 opt): the
    # sequential per-subspace kmeans_fit form paid n_subspaces x
    # (localCheckpoint per iteration + a collect) in driver round-trips
    # alone (~8.6s -> ~2.5s at sf0.1 for the 4x8x2 default).  Per-group
    # math is identical (kmeans_fit_grouped docstring), so the books are
    # bit-identical and every PQ oracle stays green.
    base_m = _subspace_long(corpus, vec_col, id_col, id_col, dim, n_subspaces)
    cents = kmeans_fit_grouped(
        base_m, k=k_codes, iters=iters, grp_col="m", id_col=id_col
    )
    rows = cents.collect()  # n_subspaces * k_codes rows — bounded
    books: list[list[tuple[int, list[int]]]] = [[] for _ in range(n_subspaces)]
    for r in rows:
        books[int(r["m"])].append(
            (int(r["cluster"]), [int(x) for x in r["cvec"]])
        )
    return books


def _subspace_long(
    df: DataFrame, vec_col: str, id_col: str, id_out: str,
    dim: int, n_subspaces: int,
) -> DataFrame:
    """(m, id_out, vec): every subspace slice of every micro-quantized
    vector, produced in ONE scan (explode over the n_subspaces struct
    slices) — the long form the grouped PQ training/assignment runs on."""
    from lakeforge.llm.clustering import micro_embedding

    sub_len = dim // n_subspaces
    if sub_len * n_subspaces != dim:
        raise ValueError(f"dim {dim} not divisible into {n_subspaces} subspaces")
    micro = micro_embedding(vec_col)
    return df.select(
        F.col(id_col).alias(id_out),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(micro, m * sub_len + 1, sub_len).alias("vec"),
                    )
                    for m in range(n_subspaces)
                ]
            )
        ).alias("_s"),
    ).select(F.col("_s.m").alias("m"), id_out, F.col("_s.vec").alias("vec"))


def codebook_frames(
    spark, books: list[list[tuple[int, list[int]]]]
) -> list[DataFrame]:
    """Rebuild per-subspace centroid DataFrames from trained codebook rows
    (the inverse of train_pq_codebooks's collect)."""
    return [
        spark.createDataFrame(rows, "cluster bigint, cvec array<bigint>")
        for rows in books
    ]


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_subspaces: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    k: int = 10,
    candidates: DataFrame | None = None,
    codebooks: list[DataFrame] | None = None,
) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011): split each vector
    into ``n_subspaces`` contiguous subvectors, learn a ``k_codes``-entry
    codebook per subspace with exact-integer Lloyd's k-means
    (clustering.kmeans_fit), store each vector as n_subspaces SMALL codes
    (here 4 x 3 bits vs 64 x 8 bytes — the memory lever beyond SQ8), and
    answer queries with Asymmetric Distance Computation: per query, a
    (n_subspaces x k_codes) table of exact subspace distances to every
    centroid is built and BROADCAST; each corpus vector's approximate
    distance is the sum of its codes' table entries — one narrow
    broadcast join + sum per query, never touching the original vectors.

    Everything is integer micro-unit arithmetic end-to-end (codebook
    training included), so even the trained quantizer is
    value-oracle-checkable.  Scale: training shuffles are k*d-bounded per
    subspace; the ADC scan is O(corpus x n_subspaces) rows of (id, code)
    — the codes table is what an executor holds at 100 TB, not vectors.
    ``candidates`` (query_id, neighbor_id) restricts ranking to an
    externally-generated candidate set (IVF-PQ via ivfpq_topk).
    ``codebooks`` (one (cluster, cvec) frame per subspace, from
    train_pq_codebooks/codebook_frames) skips training entirely and only
    runs the assignment pass — training is deterministic, so a pretrained
    codebook yields bit-identical results to in-query training."""
    import functools

    from lakeforge.llm.clustering import (
        _d2,
        kmeans_assign_grouped,
        kmeans_fit_grouped,
    )

    # Grouped form (r12 opt): ONE subspace-long scan + ONE broadcast
    # assignment job replace the previous n_subspaces separate
    # kmeans_assign plan branches (and, when training in-query, the
    # n_subspaces sequential kmeans_fit loops).  Per-subspace math is
    # unchanged — codes, tables, and ADC sums are bit-identical.
    base_m = _subspace_long(
        corpus, vec_col, id_col, "neighbor_id", dim, n_subspaces
    )
    if codebooks is not None:
        cents_m = functools.reduce(
            lambda a, b: a.unionByName(b),
            [cb.withColumn("m", F.lit(m)) for m, cb in enumerate(codebooks)],
        ).select("m", "cluster", "cvec")
    else:
        cents_m = kmeans_fit_grouped(
            base_m, k=k_codes, iters=iters, grp_col="m", id_col="neighbor_id"
        )
    codes = kmeans_assign_grouped(
        base_m, cents_m, "m", "neighbor_id"
    ).select("neighbor_id", "m", F.col("cluster").alias("code"))
    q_m = _subspace_long(queries, vec_col, id_col, "query_id", dim, n_subspaces)
    table = q_m.join(F.broadcast(cents_m), "m").select(
        "query_id",
        "m",
        F.col("cluster").alias("code"),
        _d2("vec", "cvec").alias("d2"),
    )
    adc = (
        codes.join(F.broadcast(table), ["m", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2").cast("bigint").alias("adc_d2"))
    )
    if candidates is not None:
        # IVF-PQ composition: rank only pairs an inverted-file probe
        # admitted — the coarse quantizer bounds how much of the codes
        # table each query touches.
        adc = adc.join(
            candidates.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_cells: int = 16,
    nprobe: int = 4,
    n_queries: int = 20,
    n_subspaces: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    k: int = 10,
    codebooks: list[DataFrame] | None = None,
) -> DataFrame:
    """IVF-PQ (the FAISS IVFPQ composition): an inverted-file coarse
    quantizer prunes WHICH vectors each query compares (same
    deterministic cells as ivf_topk), and PQ codes decide HOW each
    surviving comparison is priced (asymmetric distance over per-subspace
    codebooks, pq_topk).  The two approximations are orthogonal —
    nprobe/n_cells bounds scan fraction, n_subspaces*log2(k_codes) bits
    bound per-vector memory — which is why this shape is the default at
    billion-vector scale.

    Everything stays integer/deterministic, so the COMPOSED index is
    value-oracle-checkable end-to-end."""
    e = _nano_with_norm(corpus, vec_col, id_col, "vec_id", "vec", "n2")
    cents = e.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"),
        F.col("vec").alias("c_vec"),
        F.col("n2").alias("c_n2"),
    )
    csim = F.round(
        _dot("vec", "c_vec").cast("double")
        / F.sqrt(F.col("n2").cast("double") * F.col("c_n2").cast("double")),
        6,
    )
    ranked_cells = (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", "cell_id", csim.alias("csim"))
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("csim").desc(), F.col("cell_id").asc()
                )
            ),
        )
    )
    assign = ranked_cells.filter(F.col("crank") == 1).select("vec_id", "cell_id")
    probe = ranked_cells.filter(
        (F.col("vec_id") < n_queries) & (F.col("crank") <= nprobe)
    ).select(F.col("vec_id").alias("query_id"), "cell_id")
    cand = (
        assign.join(F.broadcast(probe), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    queries = corpus.filter(F.col(id_col) < n_queries)
    return pq_topk(
        queries, corpus, vec_col, id_col, dim=dim,
        n_subspaces=n_subspaces, k_codes=k_codes, iters=iters, k=k,
        candidates=cand, codebooks=codebooks,
    )
