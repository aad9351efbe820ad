"""Exact-arithmetic k-means (Lloyd's) over an embedding column.

Iterative ML expressed as DataFrame ops — no MLlib, no driver-side math.
Like llm/similarity.py, determinism comes from fixed-point integers:
embeddings are scaled to micro-units (round(v * 1e6) as bigint), so every
squared distance is an EXACT integer sum, independent of summation order
and identical across Spark and DuckDB.  Centroid updates divide an exact
int64 sum by an exact count in ONE double division (both < 2^53, so the
quotient is the same correctly-rounded IEEE value on every engine) and
round back to micro-units — bit-identical centroids everywhere, which is
what makes an *iterative* algorithm oracle-checkable value-for-value.

Micro (1e6), not nano (1e9), units: squared diffs of nano-scaled
components overflow int64 at 64 dims; micro keeps the worst case
(~4e12 per dim, ~2.6e14 per vector) comfortably inside bigint.

Init: the k vectors with the lowest ids (deterministic; a production run
would use k-means|| over a sample — init strategy is orthogonal to the
iteration shape tested here).

Scale design (100 TB corpus):
- Assignment is a BROADCAST cross join against k centroid rows followed by
  a map-side-combinable min — the corpus never shuffles.  O(N*k*d) work,
  the Lloyd's lower bound.
- The centroid update is the only shuffle: posexplode to (cluster, pos)
  partial sums — shuffled bytes ~ k*d running sums per map task, not the
  corpus.
- Empty clusters drop out (inner joins) in both engines identically.
- At real scale you FIT on a deterministic sample (ops/sampling.py) and
  ASSIGN the full corpus with one final broadcast pass — `kmeans_assign`
  is that single pass, reused for the in-loop assignment.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


def micro_embedding(col: Column | str) -> Column:
    """array<float> -> array<bigint> micro-units (exact, portable).

    DuckDB twin: ``list_transform(e, v -> CAST(round(CAST(v AS DOUBLE) *
    1000000) AS BIGINT))``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c,
        lambda v: F.round(v.cast("double") * F.lit(MICRO).cast("double")).cast(
            "bigint"
        ),
    )


def _d2(a: Column | str, b: Column | str) -> Column:
    """Exact integer squared L2 distance between micro-unit arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def kmeans_assign_grouped(
    base: DataFrame, centroids: DataFrame, grp_col: str, id_col: str
) -> DataFrame:
    """One assignment pass over SEVERAL disjoint datasets at once: nearest
    centroid per (group, vector).  ``base``: (grp_col, id_col, vec);
    ``centroids``: (grp_col, cluster, cvec) — broadcast (k*|groups| rows).

    Per-group math is identical to :func:`kmeans_assign` (exact integer
    d2, min over (d2, cluster) structs), so results are bit-identical to
    running the groups one by one — the point (r12 opt) is that all
    groups share ONE job instead of |groups| sequential driver actions
    (PQ trains 4 subspace codebooks; the sequential form cost 4x the
    scheduler round-trips and 4x the plan compiles).
    """
    scored = base.join(F.broadcast(centroids), grp_col).select(
        grp_col,
        id_col,
        F.struct(_d2("vec", "cvec").alias("d2"), F.col("cluster")).alias("sc"),
    )
    return scored.groupBy(grp_col, id_col).agg(F.min("sc").alias("sc")).select(
        grp_col,
        id_col,
        F.col("sc.cluster").alias("cluster"),
        F.col("sc.d2").alias("d2"),
    )


def kmeans_fit_grouped(
    base: DataFrame,
    k: int,
    iters: int,
    grp_col: str,
    id_col: str,
) -> DataFrame:
    """Lloyd's k-means over SEVERAL disjoint datasets in one driver loop.

    ``base``: (grp_col, id_col, vec array<bigint>) — already quantized.
    Returns centroids (grp_col, cluster, cvec).  Init, assignment,
    update, and rounding are the per-group twins of :func:`kmeans_fit`
    (init = the k vectors with lowest ids per group, exact integer d2,
    one double division per dimension), so each group's centroids are
    bit-identical to a per-group ``kmeans_fit`` — verified by the PQ
    oracles, whose DuckDB replay states the per-subspace training.  The
    win is operational: one localCheckpoint per ITERATION instead of one
    per (group, iteration), so the driver-side action count no longer
    scales with the group count.
    """
    from lakeforge import cache

    spark = base.sparkSession
    base, base_ids = cache.checkpoint_eager(base)
    cache.track_rdds(spark, base_ids)
    centroids = base.filter(F.col(id_col) < k).select(
        grp_col,
        F.col(id_col).cast("bigint").alias("cluster"),
        F.col("vec").alias("cvec"),
    )
    prev_ids: set[int] = set()
    for i in range(iters):
        assign = kmeans_assign_grouped(base, centroids, grp_col, id_col).select(
            grp_col, id_col, "cluster"
        )
        members = base.join(assign, [grp_col, id_col]).select(
            grp_col, "cluster", F.posexplode("vec").alias("pos", "x")
        )
        dims = members.groupBy(grp_col, "cluster", "pos").agg(
            F.round(
                F.sum("x").cast("double") / F.count(F.lit(1)).cast("double")
            )
            .cast("bigint")
            .alias("c")
        )
        centroids = dims.groupBy(grp_col, "cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("cvec")
        )
        # Lineage cut every OTHER iteration plus always after the last
        # (r13 opt, guide §2 driver round-trips): centroids_{i+1}
        # references centroids_i exactly once (assign's broadcast side),
        # so the unrolled plan is LINEAR in iterations — nothing re-
        # executes without a per-iteration checkpoint; chunking only
        # bounds plan depth while halving the trainer's driver actions.
        if i % 2 == 1 or i == iters - 1:
            centroids, new_ids = cache.checkpoint_eager(centroids)
            cache.unpersist_rdd_ids(spark, prev_ids)
            prev_ids = new_ids
    cache.track_rdds(spark, prev_ids)
    return centroids


def kmeans_assign(
    base: DataFrame, centroids: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """One assignment pass: nearest centroid per vector (exact argmin).

    ``base``: (id_col, vec: array<bigint>); ``centroids``: (cluster, cvec).
    Broadcast cross join against k rows, then a single min over an ordered
    struct — (d2, cluster) ordering makes ties resolve to the lowest
    cluster id, same as the oracle's ``ORDER BY d2, cluster``.
    """
    scored = base.crossJoin(F.broadcast(centroids)).select(
        id_col,
        F.struct(_d2("vec", "cvec").alias("d2"), F.col("cluster")).alias("sc"),
    )
    return scored.groupBy(id_col).agg(F.min("sc").alias("sc")).select(
        id_col,
        F.col("sc.cluster").alias("cluster"),
        F.col("sc.d2").alias("d2"),
    )


def kmeans_assignments(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means, ``iters`` full update rounds, then a final assign.

    Returns (id_col, cluster bigint, d2 bigint) — d2 in squared
    micro-units, an exact integer.
    """
    assign, _ = kmeans_fit(embeddings, k, iters, id_col, vec_col)
    return assign


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_quantized: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means returning BOTH the final assignment and the fitted
    centroids — the trainer product-quantization and IVF codebooks build
    on.  ``pre_quantized`` skips the micro-int conversion when ``vec_col``
    is already an integer array (e.g. a subspace slice of a micro vector).

    Returns ``(assignments (id, cluster, d2), centroids (cluster, cvec))``
    — all integer micro-units, deterministic, oracle-reproducible.
    """
    from lakeforge import cache

    spark = embeddings.sparkSession
    vec = (
        F.col(vec_col) if pre_quantized else micro_embedding(vec_col)
    )
    base = embeddings.select(F.col(id_col), vec.alias("vec"))
    # One materialization reused by every iteration's two scans (assign +
    # update) and the final pass: without it the whole upstream plan re-runs
    # 2*iters+1 times inside one deep DAG.  Blocks release at the caller's
    # query boundary (cache.release_all), same discipline as ops/graph.py.
    base, base_ids = cache.checkpoint_eager(base)
    cache.track_rdds(spark, base_ids)
    centroids = base.filter(F.col(id_col) < k).select(
        F.col(id_col).cast("bigint").alias("cluster"), F.col("vec").alias("cvec")
    )
    prev_ids: set[int] = set()
    for i in range(iters):
        assign = kmeans_assign(base, centroids, id_col).select(id_col, "cluster")
        # Update: long-form partial sums — the only shuffle, k*d-bounded.
        members = base.join(assign, id_col).select(
            "cluster", F.posexplode("vec").alias("pos", "x")
        )
        dims = members.groupBy("cluster", "pos").agg(
            # One double division of exact integers (< 2^53): the same
            # correctly-rounded quotient on every engine; round half-away
            # matches DuckDB's round().
            F.round(
                F.sum("x").cast("double") / F.count(F.lit(1)).cast("double")
            )
            .cast("bigint")
            .alias("c")
        )
        centroids = dims.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("cvec")
        )
        # Lineage cut every OTHER iteration plus always after the last
        # (r13 opt, guide §2): each centroids_i feeds exactly one place
        # in centroids_{i+1} (the assign broadcast), so the unrolled plan
        # is LINEAR — no re-execution without a per-iteration checkpoint.
        # The final checkpoint stays unconditional because callers consume
        # centroids TWICE (the returned frame + the final assign below).
        # The PREVIOUS chunk's blocks are dead once this one materializes.
        if i % 2 == 1 or i == iters - 1:
            centroids, new_ids = cache.checkpoint_eager(centroids)
            cache.unpersist_rdd_ids(spark, prev_ids)
            prev_ids = new_ids
    cache.track_rdds(spark, prev_ids)
    return kmeans_assign(base, centroids, id_col), centroids
