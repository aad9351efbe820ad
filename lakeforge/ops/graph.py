"""Connected components via iterative min-label propagation.

The missing last step of every near-duplicate pipeline: LSH/minhash emits
PAIRS, but dedup needs CLUSTERS (keep one doc per component).  Transitive
closure is inherently iterative — no single SQL query expresses it — so
this is one of the few places the engine runs a driver-side loop around
distributed steps.

Scale design:
- Each iteration is one join + one aggregate (both shuffle by vertex id);
  iterations needed = graph diameter in label-hops (≈ log for the
  short-chain components near-dup graphs produce).
- ``localCheckpoint`` every iteration cuts the lineage — without it the
  plan doubles per iteration and planning time explodes by ~iter 10.
- Convergence check is an aggregate (count of changed labels), not a
  collect of the frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _undirected_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge set (a, b) with both directions of every edge,
    deduplicated — built in ONE scan of the ``edges`` plan.

    The previous ``union(select(src, dst), select(dst, src))`` form
    scanned the edges plan twice before the caller's localCheckpoint
    could materialize it; for CC/BFS callers the edge list is the OUTPUT
    of an expensive candidate pipeline (banded LSH self-join, media
    fingerprint joins, a 600k-row distinct), so the double scan doubled
    the whole upstream cost (r12 opt: guide §2.4, duplicated subtrees).
    Exploding each row into both orientations reads the input once and
    feeds the same distinct."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("_e")
        )
        .select("_e.a", "_e.b")
        .distinct()
    )


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = 25
) -> DataFrame:
    """(vertex, component) for every vertex appearing in ``edges``;
    component id = min vertex id in the component."""
    if max_iter < 1:
        # >=1 iteration guarantees the returned frame is checkpointed
        # (self-contained) before und's blocks are released below.
        raise ValueError("max_iter must be >= 1")
    und = _undirected_edges(edges, src, dst)
    from lakeforge import cache

    spark = edges.sparkSession
    # localCheckpoint blocks are RDD-level caches the SQL CacheManager
    # never sees (DataFrame.unpersist is a no-op on them) — keep the RDD
    # ids each checkpoint creates and release by id.  Round-2 review:
    # every iteration's blocks lived for the whole session.
    und, und_ids = cache.checkpoint_eager(und)
    labels = und.select("a").distinct().select(
        F.col("a").alias("v"), F.col("a").alias("lbl")
    )
    prev_ids: set[int] = set()

    for _ in range(max_iter):
        # Candidate label for each vertex: min over its neighbors' labels.
        neighbor_lbl = (
            und.join(labels, und.b == labels.v)
            .groupBy("a")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = (
            labels.join(neighbor_lbl, labels.v == neighbor_lbl.a, "left")
            .select(
                "v",
                F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias(
                    "new_lbl"
                ),
                "lbl",
            )
        )
        # Checkpoint and convergence count FUSED into one action (r13 opt,
        # guide §2 driver round-trips): localCheckpoint(eager=False) marks
        # the RDD persistent at call time (so its id is known at once),
        # and the convergence count's scan is what
        # materializes the blocks — one job per iteration instead of a
        # materialization job plus a count job over the same blocks.
        # (r12 shape: checkpoint eagerly, then count the blocks; the count
        # job re-scanned every cached partition each iteration.)
        mat, new_ids = cache.checkpoint_eager(new_labels, eager=False)
        changed = mat.filter(F.col("new_lbl") != F.col("lbl")).count()
        labels = mat.select("v", F.col("new_lbl").alias("lbl"))
        # The new checkpoint is materialized — the previous iteration's
        # blocks are dead weight; release them immediately.
        cache.unpersist_rdd_ids(spark, prev_ids)
        prev_ids = new_ids
        if changed == 0:
            break
    # und's blocks are only needed while iterating; the returned labels
    # frame is self-contained (checkpointed).  Its own blocks release at
    # the caller's query boundary via the registered callback.
    cache.unpersist_rdd_ids(spark, und_ids)
    cache.track_rdds(spark, prev_ids)
    return labels.select(F.col("v").alias("vertex"), F.col("lbl").alias("component"))


def connected_components_jump(
    edges: DataFrame, src: str, dst: str, max_iter: int = 20
) -> DataFrame:
    """``connected_components`` with POINTER JUMPING: each iteration takes
    the min over neighbor labels AND then replaces the label with the
    label's own current label (path compression), so convergence needs
    O(log diameter) iterations instead of O(diameter).

    Why it exists (round 12): plain min-propagation converges in
    diameter iterations, which is fine for the short-chain components
    near-dup TEXT graphs produce, but media dup graphs can contain long
    arithmetic chains (video v near-dups v+k for a fixed stride k — e.g.
    recurring stock footage re-cut into a series), and a 100x corpus
    makes the chain 100x longer: at 500k videos a stride chain is ~340
    hops, far past any fixed iteration budget.  With the jump step the
    same chain needs ~9 iterations.  Same cache discipline, convergence
    check, and output contract as ``connected_components`` — except that
    exhausting ``max_iter`` without converging RAISES instead of
    silently returning split components (a split component is a wrong
    answer downstream aggregates cannot detect; with pointer jumping,
    20 iterations cover ~2^20-hop diameters, so hitting the cap means
    something is structurally wrong, not merely large).
    """
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    und = _undirected_edges(edges, src, dst)
    from lakeforge import cache

    spark = edges.sparkSession
    und, und_ids = cache.checkpoint_eager(und)
    labels = und.select("a").distinct().select(
        F.col("a").alias("v"), F.col("a").alias("lbl")
    )
    prev_ids: set[int] = set()

    changed = 0
    for _ in range(max_iter):
        neighbor_lbl = (
            und.join(labels, und.b == labels.v)
            .groupBy("a")
            .agg(F.min("lbl").alias("nlbl"))
        )
        stepped = (
            labels.join(neighbor_lbl, labels.v == neighbor_lbl.a, "left")
            .select(
                "v",
                "lbl",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl1"),
            )
        )
        # Pointer jump: follow lbl1 to ITS current label.  lbl1 is always
        # a vertex id present in labels (labels are initialized to vertex
        # ids and only ever take neighbor-label values), so the lookup is
        # a plain equi-join; min() keeps the result monotone.
        ptr = labels.select(
            F.col("v").alias("pv"), F.col("lbl").alias("plbl")
        )
        # r13 note: a SECOND jump per round (halving rounds on long
        # chains) was implemented and measured — the sf0.1 media graph
        # converges in TWO rounds (changed: 5213 -> 0), so it bought
        # nothing and was reverted; the loop cost lives in the edge
        # pipeline materialization, not the iterations.
        new_labels = (
            stepped.join(ptr, stepped.lbl1 == ptr.pv, "left")
            .select(
                "v",
                "lbl",
                F.least(
                    F.col("lbl1"),
                    F.coalesce(F.col("plbl"), F.col("lbl1")),
                ).alias("new_lbl"),
            )
        )
        # Same one-action checkpoint+count fusion as connected_components.
        mat, new_ids = cache.checkpoint_eager(new_labels, eager=False)
        changed = mat.filter(F.col("new_lbl") != F.col("lbl")).count()
        labels = mat.select("v", F.col("new_lbl").alias("lbl"))
        cache.unpersist_rdd_ids(spark, prev_ids)
        prev_ids = new_ids
        if changed == 0:
            break
    cache.unpersist_rdd_ids(spark, und_ids)
    if changed != 0:
        cache.unpersist_rdd_ids(spark, prev_ids)
        raise RuntimeError(
            f"connected_components_jump did not converge in {max_iter} "
            f"iterations ({changed} labels still changing)"
        )
    cache.track_rdds(spark, prev_ids)
    return labels.select(F.col("v").alias("vertex"), F.col("lbl").alias("component"))


def pagerank_nano(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping_permille: int = 850,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """PageRank in exact nano-unit integer arithmetic — (node, rank_nano).

    Rank mass is carried as bigint nano-units (1.0 == 1e9) and every step
    is integer math: contributions are ``rank div out_degree``, damping is
    ``(damping_permille * inflow) div 1000``.  Summation of integers is
    order-independent, so the result is bit-identical on any engine /
    partitioning — an iterative graph algorithm with a full value oracle
    (truncation loses < 1 nano per edge per iteration; PageRank at 1e-9
    resolution is far beyond ranking precision needs).

    Callers pass a DIRECTED edge list (duplicate both ways for undirected
    graphs).  Dangling nodes (no out-edges) contribute nothing — standard
    simplified formulation; pass symmetric edges to avoid mass loss.
    The OUTPUT is restricted to nodes with at least one in-edge: after the
    first iteration ranks are rebuilt from inflow, so source-only nodes
    (out-edges only) drop out of the result.  Exact for the symmetric-edge
    usage (every node has an in-edge); union the base rank back in if
    source-only nodes must appear.  An empty edge frame raises — there is
    no graph to rank (round-3 ADVICE: was an opaque ZeroDivisionError).

    Scale design:
    - Per iteration: one join (rank onto edges-with-degree) and one
      shuffle-by-dst partial-sum aggregate — O(E) each, the textbook
      distributed PageRank shape.  The degree-annotated edge list is
      computed once and persisted (query-boundary release), not rebuilt
      per iteration.
    - ``broadcast_ranks=True`` broadcasts the rank VECTOR (|V| rows) into
      the edge join so the persisted edge list is never re-shuffled —
      the right regime whenever the vertex set is dim-sized (here:
      parts+suppliers), cutting per-iteration cost to one aggregate
      shuffle.  Leave False for graphs whose vertex vector itself is too
      big to broadcast; the join then shuffles edges by src (textbook).
    - The iteration count is fixed and small (power iteration converges
      geometrically at `damping` rate); no driver-side convergence collect.
    - N (node count) is a single driver-side scalar aggregate, the same
      bounded pattern as connected_components' convergence count.
    """
    from lakeforge import cache

    out_deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("deg"))
    ed = cache.persist_tracked(
        edges.join(out_deg, src).select(
            F.col(src).alias("e_src"), F.col(dst).alias("e_dst"), "deg"
        )
    )
    nodes = ed.select(F.col("e_src").alias("node")).distinct()
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank_nano: empty edge frame — no nodes to rank")
    init = 1_000_000_000 // n
    base = (1000 - damping_permille) * 1_000_000_000 // (1000 * n)
    ranks = nodes.withColumn("rank_nano", F.lit(init).cast("bigint"))
    for _ in range(iters):
        rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
        inflow = (
            ed.join(rank_side, ed.e_src == ranks.node)
            .select("e_dst", F.expr("rank_nano div deg").alias("contrib"))
            .groupBy("e_dst")
            .agg(F.sum("contrib").alias("inflow"))
        )
        ranks = inflow.select(
            F.col("e_dst").alias("node"),
            (
                F.lit(base).cast("bigint")
                + F.expr(f"({damping_permille} * inflow) div 1000")
            ).alias("rank_nano"),
        )
    return ranks


def hits_ppm(
    edges: DataFrame,
    hub: str = "hub",
    auth: str = "auth",
    rounds: int = 2,
    scale: int = 1_000_000,
    broadcast_scores: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """HITS hubs & authorities (Kleinberg, JACM 1999) in exact integer
    parts-per-million arithmetic — returns ``(hubs, auths)`` frames with
    columns ``(hub, hub_ppm)`` / ``(auth, auth_ppm)``.

    Each round is the mutual-reinforcement update on the bipartite edge
    list: ``auth(a) = Σ hub(h)`` over incident edges, renormalized to
    ppm of the round's max by floor division, then ``hub(h) = Σ auth(a)``
    renormalized the same way.  Hubs start at ``scale`` (uniform), which
    lets round 1's auth step collapse to ``scale * in-degree`` — one
    aggregate instead of a score join (applied below).  All integer ops +
    fixed round count ⇒ bit-identical on any engine / partitioning, so an
    unrolled-CTE SQL oracle can replay the rounds.

    Scale design:
    - Per round: two shuffle aggregates over the 2-column edge list and
      two single-row max aggregates; the max enters via a broadcast-scalar
      ``crossJoin`` (the documented BNLJ broadcast-scalar fan-out shape —
      no shuffle, no driver collect in the loop).
    - ``broadcast_scores=True`` broadcasts the vertex-dimension score
      vector into the edge join (never re-shuffles the edge list), the
      right regime for dim-sized vertex sets; set False to shuffle-join
      when the vertex vector outgrows the broadcast threshold.
    - Overflow headroom: scores are ≤ ``scale`` post-normalization, so the
      pre-normalization sums are ≤ scale·max_degree and the renormalizing
      product ≤ scale²·max_degree — fine in bigint up to ~9e18/1e12 ≈ 9e6
      max degree at the default scale; drop ``scale`` for denser graphs.
    """
    from lakeforge import cache

    ed = cache.persist_tracked(edges.select(hub, auth).distinct())

    def _normed(scores: DataFrame, key: str, col: str) -> DataFrame:
        # scores feeds BOTH the max aggregate and the renormalizing join —
        # without a persist each normalization level would recompute its
        # whole upstream chain twice (2^levels blowup); persisted, the DAG
        # is linear in rounds.  The frame is vertex-dimension sized.
        scores = cache.persist_tracked(scores)
        mx = scores.agg(F.max(col).alias("_mx"))
        return scores.crossJoin(F.broadcast(mx)).select(
            key, F.expr(f"({col} * {scale}) div _mx").alias(col)
        )

    hubs = None
    auths = None
    for i in range(rounds):
        if i == 0:
            # Uniform hub init means round 1's auth sum is algebraically
            # scale * in-degree — one aggregate, no score join at all.
            pre = ed.groupBy(auth).agg(
                (F.count(F.lit(1)) * scale).cast("bigint").alias("auth_ppm")
            )
        else:
            hub_side = F.broadcast(hubs) if broadcast_scores else hubs
            pre = (
                ed.join(hub_side, ed[hub] == hubs.h)
                .groupBy(auth)
                .agg(F.sum("hub_ppm").alias("auth_ppm"))
            )
        auths = _normed(pre, auth, "auth_ppm")
        # rename the key before joining back onto ed — auths descends from
        # ed, so ed[auth] == auths[auth] would resolve to a trivially-true
        # self-comparison instead of a join condition
        a_scores = auths.select(F.col(auth).alias("_a"), "auth_ppm")
        auth_side = F.broadcast(a_scores) if broadcast_scores else a_scores
        hubs = _normed(
            ed.join(auth_side, ed[auth] == F.col("_a"))
            .select(F.col(hub).alias("h"), "auth_ppm")
            .groupBy("h")
            .agg(F.sum("auth_ppm").alias("hub_ppm")),
            "h", "hub_ppm",
        )
    return hubs.select(F.col("h").alias(hub), "hub_ppm"), auths


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-vertex triangle participation — (vertex, n_triangles) — via the
    degree-ordered wedge join (the standard distributed formulation; cf.
    Suri & Vassilvitskii, "Counting Triangles and the Curse of the Last
    Reducer", WWW'11).

    Input is treated as UNDIRECTED: edges are canonicalized to
    (least, greatest), deduplicated, self-loops dropped.  Each edge is
    then ORIENTED from its lower-rank endpoint to its higher-rank one,
    rank = (degree, id).  Orientation is what bounds the join: every
    vertex's out-degree is O(sqrt(E)) in the oriented graph, so the wedge
    join (out-edges ⋈ out-edges on the middle vertex) cannot explode on a
    hub vertex the way a naive neighbor join would — the "last reducer"
    fix.  Shape: two shuffles (wedge build + closing-edge hash join),
    both on vertex keys.

    Every triangle is found exactly once (its rank-ordered orientation is
    unique); the final explode credits each of the three corners.

    The canonical edge list feeds the degree count (twice) and the rank
    join, and the oriented list feeds all three legs of the wedge join —
    both are persisted (query-boundary release via lakeforge.cache), or
    Spark would re-execute the caller's whole upstream pipeline once per
    alias (measured: 63 exchanges unpersisted vs 8 persisted on the
    nation-trade query).
    """
    from lakeforge import cache

    und = cache.persist_tracked(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    ranked = (
        und.join(da, F.col("a") == F.col("da.v"))
        .join(db, F.col("b") == F.col("db.v"))
        .select(
            "a", "b", F.col("da.deg").alias("dega"), F.col("db.deg").alias("degb")
        )
    )
    lower_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    oriented = cache.persist_tracked(
        ranked.select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        )
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.hi") == F.col("e2.lo"))
        .join(
            e3,
            (F.col("e1.lo") == F.col("e3.lo")) & (F.col("e2.hi") == F.col("e3.hi")),
        )
        .select(
            F.col("e1.lo").alias("x"),
            F.col("e1.hi").alias("y"),
            F.col("e2.hi").alias("z"),
        )
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )


def bfs_depths(
    edges: DataFrame,
    src: str,
    dst: str,
    sources: list[int],
    max_depth: int = 4,
) -> DataFrame:
    """(node, depth): minimum hop distance from the ``sources`` set over
    the undirected graph, bounded by ``max_depth`` — frontier-expansion
    BFS, the engine's answer to a depth-limited recursive CTE (which
    Spark SQL lacks; the DuckDB oracle states the same result WITH
    RECURSIVE, so two very different formulations check each other).

    Scale design: each level is one join (frontier x edges, shuffle on
    node id) plus one anti-join against the visited set; work per level
    is O(frontier-adjacent edges), total O(edges within max_depth).  The
    visited frame is localCheckpoint-ed per level (lineage cut) and prior
    levels' blocks are released immediately — same cache discipline as
    connected_components.  Early exit when a frontier drains."""
    from lakeforge import cache

    spark = edges.sparkSession
    und = _undirected_edges(edges, src, dst)
    und, und_ids = cache.checkpoint_eager(und)

    visited = spark.createDataFrame(
        [(int(s), 0) for s in sources], "node bigint, depth bigint"
    )
    frontier = visited.select("node")
    prev_ids: set[int] = set()
    for d in range(1, max_depth + 1):
        nxt = (
            und.join(frontier, und.a == frontier.node)
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("depth", F.lit(d).cast("bigint"))
        )
        # Lazy checkpoint + frontier count fused into one action (r13 opt,
        # same pattern as connected_components): the count's scan
        # materializes the checkpoint blocks, so each level pays one job.
        mat, new_ids = cache.checkpoint_eager(
            visited.unionByName(nxt), eager=False
        )
        frontier = mat.filter(F.col("depth") == d).select("node")
        n_new = frontier.count()
        cache.unpersist_rdd_ids(spark, prev_ids)
        prev_ids = new_ids
        visited = mat
        if n_new == 0:
            break
    cache.unpersist_rdd_ids(spark, und_ids)
    cache.track_rdds(spark, prev_ids)
    return visited


def sssp_hops(
    edges: DataFrame,
    src: str,
    dst: str,
    weight: str,
    sources: list[int],
    max_hops: int = 4,
) -> DataFrame:
    """Hop-bounded single-source shortest paths — Bellman-Ford as
    ``max_hops`` relaxation rounds: dist_{i+1}(v) = min(dist_i(v),
    min over in-edges (dist_i(u) + w(u,v))).  Returns (node, dist) for
    every node reachable within ``max_hops`` edges (dist = cheapest path
    using at most that many edges; negative weights are fine, negative
    CYCLES are bounded away by the hop cap).

    Complements bfs_depths (min HOPS, unweighted) with min COST.  Each
    round is one join (dist x out-edges, shuffle on the node id) + one
    min-aggregate over at most |nodes| rows — the dist table never
    exceeds the vertex count, so round cost is O(edges touched).  Same
    localCheckpoint/release discipline as the other iterative ops."""
    from lakeforge import cache

    spark = edges.sparkSession
    e = edges.select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst"),
        F.col(weight).cast("bigint").alias("w"),
    )
    e, e_ids = cache.checkpoint_eager(e)

    dist = spark.createDataFrame(
        [(int(s), 0) for s in sources], "node bigint, dist bigint"
    )
    prev_ids: set[int] = set()
    for _ in range(max_hops):
        relaxed = (
            dist.join(e, dist.node == e.e_src)
            .select(
                F.col("e_dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
        )
        new_dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        new_dist, new_ids = cache.checkpoint_eager(new_dist)
        cache.unpersist_rdd_ids(spark, prev_ids)
        prev_ids = new_ids
        dist = new_dist
    cache.unpersist_rdd_ids(spark, e_ids)
    cache.track_rdds(spark, prev_ids)
    return dist


def kcore_nodes(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 3,
    rounds: int = 6,
) -> DataFrame:
    """(node, core_deg): nodes surviving ``rounds`` synchronized peeling
    rounds at threshold ``k`` — each round drops every node whose degree
    in the CURRENT subgraph is < k, then recomputes degrees.  With enough
    rounds this converges to the exact k-core (Matula & Beck 1983); a
    FIXED round count keeps the computation replayable as an unrolled SQL
    CTE chain, so the DuckDB oracle states the identical rounds and the
    two formulations check each other (same contract as bfs_depths).
    The final projection keeps only nodes whose residual degree is >= k.

    ``edges`` must already be symmetric (both directions present), so
    degree = out-degree and each round is ONE aggregate + two semi-joins.

    Scale design: per round, work is O(current edges) — one map-side-
    combined degree aggregate (shuffle carries (node, partial count), at
    most |nodes| rows per task) and two hash semi-joins on node id; the
    survivor set only shrinks, so later rounds get cheaper.  The edge
    frame is localCheckpoint-ed per round (lineage cut, prior round's
    blocks released immediately) — the same cache discipline as the
    other iterative operators here.  Early exit when a round removes
    nothing (converged: the fixed remaining rounds would be no-ops, so
    skipping them cannot change the result vs the unrolled oracle)."""
    from lakeforge import cache

    spark = edges.sparkSession
    cur = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # The initial edge count is the materializing action for the lazy
    # checkpoint (one job; the count is the only consumer before the loop).
    cur, prev_ids = cache.checkpoint_eager(cur, eager=False)
    n_edges = cur.count()
    for _ in range(rounds):
        deg = cur.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("a")
        nxt = (
            cur.join(keep, "a", "left_semi")
            .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
            .select("a", "b")
        )
        # Lazy checkpoint + convergence count in one action (r13 opt).
        nxt, new_ids = cache.checkpoint_eager(nxt, eager=False)
        n_next = nxt.count()
        cache.unpersist_rdd_ids(spark, prev_ids)
        prev_ids = new_ids
        cur, converged = nxt, n_next == n_edges
        n_edges = n_next
        if converged:
            break
    cache.track_rdds(spark, prev_ids)
    return (
        cur.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_deg"))
        .filter(F.col("core_deg") >= k)
    )
