"""Spatial operators: exact grid nearest-neighbor with density-adaptive
cells and ring expansion.

VERDICT r06 #3: the fixed 10-degree-grid NN join's candidate volume is
O(probes x build/648) — the builder's own scale probe measured executor OOM
at 100x supplier density (~2e9 candidate rows).  The scalable shape keeps
the SAME query semantics (nearest neighbor within a fixed coordinate box
around each probe, exact integer squared-Euclidean, deterministic
tie-break) but re-grids by density:

- the build side is bucketed into FINE cells sized so each holds O(tau)
  points (cell = sqrt(area * tau / n_build), clamped);
- each probe searches outward in Chebyshev RINGS of fine cells, radius
  doubling per round, always clipped to its box;
- a probe resolves as soon as its best candidate distance d satisfies
  d2 <= (H*cell)^2 after probing radius H — every unexplored cell is at
  Chebyshev >= H+1, so any point there is STRICTLY farther than H*cell
  (cells are half-open; the gap spans >= H full cells), hence cannot beat
  or even tie the current best — or when H covers its whole box (probes
  with an empty box drop out, inner-join semantics).

Cost: candidates per probe ~ tau * cells-probed-until-resolved (O(1) in
expectation at any density); a desert probe touches each box cell exactly
once (rings are disjoint).  Rounds are bounded by log2(box/cell) — a
driver-coordinated loop with the same localCheckpoint + rdd-id release
discipline as ops/graph.py.  Compare: the fixed-grid join's candidates per
probe grow LINEARLY with build density.

Reference parity: SURVEY.md §2 J-family (the reference has no spatial
operator; this is engine surface for the LLM-pipeline geo workloads).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from lakeforge import cache


def adaptive_cell_size(area: int, n_build: int, tau: float = 2.0) -> int:
    """Fine-cell edge length so the expected build occupancy per cell is
    ~tau points: cell = sqrt(area * tau / n), clamped to
    [10_000, 10_000_000]."""
    if n_build <= 0:
        return 10_000_000
    c = int(math.sqrt(area * tau / n_build))
    return max(10_000, min(10_000_000, c))


def nearest_in_box(
    probe: DataFrame,
    build: DataFrame,
    cell: int,
    payload_cols: list[str],
    n_build: "int | None" = None,
    box_radius_cells: "int | None" = None,
    box_aligned: bool = False,
) -> DataFrame:
    """Exact nearest build point per probe within the probe's own box.

    probe columns: ``id``, ``plat``, ``plon``, ``box_lat_lo``,
    ``box_lat_hi``, ``box_lon_lo``, ``box_lon_hi`` (half-open [lo, hi),
    non-negative, each probe's own point inside its box).
    build columns: ``blat``, ``blon`` plus ``payload_cols`` — the FIRST
    payload column is the deterministic tie-break (min (d2, payload[0])).

    Returns ``id``, ``d2``, ``*payload_cols``.  Probes whose box holds no
    build point are absent (inner-join semantics).  Raises after 64 ring
    rounds without resolving every probe.
    """
    max_rounds = 64
    spark = probe.sparkSession
    if n_build is None:
        n_build = build.count()  # bounded driver scalar: sizes the hint
    b = build.select(
        F.expr(f"blat div {cell}").alias("fl"),
        F.expr(f"blon div {cell}").alias("fo"),
        "blat", "blon", *payload_cols,
    )
    single_shot = box_radius_cells is not None and box_radius_cells <= 2
    if not single_shot:
        b = cache.persist_tracked(b)  # re-joined every round
    b_j = F.broadcast(b) if n_build <= 2_000_000 else b

    best_struct = lambda: F.struct(  # noqa: E731
        F.col("d2").alias("d2"),
        *[F.col(c).alias(c) for c in payload_cols],
    )

    unresolved = probe.select(
        "id", "plat", "plon",
        "box_lat_lo", "box_lat_hi", "box_lon_lo", "box_lon_hi",
        F.expr(f"plat div {cell}").alias("pfl"),
        F.expr(f"plon div {cell}").alias("pfo"),
        F.expr(f"box_lat_lo div {cell}").alias("bl_lo"),
        F.expr(f"(box_lat_hi - 1) div {cell}").alias("bl_hi"),
        F.expr(f"box_lon_lo div {cell}").alias("bo_lo"),
        F.expr(f"(box_lon_hi - 1) div {cell}").alias("bo_hi"),
        F.lit(None).cast(
            "struct<d2:bigint,"
            + ",".join(f"{c}:bigint" for c in payload_cols)
            + ">"
        ).alias("best"),
    ).withColumn(
        "r_box",
        F.greatest(
            F.col("pfl") - F.col("bl_lo"), F.col("bl_hi") - F.col("pfl"),
            F.col("pfo") - F.col("bo_lo"), F.col("bo_hi") - F.col("pfo"),
        ),
    )

    def _ring_best(u: DataFrame, prev_h: int, h: int) -> DataFrame:
        """(id, ring_best) over ring radii (prev_h, h] of u's probes."""
        dl_lo = F.greatest(F.lit(-h), F.col("bl_lo") - F.col("pfl"))
        dl_hi = F.least(F.lit(h), F.col("bl_hi") - F.col("pfl"))
        do_lo = F.greatest(F.lit(-h), F.col("bo_lo") - F.col("pfo"))
        do_hi = F.least(F.lit(h), F.col("bo_hi") - F.col("pfo"))
        # box_aligned (bounds are cell multiples): no fine cell can
        # straddle a box edge, so the coordinate re-check — and carrying
        # the four box bounds through the join — is provably redundant.
        carry = [] if box_aligned else [
            "box_lat_lo", "box_lat_hi", "box_lon_lo", "box_lon_hi"
        ]
        probes = (
            u
            .withColumn("dl", F.explode(F.sequence(dl_lo, dl_hi)))
            .withColumn("do", F.explode(F.sequence(do_lo, do_hi)))
            .filter(
                F.greatest(F.abs(F.col("dl")), F.abs(F.col("do"))) > prev_h
            )
            .select(
                "id",
                (F.col("pfl") + F.col("dl")).alias("jfl"),
                (F.col("pfo") + F.col("do")).alias("jfo"),
                "plat", "plon",
                *carry,
            )
        )
        d2 = (
            (F.col("plat") - F.col("blat")) * (F.col("plat") - F.col("blat"))
            + (F.col("plon") - F.col("blon"))
            * (F.col("plon") - F.col("blon"))
        )
        joined = probes.join(
            b_j,
            (F.col("jfl") == F.col("fl")) & (F.col("jfo") == F.col("fo")),
        )
        if not box_aligned:
            # fine cells can straddle the box edge when cell does not
            # divide the box bound — enforce the exact box
            joined = joined.filter(
                (F.col("blat") >= F.col("box_lat_lo"))
                & (F.col("blat") < F.col("box_lat_hi"))
                & (F.col("blon") >= F.col("box_lon_lo"))
                & (F.col("blon") < F.col("box_lon_hi"))
            )
        ring_best = (
            joined
            .select("id", d2.alias("d2"), *payload_cols)
            .groupBy("id")
            .agg(F.min(best_struct()).alias("ring_best"))
        )
        return ring_best

    def _merged(u: DataFrame, prev_h: int, h: int) -> DataFrame:
        """u with its carried best merged with the new ring's best."""
        return (
            u.join(_ring_best(u, prev_h, h), "id", "left")
            .withColumn(
                "best",
                F.when(
                    F.col("best").isNull(), F.col("ring_best")
                ).when(
                    F.col("ring_best").isNull(), F.col("best")
                ).otherwise(F.least(F.col("best"), F.col("ring_best"))),
            )
            .drop("ring_best")
        )

    # Single-shot fast path: when the caller certifies every probe's box
    # spans at most box_radius_cells rings AND that radius is tiny (the
    # adaptive cell clamped to ~the box scale, i.e. low build density),
    # one probe of the whole box is both exact and cheaper than any
    # iteration — no checkpoint, no driver loop, one job.  This is
    # exactly the classic 3x3 coarse-grid join.
    if single_shot:
        # No carried state to merge: the ring aggregate IS the answer
        # (probes with an empty box simply have no group), so skip the
        # merge join entirely.
        out = _ring_best(unresolved, -1, box_radius_cells)
        return out.select(
            "id",
            F.col("ring_best.d2").alias("d2"),
            *[F.col(f"ring_best.{c}").alias(c) for c in payload_cols],
        )

    unresolved, prev_ids = cache.checkpoint_eager(unresolved)
    done_parts: list[DataFrame] = []
    done_ids: set[int] = set()
    # Round 0 probes Chebyshev <= 1 (the 3x3 fine neighborhood): with
    # tau~2 per cell that's ~18 expected candidates and the typical
    # nearest lies well inside one cell edge, so most probes resolve in
    # ONE round.
    prev_h = -1  # probed Chebyshev radius so far (exclusive start)
    h = 1
    for _ in range(max_rounds):
        merged = _merged(unresolved, prev_h, h)
        resolved_cond = (
            F.col("best").isNotNull()
            & (F.col("best.d2") <= F.lit(int(h * cell) ** 2).cast("bigint"))
        ) | (F.lit(h) >= F.col("r_box"))
        mat, new_ids = cache.checkpoint_eager(merged)
        done = mat.filter(resolved_cond).filter(F.col("best").isNotNull())
        done_parts.append(done)
        done_ids |= new_ids
        unresolved = mat.filter(~resolved_cond)
        n_left = unresolved.count()
        cache.unpersist_rdd_ids(spark, prev_ids - done_ids)
        prev_ids = new_ids
        if n_left == 0:
            break
        prev_h, h = h, max(1, h * 2)
    else:
        raise RuntimeError("nearest_in_box: max_rounds exhausted")

    cache.track_rdds(spark, done_ids)
    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "id",
        F.col("best.d2").alias("d2"),
        *[F.col(f"best.{c}").alias(c) for c in payload_cols],
    )
