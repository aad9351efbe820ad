"""Join operators (reference: J1-J3 — gold_sql_to_postgres.py:82-92,
128-138, 185-195; SURVEY.md §2.4).

Only semantics that aren't a bare ``df.join`` get a wrapper:

- J1 broadcast left equi-join: dimension-sized right side shipped to every
  executor — zero shuffle of the (huge) left side.
- J2 full-outer with key coalescing: aligns two timelines into one.
- J3 temporal/interval (as-of) join: equi-key + point-in-interval.  Catalyst
  plans the equi-keys as the join keys (SMJ or, with a broadcast dim, BHJ)
  and evaluates the BETWEEN as a post-join residual — no custom operator
  needed, and at scale the shuffle is by the equi-key only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def broadcast_left_join(
    left: DataFrame, right: DataFrame, on: list[str]
) -> DataFrame:
    """Reference J1: ``/*+ BROADCAST(d) */`` as an explicit hint on a left join.

    AQE would often convert anyway; the explicit hint removes the dependence
    on stats when we KNOW the right side is dim-sized.
    """
    return left.join(F.broadcast(right), on=on, how="left")


def full_outer_coalesce(
    left: DataFrame, right: DataFrame, on: list[str]
) -> DataFrame:
    """Reference J2: full-outer on the key columns with COALESCE key
    resolution (gold_sql_to_postgres.py:131-132).

    Spark's list-form ``on`` already emits a single coalesced key column for
    full-outer joins, which is exactly the reference's COALESCE(p1.k, p2.k).
    """
    return left.join(right, on=on, how="full_outer")


def resolve_interval_key(
    fact: DataFrame,
    dim: DataFrame,
    key: list[str],
    at_col: str,
    start_col: str = "effective_start_date",
    end_col: str = "effective_end_date",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Reference J3: as-of lookup of the dim version valid at ``fact.at_col``.

    A left join: returns fact columns + all non-key dim columns of the
    matching version (NULL when none matches).  SCD2 intervals are
    non-overlapping per key, so at most one dim row matches — the fact's
    row count is preserved.

    broadcast_dim=True is right whenever the dimension fits in executor
    memory (the common case); set False to let AQE pick SMJ for huge dims.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    fa, da = fact.alias("f"), d.alias("d")
    cond = None
    for k in key:
        term = F.col(f"f.{k}") == F.col(f"d.{k}")
        cond = term if cond is None else (cond & term)
    cond = cond & F.col(f"f.{at_col}").between(
        F.col(f"d.{start_col}"), F.col(f"d.{end_col}")
    )
    joined = fa.join(da, on=cond, how="left")
    dim_payload = [c for c in dim.columns if c not in set(key)]
    return joined.select(
        *[F.col(f"f.{c}") for c in fact.columns],
        *[F.col(f"d.{c}").alias(c) for c in dim_payload],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    strict: bool = False,
) -> DataFrame:
    """Backward as-of join: for each left row, attach the payload of the
    latest right row with the same key and ``right_ts <= left_ts``
    (``<`` when strict=True).  Equivalent of DuckDB/pandas ASOF JOIN —
    an operator Spark lacks natively.

    Scalable union+window formulation: instead of an interval join (which
    would explode or need per-key sorting on the driver), tag both inputs,
    union them, and carry the last non-null right payload forward with a
    running window.  ONE shuffle by key — at 100 TB this is a single
    sort-merge pass, no broadcast or skew-sensitive range join, and it
    handles unbounded lookback without an interval-bucketing heuristic.

    Ties (right_ts == left_ts): the right row sorts before the left row
    (tag 0 < 1), so an exact-timestamp match IS visible — same as ASOF's
    ``>=`` convention.  strict=True sorts the left row first instead.
    Right rows must be unique per (key, ts) for deterministic payloads —
    pre-aggregate if not.
    """
    clash = set(right_payload) & set(left.columns)
    if clash:
        raise ValueError(f"right_payload collides with left columns: {clash}")
    lt = left.withColumn("__ts", F.col(left_ts)).withColumn("__tag", F.lit(1))
    for c in right_payload:
        lt = lt.withColumn(c, F.lit(None).cast(dict(right.dtypes)[c]))
    rt = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        *right_payload,
    )
    for c in left.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    unioned = lt.select(rt.columns).unionByName(rt.select(rt.columns))
    order = [F.col("__ts"), F.col("__tag").desc() if strict else F.col("__tag")]
    w = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "*",
        *[F.last(c, ignorenulls=True).over(w).alias(f"__f_{c}") for c in right_payload],
    )
    if strict:
        # The left row sorted before same-ts right rows, so last() already
        # excludes exact-ts matches.
        pass
    return (
        filled.filter(F.col("__tag") == 1)
        .select(
            *[F.col(c) for c in left.columns],
            *[F.col(f"__f_{c}").alias(c) for c in right_payload],
        )
    )


def range_bucket_join(
    probe: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: int,
    how: str = "inner",
    probe_key: str | None = None,
) -> DataFrame:
    """Interval-lookup join — match each probe row to every range row with
    ``lo_col <= value_col <= hi_col`` — planned as an EQUI-join.

    Spark plans a bare BETWEEN join as BroadcastNestedLoopJoin (fine for a
    dim-sized range table, fatal when ranges are large or the optimizer
    falls back to a cartesian).  The scale path decomposes the interval
    condition into hash-joinable keys: each range row is exploded to the
    fixed-width buckets it overlaps (``sequence(lo div W, hi div W)``),
    each probe row maps to its single bucket (``value div W``), the join
    runs on the bucket key, and the original BETWEEN survives only as a
    cheap post-join residual.  Shuffle is by bucket — the same O(rows)
    hash partitioning as any equi-join, skew-bounded by bucket width.

    ``bucket_width`` tunes fan-out: a range spanning S units replicates
    ceil(S/W)+1 times.  Pick W near the TYPICAL range span so most ranges
    land in 1-2 buckets; probe rows never replicate.  Overlapping ranges
    are supported (probe rows multi-match, one row per matching range).
    Inner and left joins only — 'left' keeps probe rows with no matching
    range (null range payload) and needs ``probe_key`` (a unique probe
    key) so the no-match rows can be recovered with an anti-join instead
    of a fragile all-columns comparison.
    """
    if bucket_width <= 0:
        raise ValueError("range_bucket_join: bucket_width must be positive")
    if how not in ("inner", "left"):
        raise ValueError("range_bucket_join supports inner/left joins only")
    rng = ranges.withColumn(
        "__bk",
        F.explode(
            F.sequence(
                F.expr(f"CAST(floor({lo_col} / {bucket_width}) AS BIGINT)"),
                F.expr(f"CAST(floor({hi_col} / {bucket_width}) AS BIGINT)"),
            )
        ),
    )
    pr = probe.withColumn(
        "__bk", F.expr(f"CAST(floor({value_col} / {bucket_width}) AS BIGINT)")
    )
    matched = (
        pr.join(rng, on="__bk", how="inner")
        .filter(F.col(value_col).between(F.col(lo_col), F.col(hi_col)))
        .drop("__bk")
    )
    if how == "inner":
        return matched
    if not probe_key:
        raise ValueError("range_bucket_join: how='left' requires probe_key")
    unmatched = probe.join(
        matched.select(probe_key).distinct(), on=probe_key, how="left_anti"
    )
    null_payload = [F.lit(None).cast(t).alias(c) for c, t in ranges.dtypes]
    return matched.unionByName(unmatched.select("*", *null_payload))


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: list[str],
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the large side's key with a random
    shard in [0, salt) and replicate the small side ``salt`` times, so one
    hot key spreads over ``salt`` reducers instead of melting a single task.

    Result is identical to ``large.join(small, on, how)`` — salting is an
    execution strategy, not a semantic change.  AQE's skewJoin handles
    moderate skew automatically; explicit salting is for the pathological
    single-key case (a null-heavy FK, one whale customer) where even a
    split task's probe side is one value.  Supports inner/left joins
    (the salted key never loses large-side rows).

    Shard assignment is ``floor(rand(seed) * salt)`` — ONE cheap PRNG draw
    per row.  rand() is per-partition seeded, so the shard a given row gets
    is partitioning-dependent; that is harmless HERE because the join
    result is shard-invariant: the small side carries every shard value in
    [0, salt), so a large row joins (or left-joins null) identically no
    matter which shard it drew.  (Round-2 used xxhash64 over every
    large-side column for a "deterministic" shard — determinism the result
    never needed, at the cost of hashing the whole row: the one >2x bench
    regression of that round.  Shard determinism only matters for ops whose
    OUTPUT depends on the draw, e.g. sampling — see ops/sampling.py.)
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins only")
    lg = large.withColumn(
        "__salt", F.floor(F.rand(42) * F.lit(salt)).cast("int")
    )
    sm = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = lg.join(sm, on=[*on, "__salt"], how=how)
    return out.drop("__salt")


def bloom_prefiltered_semi_join(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    keys_key: str,
    n_bits: int = 16384,
) -> DataFrame:
    """LEFT SEMI join with a hand-built Bloom prefilter — the manual
    version of the runtime row-level filter (Spark's internal
    bloom_filter_agg isn't SQL-exposed), for when the key set is too big
    to broadcast as an IN-list but its BITMAP is tiny.

    Build side: each key sets 3 md5-derived bits; the bits are
    PACKED into ``n_bits/64`` bigint words (bit_or aggregate), densified
    into one array, and broadcast (2KB at 16k bits — constant, whatever
    the key count).  Probe side: membership is word-index + mask — O(1)
    per probe via array element_at, all inside whole-stage codegen.  (A
    first cut kept set-bit POSITIONS in an array and probed with
    array_contains — O(set bits) per probe, measured 17s at sf0.1; the
    packed form runs the same query in well under a second of prefilter
    time.)

    False positives pass the prefilter and are removed by the exact semi
    join — the result is bit-identical to the plain semi join (exactly
    what the oracle checks); the win is shuffle bytes: only prefilter
    survivors exchange.  This is what AQE's runtime filters do, made
    explicit and portable."""
    from lakeforge.functions.keys import md5_int

    n_hashes = 3
    n_words = (n_bits + 63) // 64

    def positions(col):
        return [
            F.pmod(md5_int(col, F.lit(f"bloom{h}")), F.lit(n_bits))
            for h in range(n_hashes)
        ]

    words = (
        keys.select(
            F.explode(F.array(*positions(F.col(keys_key)))).alias("bit")
        )
        .select(
            F.expr("CAST(bit div 64 AS INT)").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))").alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("bits"))
    )
    bitmap = words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("wm")
    ).select(
        F.expr(
            f"transform(sequence(0, {n_words - 1}),"
            f" i -> coalesce(element_at(wm, i), CAST(0 AS BIGINT)))"
        ).alias("bitmap")
    )
    probed = fact.crossJoin(F.broadcast(bitmap))
    pred = None
    for h in range(n_hashes):
        # CAST(conv(...) AS BIGINT) before pmod: conv returns STRING and
        # pmod would coerce via DOUBLE, losing exactness above 2^53 —
        # probe buckets would silently diverge from the build side's
        # md5_int (false NEGATIVES).
        p_sql = (
            f"pmod(CAST(conv(substring(md5(concat_ws(char(31), "
            f"coalesce(CAST({fact_key} AS STRING), char(30)), 'bloom{h}')), 1, 15), 16, 10)"
            f" AS BIGINT), {n_bits})"
        )
        c = F.expr(
            f"(element_at(bitmap, CAST(({p_sql}) div 64 AS INT) + 1)"
            f" & shiftleft(CAST(1 AS BIGINT), CAST(({p_sql}) % 64 AS INT))) != 0"
        )
        pred = c if pred is None else (pred & c)
    prefiltered = probed.filter(pred).drop("bitmap")
    return prefiltered.join(
        keys, prefiltered[fact_key] == keys[keys_key], "left_semi"
    )
