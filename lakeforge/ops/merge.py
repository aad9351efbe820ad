"""Incremental full-history CDC merge (reference: D5 —
bronze_to_silver.py:94-108; SURVEY.md §2.3, §7).

Semantics: silver keeps FULL history; each batch is unioned with existing
rows and exact duplicates (by merge key) collapse.  Initial load
short-circuits to a plain write.

Differences from the reference, all scale-motivated:

1. **Partition-scoped, not whole-table** (fixes README.md:213's false
   claim): only partitions present in the incoming batch are read back,
   merged, and rewritten via dynamic partition overwrite.  At 100 TB,
   rewriting the whole table per batch is a non-starter; rewriting the
   handful of touched ``p_ym`` months is O(batch).
2. **Object-store-safe probe**: Hadoop ``FileSystem`` instead of
   ``os.path.exists`` (``io.sources.read_parquet_if_exists``).

The write reads the very partitions it replaces, with no materialized
copy in between.  That is safe only under dynamic partition overwrite,
which ``write_partitioned_parquet`` pins per writer: Spark writes the new
partitions to a staging directory and swaps them in at job commit, so the
old files are still there while the job reads them, and a job that fails
leaves them as they were.  A static overwrite deletes the target's files
before the job runs, so it cannot safely read them; hence the merge
requires partition columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeforge.io.sinks import write_partitioned_parquet
from lakeforge.io.sources import read_parquet_if_exists
from lakeforge.ops.dedup import dedup_exact


def _prune_to_touched(
    existing: DataFrame, new_df: DataFrame, partition_cols: list[str]
) -> DataFrame | None:
    """Prune the read-back to partitions the batch touches: the join-free
    way is an IN-list of the batch's (small) distinct partition tuples.
    None when the batch touches no partition (it is empty)."""
    touched = [
        tuple(r) for r in new_df.select(*partition_cols).distinct().collect()
    ]
    if not touched:
        return None
    pred = None
    for t in touched:
        term = None
        for c, v in zip(partition_cols, t):
            # eqNullSafe, not ==: a batch row with a NULL partition value
            # targets the __HIVE_DEFAULT_PARTITION__ directory, which reads
            # back as NULL.  With `==` the predicate is NULL -> existing
            # rows of that partition are NOT read back, yet dynamic
            # overwrite still rewrites it from the batch alone — silently
            # dropping all prior rows in the NULL partition (round-2
            # ADVICE, medium).
            cmp = F.col(c).eqNullSafe(F.lit(v))
            term = cmp if term is None else (term & cmp)
        pred = term if pred is None else (pred | term)
    return existing.filter(pred)


def merge_full_history(
    spark: SparkSession,
    new_df: DataFrame,
    path: str,
    keys: list[str],
    partition_cols: list[str],
) -> None:
    """Merge ``new_df`` into the silver table at ``path``: rewrite the
    partitions the batch touches with the batch unioned with their
    existing rows, exact duplicates by ``keys`` collapsed.  A batch that
    touches no partition of an existing table rewrites nothing.  On the
    initial load the batch still deduplicates (a merge with an empty
    table — the reference collapses in-batch dupes the same way,
    bronze_to_silver.py:106,146)."""
    if not partition_cols:
        raise ValueError(
            "merge_full_history: partition_cols is empty — the merge "
            "overwrites the partitions it reads, which only a dynamic "
            "partition overwrite does safely"
        )
    df = new_df
    existing = read_parquet_if_exists(spark, path)
    if existing is not None:
        existing = _prune_to_touched(existing, new_df, partition_cols)
        if existing is None:
            return
        df = existing.select(*new_df.columns).unionByName(new_df)
    write_partitioned_parquet(dedup_exact(df, keys), path, partition_cols)


def table_diff(
    old: DataFrame, new: DataFrame, keys: list[str]
) -> DataFrame:
    """Keyed diff of two table snapshots: one row per changed key with a
    change_type of 'added' / 'removed' / 'modified'.

    The lakehouse audit primitive (version-to-version drift, CDC replay
    validation, sync verification).  Shape: ONE full-outer join on the key
    columns comparing xxhash64 row digests — payloads never shuffle twice,
    unchanged rows drop out before the result materializes.  At 100 TB
    both sides shuffle once by key.

    Tradeoff (documented, round-3 ADVICE): 'modified' detection compares
    64-bit xxhash64 digests, so a hash collision between a row's old and
    new payloads (~2^-64 per changed row) silently classifies it as
    unchanged.  Acceptable for drift audits; use a full value comparison
    where a missed modification is unacceptable.  Key-only tables have no
    payload to digest — that degenerate diff is added/removed-only, which
    callers must request explicitly via a presence flag, so it raises.
    """
    payload_cols = [c for c in old.columns if c not in keys]
    if not payload_cols:
        raise ValueError(
            "table_diff: every column is a key — no payload to compare. "
            "For existence-only diffs, diff on a constant payload, e.g. "
            "df.withColumn('__present', F.lit(1))."
        )

    def hashed(df: DataFrame, tag: str) -> DataFrame:
        payload = [c for c in df.columns if c not in keys]
        return df.select(
            *keys,
            F.xxhash64(*[F.col(c) for c in payload]).alias(f"__h_{tag}"),
        )

    o = hashed(old, "old")
    n = hashed(new, "new")
    j = o.join(n, keys, "full_outer")
    return j.select(
        *keys,
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old") != F.col("__h_new"), F.lit("modified"))
        .alias("change_type"),
    ).where(F.col("change_type").isNotNull())


def merge_on_read_view(
    base: DataFrame,
    deltas: DataFrame,
    keys: list[str],
    seq_col: str,
) -> DataFrame:
    """MERGE-ON-READ resolution: base + delta-log union, latest-wins per
    key at READ time — the other half of the lakehouse story next to the
    copy-on-write `merge_full_history` (write-cheap /
    read-costly vs write-costly / read-cheap; Hudi MOR, Delta deletion
    vectors, Iceberg v2 equality deletes all play this trade).

    ``deltas`` rows carry ``seq_col`` (monotone change sequence; base
    rows rank as seq = -infinity via NULL) and an optional boolean
    ``_deleted`` delete marker.  Resolution = one window rank per key
    over (seq desc): newest row wins; if the winner is a delete marker
    the key disappears.

    Scale: ONE shuffle on the key columns over base+deltas; at real
    scale the delta log is small relative to base, so AQE's skew handling
    plus the fact that ranks-per-key are tiny keeps the window cheap.
    Read amplification grows with the delta log until a compaction folds
    the log into the base; this module has no compaction step."""
    from pyspark.sql import Window

    deleted_col = "_deleted"
    if deleted_col not in deltas.columns:
        deltas = deltas.withColumn(deleted_col, F.lit(False))
    b = base.withColumn(seq_col, F.lit(None).cast("bigint")).withColumn(
        deleted_col, F.lit(False)
    )
    all_rows = b.unionByName(deltas.select(*b.columns))
    # (keys, seq) SHOULD be unique in the delta log; if two deltas share a
    # seq for one key, break the tie deterministically on a hash of the
    # VALUE columns plus the delete marker (the key columns are constant
    # within the window partition, so they can never break a tie, but a
    # delete marker and an upsert with identical value columns CAN share
    # (keys, seq) — ADVICE r05 #2 — so deleted_col must participate).
    value_cols = [
        c for c in all_rows.columns if c not in (*keys, seq_col)
    ]
    w = Window.partitionBy(*keys).orderBy(
        F.col(seq_col).desc_nulls_last(),
        F.xxhash64(*[F.col(c) for c in value_cols]).asc()
        if value_cols else F.lit(0).asc(),
    )
    resolved = (
        all_rows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return resolved.filter(~F.col(deleted_col)).drop(deleted_col, seq_col)


def merge_aggregates(
    old_agg: DataFrame,
    delta_agg: DataFrame,
    keys: list[str],
    measures: dict[str, str],
) -> DataFrame:
    """Incremental view maintenance for distributive aggregates: combine a
    materialized aggregate with a delta batch's aggregate WITHOUT
    re-reading the base table — new = old (+) delta, per key.

    ``measures`` maps column -> combine rule: ``sum``/``count`` (add,
    absent side contributes zero), ``min``/``max`` (null-safe least/
    greatest).  AVG is maintained as its (sum, count) pair; derive the
    ratio downstream.  Non-distributive aggregates (exact distinct,
    median) cannot be maintained this way — keep a sketch (HLL/KLL)
    or recompute.

    Scale: this is THE pattern that turns a 100 TB nightly full-table
    aggregate into an O(delta) job — the only shuffle is on ``keys`` over
    two already-aggregated (tiny) inputs.  The full-recompute equivalence
    is what the orders_ivm_revenue oracle checks."""
    bad = {c: r for c, r in measures.items() if r not in ("sum", "count", "min", "max")}
    if bad:
        raise ValueError(f"unsupported combine rules: {bad}")
    d = delta_agg.select(
        *keys, *[F.col(c).alias(f"__d_{c}") for c in measures]
    )
    j = old_agg.join(d, keys, "full_outer")
    out_cols: list = [F.col(k) for k in keys]
    for c, rule in measures.items():
        a, b = F.col(c), F.col(f"__d_{c}")
        if rule in ("sum", "count"):
            zero = F.lit(0)
            combined = F.coalesce(a, zero) + F.coalesce(b, zero)
        elif rule == "min":
            combined = F.least(F.coalesce(a, b), F.coalesce(b, a))
        else:
            combined = F.greatest(F.coalesce(a, b), F.coalesce(b, a))
        out_cols.append(combined.cast(old_agg.schema[c].dataType).alias(c))
    return j.select(*out_cols)


def join_delta(
    old_a: DataFrame,
    delta_a: DataFrame,
    old_b: DataFrame,
    delta_b: DataFrame,
    on: list[str] | str,
) -> DataFrame:
    """Delta rows of (A ∪ ΔA) ⋈ (B ∪ ΔB) with respect to A ⋈ B — the
    classic inner-equi-join IVM delta rule:

        Δ(A ⋈ B) = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB

    (insert-only deltas; deletions need counting/multiplicity IVM).
    Feed the result through the same aggregation as the materialized view
    and combine with ``merge_aggregates``: new_view = old_view ⊕ agg(Δ).

    Scale: the whole point is that none of the three terms re-joins
    A with B.  ΔA ⋈ B probes the big stored side with a small delta
    (at 100 TB the stored side stays partition-pruned on the join key).
    A ⋈ ΔB is the expensive-looking term — a full scan of A against a
    delta dimension — but delta dims are micro-batch sized in practice,
    so AQE broadcasts them at runtime and the scan of A never shuffles;
    the delta sides are deliberately UNHINTED (r9 sweep: a delta is
    still a fraction of a scaling table, so a mandatory hint is a
    driver-kill the one night the backfill delta is huge — AQE degrades
    that case to a shuffle join instead).  ΔA ⋈ ΔB is delta-sized on
    both sides.
    """
    return (
        delta_a.join(old_b, on)
        .unionByName(old_a.join(delta_b, on))
        .unionByName(delta_a.join(delta_b, on))
    )


def merkle_bucket_digests(
    df: DataFrame,
    key_cols: list[str],
    hash_cols: list[str],
    n_buckets: int = 4096,
) -> DataFrame:
    """Per-bucket content digest of a snapshot — (bucket, digest, n_rows).

    Rows are assigned to ``pmod(md5_int(key_cols), n_buckets)`` buckets and
    each bucket's digest is ``bit_xor`` of the 60-bit row content hash over
    ``hash_cols`` — XOR is commutative/associative, so the digest is
    partitioning- and order-independent (and engine-reproducible via the
    md5 convention, functions/keys.py).  Map-side combine means the shuffle
    carries at most ``n_buckets`` rows per task regardless of table size.

    Callers pass CANONICALIZED hash columns (cents not doubles, dates not
    timestamps) — raw double/timestamp string renderings are not guaranteed
    identical across engines.

    Caveat (same class as table_diff's): XOR of 60-bit hashes can collide —
    a pair of changed rows whose hash deltas cancel (~2^-60 per bucket)
    makes a differing bucket read equal.  Acceptable for reconciliation
    triage; row-level verification of flagged buckets is the second pass.
    """
    from lakeforge.functions.keys import md5_int

    return (
        df.select(
            F.pmod(md5_int(*key_cols), F.lit(n_buckets)).alias("bucket"),
            md5_int(*hash_cols).alias("__rh"),
        )
        .groupBy("bucket")
        .agg(
            F.expr("bit_xor(__rh)").alias("digest"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )


def merkle_bucket_diff(
    a: DataFrame,
    b: DataFrame,
    key_cols: list[str],
    hash_cols: list[str],
    n_buckets: int = 4096,
) -> DataFrame:
    """Anti-entropy reconciliation of two snapshots WITHOUT joining them:
    compare per-bucket digests and report each bucket's status —
    (bucket, status 'equal'|'differs', n_a, n_b).

    This is the Merkle/anti-entropy pattern (Dynamo-style replica sync,
    DeWitt et al.'s hash-partitioned verification): at 100 TB a full keyed
    diff (table_diff) shuffles both tables by key; this first pass shuffles
    ``n_buckets`` digest rows instead, and only the differing fraction of
    buckets needs the row-level pass (a semi join on the bucket id which
    prunes cleanly if the tables are bucket-partitioned on the same key
    hash).  Empty buckets on one side surface as count 0, never NULL.
    """
    da = merkle_bucket_digests(a, key_cols, hash_cols, n_buckets)
    db = merkle_bucket_digests(b, key_cols, hash_cols, n_buckets)
    ja = da.select("bucket", F.col("digest").alias("d_a"), F.col("n_rows").alias("n_a"))
    jb = db.select("bucket", F.col("digest").alias("d_b"), F.col("n_rows").alias("n_b"))
    j = ja.join(jb, "bucket", "full_outer")
    return j.select(
        "bucket",
        F.when(
            F.col("d_a").eqNullSafe(F.col("d_b"))
            & F.col("n_a").eqNullSafe(F.col("n_b")),
            F.lit("equal"),
        )
        .otherwise(F.lit("differs"))
        .alias("status"),
        F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
    )
