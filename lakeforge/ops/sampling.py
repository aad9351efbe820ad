"""Deterministic sampling and splits for training-data pipelines.

``df.sample()`` draws from a seeded RNG over the *partitioning* — the
sample changes whenever file layout, partition count, or engine changes,
which makes pipelines unreproducible and train/test splits leak across
reruns.  These operators hash stable KEYS instead:

- **Reproducible anywhere**: md5-based (functions/keys.py), so the same
  row lands on the same side of the cut in Spark, DuckDB, or Postgres —
  which also makes every operator here oracle-checkable.
- **Key-scoped, not row-scoped**: sampling by document/user key keeps all
  rows of an entity together — the property you need so a user's events
  don't straddle the train/test boundary (leakage).
- **No shuffle**: a row-local filter on a projected hash; pushes into the
  scan stage and composes with partition pruning.

The salt namespaces each use: different salts give independent samples
from the same keys; a FIXED salt is what makes the split stable release
to release.  Where no caller varies it, the salt is fixed in the
function: ``train_test_split_col`` uses 'split', ``epoch_shuffle_key``
'epoch', ``capped_sample_per_group`` 'groupcap' and
``exact_k_per_stratum`` 'exact_k'.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakeforge.functions.keys import md5_int


def sample_permille_col(key: Column | str, salt: str) -> Column:
    """Uniform [0, 1000) bucket for a key under a salt."""
    k = F.col(key) if isinstance(key, str) else key
    return md5_int(F.lit(salt), k) % 1000


def deterministic_sample(
    df: DataFrame, key: str, permille: int, salt: str = "sample"
) -> DataFrame:
    """Keep ~permille/1000 of the keys, stably: the same key is always in
    (or always out) regardless of engine, run, or data layout."""
    return df.filter(sample_permille_col(key, salt) < permille)


def train_test_split_col(key: Column | str, test_permille: int) -> Column:
    """'test' for ~test_permille/1000 of keys, else 'train' — as a column,
    so both halves come from one scan (filter twice, or groupBy the tag)."""
    return F.when(
        sample_permille_col(key, "split") < test_permille, F.lit("test")
    ).otherwise(F.lit("train"))


def stratified_sample(
    df: DataFrame,
    class_col: str,
    key: str,
    rates_permille: dict[str, int],
    default_permille: int = 0,
    salt: str = "stratified",
) -> DataFrame:
    """Per-class sampling rates (e.g. downsample the majority class,
    keep all of a rare one).  Unlisted classes get default_permille."""
    rate: Column = F.lit(default_permille)
    for cls, p in sorted(rates_permille.items()):
        rate = F.when(F.col(class_col) == cls, F.lit(p)).otherwise(rate)
    return df.filter(sample_permille_col(key, salt) < rate)


def epoch_shuffle_key(key: Column | str, epoch: int) -> Column:
    """Deterministic per-epoch global shuffle order for training readers.

    Order by this column to get a reproducible pseudo-random permutation
    of keys; different epochs give independent permutations from the same
    data.  Materialize the order scalably with
    ``repartitionByRange(n, col).sortWithinPartitions(col)`` — a range
    shuffle, never a single-task global sort.  Engine-portable like every
    hash here (oracle-checkable in DuckDB).
    """
    k = F.col(key) if isinstance(key, str) else key
    return md5_int(F.lit("epoch"), F.lit(str(epoch)), k)


def kfold_col(key: Column | str, k: int, salt: str = "kfold") -> Column:
    """Deterministic k-fold assignment: fold = hash(salt, key) mod k.

    The cross-validation twin of ``train_test_split_col``: folds are a
    pure function of the key, so they are stable across runs, engines,
    repartitions, and incremental data arrivals (a new row lands in a
    fold without reshuffling old ones) — and shuffle-free, since the
    hash evaluates inside the scan's project."""
    kc = F.col(key) if isinstance(key, str) else key
    return (md5_int(F.lit(salt), kc) % k).cast("bigint")


def weighted_sample(
    df: DataFrame,
    key: str,
    weight: Column | str,
    ppm_per_unit: int,
    salt: str = "weighted",
) -> DataFrame:
    """Weighted Bernoulli sampling: a row with weight w is kept with
    probability min(w * ppm_per_unit, 1e6) parts-per-million — the
    importance-sampling primitive for mixture building (up-weight rare,
    high-quality sources without materializing duplicate rows).

    Same contracts as every sampler here: keyed md5 draw (stable across
    engines / layouts / reruns — and oracle-checkable), shuffle-free
    row-local filter, salt-namespaced so independent draws compose.
    Weights are evaluated per-row at filter time; integer arithmetic
    end-to-end.  Expected sample mass = sum(min(w * ppm_per_unit, 1e6))
    / 1e6 — callers pick ``ppm_per_unit`` to hit a token budget.
    """
    if ppm_per_unit <= 0:
        raise ValueError("ppm_per_unit must be positive")
    w = F.col(weight) if isinstance(weight, str) else weight
    p_ppm = F.least(
        w.cast("bigint") * F.lit(ppm_per_unit), F.lit(1_000_000)
    )
    u = md5_int(F.lit(salt), F.col(key)) % 1_000_000
    return df.filter(u < p_ppm)


def capped_sample_per_group(
    df: DataFrame,
    group_col: str,
    key: str,
    cap: int,
) -> DataFrame:
    """Deterministic per-group cap: keep at most ``cap`` rows per group,
    chosen by md5 order — the per-domain cap of web-corpus pipelines
    (no domain may dominate the training mix), reproducible across
    engines/layouts like everything in this module.

    Two-level selection so a HOT group never funnels through one reducer:

    1. rows are salted into 16 hash buckets; a window over
       (group, bucket) keeps the ``cap`` smallest hashes per bucket —
       parallelism = groups x buckets, each task bounded;
    2. a window over (group) re-ranks ONLY the <= 16*cap
       level-1 survivors and keeps the global ``cap`` smallest.

    Level 2 sees at most ``16 * cap`` rows per group regardless of
    group size — the same seam pattern as the two-level key-gap scan
    (workload_rel.q_orderkey_gaps).  Result is identical to a single
    global per-group rank: the overall top-``cap`` hashes are each top-
    ``cap`` within their own bucket, so level 1 never drops a winner.
    """
    from pyspark.sql import Window

    for c in ("__h", "__r1", "__r2"):
        if c in df.columns:
            raise ValueError(f"capped_sample_per_group: column {c} is reserved")
    h = md5_int(F.col(key), F.lit("groupcap"))
    bucket = F.pmod(h, F.lit(16))
    ranked1 = df.withColumn("__h", h).withColumn(
        "__r1",
        F.row_number().over(
            Window.partitionBy(group_col, bucket).orderBy("__h", key)
        ),
    )
    survivors = ranked1.filter(F.col("__r1") <= cap).drop("__r1")
    ranked2 = survivors.withColumn(
        "__r2",
        F.row_number().over(Window.partitionBy(group_col).orderBy("__h", key)),
    )
    return ranked2.filter(F.col("__r2") <= cap).drop("__h", "__r2")


def exact_k_per_stratum(
    df: DataFrame,
    strata_cols: list[str],
    key_col: str,
    k: int,
) -> DataFrame:
    """EXACTLY min(k, |stratum|) rows per stratum — what proportional
    sampling can't promise (small strata can draw 0 rows; Bernoulli draws
    vary run to run).  Selection order is the md5 hash of ('exact_k', key):
    uniform, deterministic, reproducible on any engine/partitioning —
    this is reservoir sampling's guarantee without its sequential state.

    Scale: ONE shuffle on the strata columns for the rank window; with k
    small the per-group sort is a bounded top-k (WindowGroupLimit pushes
    the limit into the sort at the exec level)."""
    from pyspark.sql import Window

    from lakeforge.functions.keys import md5_int

    w = Window.partitionBy(*strata_cols).orderBy(
        md5_int(F.lit("exact_k"), F.col(key_col)).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
