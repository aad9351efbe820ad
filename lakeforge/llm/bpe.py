"""Iterative BPE-style merge training, distributed.

The core tokenizer-training loop (Sennrich et al. 2016, arXiv:1508.07909)
at corpus scale: count adjacent token pairs globally, pick the most
frequent pair, merge every greedy left-to-right occurrence, repeat.  Each
round is two distributed passes (a pair-count aggregate and a windowed
merge rewrite); only the single winning pair crosses to the driver per
round — the classic bounded-driver iterative shape (same as k-means
centroids / pagerank's rank vector).

The greedy left-to-right merge is expressed RELATIONALLY (no regex, no
Python loop over tokens): within each maximal run of consecutive
pair-match positions, exactly the even offsets merge — e.g. for pair
(a,a) in "a a a a", positions 0 and 2 merge, 1 and 3 are consumed.  This
formulation ports verbatim to the DuckDB oracle, so the whole training
loop is value-checkable.

Scale notes:
- Pair counting is map-side combinable (groupBy on (tok, next)); the
  merge rewrite is one window chain per round, shuffling by doc only.
- The token frame is localCheckpoint-ed at each round boundary (same
  cache discipline as ops/graph.py): each round reads it TWICE (pair
  count + merge rewrite), so without the cut every round would re-run
  all previous rounds' windows twice and the plan would double per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakeforge.llm.text import tokens_col


def bpe_train_merges(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n_merges: int = 3,
    joiner: str = "_",
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over whitespace tokens; returns one
    row per round: (merge_round, merge_left, merge_right, pair_count,
    corpus_tokens_after).  pair_count is the global adjacent-pair count
    at selection time (overlaps included, the classic convention);
    corpus_tokens_after proves the greedy merge actually applied (each
    applied merge removes one token, and overlapping occurrences apply
    fewer merges than pair_count)."""
    from lakeforge import cache

    spark = docs.sparkSession
    t = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens_col(text_col)).alias("rpos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("rpos")
    stats: list[tuple[int, str, str, int, int]] = []

    def _cut(frame: DataFrame, prev: set[int]) -> tuple[DataFrame, set[int]]:
        """Materialize once; release the previous round's blocks."""
        frame, new_ids = cache.checkpoint_eager(frame)
        cache.unpersist_rdd_ids(spark, prev)
        return frame, new_ids

    t, prev_ids = _cut(t, set())
    for r in range(n_merges):
        paired = t.withColumn("nxt", F.lead("tok").over(w))
        best = (
            paired.filter(F.col("nxt").isNotNull())
            .groupBy("tok", "nxt")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("tok").asc(), F.col("nxt").asc())
            .limit(1)
            .collect()  # exactly one row per round crosses to the driver
        )
        if not best:
            break
        a, b, cnt = best[0]["tok"], best[0]["nxt"], int(best[0]["cnt"])
        merged_tok = f"{a}{joiner}{b}"

        isp = F.coalesce(
            (F.col("tok") == a) & (F.col("nxt") == b), F.lit(False)
        )
        m = (
            paired.withColumn("isp", isp)
            .withColumn(
                "prn", F.sum(F.col("isp").cast("int")).over(w)
            )
            # rpos - running-pair-count is constant exactly within a run
            # of CONSECUTIVE matches -> island id (NULL off matches).
            .withColumn(
                "island", F.when(F.col("isp"), F.col("rpos") - F.col("prn"))
            )
        )
        wisl = Window.partitionBy("doc_id", "island")
        m = (
            m.withColumn(
                "isl_min",
                F.min(F.when(F.col("isp"), F.col("rpos"))).over(wisl),
            )
            # greedy left-to-right == even offset within the match run
            .withColumn(
                "ms",
                F.col("isp")
                & ((F.col("rpos") - F.col("isl_min")) % 2 == 0),
            )
            .withColumn(
                "consumed",
                F.coalesce(F.lag("ms").over(w), F.lit(False)),
            )
        )
        t = (
            m.filter(~F.col("consumed"))
            .select(
                "doc_id",
                "rpos",
                F.when(F.col("ms"), F.lit(merged_tok))
                .otherwise(F.col("tok"))
                .alias("tok"),
            )
            .withColumn("rpos", F.row_number().over(w) - 1)
        )
        # Materialize the merged stream; the count reads the new blocks
        # and the next round's two passes reuse them.
        t, prev_ids = _cut(t, prev_ids)
        stats.append((r, a, b, cnt, t.count()))
    cache.unpersist_rdd_ids(spark, prev_ids)
    return spark.createDataFrame(
        stats,
        "merge_round bigint, merge_left string, merge_right string, "
        "pair_count bigint, corpus_tokens_after bigint",
    )
