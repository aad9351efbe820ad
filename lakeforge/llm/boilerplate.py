"""Cross-document boilerplate detection: n-grams shared by many documents.

Web/corpus boilerplate (navigation strings, license headers, template
footers) repeats across documents; training-data pipelines strip documents
dominated by it (the C4 paper's line-dedup is the same idea at line grain).
The reference repo has no equivalent operator — this is training-pipeline
extension surface, same family as llm/dedup.py.

Pipeline shape (all JVM-side, two jobs at any scale):

1. ``ngram_doc_freq``: explode each document's DISTINCT word n-grams and
   count documents per gram — ONE groupBy(gram) shuffle with map-side
   partial aggregation (the distinct-per-doc projection happens before the
   exchange, so the shuffle carries each (doc, gram) once, not once per
   occurrence).
2. ``boilerplate_ngrams``: grams whose document frequency reaches
   ``min_df_permille`` of the corpus.  The threshold is a corpus FRACTION,
   not an absolute count, so the operator is scale-invariant; the cutoff
   count is integer math (``(permille * n_docs + 999) div 1000``) so any
   engine computes the identical boundary.
3. ``boilerplate_coverage``: per document, how many of its distinct grams
   are boilerplate.  The boilerplate set is by construction small (only
   grams shared by >= permille/1000 of the corpus can exist: their count
   is bounded by 1000/permille x the per-doc gram count), so it is
   collected into ONE array and broadcast; coverage is then a zero-shuffle
   ``array_intersect`` per row — no explode, no second aggregation.  If a
   pathological corpus (near-identical docs) makes the set huge, fall back
   to an explode + broadcast-join + groupBy(doc) count; the guard below
   raises before a silent driver OOM.

At 100 TB: step 1's shuffle is the only corpus-sized exchange and carries
short gram strings (hash to 64-bit fingerprints first if grams are long —
see llm/dedup.py's fingerprint discipline); steps 2-3 touch only the tiny
df table and a broadcast array.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakeforge.llm.dedup import shingles_col
from lakeforge.llm.text import tokens_col

# collect-guard: refuse to broadcast a boilerplate set larger than this —
# at that size the caller should use the explode-join formulation instead.
MAX_BROADCAST_GRAMS = 1_000_000


def ngram_doc_freq(
    df: DataFrame, text_col: str, id_col: str, n: int = 2
) -> DataFrame:
    """Document frequency of every distinct word n-gram: (ngram, df)."""
    grams = df.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("__toks")
    ).select("doc_id", F.explode(shingles_col("__toks", n)).alias("ngram"))
    return grams.groupBy("ngram").agg(F.count("*").cast("bigint").alias("df"))


def _min_df(df: DataFrame, min_df_permille: int):
    """Integer-exact cutoff: ceil(permille/1000 * n_docs) as a 1-row frame."""
    return df.agg(
        ((F.count("*") * min_df_permille + 999) / 1000)
        .cast("bigint")
        .alias("__min_df")
    )


def boilerplate_ngrams(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 2,
    min_df_permille: int = 50,
) -> DataFrame:
    """Grams appearing in >= ``min_df_permille``/1000 of documents:
    (ngram, df).  Broadcast-scalar threshold — no driver action."""
    freq = ngram_doc_freq(df, text_col, id_col, n)
    return (
        freq.crossJoin(F.broadcast(_min_df(df, min_df_permille)))
        .filter(F.col("df") >= F.col("__min_df"))
        .drop("__min_df")
    )


def boilerplate_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 2,
    min_df_permille: int = 50,
) -> DataFrame:
    """Per-document boilerplate profile:
    (doc_id, n_grams, n_boiler, boiler_permille).

    ``n_grams`` counts the document's DISTINCT n-grams; ``n_boiler`` those
    that are corpus boilerplate; ``boiler_permille`` the integer per-mille
    ratio (0 for documents too short to have any gram).
    """
    from lakeforge.cache import persist_tracked

    # Small by construction (df >= permille/1000 of corpus bounds the set);
    # guarded collect into one broadcast array => zero-shuffle coverage.
    # Persisted so the guard count and the collect_list share ONE corpus
    # scan (query-boundary released via lakeforge.cache).
    boiler = persist_tracked(
        boilerplate_ngrams(df, text_col, id_col, n, min_df_permille)
    )
    if boiler.limit(MAX_BROADCAST_GRAMS + 1).count() > MAX_BROADCAST_GRAMS:
        raise ValueError(
            f"boilerplate set exceeds {MAX_BROADCAST_GRAMS} grams — corpus "
            f"is pathologically self-similar; use an explode-join coverage "
            f"(groupBy doc after a broadcast semi-join) instead."
        )
    boiler_arr = boiler.agg(F.collect_list("ngram").alias("__boiler"))
    out = (
        df.select(
            F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("__toks")
        )
        .withColumn("__grams", shingles_col("__toks", n))
        .crossJoin(F.broadcast(boiler_arr))
        .select(
            "doc_id",
            F.size("__grams").cast("bigint").alias("n_grams"),
            F.size(F.array_intersect("__grams", "__boiler"))
            .cast("bigint")
            .alias("n_boiler"),
        )
    )
    return out.withColumn(
        "boiler_permille",
        F.when(F.col("n_grams") == 0, F.lit(0).cast("bigint")).otherwise(
            F.expr("(n_boiler * 1000) div n_grams")
        ),
    )
