"""TF-IDF and BM25 relevance scoring over a document corpus.

Training-data pipelines use these as quality / topicality signals (keyword
salience for domain filtering, query-relevance scoring for targeted corpus
construction).  The reference has no ranking surface; this extends the
text-analysis family (SURVEY.md §2 extensions) with the two classic
lexical-relevance scores.

Scale shape (the 100 TB story):

- One corpus scan tokenizes and explodes to (doc, term) rows — the shuffle
  is O(total tokens), the unavoidable cost of any inverted-index build.
- Document frequencies are an aggregate OF the term-frequency frame
  (vocabulary-sized output, Zipf-bounded); the tf frame is persisted via
  the tracked registry because both the df aggregate and the scoring join
  consume it — without the persist the explode runs twice.
- BM25 filters the exploded stream to the query's terms BEFORE any
  aggregation (inverted-index probe: only hit docs are scored, docs with
  no query term never shuffle), and the per-term df/idf side is
  |query_terms| rows — broadcast by AQE.
- Global top-k uses ``orderBy().limit(k)`` (Spark's TakeOrdered: per-
  partition top-k, merge of k·partitions rows) — never a single-partition
  ``row_number`` window.
- Scores are double; ``round(_, 4)`` absorbs sub-ulp ln/summation jitter
  so the DuckDB oracle hash-matches (same convention as geo_mean_price,
  workload_rel.py:978).  Ordering ties break on the rounded score then
  term/doc_id, so top-k sets are engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakeforge.cache import persist_tracked
from lakeforge.llm.text import tokens_col


def term_frequencies(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc, term) -> tf over the whitespace-token stream (lowercased)."""
    toks = docs.select(id_col, F.explode(tokens_col(text_col)).alias("term"))
    return toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Top-k most salient terms per document by tf·idf (idf = ln(N/df))
    over the ``text`` column of ``docs``, keyed by ``doc_id``.

    Output: (doc_id, term, tf, df, tfidf, rk); rk is 1-based, ties broken
    by term so the result is deterministic on both engines.
    """
    # tf feeds BOTH the df aggregate and the scoring join — persist so the
    # tokenize+explode+agg runs once (released at the query boundary).
    tf = persist_tracked(term_frequencies(docs, "text", "doc_id"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")  # vocab-sized build side; AQE broadcasts it
        .crossJoin(F.broadcast(n))  # 1-row scalar fan-out
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    topk: int = 20,
) -> DataFrame:
    """Top-k documents (``doc_id``, ``bm25``) for a bag-of-terms query
    under BM25 over the ``text`` column, with k1 = 1.5 and b = 0.75.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)); only documents containing
    at least one query term are scored (inverted-index probe — the
    filter sits directly on the exploded token stream, so non-hit
    documents never reach a shuffle).

    k1/b are exactly-representable binary fractions (1.5, 0.75 —
    so k1+1, 1-b, b are too): every constant in the scoring expression is
    then the same double on any engine, and the oracle's literals match
    bit-for-bit.
    """
    if not query_terms:
        raise ValueError("bm25_topk needs at least one query term")
    k1, b = 1.5, 0.75
    base = docs.select(
        F.col("doc_id"),
        F.size(tokens_col("text")).cast("bigint").alias("dl"),
        F.explode(tokens_col("text")).alias("term"),
    )
    hits = base.filter(F.col("term").isin([t.lower() for t in query_terms]))
    # Per (doc, query-term) tf with the doc length carried along; persisted
    # because the df aggregate and the scoring join both consume it.
    tfq = persist_tracked(
        hits.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.max("dl").alias("dl"),
        )
    )
    dfq = tfq.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    stats = docs.select(
        F.size(tokens_col("text")).cast("bigint").alias("__dl")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.avg("__dl").alias("avgdl"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tfq.join(F.broadcast(dfq), "term")  # |query_terms| rows
        .crossJoin(F.broadcast(stats))  # 1-row scalar
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tf_part), 4).alias("bm25"))
    )
    # TakeOrdered top-k (no global single-partition window); rounded-score
    # then doc-id ordering keeps the selected SET engine-portable.
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(topk)
