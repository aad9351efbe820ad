"""Text analysis operators: tokenization, quality stats, language ID,
document fingerprinting.

Everything is built from JVM-side ``pyspark.sql.functions`` (no Python in
the hot path): at 100 TB a row-at-a-time Python UDF tokenizer would be the
pipeline bottleneck; ``split``/``filter``/``transform`` run inside
whole-stage codegen.

Ratios are integer per-mille (value * 1000 // n) rather than floats so
results are exact and engine-portable (DuckDB oracle checks them
bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lakeforge.functions.keys import md5_int

# Tiny English function-word list for the stopword-ratio heuristic.
STOPWORDS = ("the", "a", "an", "of", "to", "and", "in", "is", "for", "on", "it")

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


def tokens_col(text_col: str) -> Column:
    """Whitespace tokenization, lowercased, empty tokens removed.

    DuckDB twin: ``list_filter(regexp_split_to_array(lower(x), '\\s+'),
    t -> t <> '')``.
    """
    return F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")


def text_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document quality profile: char/token/unique-token/stopword
    counts and stopword per-mille."""
    with_toks = df.select(
        id_col, F.length(F.col(text_col)).cast("bigint").alias("n_chars"),
        tokens_col(text_col).alias("__toks"),
    )
    n_stop = F.expr(f"size(filter(__toks, t -> t IN ({_STOP_SQL})))").cast("bigint")
    out = with_toks.select(
        id_col,
        "n_chars",
        F.size("__toks").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("__toks")).cast("bigint").alias("n_uniq_tokens"),
        n_stop.alias("n_stop"),
    )
    return out.withColumn(
        "stop_permille",
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("bigint")).otherwise(
            F.expr("(n_stop * 1000) div n_tokens")
        ),
    )


def lang_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """N-gram-free language-ID heuristic: English iff the stopword ratio
    reaches 30 per mille.  (A real model would be a Pandas-UDF fastText
    call; the Spark plumbing — project, score, threshold — is identical.)"""
    stats = text_stats(df, text_col, id_col)
    return stats.select(
        id_col,
        F.when(F.col("stop_permille") >= 30, F.lit("en"))
        .otherwise(F.lit("unk"))
        .alias("lang_pred"),
    )


def doc_fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deterministic 60-bit content fingerprint over the normalized
    (lowercased, whitespace-collapsed) token stream."""
    return df.select(
        id_col,
        md5_int(F.array_join(tokens_col(text_col), " ")).alias("fingerprint"),
    )


# GPT-2-style pretokenizer, simplified to the subset Java regex and RE2
# (DuckDB) evaluate identically — no lookahead (RE2 has none), no
# contraction alternates.  Chunks = optional-space + letters | digits |
# punctuation runs.
BPE_REGEX = r" ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def token_counts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace and BPE-ish token counts per document.

    The BPE-ish count approximates LLM token budgets ~2-4x better than
    whitespace counts on prose (punctuation and numbers split off), while
    staying JVM-side (regexp_extract_all inside codegen — no Python).
    """
    return df.select(
        id_col,
        F.size(tokens_col(text_col)).cast("bigint").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), 0))
        .cast("bigint")
        .alias("n_bpe_tokens"),
    )


# PII patterns chosen from the RE2-compatible subset (no lookaround, no
# backrefs) so Spark (Java regex) and oracle engines evaluate identically.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"[0-9]{3}-[0-9]{3,8}"


def scrub_pii(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Redact emails/phone numbers from a text column (training-data
    hygiene pre-step), entirely JVM-side inside codegen — the redaction
    runs at scan speed with no Python in the path.

    Returns (doc_id, n_emails, n_phones, text) with matches replaced by
    typed placeholders; counts let a pipeline route high-PII documents to
    quarantine instead of training.
    """
    email = F.lit(PII_EMAIL_RE)
    phone = F.lit(PII_PHONE_RE)
    cleaned = F.regexp_replace(
        F.regexp_replace(F.col(text_col), email, "<EMAIL>"),
        phone,
        "<PHONE>",
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_count(F.col(text_col), email).cast("bigint").alias("n_emails"),
        F.regexp_count(F.col(text_col), phone).cast("bigint").alias("n_phones"),
        cleaned.alias("text"),
    )


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Within-document repetition profile (the Gopher-style quality rule):
    bigram totals, distinct bigrams, the top bigram's share, and a
    ``repetitive`` flag when one bigram dominates (> 10% of all bigrams).

    Two hash aggregates — (doc, bigram) counts, then per-doc max/sum —
    both with map-side partial aggregation; the exchanges carry bigram
    counters, never text.  Docs with < 2 tokens emit no bigrams and are
    absent from the output (same contract in the DuckDB twin).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("__toks")
    )
    bigrams = F.expr(
        "CASE WHEN size(__toks) >= 2 THEN "
        "transform(sequence(1, size(__toks) - 1), i -> concat_ws(' ', slice(__toks, i, 2))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    bg = toks.select("doc_id", F.explode(bigrams).alias("bg"))
    counts = bg.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_bigrams"),
        F.max("c").cast("bigint").alias("top_bigram_count"),
        (F.max("c") * 10 > F.sum("c")).alias("repetitive"),
    )


def char_entropy(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy (bits/char).

    A cheap, model-free quality signal: natural prose sits ~4-4.7 bits,
    near-0 flags repeated-char/boilerplate junk, near-log2(alphabet) flags
    random noise — a standard pretraining-corpus filter feature alongside
    text_stats' ratio features.

    Shape: explode to (doc, char) — JVM-side split, no Python — then ONE
    two-level aggregation.  H = log2(n) - sum(c*log2(c))/n avoids a
    per-char divide and needs only per-(doc,char) counts; the log2/divide
    touch doubles, but on exact integer counts, so cross-engine drift is
    bounded by summation order over ~100 terms (~1e-15 — far inside the
    comparator's 1e-9).
    """
    chars = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    )
    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("n_chars"),
            F.sum(F.col("c").cast("double") * F.log2(F.col("c").cast("double"))).alias("__s"),
        )
        .where(F.col("n_chars") > 0)
        .select(
            id_col,
            "n_chars",
            # round(,6) in both engines: the raw double drifts ~1e-15
            # across summation orders; 6 places is the repo's float-output
            # convention (cf. bm25/cosine scores).
            F.round(
                F.log2(F.col("n_chars").cast("double"))
                - F.col("__s") / F.col("n_chars").cast("double"),
                6,
            ).alias("entropy_bits"),
        )
    )


def char_pair_counts(
    df: DataFrame, text_col: str, id_col: str, topk: int = 50
) -> DataFrame:
    """Corpus-wide adjacent-character-pair frequencies — the counting step
    of one BPE merge round (the most frequent pair is the next merge).

    All JVM-side: tokenize, explode words (>=2 chars), expand each word
    into its char bigrams with transform(sequence(...)), one
    map-side-combinable groupBy(pair).  At 100 TB the exchange carries
    only per-task partial counts (alphabet^2-bounded distinct pairs), not
    the corpus.  Top-k ties break on the pair string — deterministic.
    """
    words = df.select(
        F.explode(tokens_col(text_col)).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.orderBy(F.col("n").desc(), F.col("pair").asc())
    return (
        counted.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= topk)
        .select("pair", "n", F.col("rk").alias("rank"))
    )


def bigram_likelihood(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Fluency scoring against a corpus character-bigram model — the
    zero-dependency stand-in for a KenLM perplexity filter (the classic
    pretraining quality gate): gibberish, mojibake, and wrong-alphabet
    text score low because their character transitions are rare in the
    corpus itself.

    Shape (all JVM-side):
    1. One explode + ONE shuffle builds per-doc bigram counts
       (doc, bigram) -> c; the frame is persisted because it feeds both
       the model and the scoring pass (unpersisted, the explode pipeline
       would execute twice — measured 9.1s -> 5.5s at sf0.1).
    2. MODEL: bigram totals + first-char prefix totals roll up from the
       per-doc counts (map-side combinable; distinct keys are
       alphabet²-bounded, so the model is broadcast-sized BY CONSTRUCTION
       no matter the corpus size).
    3. SCORE: broadcast-join the model back onto the per-doc counts and
       average P(bigram | first char) per doc, weighted by c.

    Integer-exact: each occurrence scores ``(bg_n * 1e6) div prefix_n``
    ppm and the per-doc mean is an integer division of integer sums —
    order-independent, so the DuckDB oracle matches bit-for-bit (the
    repo's convention for float-free approximate-op oracles).

    Returns (id, n_bigrams, mean_bigram_ppm); docs shorter than 2 chars
    are excluded (no bigrams, undefined mean).
    """
    from lakeforge import cache

    # Bigrams come from ONE split into a char array + two slices zipped —
    # O(n) per doc.  The earlier substring-in-lambda form re-evaluated
    # lower(text) and re-scanned the string per POSITION (O(n^2)/doc):
    # this stage measured 7.4s -> 1.7s at sf0.1 on the rewrite.  The
    # size-2 filter also guards the slice bounds (length>=2 <=> >=1
    # bigram).
    chars = df.select(
        F.col(id_col).alias("__id"),
        F.split(F.lower(F.col(text_col)), "").alias("__ch"),
    ).filter(F.size("__ch") >= 2)
    bgc = cache.persist_tracked(
        chars.select(
            "__id",
            F.explode(
                F.expr(
                    "zip_with(slice(__ch, 1, size(__ch) - 1),"
                    "         slice(__ch, 2, size(__ch) - 1),"
                    "         (a, b) -> concat(a, b))"
                )
            ).alias("bg"),
        )
        .groupBy("__id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    model = bgc.groupBy("bg").agg(F.sum("c").alias("bg_n"))
    prefix = (
        model.groupBy(F.substring("bg", 1, 1).alias("pfx"))
        .agg(F.sum("bg_n").alias("pfx_n"))
    )
    scored = (
        bgc.join(F.broadcast(model), "bg")
        .join(
            F.broadcast(prefix),
            F.substring("bg", 1, 1) == F.col("pfx"),
        )
        .select(
            "__id",
            "c",
            F.expr("c * ((bg_n * 1000000) div pfx_n)").alias("w_ppm"),
        )
    )
    return scored.groupBy("__id").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.expr("sum(w_ppm) div sum(c)").cast("bigint").alias("mean_bigram_ppm"),
    ).select(F.col("__id").alias(id_col), "n_bigrams", "mean_bigram_ppm")


def token_counts_arrow(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``token_counts`` computed via ``mapInArrow`` + pyarrow.compute —
    the Arrow-native Python path (no pandas materialization: columns stay
    Arrow arrays end-to-end, the zero-copy option when the per-batch work
    is itself vectorized).

    Exists as the API-surface twin of the JVM ``token_counts`` (which is
    the production default — regexp inside codegen beats shipping text to
    Python).  Same output contract, same oracle.  RE2 (pyarrow) and Java
    regex evaluate the shared patterns identically — the same
    compatible-subset discipline as BPE_REGEX / the PII patterns.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def run(batches):
        for batch in batches:
            t = batch.column(batch.schema.get_field_index(text_col))
            ws = pc.list_value_length(
                pc.split_pattern_regex(
                    pc.utf8_lower(t), pattern=r"\s+"
                )
            )
            # split on runs of whitespace gives empty FIRST/LAST slots for
            # leading/trailing whitespace (and [''] for empty strings):
            # subtract them to match array_remove(split(..), '').
            lead = pc.match_substring_regex(t, r"^\s|^$")
            trail = pc.match_substring_regex(t, r"\s$")
            n_ws = pc.subtract(
                pc.subtract(ws, pc.cast(lead, pa.int32())),
                pc.cast(trail, pa.int32()),
            )
            n_bpe = pc.count_substring_regex(t, pattern=BPE_REGEX)
            ids = batch.column(batch.schema.get_field_index(id_col))
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pc.cast(n_ws, pa.int64()),
                    pc.cast(n_bpe, pa.int64()),
                ],
                names=[id_col, "n_ws_tokens", "n_bpe_tokens"],
            )

    return df.select(id_col, text_col).mapInArrow(
        run, schema=f"{id_col} bigint, n_ws_tokens bigint, n_bpe_tokens bigint"
    )


def quality_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Rule-based quality classifier: the cheap linear filter every
    pretraining pipeline runs before any model-based scoring (C4/Gopher
    style heuristics).  All-integer features and weights so the verdict is
    bit-identical on any engine:

    - ``stop_pm``   stopword per-mille — natural prose has function words;
    - ``uniq_pm``   distinct-token per-mille — low = repetitive spam;
    - ``len_band``  200 bonus when 30 <= n_tokens <= 500 (too short = no
      signal, too long at fixed quality = likely boilerplate/log dump).

    score = 2*stop_pm + uniq_pm + len_band; label keep at score >= 700,
    else drop.  Weights and threshold are pinned constants — swap in learned
    ones without touching the plan.

    Scale: one Project over the scan (no shuffle, no UDF); the filter can
    push the drop before any downstream shuffle of text bytes.
    """
    with_toks = df.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("__toks")
    )
    n_toks = F.size("__toks").cast("bigint")
    n_stop = F.expr(f"size(filter(__toks, t -> t IN ({_STOP_SQL})))").cast("bigint")
    n_uniq = F.size(F.array_distinct("__toks")).cast("bigint")
    counts = with_toks.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        n_stop.alias("__n_stop"),
        n_uniq.alias("__n_uniq"),
    )
    # Integer `div` (module idiom, cf. text_stats) — exact match for the
    # oracle's `//`.
    feats = counts.select(
        "doc_id",
        "n_tokens",
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("bigint"))
        .otherwise(F.expr("(__n_stop * 1000) div n_tokens"))
        .alias("stop_pm"),
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("bigint"))
        .otherwise(F.expr("(__n_uniq * 1000) div n_tokens"))
        .alias("uniq_pm"),
    )
    score = (
        F.col("stop_pm") * 2
        + F.col("uniq_pm")
        + F.when(F.col("n_tokens").between(30, 500), F.lit(200)).otherwise(F.lit(0))
    ).cast("bigint")
    return feats.select(
        "doc_id",
        "n_tokens",
        "stop_pm",
        "uniq_pm",
        score.alias("quality_score"),
        F.when(score >= 700, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("label"),
    )
