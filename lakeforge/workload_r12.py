"""Round-12 operators (VERDICT r11 #5/#6): the two registry continuations
the judge named, each with a derived act-signal / composition twin.

- docs_shared_substrings — cross-doc EXACT substring dedup at scale (the
  Lee-et-al. "Deduplicating Training Data Makes Language Models Better"
  ExactSubstr operator, cross-document form).  ``docs_repeated_spans``
  reports per-document repeated mass; a training-data cut needs the PAIR
  report: which documents share a long verbatim passage, and how long.
  Method (bounded by construction, no suffix array needed): positional
  token 5-gram ANCHORS hashed to 60 bits, document-frequency-capped
  (2 <= df <= 32 — grams in one doc match nothing, grams in more docs
  than the cap are boilerplate, the video op's df-cap discipline);
  per-(gram, doc) occurrence cap (8, lowest positions, deterministic)
  bounds periodic text; anchor postings self-join on the hash yields
  matched position pairs (i, j); a shared verbatim run lies on a DIAGONAL
  (i - j constant), so gaps-and-islands over i per (doc_a, doc_b, diag)
  with break-on-gap>1 merges consecutive matched grams into maximal
  exact runs (run_tokens = grams_in_run + n - 1).  Pairs report their
  longest run, run count, and shared token mass; runs shorter than 8
  tokens are noise and dropped.  Exactness caveat (documented, oracle-
  replayed): a run through a df-capped anchor splits at the capped gram.

- docs_substring_coverage — the ACT half: per-document fraction of tokens
  covered by cross-doc shared runs >= 8 tokens (the "cut documents whose
  verbatim-shared coverage exceeds X%" signal).  Both sides of every run
  contribute intervals; per-doc interval UNION via running-max islands
  (overlap-merge), coverage reported as exact integer parts-per-million
  (covered * 1e6 div n_tokens — no float drift between engines).

- crossmodal_image_video_match — VERDICT r11 #6: the image dHash leg and
  the video frame-fingerprint leg composed into one containment join:
  which IMAGES appear as (near-)frames inside which VIDEOS.  Image
  fingerprints collapse to distinct values first (dup-flood discipline),
  distinct image fps x df-capped video frame postings pair through the
  same 4x14-bit pigeonhole bands (exact recall to Hamming <= 3), then
  matches expand back to image ids.  Output: (image_id, video_id,
  n_frames_matched, min_hamming).

- crossmodal_asset_clusters — the north star one step further: asset dup
  clusters per modality (CC over image-image + video-video dup edges,
  vertices namespaced asset_id*2 / +1), with image-in-video CONTAINMENT
  reported as a per-cluster aggregate (n_linked_cross), NOT a closure
  edge.  The first cut put containment in the closure and ITS OWN sf0.1
  gate killed it: recurring stock frames (the fixture's fingerprint
  period plays the role a real corpus's stock footage plays) percolated
  9,199 of 11,674 assets into one component — min-label CC stopped
  converging inside its iteration budget and the oracle's transitive
  closure went quadratic in component size.  Shared content must not
  transitively merge every asset that embedded it; the rebuilt op keeps
  closure for DUPLICATION edges only and joins containment in as one
  bounded aggregate.  CC uses the new pointer-jumping variant
  (ops/graph.py::connected_components_jump, O(log diameter)) because
  video dup chains are arithmetic (stride-k re-cuts) and chain length
  grows linearly with the corpus.  The oracle replays the whole
  composition — both closed-form fingerprint pipelines, the banding, the
  dup-edge union, a recursive-CTE transitive closure, and the
  containment aggregate.

Scale notes (100 TB):
- docs_shared_substrings / coverage: text never shuffles — grams ride the
  exchange as (doc_id, position, 60-bit hash); the anchor df filter is a
  map-side-combined aggregate; the postings self-join is bounded per
  anchor by C(df_cap, 2) x occ_cap^2; the island merge windows over
  per-(pair, diagonal) groups, each at most a few hundred rows.  No
  pairwise doc comparison exists anywhere in the plan — cost is
  O(tokens + matched_anchor_pairs), which is what lets ExactSubstr run
  corpus-wide.
- crossmodal ops: media bytes never shuffle (decode + fingerprint in one
  Arrow mapInPandas pass per modality, reusing workload_r11's fixtures
  and fingerprint math); the cross-modal join carries only (fp-band,
  14-bit bucket) keys over DISTINCT image fps and df-capped frame
  postings; component finding runs on candidate edges only
  (ops/graph.py's bounded-iteration CC with localCheckpoint discipline).

Reference parity: the reference repo (banking-CSV medallion scripts,
bronze_to_silver.py / gold_sql_to_postgres.py) has no substring-dedup or
media operators; these extend the LLM-pipeline family the build brief
makes first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakeforge.functions.keys import duckdb_md5_int_sql, md5_int
from lakeforge.io.sources import table
from lakeforge.registry import register


# ---------------------------------------------------------------------------
# docs_shared_substrings — cross-doc exact substring runs (anchor + extend)
# ---------------------------------------------------------------------------

_SS_N = 5         # anchor n-gram width (tokens), = workload_aux._SPAN_N
_SS_DFCAP = 32    # anchors in more docs are boilerplate -> dropped
_SS_OCC_CAP = 8   # occurrences kept per (anchor, doc), lowest positions
_SS_MIN_RUN = 8   # runs shorter than this many tokens are noise

# DuckDB twin of the Spark tokenization below (same as workload_aux).
_SS_TOKS_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"
)


def _shared_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-doc exact token runs: (doc_a, doc_b, diag, s, e,
    run_tokens) with doc_a < doc_b, s/e the first/last matched anchor
    position IN doc_a, run_tokens the verbatim run length in tokens."""
    n = _SS_N
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    toks = docs.select(
        "doc_id",
        F.array_remove(F.split(F.lower(F.col("text")), r"\s+"), "").alias(
            "toks"
        ),
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(toks) >= {n} THEN "
                f"transform(sequence(1, size(toks) - {n} + 1), "
                f"i -> concat_ws(' ', slice(toks, i, {n}))) "
                f"ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("pos0", "gram"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("i"),
        md5_int("gram").alias("gram_h"),
    )
    # r12 opt (guide §2.4): grams feeds the anchor df-aggregate AND the
    # occurrence cap, and occ feeds BOTH self-join sides — unpersisted,
    # the tokenize -> posexplode -> md5 pipeline executed 4x per query
    # (plan nodes (1)/(7)/(31)/(37) in the before plan).  Persist both;
    # released at the query boundary like every operator persist.
    from lakeforge.cache import persist_tracked

    grams = persist_tracked(grams)
    anchors = (
        grams.groupBy("gram_h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= _SS_DFCAP))
        .select("gram_h")
    )
    w_occ = Window.partitionBy("gram_h", "doc_id").orderBy("i")
    occ = persist_tracked(
        grams.join(anchors, "gram_h", "left_semi")
        .withColumn("rn", F.row_number().over(w_occ))
        .filter(F.col("rn") <= _SS_OCC_CAP)
        .drop("rn")
    )
    a, b = occ.alias("a"), occ.alias("b")
    matched = a.join(
        b,
        (F.col("a.gram_h") == F.col("b.gram_h"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.i").alias("ia"),
        (F.col("a.i") - F.col("b.i")).alias("diag"),
    )
    w_run = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("ia")
    brk = (
        F.when(F.col("ia") - F.lag("ia").over(w_run) == 1, F.lit(0))
        .otherwise(F.lit(1))
    )
    return (
        matched.withColumn("brk", brk)
        .withColumn(
            "run_id",
            F.sum("brk").over(
                w_run.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_a", "doc_b", "diag", "run_id")
        .agg(F.min("ia").alias("s"), F.max("ia").alias("e"))
        .withColumn("run_tokens", F.col("e") - F.col("s") + F.lit(_SS_N))
    )


def q_docs_shared_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    runs = _shared_runs(spark, sf_dir).filter(
        F.col("run_tokens") >= _SS_MIN_RUN
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        F.max("run_tokens").cast("bigint").alias("longest_shared_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_shared_runs"),
        F.sum("run_tokens").cast("bigint").alias("shared_token_mass"),
    )


def _sql_shared_runs() -> str:
    """DuckDB replay of _shared_runs, ending in CTE ``rr`` =
    (doc_a, doc_b, diag, s, e, run_tokens)."""
    n = _SS_N
    gram_h = duckdb_md5_int_sql(
        [f"array_to_string(toks[i:i+{n - 1}], ' ')"]
    )
    return f"""
toks AS (SELECT doc_id, {_SS_TOKS_SQL} AS toks FROM documents),
pos AS (SELECT doc_id,
               unnest(range(1, greatest(len(toks) - {n} + 2, 1))) AS i,
               toks
        FROM toks),
grams AS (SELECT doc_id, i, {gram_h} AS gram_h FROM pos),
anch AS (SELECT gram_h FROM grams GROUP BY gram_h
         HAVING count(DISTINCT doc_id) BETWEEN 2 AND {_SS_DFCAP}),
occ AS (SELECT g.doc_id, g.i, g.gram_h,
               row_number() OVER (PARTITION BY g.gram_h, g.doc_id
                                  ORDER BY g.i) AS rn
        FROM grams g JOIN anch USING (gram_h)),
occ2 AS (SELECT doc_id, i, gram_h FROM occ WHERE rn <= {_SS_OCC_CAP}),
m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.i AS ia, a.i - b.i AS diag
      FROM occ2 a JOIN occ2 b
        ON a.gram_h = b.gram_h AND a.doc_id < b.doc_id),
isl AS (SELECT doc_a, doc_b, diag, ia,
               CASE WHEN ia - lag(ia) OVER (PARTITION BY doc_a, doc_b, diag
                                            ORDER BY ia) = 1
                    THEN 0 ELSE 1 END AS brk
        FROM m),
runs AS (SELECT doc_a, doc_b, diag, ia,
                SUM(brk) OVER (PARTITION BY doc_a, doc_b, diag ORDER BY ia
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS run_id
         FROM isl),
rr AS (SELECT doc_a, doc_b, diag, MIN(ia) AS s, MAX(ia) AS e,
              MAX(ia) - MIN(ia) + {n} AS run_tokens
       FROM runs GROUP BY doc_a, doc_b, diag, run_id)
"""


def _sql_docs_shared_substrings() -> str:
    return f"""
WITH {_sql_shared_runs()}
SELECT doc_a, doc_b,
       CAST(MAX(run_tokens) AS BIGINT) AS longest_shared_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_shared_runs,
       CAST(SUM(run_tokens) AS BIGINT) AS shared_token_mass
FROM rr WHERE run_tokens >= {_SS_MIN_RUN}
GROUP BY doc_a, doc_b
"""


register(
    "docs_shared_substrings", q_docs_shared_substrings, _sql_docs_shared_substrings(),
)


# ---------------------------------------------------------------------------
# docs_substring_coverage — per-doc verbatim-shared token coverage (ppm)
# ---------------------------------------------------------------------------


def q_docs_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _SS_N
    runs = _shared_runs(spark, sf_dir).filter(
        F.col("run_tokens") >= _SS_MIN_RUN
    )
    # Both sides contribute token intervals: doc_a covers [s, e + n - 1],
    # doc_b the diagonal-shifted twin [s - diag, e - diag + n - 1].
    # One scan of the runs plan (r12 opt, guide §2.4): the previous
    # union(select_a, select_b) executed the whole anchor/self-join/island
    # pipeline twice — explode emits both interval rows per run instead.
    iv = (
        runs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("doc_id"),
                        F.col("s").alias("lo"),
                        (F.col("e") + F.lit(n - 1)).alias("hi"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("doc_id"),
                        (F.col("s") - F.col("diag")).alias("lo"),
                        (F.col("e") - F.col("diag") + F.lit(n - 1)).alias("hi"),
                    ),
                )
            ).alias("_iv")
        )
        .select("_iv.doc_id", "_iv.lo", "_iv.hi")
        .distinct()
    )
    # Interval union via running-max islands: a new island starts when
    # this interval begins past everything seen so far.  (lo, hi) is
    # unique per doc after the distinct, so the window order is total.
    w = Window.partitionBy("doc_id").orderBy("lo", "hi")
    prev_hi = F.max("hi").over(w.rowsBetween(Window.unboundedPreceding, -1))
    covered = (
        iv.withColumn(
            "brk",
            F.when(prev_hi.isNull() | (F.col("lo") > prev_hi), 1).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "island")
        .agg((F.max("hi") - F.min("lo") + 1).alias("span"))
        .groupBy("doc_id")
        .agg(F.sum("span").cast("bigint").alias("covered_tokens"))
    )
    # Tokenize AFTER the join: only covered docs (a small fraction of the
    # corpus) pay the second tokenization pass — the pre-join variant
    # re-tokenized every document just to count tokens.
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    return (
        covered.join(docs, "doc_id")
        .withColumn(
            "n_tokens",
            F.size(
                F.array_remove(F.split(F.lower(F.col("text")), r"\s+"), "")
            ).cast("bigint"),
        )
        .select(
            "doc_id",
            "covered_tokens",
            "n_tokens",
            F.expr("covered_tokens * 1000000 div n_tokens")
            .cast("bigint")
            .alias("coverage_ppm"),
        )
    )


def _sql_docs_substring_coverage() -> str:
    n = _SS_N
    return f"""
WITH {_sql_shared_runs()},
iv AS (
    SELECT DISTINCT doc_id, lo, hi FROM (
        SELECT doc_a AS doc_id, s AS lo, e + {n - 1} AS hi
        FROM rr WHERE run_tokens >= {_SS_MIN_RUN}
        UNION ALL
        SELECT doc_b, s - diag, e - diag + {n - 1}
        FROM rr WHERE run_tokens >= {_SS_MIN_RUN}
    )
),
mark AS (
    SELECT doc_id, lo, hi,
           CASE WHEN lo > MAX(hi) OVER (PARTITION BY doc_id
                    ORDER BY lo, hi
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1
                WHEN MAX(hi) OVER (PARTITION BY doc_id ORDER BY lo, hi
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                THEN 1 ELSE 0 END AS brk
    FROM iv
),
isl2 AS (
    SELECT doc_id, lo, hi,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY lo, hi
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM mark
),
cov AS (
    SELECT doc_id, CAST(SUM(span) AS BIGINT) AS covered_tokens
    FROM (SELECT doc_id, island, MAX(hi) - MIN(lo) + 1 AS span
          FROM isl2 GROUP BY doc_id, island)
    GROUP BY doc_id
),
nt AS (SELECT doc_id, CAST(len({_SS_TOKS_SQL}) AS BIGINT) AS n_tokens
       FROM documents)
SELECT c.doc_id, c.covered_tokens, nt.n_tokens,
       CAST(c.covered_tokens * 1000000 // nt.n_tokens AS BIGINT)
           AS coverage_ppm
FROM cov c JOIN nt USING (doc_id)
"""


register(
    "docs_substring_coverage",
    q_docs_substring_coverage,
    _sql_docs_substring_coverage(),
)

# ---------------------------------------------------------------------------
# crossmodal_image_video_match — image dHash <-> video frame-fp containment
# ---------------------------------------------------------------------------


def _image_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(image_id, fp): real BMP encode->decode->dHash roundtrip, one
    FUSED Arrow pass (workload_r11._dhash_fps_fused — r12 opt: the bytes
    no longer cross the Python<->JVM boundary between fixture and
    decoder)."""
    from lakeforge.workload_r11 import _dhash_fps_fused

    return _dhash_fps_fused(spark, sf_dir, "image_id")


def _video_frame_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (video_id, fp) frame-fingerprint postings, df-capped at
    workload_r11._VF_DFCAP (boilerplate frames dropped) — the video
    leg's module-level container walk with this op's column name.  Only
    the distinct frame set is persisted; the returned df-capped join is
    a trivial projection of it (recompute-from-cache beats holding two
    MEMORY_AND_DISK copies — the hamming_neardup_pairs discipline)."""
    from lakeforge.cache import persist_tracked
    from lakeforge.workload_r11 import _VF_DFCAP, _vf_fps_fused

    vfp = persist_tracked(
        _vf_fps_fused(spark, sf_dir, "video_id").distinct()
    )
    df_ok = (
        vfp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _VF_DFCAP)
        .select("fp")
    )
    return vfp.join(df_ok, "fp")


def _banded(fps: DataFrame, fp_col: str) -> DataFrame:
    """(fp, band, bh) with workload_r11's 4x14-bit pigeonhole bands —
    the shared llm/dedup.py band layout, never a local copy."""
    from lakeforge.llm.dedup import band_explode
    from lakeforge.workload_r11 import _DH_BANDS, _DH_BITS

    return band_explode(
        fps.select(F.col(fp_col).alias("fp")), "fp",
        bits=_DH_BITS, bands=_DH_BANDS,
    )


def _crossmodal_matches(spark: SparkSession, sf_dir: str) -> tuple:
    """Shared head of the two crossmodal ops: returns (ifps, postings,
    per_video) where ifps = (image_id, fp) [persisted], postings =
    df-capped DISTINCT (video_id, fp) frame postings [persisted], and
    per_video = (fp, video_id, n_frames_matched, min_hamming) over
    DISTINCT image fingerprints within Hamming <= _DH_MAXHAM of a
    df-capped frame fp."""
    from lakeforge.cache import persist_tracked
    from lakeforge.workload_r11 import _DH_MAXHAM

    ifps = persist_tracked(_image_fps(spark, sf_dir))
    # NOT re-persisted: a trivial join of the frame set _video_frame_
    # postings already caches (two MEMORY_AND_DISK copies of the largest
    # intermediate is the anti-pattern hamming_neardup_pairs documents).
    postings = _video_frame_postings(spark, sf_dir)
    iband = _banded(ifps.select("fp").distinct(), "fp").alias("i")
    fband = _banded(postings.select("fp").distinct(), "fp").alias("v")
    hamming = F.bit_count(
        F.col("i.fp").bitwiseXOR(F.col("v.fp"))
    ).cast("bigint")
    cand = (
        iband.join(
            fband,
            (F.col("i.band") == F.col("v.band"))
            & (F.col("i.bh") == F.col("v.bh")),
        )
        .select(
            F.col("i.fp").alias("ifp"),
            F.col("v.fp").alias("ffp"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= _DH_MAXHAM)
        .distinct()
    )
    per_video = (
        cand.join(postings, cand["ffp"] == postings["fp"])
        .groupBy(F.col("ifp").alias("fp"), "video_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_frames_matched"),
            F.min("hamming").cast("bigint").alias("min_hamming"),
        )
    )
    return ifps, postings, per_video


def q_crossmodal_image_video_match(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ifps, _, per_video = _crossmodal_matches(spark, sf_dir)
    return ifps.join(per_video, "fp").select(
        "image_id", "video_id", "n_frames_matched", "min_hamming"
    )


def _sql_media_fps() -> str:
    """Shared oracle CTE body: closed-form image fingerprints (``ifpt`` =
    image_id, fp) and DISTINCT df-capped video frame postings
    (``postings`` = video_id, fp) — the integer-math replay of both r11
    fixture+decode pipelines."""
    from lakeforge.workload_r11 import (
        _DH_BLK,
        _DH_COPY_MOD,
        _DH_COPY_OFF,
        _DH_GRID_H,
        _DH_GRID_W,
        _DH_NEAR_MOD,
        _DH_NEAR_OFF,
        _VF_COPY_MOD,
        _VF_COPY_OFF,
        _VF_DFCAP,
        _VF_NEAR_MOD,
        _VF_NEAR_OFF,
        _VF_NF,
        _VF_SEED_GAP,
    )

    return f"""
imgs AS (
    SELECT doc_id AS image_id, doc_id AS d, 0 AS mut FROM documents
    UNION ALL
    SELECT doc_id + {_DH_NEAR_OFF}, doc_id, 1 FROM documents
    WHERE doc_id % {_DH_NEAR_MOD} = 0
    UNION ALL
    SELECT doc_id + {_DH_COPY_OFF}, doc_id, 0 FROM documents
    WHERE doc_id % {_DH_COPY_MOD} = 0
),
icells AS MATERIALIZED (
    SELECT i.image_id, r.r, c.cx,
           SUM((3 * (c.cx*{_DH_BLK}+dx.dx) * (c.cx*{_DH_BLK}+dx.dx)
                + 5 * (r.r*{_DH_BLK}+dy.dy) * (r.r*{_DH_BLK}+dy.dy)
                + (c.cx*{_DH_BLK}+dx.dx) * (r.r*{_DH_BLK}+dy.dy) * (1 + i.d % 13)
                + (i.d % 29) * (c.cx*{_DH_BLK}+dx.dx)
                + (i.d % 31) * (r.r*{_DH_BLK}+dy.dy)
                + CASE WHEN i.mut = 1 AND c.cx*{_DH_BLK}+dx.dx < {_DH_BLK}
                            AND r.r*{_DH_BLK}+dy.dy < {_DH_BLK}
                       THEN 40 ELSE 0 END
               ) % 251) AS s
    FROM imgs i,
         range({_DH_GRID_H}) r(r), range({_DH_GRID_W}) c(cx),
         range({_DH_BLK}) dy(dy), range({_DH_BLK}) dx(dx)
    GROUP BY 1, 2, 3
),
ibits AS (
    SELECT a.image_id, a.r, a.cx,
           CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
    FROM icells a
    JOIN icells b ON b.image_id = a.image_id AND b.r = a.r
                 AND b.cx = a.cx + 1
    WHERE a.cx < {_DH_GRID_W - 1}
),
ifpt AS MATERIALIZED (
    SELECT image_id,
           CAST(SUM(CAST(bit AS BIGINT) << (r * 8 + cx)) AS BIGINT) AS fp
    FROM ibits GROUP BY image_id
),
vids AS (
    SELECT doc_id AS video_id, doc_id AS d, 0 AS mut FROM documents
    UNION ALL
    SELECT doc_id + {_VF_NEAR_OFF}, doc_id, 1 FROM documents
    WHERE doc_id % {_VF_NEAR_MOD} = 0
    UNION ALL
    SELECT doc_id + {_VF_COPY_OFF}, doc_id, 0 FROM documents
    WHERE doc_id % {_VF_COPY_MOD} = 0
),
vframes AS (
    SELECT v.video_id,
           CASE WHEN v.mut = 1 AND k.k >= {_VF_NF - 2}
                THEN (v.d + {_VF_SEED_GAP}) * {_VF_NF} + k.k
                ELSE v.d * {_VF_NF} + k.k END AS sd
    FROM vids v, range({_VF_NF}) k(k)
),
vcells AS MATERIALIZED (
    SELECT f.video_id, f.sd, r.r, c.cx,
           SUM((3 * (c.cx*{_DH_BLK}+dx.dx) * (c.cx*{_DH_BLK}+dx.dx)
                + 5 * (r.r*{_DH_BLK}+dy.dy) * (r.r*{_DH_BLK}+dy.dy)
                + (c.cx*{_DH_BLK}+dx.dx) * (r.r*{_DH_BLK}+dy.dy) * (1 + f.sd % 13)
                + (f.sd % 29) * (c.cx*{_DH_BLK}+dx.dx)
                + (f.sd % 31) * (r.r*{_DH_BLK}+dy.dy)
               ) % 251) AS s
    FROM vframes f,
         range({_DH_GRID_H}) r(r), range({_DH_GRID_W}) c(cx),
         range({_DH_BLK}) dy(dy), range({_DH_BLK}) dx(dx)
    GROUP BY 1, 2, 3, 4
),
vbits AS (
    SELECT a.video_id, a.sd, a.r, a.cx,
           CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
    FROM vcells a
    JOIN vcells b ON b.video_id = a.video_id AND b.sd = a.sd
                 AND b.r = a.r AND b.cx = a.cx + 1
    WHERE a.cx < {_DH_GRID_W - 1}
),
vfpt AS MATERIALIZED (
    SELECT DISTINCT video_id,
           CAST(SUM(CAST(bit AS BIGINT) << (r * 8 + cx)) AS BIGINT) AS fp
    FROM vbits GROUP BY video_id, sd
),
dfok AS (
    SELECT fp FROM vfpt GROUP BY fp HAVING COUNT(*) <= {_VF_DFCAP}
),
postings AS MATERIALIZED (SELECT v.video_id, v.fp FROM vfpt v JOIN dfok USING (fp))
"""


def _sql_crossmodal_cand() -> str:
    """Oracle CTE tail: the banded DISTINCT-fp cross join -> ``perv`` =
    (fp, video_id, n_frames_matched, min_hamming)."""
    from lakeforge.workload_r11 import _DH_BANDS, _DH_BITS, _DH_MAXHAM

    width = _DH_BITS // _DH_BANDS
    mask = (1 << width) - 1
    return f"""
ibands AS (
    SELECT fp, b.band, (fp >> (b.band * {width})) & {mask} AS bh
    FROM (SELECT DISTINCT fp FROM ifpt), range({_DH_BANDS}) b(band)
),
fbands AS (
    SELECT fp, b.band, (fp >> (b.band * {width})) & {mask} AS bh
    FROM (SELECT DISTINCT fp FROM postings), range({_DH_BANDS}) b(band)
),
cand AS MATERIALIZED (
    SELECT DISTINCT i.fp AS ifp, f.fp AS ffp,
           CAST(bit_count(xor(i.fp, f.fp)) AS BIGINT) AS hamming
    FROM ibands i JOIN fbands f ON i.band = f.band AND i.bh = f.bh
    WHERE bit_count(xor(i.fp, f.fp)) <= {_DH_MAXHAM}
),
perv AS MATERIALIZED (
    SELECT c.ifp AS fp, p.video_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames_matched,
           CAST(MIN(c.hamming) AS BIGINT) AS min_hamming
    FROM cand c JOIN postings p ON c.ffp = p.fp
    GROUP BY c.ifp, p.video_id
)
"""


def _sql_crossmodal_image_video_match() -> str:
    return f"""
WITH {_sql_media_fps()},
{_sql_crossmodal_cand()}
SELECT i.image_id, p.video_id, p.n_frames_matched, p.min_hamming
FROM ifpt i JOIN perv p USING (fp)
"""


register(
    "crossmodal_image_video_match",
    q_crossmodal_image_video_match,
    _sql_crossmodal_image_video_match(),
)


# ---------------------------------------------------------------------------
# crossmodal_asset_clusters — dup-edge CC + containment as an AGGREGATE
# ---------------------------------------------------------------------------


def q_crossmodal_asset_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Asset-level dup clusters per modality, with cross-modal containment
    reported as a per-cluster AGGREGATE — not a closure edge.

    Vertices: image_id*2, video_id*2+1 (both fixture id domains derive
    from doc_id, so parity namespaces them).  CC edges are ASSET
    DUPLICATION only: (a) images sharing one exact fingerprint (member ->
    group rep), (b) image rep pairs at Hamming <= 3, (c) video pairs
    sharing >= _VF_MIN_SHARED frame fingerprints.  Image-in-video
    CONTAINMENT deliberately does NOT join the closure: this op's own
    sf0.1 gate caught the alternative — recurring stock frames make
    containment edges percolate (one 9,199-asset giant component from
    11,674 vertices; min-label CC stops converging and the oracle's
    transitive closure goes quadratic in the component size), so shared
    CONTENT between two assets must not transitively merge every asset
    that ever embedded it.  Containment instead lands as
    ``n_linked_cross``: for an image cluster, how many distinct videos
    contain any member image (Hamming <= _DH_MAXHAM); for a video
    cluster, how many distinct images its members contain — one
    aggregate join against the match relation, bounded at any corpus
    size.  Components run on candidate dup edges only, via the
    pointer-jumping CC (ops/graph.py::connected_components_jump):
    video dup chains are ARITHMETIC (stride-k re-cuts), so a 100x corpus
    means 100x chain diameter — O(log) convergence is the scale knob.
    """
    from lakeforge.cache import persist_tracked
    from lakeforge.llm.dedup import hamming_neardup_pairs
    from lakeforge.ops.graph import connected_components_jump
    from lakeforge.workload_r11 import (
        _DH_BANDS,
        _DH_BITS,
        _DH_MAXHAM,
        _VF_MIN_SHARED,
    )

    ifps, postings, per_video = _crossmodal_matches(spark, sf_dir)

    grp = persist_tracked(
        ifps.groupBy("fp").agg(
            F.min("image_id").alias("rep"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    e_member = (
        ifps.join(grp, "fp")
        .filter(F.col("image_id") > F.col("rep"))
        .select(
            (F.col("rep") * 2).cast("bigint").alias("src"),
            (F.col("image_id") * 2).cast("bigint").alias("dst"),
        )
    )
    e_img = hamming_neardup_pairs(
        grp, "rep", "fp",
        bits=_DH_BITS, bands=_DH_BANDS, max_hamming=_DH_MAXHAM,
    ).select(
        (F.col("id_a") * 2).cast("bigint").alias("src"),
        (F.col("id_b") * 2).cast("bigint").alias("dst"),
    )
    a, b = postings.alias("a"), postings.alias("b")
    e_vid = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.video_id") < F.col("b.video_id")),
        )
        .groupBy(
            F.col("a.video_id").alias("va"), F.col("b.video_id").alias("vb")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _VF_MIN_SHARED)
        .select(
            (F.col("va") * 2 + 1).cast("bigint").alias("src"),
            (F.col("vb") * 2 + 1).cast("bigint").alias("dst"),
        )
    )
    edges = e_member.unionByName(e_img).unionByName(e_vid)
    cc = connected_components_jump(edges, "src", "dst")

    # Containment aggregate: the (image_id, video_id) match relation.
    matches = persist_tracked(
        ifps.join(per_video, "fp").select("image_id", "video_id")
    )
    img_links = (
        cc.filter(F.col("vertex") % 2 == 0)
        .join(
            matches,
            (F.col("vertex") / 2).cast("bigint") == matches["image_id"],
        )
        .groupBy("component")
        .agg(F.countDistinct("video_id").alias("linked"))
    )
    vid_links = (
        cc.filter(F.col("vertex") % 2 == 1)
        .join(
            matches,
            ((F.col("vertex") - 1) / 2).cast("bigint")
            == matches["video_id"],
        )
        .groupBy("component")
        .agg(F.countDistinct("image_id").alias("linked"))
    )
    links = img_links.unionByName(vid_links)
    return (
        cc.groupBy(F.col("component").alias("cluster_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_assets"))
        .join(links.withColumnRenamed("component", "cluster_id"),
              "cluster_id", "left")
        .select(
            "cluster_id",
            F.when(F.col("cluster_id") % 2 == 0, F.lit("image"))
            .otherwise(F.lit("video"))
            .alias("modality"),
            "n_assets",
            F.coalesce(F.col("linked"), F.lit(0))
            .cast("bigint")
            .alias("n_linked_cross"),
        )
    )


def _sql_crossmodal_asset_clusters() -> str:
    from lakeforge.workload_r11 import (
        _DH_BANDS,
        _DH_BITS,
        _DH_MAXHAM,
        _VF_MIN_SHARED,
    )

    width = _DH_BITS // _DH_BANDS
    mask = (1 << width) - 1
    return f"""
WITH RECURSIVE {_sql_media_fps()},
{_sql_crossmodal_cand()},
grp AS (
    SELECT fp, MIN(image_id) AS rep, COUNT(*) AS cnt FROM ifpt GROUP BY fp
),
e_member AS (
    SELECT g.rep * 2 AS src, i.image_id * 2 AS dst
    FROM ifpt i JOIN grp g USING (fp) WHERE i.image_id > g.rep
),
gbands AS (
    SELECT rep, fp, b.band, (fp >> (b.band * {width})) & {mask} AS bh
    FROM grp, range({_DH_BANDS}) b(band)
),
e_img AS (
    SELECT DISTINCT a.rep * 2 AS src, b.rep * 2 AS dst
    FROM gbands a JOIN gbands b
      ON a.band = b.band AND a.bh = b.bh AND a.rep < b.rep
    WHERE bit_count(xor(a.fp, b.fp)) <= {_DH_MAXHAM}
),
e_vid AS (
    SELECT a.video_id * 2 + 1 AS src, b.video_id * 2 + 1 AS dst
    FROM postings a JOIN postings b
      ON a.fp = b.fp AND a.video_id < b.video_id
    GROUP BY 1, 2 HAVING COUNT(*) >= {_VF_MIN_SHARED}
),
und AS MATERIALIZED (
    SELECT src AS a, dst AS b FROM e_member
    UNION SELECT dst, src FROM e_member
    UNION SELECT src, dst FROM e_img
    UNION SELECT dst, src FROM e_img
    UNION SELECT src, dst FROM e_vid
    UNION SELECT dst, src FROM e_vid
),
reach(v, r) AS (
    SELECT a, a FROM und
    UNION
    SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.v
),
comp AS MATERIALIZED (SELECT v, MIN(r) AS cluster_id FROM reach GROUP BY v),
matches AS MATERIALIZED (
    SELECT i.image_id, p.video_id FROM ifpt i JOIN perv p USING (fp)
),
links AS (
    SELECT c.cluster_id, COUNT(DISTINCT m.video_id) AS linked
    FROM comp c JOIN matches m ON c.v % 2 = 0 AND c.v // 2 = m.image_id
    GROUP BY 1
    UNION ALL
    SELECT c.cluster_id, COUNT(DISTINCT m.image_id) AS linked
    FROM comp c JOIN matches m ON c.v % 2 = 1 AND (c.v - 1) // 2 = m.video_id
    GROUP BY 1
)
SELECT c.cluster_id,
       CASE WHEN c.cluster_id % 2 = 0 THEN 'image' ELSE 'video' END
           AS modality,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(COALESCE(ANY_VALUE(l.linked), 0) AS BIGINT) AS n_linked_cross
FROM comp c LEFT JOIN links l USING (cluster_id)
GROUP BY c.cluster_id
"""


register(
    "crossmodal_asset_clusters",
    q_crossmodal_asset_clusters,
    _sql_crossmodal_asset_clusters(),
)
