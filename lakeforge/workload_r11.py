"""Round-11 operators (VERDICT r10 #6/#7): the two registry continuations
the judge named.

- neardup_incremental — incremental NEAR-dup index maintenance: a new
  ingest batch's MinHash signatures probe the PERSISTED corpus LSH band
  store (band equi-join, batch-sized not corpus-sized), verdicts
  dup_of_corpus / dup_in_batch / new per batch doc.  The oracle is the
  full-corpus LSH recompute restricted to batch docs — the incremental ==
  full equivalence theorem (same shape as scd2_incremental_snapshot):
  signatures and band hashes are content-deterministic per doc, so probing
  a pre-built store finds EXACTLY the pairs a from-scratch rebuild finds.
  This closes the gap VERDICT r10 #6 names: ``docs_incremental_dedup``
  covers exact fingerprints only; a 100 TB corpus ingested incrementally
  needs the near-dup index maintained the same way.

- image_dhash_neardup — perceptual near-dup for IMAGES: compose the real
  BMP decoder (llm/multimodal.py::decode_bmp_pixels — stride padding,
  bottom-up flip, data offset all real) with the generic Hamming banding
  (llm/dedup.py::hamming_neardup_pairs).  dHash: 9x7 grid of 4x4-block
  luminance sums over a 36x28 image, bit (r,cx) = [S(r,cx) > S(r,cx+1)]
  -> 56-bit fingerprint (7 rows x 8 comparisons; 56 not 64 keeps the
  fingerprint strictly positive in a signed BIGINT, the repo's 60-bit md5
  convention).  Identical fingerprints COLLAPSE to (fp, representative,
  count) before any pairing — exact-copy floods (the dominant case in a
  crawled corpus) cost one group row, their pair mass reported
  analytically as C(cnt, 2) — then DISTINCT fingerprints pair at
  Hamming <= 3 via 4 bands x 14 bits, pigeonhole EXACT recall
  (max_hamming <= bands-1).  The oracle replays the exact integer pixel
  math (the synthetic image's gray(y,x) formula, the block sums, the bit
  packing, the collapse, the banding) in DuckDB — byte-level decode
  errors (stride, flip, offset, channel order) would shift every sum.

Scale notes (100 TB):
- neardup_incremental: the store holds (band, bh, doc_id, sig) — k=32
  ints + 8 band hashes per doc, never text.  The probe join is
  batch-driven: exchange volume O(|batch| x bands) plus the candidate
  pairs; the corpus side is hash-partitioned by (band, bh) once and
  reused across ingests.  Within-batch pairing is |batch|-sized.
- image_dhash_neardup: image BYTES never shuffle — decode + fingerprint
  happen in one Arrow-batched mapInPandas pass, and only (media_id, fp)
  (16 bytes) rides the collapse shuffle.  Banding runs over DISTINCT
  fingerprints with 14-bit bands (2^14 bucket values), so buckets stay
  thin as the corpus grows and dup floods collapse to fingerprint groups
  the same way simhash_hamming_histogram's rebuild does.

Reference parity: the reference repo (banking-CSV medallion scripts) has
no near-dup or media operators; these extend the LLM-pipeline family the
build brief makes first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeforge.io.sources import table
from lakeforge.registry import register


# ---------------------------------------------------------------------------
# neardup_incremental
# ---------------------------------------------------------------------------

_K, _BANDS, _MIN_MATCH = 32, 8, 16
_BATCH_MOD, _BATCH_RES = 7, 3  # corpus rows with doc_id % 7 == 3 form the batch
_BTWIN_MOD, _BTWIN_RES, _BTWIN_OFF = 4, 3, 10_000_000


def _incremental_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(corpus, batch): the near-dup corpus split by ingest time, plus
    synthesized exact within-batch twins (id + 10M) so the dup_in_batch
    verdict has guaranteed mass at every SF."""
    from lakeforge.workload_llm import _neardup_corpus

    full = _neardup_corpus(spark, sf_dir)
    # The ingest-time flag is re-derived from doc_id AFTER the signature
    # groupBy (is_batch = id >= _BTWIN_OFF OR id % 7 == 3), so the
    # encoding is only sound while source ids stay below the twin offset.
    # Enforce that domain IN THE DATA PATH (a when/raise_error on the id
    # itself — an unused assert column would be pruned by Catalyst): a
    # corpus with ids >= 10M fails loudly instead of silently misrouting
    # corpus rows into the batch verdict set.
    guarded = F.when(
        F.col("doc_id") < _BTWIN_OFF, F.col("doc_id")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("neardup_incremental: doc_id "),
                F.col("doc_id").cast("string"),
                F.lit(f" >= {_BTWIN_OFF} breaks the ingest-split encoding"),
            )
        ).cast("bigint")
    )
    full = full.select(guarded.alias("doc_id"), "text")
    corpus = full.filter(F.col("doc_id") % _BATCH_MOD != _BATCH_RES)
    batch0 = full.filter(F.col("doc_id") % _BATCH_MOD == _BATCH_RES)
    btwins = batch0.filter(F.col("doc_id") % _BTWIN_MOD == _BTWIN_RES).select(
        (F.col("doc_id") + _BTWIN_OFF).alias("doc_id"), "text"
    )
    return corpus, batch0.unionByName(btwins)


def q_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.cache import persist_tracked
    from lakeforge.llm.dedup import lsh_band_buckets, minhash_signatures

    corpus, batch = _incremental_frames(spark, sf_dir)

    # ONE signature + banding pipeline over corpus+batch, split by flag
    # afterwards: signatures are content-deterministic, so the store half
    # is bit-identical to a separately-built index while the text is
    # scanned once and the signature shuffle happens once.  (In
    # production the store half is a parquet table maintained across
    # ingests — only the batch half is ever recomputed.)  The ingest-time
    # split is a pure doc_id predicate, recoverable after the signature
    # groupBy.
    banded = persist_tracked(
        lsh_band_buckets(
            minhash_signatures(
                corpus.unionByName(batch), "text", "doc_id", k=_K
            ),
            k=_K, bands=_BANDS, keep_sig=True,
        ).withColumn(
            "is_batch",
            (F.col("doc_id") >= _BTWIN_OFF)
            | (F.col("doc_id") % _BATCH_MOD == _BATCH_RES),
        )
    )
    store = banded.filter(~F.col("is_batch")).select(
        F.col("doc_id").alias("c_id"), F.col("sig").alias("c_sig"),
        "band", "bh",
    )
    probe = banded.filter(F.col("is_batch"))

    n_match = F.aggregate(
        F.zip_with("sig", "c_sig", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    corpus_hit = (
        probe.join(store, ["band", "bh"])
        .select("doc_id", "c_id", "sig", "c_sig")
        .dropDuplicates(["doc_id", "c_id"])
        .filter(n_match >= _MIN_MATCH)
        .groupBy("doc_id")
        .agg(F.min("c_id").alias("corpus_partner"))
    )

    a, b = probe.alias("a"), probe.alias("b")
    batch_hit = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_small"),
            F.col("b.doc_id").alias("doc_id"),
            F.col("a.sig").alias("a_sig_x"),
            F.col("b.sig").alias("b_sig_x"),
        )
        .dropDuplicates(["doc_small", "doc_id"])
        .filter(
            F.aggregate(
                F.zip_with(
                    "a_sig_x", "b_sig_x",
                    lambda x, y: F.when(x == y, 1).otherwise(0),
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            )
            >= _MIN_MATCH
        )
        .groupBy("doc_id")
        .agg(F.min("doc_small").alias("batch_partner"))
    )

    batch_docs = probe.select("doc_id").distinct()
    return (
        batch_docs.join(corpus_hit, "doc_id", "left")
        .join(batch_hit, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("corpus_partner").isNotNull(), "dup_of_corpus")
            .when(F.col("batch_partner").isNotNull(), "dup_in_batch")
            .otherwise("new")
            .alias("verdict"),
            F.coalesce("corpus_partner", "batch_partner")
            .cast("bigint")
            .alias("partner"),
        )
    )


def _sql_neardup_incremental() -> str:
    """Full-corpus LSH recompute restricted to batch docs — the oracle
    side of the incremental == full equivalence."""
    from lakeforge.llm.dedup import MINHASH_P, minhash_constants
    from lakeforge.workload_llm import (
        _NEARDUP_CORPUS,
        _md5_32,
        _md5_60,
        _shingle_ctes,
    )

    consts = minhash_constants(_K)
    mins = ",\n           ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(consts)
    )
    rows = _K // _BANDS
    band_selects = []
    for j in range(_BANDS):
        cols = [f"m{i}" for i in range(j * rows, (j + 1) * rows)]
        concat = " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {j} AS band, {_md5_60(concat)} AS bh FROM sig"
        )
    bands_sql = "\n    UNION ALL\n    ".join(band_selects)
    match_sum = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(_K)
    )
    # corpus0 = the near-dup corpus; corpus = corpus0 + batch twins, with
    # the ingest-time split carried as is_batch.
    return f"""
WITH {_NEARDUP_CORPUS.replace("corpus AS", "corpus0 AS")},
corpus AS (
    SELECT doc_id, text,
           CAST(doc_id % {_BATCH_MOD} = {_BATCH_RES} AS BOOLEAN) AS is_batch
    FROM corpus0
    UNION ALL
    SELECT doc_id + {_BTWIN_OFF} AS doc_id, text, TRUE AS is_batch
    FROM corpus0
    WHERE doc_id % {_BATCH_MOD} = {_BATCH_RES}
      AND doc_id % {_BTWIN_MOD} = {_BTWIN_RES}
),
{_shingle_ctes(3)},
h AS (SELECT doc_id, {_md5_32("shingle")} AS h FROM sh),
sig AS (SELECT doc_id,
           {mins}
        FROM h GROUP BY doc_id),
flags AS (SELECT doc_id, is_batch FROM corpus),
bands AS (
    {bands_sql}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
scored AS (
    SELECT c.doc_a, c.doc_b,
           fa.is_batch AS a_batch, fb.is_batch AS b_batch
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
    JOIN flags fa ON fa.doc_id = c.doc_a
    JOIN flags fb ON fb.doc_id = c.doc_b
    WHERE {match_sum} >= {_MIN_MATCH}
),
corpus_hit AS (
    SELECT doc_id, MIN(partner) AS corpus_partner FROM (
        SELECT doc_a AS doc_id, doc_b AS partner FROM scored
        WHERE a_batch AND NOT b_batch
        UNION ALL
        SELECT doc_b AS doc_id, doc_a AS partner FROM scored
        WHERE b_batch AND NOT a_batch
    ) GROUP BY doc_id
),
batch_hit AS (
    SELECT doc_b AS doc_id, MIN(doc_a) AS batch_partner FROM scored
    WHERE a_batch AND b_batch GROUP BY doc_b
),
batch_docs AS (
    SELECT s.doc_id FROM sig s JOIN flags f USING (doc_id) WHERE f.is_batch
)
SELECT d.doc_id,
       CASE WHEN c.corpus_partner IS NOT NULL THEN 'dup_of_corpus'
            WHEN b.batch_partner IS NOT NULL THEN 'dup_in_batch'
            ELSE 'new' END AS verdict,
       CAST(COALESCE(c.corpus_partner, b.batch_partner) AS BIGINT) AS partner
FROM batch_docs d
LEFT JOIN corpus_hit c ON c.doc_id = d.doc_id
LEFT JOIN batch_hit b ON b.doc_id = d.doc_id
"""


# The oracle SQL is generated from the same constants the Spark path uses.
register(
    "neardup_incremental", q_neardup_incremental, _sql_neardup_incremental()
)


# ---------------------------------------------------------------------------
# image_dhash_neardup
# ---------------------------------------------------------------------------

_DH_W, _DH_H = 36, 28  # 9x7 grid of 4x4 blocks
_DH_GRID_W, _DH_GRID_H, _DH_BLK = 9, 7, 4
# 4 bands x 14 bits: exact recall for Hamming <= 3 (pigeonhole), and a
# 2^14 bucket space per band.  The first cut used 7 x 8-bit bands
# (recall to Hamming 6) and its own 100x probe killed it: 8-bit bands
# have 256 bucket values TOTAL, so buckets flood linearly with corpus
# size and the self-join goes quadratic no matter how unique the
# fingerprints are.  Same trade the simhash histogram rebuild made
# (4 x 15-bit bands) — band width is the scale knob, recall radius the
# price.
_DH_BITS, _DH_BANDS, _DH_MAXHAM = 56, 4, 3
_DH_NEAR_MOD, _DH_NEAR_OFF = 10, 3_000_000  # near twin: block(0,0) +40
_DH_COPY_MOD, _DH_COPY_OFF = 15, 4_000_000  # exact copy


# The media fixtures encode twins at source_id + 3_000_000 and exact
# copies at source_id + 4_000_000, and the probe/test helpers recover the
# source as media_id % 1_000_000 — so the encoding is only sound while
# source doc_ids stay below this gap.  Each fixture enforces it IN the
# encode loop (the mapInPandas function runs per row; a Python raise
# there cannot be pruned the way an unused assert column can), mirroring
# neardup_incremental's raise_error guard on its 10M ingest-split offset.
_MEDIA_ID_GAP = 1_000_000


def _guard_media_domain(did: int, op: str) -> int:
    if not (0 <= did < _MEDIA_ID_GAP):
        raise ValueError(
            f"{op}: source doc_id {did} outside [0, {_MEDIA_ID_GAP}) — "
            "the twin (+3M) / copy (+4M) id encoding would collide"
        )
    return did


def _chunked_media_yield(rows: list, chunk: int):
    """Yield (media_id, content) rows as <= chunk-row pandas frames.

    mapInPandas serializes each yielded frame as its own Arrow record
    batch; with multi-KB binary payloads the DEFAULT batching (one frame
    per 10k-row input batch) allocates payload_bytes x 10k x |tasks| of
    Arrow direct memory at once — the r11 probe's 100x video cell
    OOM-crashed the JVM's direct-buffer pool exactly that way.  Chunked
    yields bound each batch to chunk x payload_bytes regardless of input
    batch size (the module-docstring discipline in llm/multimodal.py)."""
    import pandas as pd

    for i in range(0, len(rows), chunk):
        yield pd.DataFrame(
            rows[i : i + chunk], columns=["media_id", "content"]
        )


def _dhash_gray(did: int, mutated: bool):
    """The synthetic image's luminance plane — integer math a SQL engine
    can replay.  Structure (not just brightness) varies per doc: constant
    offsets cancel in dHash by design, so the doc enters through the
    x*y / x / y coefficients."""
    import numpy as np

    y = np.arange(_DH_H, dtype=np.int64)[:, None]
    x = np.arange(_DH_W, dtype=np.int64)[None, :]
    g = (
        3 * x * x
        + 5 * y * y
        + x * y * (1 + did % 13)
        + (did % 29) * x
        + (did % 31) * y
    )
    if mutated:
        g = g + 40 * ((x < _DH_BLK) & (y < _DH_BLK))
    return (g % 251).astype(np.uint8)


def _bmp_bytes(gray) -> bytes:
    """Encode a (H, W) uint8 gray plane as a real 24-bit BMP: BGR channels
    all = gray, rows bottom-up, 4-byte stride padding.  The ONE place the
    byte-layout-sensitive encoding lives — the image fixture and every
    video frame go through it (a stride/flip fix here fixes both)."""
    import numpy as np

    from lakeforge.llm.multimodal import encode_bmp

    px = np.repeat(gray[:, :, None], 3, axis=2)
    row_bytes = (_DH_W * 3 + 3) & ~3
    rows = np.zeros((_DH_H, row_bytes), np.uint8)
    rows[:, : _DH_W * 3] = px[::-1].reshape(_DH_H, _DH_W * 3)
    return encode_bmp(_DH_W, _DH_H, rows.tobytes())


def _dhash_fp_from_gray(gray) -> int:
    """dHash of a decoded (H, W) gray plane: 4x4 block sums -> row-adjacent
    comparisons -> 56-bit packing.  Shared by the image decode path and
    every video frame's decode path."""
    import numpy as np

    s = gray.astype(np.int64).reshape(
        _DH_GRID_H, _DH_BLK, _DH_GRID_W, _DH_BLK
    ).sum(axis=(1, 3))
    bits = (s[:, :-1] > s[:, 1:]).astype(np.int64)
    shifts = np.arange(_DH_GRID_H)[:, None] * 8 + np.arange(_DH_GRID_W - 1)
    return int((bits << shifts).sum())


def _collapse_and_pair(fps: DataFrame) -> DataFrame:
    """The shared perceptual-dedup tail (image + audio legs): collapse
    identical fingerprints to (fp, representative, count) — dup floods
    cost one group row — then pair DISTINCT fingerprints via 4x14-bit
    pigeonhole banding (exact recall to Hamming <= 3) and report
    (media_a, media_b, hamming, n_pairs): cross-group pairs carry
    cnt_a*cnt_b, within-group exact-dup mass is analytic C(cnt, 2)."""
    from lakeforge.cache import persist_tracked
    from lakeforge.llm.dedup import hamming_neardup_pairs

    groups = persist_tracked(
        fps.groupBy("fp").agg(
            F.min("media_id").alias("rep"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
    )
    pairs = hamming_neardup_pairs(
        groups, "rep", "fp",
        bits=_DH_BITS, bands=_DH_BANDS, max_hamming=_DH_MAXHAM,
    )
    cnts = groups.select("rep", "cnt")
    cross = (
        pairs.join(
            cnts.select(F.col("rep").alias("id_a"), F.col("cnt").alias("cnt_a")),
            "id_a",
        )
        .join(
            cnts.select(F.col("rep").alias("id_b"), F.col("cnt").alias("cnt_b")),
            "id_b",
        )
        .select(
            F.col("id_a").alias("media_a"),
            F.col("id_b").alias("media_b"),
            "hamming",
            (F.col("cnt_a") * F.col("cnt_b")).cast("bigint").alias("n_pairs"),
        )
    )
    within = groups.filter(F.col("cnt") > 1).select(
        F.col("rep").alias("media_a"),
        F.col("rep").alias("media_b"),
        F.lit(0).cast("bigint").alias("hamming"),
        F.expr("CAST(cnt * (cnt - 1) div 2 AS BIGINT)").alias("n_pairs"),
    )
    return cross.unionByName(within)


def _dhash_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, content): a real 24-bit BMP per doc (+ near-dup twins at
    +3M with one mutated 4x4 block, exact copies at +4M), encoded with the
    format's bottom-up row order and stride padding."""
    from collections.abc import Iterator

    import pandas as pd

    docs = table(spark, sf_dir, "documents").select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def bmp(did: int, mutated: bool) -> bytes:
            return _bmp_bytes(_dhash_gray(did, mutated))

        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = _guard_media_domain(int(d), "image_dhash_neardup")
                out.append((d, bmp(d, False)))
                if d % _DH_NEAR_MOD == 0:
                    out.append((d + _DH_NEAR_OFF, bmp(d, True)))
                if d % _DH_COPY_MOD == 0:
                    out.append((d + _DH_COPY_OFF, bmp(d, False)))
            yield from _chunked_media_yield(out, 512)

    return docs.mapInPandas(encode, schema="media_id bigint, content binary")


def _dhash_decoder(out_col: str):
    """mapInPandas fn: (media_id, content[BMP bytes]) -> (out_col, fp).
    Real byte decode; channels equal -> channel 0 is the gray plane.
    Module-level (round 12) so the image query and the crossmodal ops
    fingerprint through the SAME decode loop."""
    from collections.abc import Iterator

    import pandas as pd

    from lakeforge.llm.multimodal import decode_bmp_pixels

    def dhash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                px = decode_bmp_pixels(bytes(content))  # real byte decode
                out.append((int(mid), _dhash_fp_from_gray(px[:, :, 0])))
            yield pd.DataFrame(out, columns=[out_col, "fp"])

    return dhash


def _dhash_fps_fused(spark: SparkSession, sf_dir: str, out_col: str) -> DataFrame:
    """(out_col, fp): the image fixture's encode -> BMP bytes -> decode ->
    dHash roundtrip fused into ONE Arrow pass (r12 opt, guide §4.1/§8).

    The split form (``_dhash_media`` then ``_dhash_decoder``) shipped
    every synthesized BMP across the Python->JVM->Python boundary as an
    Arrow binary column just to decode it in the next operator — ~30 MB
    of payload serialized twice per query at sf0.1, pure boundary cost.
    The fused pass runs the SAME ``_bmp_bytes`` encoder and the SAME
    ``decode_bmp_pixels`` byte decode per image (the real-format
    roundtrip is preserved verbatim); the bytes simply stay inside one
    Python worker.  At 100 TB the encode stage is where the parquet
    binary column is read, and this shape is the same one-decode-pass
    design.  ``_dhash_media``/``_dhash_decoder`` remain the two-stage
    surface (media_decode and schema tests exercise them)."""
    from collections.abc import Iterator

    import pandas as pd

    from lakeforge.llm.multimodal import decode_bmp_pixels

    # Spread the doc ids across the cluster BEFORE the decode pass: the
    # testdata parquet is one row group, so the scan is one task and the
    # whole Python decode would run serially (guide §2.5, unsplittable
    # input).  Only the 8-byte ids ride the exchange; count is the
    # cluster's parallelism, not a constant (4.4s -> 1.5s at sf0.1).
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def fp(did: int, mutated: bool) -> int:
            px = decode_bmp_pixels(_bmp_bytes(_dhash_gray(did, mutated)))
            return _dhash_fp_from_gray(px[:, :, 0])

        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = _guard_media_domain(int(d), "image_dhash_neardup")
                out.append((d, fp(d, False)))
                if d % _DH_NEAR_MOD == 0:
                    out.append((d + _DH_NEAR_OFF, fp(d, True)))
                if d % _DH_COPY_MOD == 0:
                    out.append((d + _DH_COPY_OFF, fp(d, False)))
            yield pd.DataFrame(out, columns=[out_col, "fp"])

    return docs.mapInPandas(fused, schema=f"{out_col} bigint, fp bigint")


def q_image_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = _dhash_fps_fused(spark, sf_dir, "media_id")
    return _collapse_and_pair(fps)


def _sql_image_dhash_neardup() -> str:
    """DuckDB replay of the ENTIRE pipeline in closed-form integer math:
    gray formula -> 4x4 block sums -> dHash bits -> 56-bit packing ->
    fingerprint-group collapse -> 4x14-bit banding -> Hamming <= 3."""
    width = _DH_BITS // _DH_BANDS
    mask = (1 << width) - 1
    return f"""
WITH imgs AS (
    SELECT doc_id AS media_id, doc_id AS d, 0 AS mut FROM documents
    UNION ALL
    SELECT doc_id + {_DH_NEAR_OFF}, doc_id, 1 FROM documents
    WHERE doc_id % {_DH_NEAR_MOD} = 0
    UNION ALL
    SELECT doc_id + {_DH_COPY_OFF}, doc_id, 0 FROM documents
    WHERE doc_id % {_DH_COPY_MOD} = 0
),
cells AS (
    SELECT i.media_id, r.r, c.cx,
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
bits AS (
    SELECT a.media_id, a.r, a.cx,
           CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
    FROM cells a
    JOIN cells b ON b.media_id = a.media_id AND b.r = a.r AND b.cx = a.cx + 1
    WHERE a.cx < {_DH_GRID_W - 1}
),
fpt AS (
    SELECT media_id,
           CAST(SUM(CAST(bit AS BIGINT) << (r * 8 + cx)) AS BIGINT) AS fp
    FROM bits GROUP BY media_id
),
grp AS (
    SELECT fp, MIN(media_id) AS rep, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM fpt GROUP BY fp
),
banded AS (
    SELECT rep, fp, cnt, b.band, (fp >> (b.band * {width})) & {mask} AS bh
    FROM grp, range({_DH_BANDS}) b(band)
),
cand AS (
    SELECT DISTINCT a.rep AS media_a, a.fp AS fa, a.cnt AS cnt_a,
                    b.rep AS media_b, b.fp AS fb, b.cnt AS cnt_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bh = b.bh AND a.rep < b.rep
)
SELECT media_a, media_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming,
       CAST(cnt_a * cnt_b AS BIGINT) AS n_pairs
FROM cand
WHERE bit_count(xor(fa, fb)) <= {_DH_MAXHAM}
UNION ALL
SELECT rep AS media_a, rep AS media_b, CAST(0 AS BIGINT) AS hamming,
       CAST(cnt * (cnt - 1) // 2 AS BIGINT) AS n_pairs
FROM grp WHERE cnt > 1
"""


register("image_dhash_neardup", q_image_dhash_neardup, _sql_image_dhash_neardup())


# ---------------------------------------------------------------------------
# audio_fingerprint_neardup — the AUDIO leg of perceptual dedup (image leg
# above): real 16-bit PCM WAV decode (llm/multimodal.py::decode_wav_samples
# — RIFF chunk walk, data offset, little-endian int16) -> frame-energy
# delta fingerprint (the chromaprint idea reduced to integer math a SQL
# engine can replay): 57 frames of 64 samples, E(i) = sum of s^2 over the
# frame, bit i = [E(i) > E(i+1)] -> 56-bit fingerprint -> the SAME
# collapse + 4x14-bit pigeonhole banding as the image op.  Energy deltas
# are robust to constant gain the way dHash is robust to brightness.
# Scale: audio bytes never shuffle (decode + fingerprint in one Arrow
# mapInPandas pass); everything after is (media_id, fp).
# ---------------------------------------------------------------------------

_AF_FRAMES, _AF_FRAME = 57, 64  # 57 energies -> 56 delta bits
_AF_N = (_AF_FRAMES + 1) * _AF_FRAME  # one spare frame so n is generous
_AF_NEAR_MOD, _AF_NEAR_OFF = 9, 3_000_000   # near twin: frame 0 +25 gain
_AF_COPY_MOD, _AF_COPY_OFF = 14, 4_000_000  # exact copy


def _af_samples(did: int, mutated: bool):
    """Deterministic PCM samples: s(i) = ((3*i*i + 7*i*(d%13) + 11*(d%29))
    % 997) - 498, int16-safe; the mutation adds +25 to frame 0 only."""
    import numpy as np

    i = np.arange(_AF_N, dtype=np.int64)
    s = (3 * i * i + 7 * i * (did % 13) + 11 * (did % 29)) % 997 - 498
    if mutated:
        s = s + 25 * (i < _AF_FRAME)
    return s.astype("<i2")


def _af_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from lakeforge.llm.multimodal import encode_wav

    docs = table(spark, sf_dir, "documents").select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def wav(did: int, mutated: bool) -> bytes:
            return encode_wav(
                n_samples=_AF_N,
                sample_rate=16_000,
                data_prefix=_af_samples(did, mutated).tobytes(),
            )

        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = _guard_media_domain(int(d), "audio_fingerprint_neardup")
                out.append((d, wav(d, False)))
                if d % _AF_NEAR_MOD == 0:
                    out.append((d + _AF_NEAR_OFF, wav(d, True)))
                if d % _AF_COPY_MOD == 0:
                    out.append((d + _AF_COPY_OFF, wav(d, False)))
            yield from _chunked_media_yield(out, 256)

    return docs.mapInPandas(encode, schema="media_id bigint, content binary")


def q_audio_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from lakeforge.llm.multimodal import decode_wav_samples, encode_wav

    # Same id-only pre-decode spread as _dhash_fps_fused (guide §2.5).
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    # Encode -> WAV bytes -> decode -> frame-energy fingerprint fused
    # into ONE Arrow pass (r12 opt, guide §4.1/§8 — same rationale as
    # _dhash_fps_fused: the split _af_media + decoder form serialized
    # every synthesized WAV across the Python->JVM->Python boundary
    # twice).  The real-format roundtrip (encode_wav header/layout,
    # decode_wav_samples byte parse) is preserved verbatim.
    def afp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        shifts = np.arange(_AF_FRAMES - 1, dtype=np.int64)

        def fp(did: int, mutated: bool) -> int:
            wav = encode_wav(
                n_samples=_AF_N,
                sample_rate=16_000,
                data_prefix=_af_samples(did, mutated).tobytes(),
            )
            samples, _hdr = decode_wav_samples(wav)
            s = samples[: _AF_FRAMES * _AF_FRAME, 0].astype(np.int64)
            e = (s * s).reshape(_AF_FRAMES, _AF_FRAME).sum(axis=1)
            bits = (e[:-1] > e[1:]).astype(np.int64)
            return int((bits << shifts).sum())

        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = _guard_media_domain(int(d), "audio_fingerprint_neardup")
                out.append((d, fp(d, False)))
                if d % _AF_NEAR_MOD == 0:
                    out.append((d + _AF_NEAR_OFF, fp(d, True)))
                if d % _AF_COPY_MOD == 0:
                    out.append((d + _AF_COPY_OFF, fp(d, False)))
            yield pd.DataFrame(out, columns=["media_id", "fp"])

    fps = docs.mapInPandas(afp, schema="media_id bigint, fp bigint")
    return _collapse_and_pair(fps)


def _sql_audio_fingerprint_neardup() -> str:
    width = _DH_BITS // _DH_BANDS
    mask = (1 << width) - 1
    return f"""
WITH auds AS (
    SELECT doc_id AS media_id, doc_id AS d, 0 AS mut FROM documents
    UNION ALL
    SELECT doc_id + {_AF_NEAR_OFF}, doc_id, 1 FROM documents
    WHERE doc_id % {_AF_NEAR_MOD} = 0
    UNION ALL
    SELECT doc_id + {_AF_COPY_OFF}, doc_id, 0 FROM documents
    WHERE doc_id % {_AF_COPY_MOD} = 0
),
samples AS (
    SELECT a.media_id, f.f,
           ((3 * (f.f*{_AF_FRAME}+j.j) * (f.f*{_AF_FRAME}+j.j)
             + 7 * (f.f*{_AF_FRAME}+j.j) * (a.d % 13)
             + 11 * (a.d % 29)) % 997 - 498
            + CASE WHEN a.mut = 1 AND f.f = 0 THEN 25 ELSE 0 END
           )::BIGINT AS s
    FROM auds a, range({_AF_FRAMES}) f(f), range({_AF_FRAME}) j(j)
),
energies AS (
    SELECT media_id, f, CAST(SUM(s * s) AS BIGINT) AS e
    FROM samples GROUP BY 1, 2
),
bits AS (
    SELECT a.media_id, a.f,
           CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
    FROM energies a
    JOIN energies b ON b.media_id = a.media_id AND b.f = a.f + 1
    WHERE a.f < {_AF_FRAMES - 1}
),
fpt AS (
    SELECT media_id, CAST(SUM(CAST(bit AS BIGINT) << f) AS BIGINT) AS fp
    FROM bits GROUP BY media_id
),
grp AS (
    SELECT fp, MIN(media_id) AS rep, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM fpt GROUP BY fp
),
banded AS (
    SELECT rep, fp, cnt, b.band, (fp >> (b.band * {width})) & {mask} AS bh
    FROM grp, range({_DH_BANDS}) b(band)
),
cand AS (
    SELECT DISTINCT a.rep AS media_a, a.fp AS fa, a.cnt AS cnt_a,
                    b.rep AS media_b, b.fp AS fb, b.cnt AS cnt_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bh = b.bh AND a.rep < b.rep
)
SELECT media_a, media_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming,
       CAST(cnt_a * cnt_b AS BIGINT) AS n_pairs
FROM cand
WHERE bit_count(xor(fa, fb)) <= {_DH_MAXHAM}
UNION ALL
SELECT rep AS media_a, rep AS media_b, CAST(0 AS BIGINT) AS hamming,
       CAST(cnt * (cnt - 1) // 2 AS BIGINT) AS n_pairs
FROM grp WHERE cnt > 1
"""


register(
    "audio_fingerprint_neardup",
    q_audio_fingerprint_neardup,
    _sql_audio_fingerprint_neardup(),
)


# ---------------------------------------------------------------------------
# sql_udf_net_charge — Spark 4 SQL UDF surface (CREATE TEMPORARY FUNCTION
# ... RETURNS ... RETURN <expr>): the money-math helper defined ONCE in
# SQL and reused across queries.  Unlike a Python UDF, a SQL UDF is
# INLINED by Catalyst (macro expansion before optimization), so it costs
# nothing at 100 TB: the plan below is byte-identical to writing the
# expression inline — filters still push to the scan, codegen still fuses
# the whole stage.  Exact integer money math as everywhere (cents x
# basis-point factors, div).  The oracle inlines the same expression.
# UDF name is per-sf_dir-hashed and dropped post-analysis (the temp-view
# convention, ADVICE r9 #3).
# ---------------------------------------------------------------------------


def q_sql_udf_net_charge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    fn = f"__r11_net_charge_{tag}"
    view = f"__r11_lineitem_{tag}"
    table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        view
    )
    spark.sql(f"""
      CREATE OR REPLACE TEMPORARY FUNCTION {fn}(price DOUBLE, disc DOUBLE,
                                                tax DOUBLE)
      RETURNS BIGINT
      RETURN CAST(round(price * 100) AS BIGINT)
             * (100 - CAST(round(disc * 100) AS BIGINT))
             * (100 + CAST(round(tax * 100) AS BIGINT)) div 10000
    """)
    try:
        out = spark.sql(f"""
          SELECT l_returnflag,
                 CAST(count(*) AS BIGINT) AS n_lines,
                 CAST(SUM(CAST({fn}(l_extendedprice, l_discount, l_tax)
                           AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS net_cents,
                 CAST(MAX({fn}(l_extendedprice, l_discount, l_tax))
                      AS BIGINT) AS max_net_cents
          FROM {view}
          WHERE l_quantity < 45
          GROUP BY l_returnflag
        """)
        # materialize the ANALYZED plan before dropping the function
        out.schema
        return out
    finally:
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {fn}")
        spark.catalog.dropTempView(view)


SQL_SQL_UDF_NET_CHARGE = """
WITH src AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))
           * (100 + CAST(round(l_tax * 100) AS BIGINT)) // 10000 AS net
  FROM lineitem WHERE l_quantity < 45
)
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(net AS HUGEINT)) AS DOUBLE) AS net_cents,
       CAST(MAX(net) AS BIGINT) AS max_net_cents
FROM src GROUP BY l_returnflag
"""

register("sql_udf_net_charge", q_sql_udf_net_charge, SQL_SQL_UDF_NET_CHARGE)


# ---------------------------------------------------------------------------
# orders_unpivot_metrics — the UNPIVOT (melt) relational surface: a wide
# per-priority metrics row folded into (priority, metric, value) long
# form — the shape BI tools and metric stores ingest.  UNPIVOT is a
# zero-shuffle row-local expansion in Spark (each input row emits
# |metrics| rows); the aggregate BEFORE it is the only exchange, and the
# output is |priorities| x |metrics| bounded.  Oracle: the same long form
# via UNION ALL (portable ANSI).
# ---------------------------------------------------------------------------


def q_orders_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
        F.max(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("max_cents"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_orders", "total_cents", "max_cents", "n_customers"],
        variableColumnName="metric",
        valueColumnName="value",
    )


SQL_ORDERS_UNPIVOT_METRICS = """
WITH wide AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
         CAST(MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS max_cents,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM wide
UNION ALL
SELECT o_orderpriority, 'total_cents', total_cents FROM wide
UNION ALL
SELECT o_orderpriority, 'max_cents', max_cents FROM wide
UNION ALL
SELECT o_orderpriority, 'n_customers', n_customers FROM wide
"""

register("orders_unpivot_metrics", q_orders_unpivot_metrics, SQL_ORDERS_UNPIVOT_METRICS)


# ---------------------------------------------------------------------------
# video_frame_neardup — the VIDEO leg of perceptual dedup: a video is a
# container of frames; near-dup videos share most frame fingerprints
# (re-encodes, trims, watermark variants).  The fixture container is a
# sequence of REAL concatenated 24-bit BMPs (each frame carries its own
# 54-byte header declaring its file size — the decode WALKS the container
# by those declared sizes, then decodes each frame's pixel array for
# real); each frame is dHash-fingerprinted with the image leg's exact
# machinery, and videos pair on SHARED FRAME FINGERPRINTS through a
# df-capped inverted index (the jaccard_pairs discipline: a fingerprint
# appearing in more than _VF_DFCAP videos is boilerplate — an intro card,
# a black frame — and is dropped from pairing, which is what bounds the
# posting-list self-join at 100 TB).  Output: video pairs sharing >=
# _VF_MIN_SHARED frame fingerprints.
# Scale: video bytes never shuffle (decode + per-frame dHash in one Arrow
# pass); the exchange carries (video_id, frame_fp) rows; pairing joins
# df-capped postings only.
# ---------------------------------------------------------------------------

_VF_NF = 8               # frames per fixture video
_VF_SEED_GAP = 500_000   # twin re-seed offset for the divergent tail
_VF_NEAR_MOD, _VF_NEAR_OFF = 11, 3_000_000  # twin: frames 6,7 re-seeded
_VF_COPY_MOD, _VF_COPY_OFF = 13, 4_000_000  # exact copy
_VF_MIN_SHARED, _VF_DFCAP = 4, 64


def _vf_frame_seed(vid_src: int, k: int, mutated: bool) -> int:
    """Frame k of video with source doc d: the image-leg gray formula
    seeded with d*8+k; a mutated twin re-seeds its last two frames."""
    base = vid_src * _VF_NF + k
    if mutated and k >= _VF_NF - 2:
        return (vid_src + _VF_SEED_GAP) * _VF_NF + k
    return base


def _vf_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    docs = table(spark, sf_dir, "documents").select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def frame(seed: int) -> bytes:
            return _bmp_bytes(_dhash_gray(seed, False))

        def video(d: int, mutated: bool) -> bytes:
            return b"".join(
                frame(_vf_frame_seed(d, k, mutated)) for k in range(_VF_NF)
            )

        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = _guard_media_domain(int(d), "video_frame_neardup")
                out.append((d, video(d, False)))
                if d % _VF_NEAR_MOD == 0:
                    out.append((d + _VF_NEAR_OFF, video(d, True)))
                if d % _VF_COPY_MOD == 0:
                    out.append((d + _VF_COPY_OFF, video(d, False)))
            yield from _chunked_media_yield(out, 64)

    return docs.mapInPandas(encode, schema="media_id bigint, content binary")


def _frame_fp_decoder(out_col: str):
    """mapInPandas fn: (media_id, content[concatenated BMPs]) ->
    (out_col, fp) per frame.  Container walk by each frame's DECLARED
    file size, then real per-frame decode.  Module-level (round 12) so
    the video query and the crossmodal ops walk the SAME container
    logic."""
    import struct
    from collections.abc import Iterator

    import pandas as pd

    from lakeforge.llm.multimodal import decode_bmp_pixels

    def frame_fps(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                buf, pos = bytes(content), 0
                while pos + 6 <= len(buf) and buf[pos : pos + 2] == b"BM":
                    # container walk by each frame's DECLARED file size
                    (fsize,) = struct.unpack_from("<I", buf, pos + 2)
                    px = decode_bmp_pixels(buf[pos : pos + fsize])
                    out.append((int(mid), _dhash_fp_from_gray(px[:, :, 0])))
                    pos += fsize
            yield pd.DataFrame(out, columns=[out_col, "fp"])

    return frame_fps


def _vf_fps_fused(spark: SparkSession, sf_dir: str, out_col: str) -> DataFrame:
    """(out_col, fp) per frame: the video fixture's encode -> container
    bytes -> container-walk decode -> per-frame dHash fused into ONE
    Arrow pass (r12 opt, guide §4.1/§8 — same rationale as
    ``_dhash_fps_fused``, but the payload here is ~12x larger: ~340 MB
    of container bytes per query crossed the Python->JVM->Python
    boundary twice at sf0.1).  The container is still really assembled
    (concatenated BMP frames) and really WALKED by each frame's declared
    file size through the same struct/decode code as
    ``_frame_fp_decoder``; only the JVM hop is gone."""
    import struct
    from collections.abc import Iterator

    import pandas as pd

    from lakeforge.llm.multimodal import decode_bmp_pixels

    # Same id-only pre-decode spread as _dhash_fps_fused (guide §2.5).
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def frame(seed: int) -> bytes:
            return _bmp_bytes(_dhash_gray(seed, False))

        def video_fps(d: int, mutated: bool) -> list[int]:
            buf = b"".join(
                frame(_vf_frame_seed(d, k, mutated)) for k in range(_VF_NF)
            )
            fps, pos = [], 0
            while pos + 6 <= len(buf) and buf[pos : pos + 2] == b"BM":
                (fsize,) = struct.unpack_from("<I", buf, pos + 2)
                px = decode_bmp_pixels(buf[pos : pos + fsize])
                fps.append(_dhash_fp_from_gray(px[:, :, 0]))
                pos += fsize
            return fps

        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = _guard_media_domain(int(d), "video_frame_neardup")
                out.extend((d, f) for f in video_fps(d, False))
                if d % _VF_NEAR_MOD == 0:
                    out.extend(
                        (d + _VF_NEAR_OFF, f) for f in video_fps(d, True)
                    )
                if d % _VF_COPY_MOD == 0:
                    out.extend(
                        (d + _VF_COPY_OFF, f) for f in video_fps(d, False)
                    )
            yield pd.DataFrame(out, columns=[out_col, "fp"])

    return docs.mapInPandas(fused, schema=f"{out_col} bigint, fp bigint")


def q_video_frame_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.cache import persist_tracked

    fps = _vf_fps_fused(spark, sf_dir, "media_id")
    # distinct (video, frame-fp): repeated identical frames inside one
    # video count once for overlap purposes
    vfp = persist_tracked(fps.distinct())
    df_ok = (
        vfp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _VF_DFCAP)
        .select("fp")
    )
    postings = vfp.join(df_ok, "fp")
    a, b = postings.alias("a"), postings.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .groupBy(
            F.col("a.media_id").alias("video_a"),
            F.col("b.media_id").alias("video_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_frames"))
        .filter(F.col("n_shared_frames") >= _VF_MIN_SHARED)
    )


def _sql_video_frame_neardup() -> str:
    """DuckDB replay: frame seeds -> the image leg's closed-form dHash ->
    distinct (video, fp) -> df cap -> posting self-join."""
    return f"""
WITH vids AS (
    SELECT doc_id AS media_id, doc_id AS d, 0 AS mut FROM documents
    UNION ALL
    SELECT doc_id + {_VF_NEAR_OFF}, doc_id, 1 FROM documents
    WHERE doc_id % {_VF_NEAR_MOD} = 0
    UNION ALL
    SELECT doc_id + {_VF_COPY_OFF}, doc_id, 0 FROM documents
    WHERE doc_id % {_VF_COPY_MOD} = 0
),
frames AS (
    SELECT v.media_id,
           CASE WHEN v.mut = 1 AND k.k >= {_VF_NF - 2}
                THEN (v.d + {_VF_SEED_GAP}) * {_VF_NF} + k.k
                ELSE v.d * {_VF_NF} + k.k END AS sd
    FROM vids v, range({_VF_NF}) k(k)
),
cells AS (
    SELECT f.media_id, f.sd, r.r, c.cx,
           SUM((3 * (c.cx*{_DH_BLK}+dx.dx) * (c.cx*{_DH_BLK}+dx.dx)
                + 5 * (r.r*{_DH_BLK}+dy.dy) * (r.r*{_DH_BLK}+dy.dy)
                + (c.cx*{_DH_BLK}+dx.dx) * (r.r*{_DH_BLK}+dy.dy) * (1 + f.sd % 13)
                + (f.sd % 29) * (c.cx*{_DH_BLK}+dx.dx)
                + (f.sd % 31) * (r.r*{_DH_BLK}+dy.dy)
               ) % 251) AS s
    FROM frames f,
         range({_DH_GRID_H}) r(r), range({_DH_GRID_W}) c(cx),
         range({_DH_BLK}) dy(dy), range({_DH_BLK}) dx(dx)
    GROUP BY 1, 2, 3, 4
),
bits AS (
    SELECT a.media_id, a.sd, a.r, a.cx,
           CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
    FROM cells a
    JOIN cells b ON b.media_id = a.media_id AND b.sd = a.sd
                AND b.r = a.r AND b.cx = a.cx + 1
    WHERE a.cx < {_DH_GRID_W - 1}
),
fpt AS (
    SELECT DISTINCT media_id,
           CAST(SUM(CAST(bit AS BIGINT) << (r * 8 + cx)) AS BIGINT) AS fp
    FROM bits GROUP BY media_id, sd
),
dfreq AS (
    SELECT fp FROM fpt GROUP BY fp HAVING COUNT(*) <= {_VF_DFCAP}
),
postings AS (SELECT f.media_id, f.fp FROM fpt f JOIN dfreq USING (fp))
SELECT a.media_id AS video_a, b.media_id AS video_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_frames
FROM postings a JOIN postings b
  ON a.fp = b.fp AND a.media_id < b.media_id
GROUP BY 1, 2
HAVING COUNT(*) >= {_VF_MIN_SHARED}
"""


register("video_frame_neardup", q_video_frame_neardup, _sql_video_frame_neardup())


# ---------------------------------------------------------------------------
# media_quality_gate — the media CURATION step a 100 TB multimodal
# pipeline runs before training (the media parallel of docs_gate_funnel):
# every payload is REALLY decoded (llm/multimodal.py::decode_media_stats —
# BMP pixel rows / PCM frames in numpy), then gated row-locally:
#   corrupt    — header/payload decode failed (all-NULL stats row)
#   too_small  — images under 64 px (n_values = 3*h*w < 192) or audio
#                under 400 samples: too little signal to train on
#   ok         — everything else
# Output is the |fmt| x |verdict| bounded funnel with the ok-mass value
# count (exact integers).  Scale: one Arrow decode pass, bytes never
# shuffle, one map-side-combinable aggregate.  The oracle re-derives
# every verdict in closed form from the fixture's doc_id formulas —
# the same contract as media_pixels: a decode error shifts the funnel.
# ---------------------------------------------------------------------------

_MQ_MIN_PIXVALS, _MQ_MIN_SAMPLES = 192, 400  # 64 px * 3 channels; 400 smp


def q_media_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeforge.llm.multimodal import decode_media_stats
    from lakeforge.workload_llm import _media_fixture

    stats = decode_media_stats(_media_fixture(spark, sf_dir))
    verdict = (
        F.when(F.col("fmt").isNull(), "corrupt")
        .when(
            (F.col("fmt") == "bmp") & (F.col("n_values") < _MQ_MIN_PIXVALS),
            "too_small",
        )
        .when(
            (F.col("fmt") == "wav") & (F.col("n_values") < _MQ_MIN_SAMPLES),
            "too_small",
        )
        .otherwise("ok")
    )
    return (
        stats.select(
            F.coalesce("fmt", F.lit("none")).alias("fmt"),
            verdict.alias("verdict"),
            "n_values",
        )
        .groupBy("fmt", "verdict")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_media"),
            F.coalesce(F.sum("n_values"), F.lit(0))
            .cast("bigint")
            .alias("total_values"),
        )
    )


SQL_MEDIA_QUALITY_GATE = f"""
WITH p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 101 = 0 THEN NULL
              WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS fmt,
         CASE WHEN doc_id % 101 = 0 THEN NULL
              WHEN doc_id % 2 = 0
              THEN 3 * (doc_id % 48 + 1) * (doc_id % 64 + 1)
              ELSE (doc_id * 37) % 4000 + 100 END AS n_values
  FROM documents
),
v AS (
  SELECT COALESCE(fmt, 'none') AS fmt,
         CASE WHEN fmt IS NULL THEN 'corrupt'
              WHEN fmt = 'bmp' AND n_values < {_MQ_MIN_PIXVALS} THEN 'too_small'
              WHEN fmt = 'wav' AND n_values < {_MQ_MIN_SAMPLES} THEN 'too_small'
              ELSE 'ok' END AS verdict,
         n_values
  FROM p
)
SELECT fmt, verdict, CAST(count(*) AS BIGINT) AS n_media,
       CAST(COALESCE(SUM(n_values), 0) AS BIGINT) AS total_values
FROM v GROUP BY fmt, verdict
"""

register("media_quality_gate", q_media_quality_gate, SQL_MEDIA_QUALITY_GATE)


# ---------------------------------------------------------------------------
# sql_table_udf_value_bands — the Spark 4 SQL TABLE function surface
# (CREATE TEMPORARY FUNCTION ... RETURNS TABLE ... RETURN SELECT): a
# parameterized banded-orders rollup invoked as a table in FROM.  Like
# the scalar SQL UDF, a SQL table function is expanded by Catalyst into
# its defining query (a parameterized view, not an opaque callable), so
# the literal argument constant-folds into the band expression and the
# plan is the same pushed-scan aggregate as the hand-written query —
# free at 100 TB, unlike a Python UDTF.
# ---------------------------------------------------------------------------

_TUDF_BAND = 50_000  # cents per band


def q_sql_table_udf_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    fn = f"__r11_value_bands_{tag}"
    view = f"__r11_orders_{tag}"
    table(spark, sf_dir, "orders").createOrReplaceTempView(
        view
    )
    spark.sql(f"""
      CREATE OR REPLACE TEMPORARY FUNCTION {fn}(band_cents BIGINT)
      RETURNS TABLE(o_orderpriority STRING, band BIGINT,
                    n_orders BIGINT, band_cents_total BIGINT)
      RETURN SELECT o_orderpriority,
                    CAST(round(o_totalprice * 100) AS BIGINT)
                        div band_cents AS band,
                    CAST(count(*) AS BIGINT) AS n_orders,
                    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                         AS BIGINT) AS band_cents_total
             FROM {view}
             GROUP BY o_orderpriority,
                      CAST(round(o_totalprice * 100) AS BIGINT)
                          div band_cents
    """)
    try:
        out = spark.sql(f"SELECT * FROM {fn}({_TUDF_BAND})")
        out.schema  # force analysis before the function is dropped
        return out
    finally:
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {fn}")
        spark.catalog.dropTempView(view)


SQL_TABLE_UDF_VALUE_BANDS = f"""
SELECT o_orderpriority,
       CAST(round(o_totalprice * 100) AS BIGINT) // {_TUDF_BAND} AS band,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS band_cents_total
FROM orders
GROUP BY 1, 2
"""

register(
    "sql_table_udf_value_bands", q_sql_table_udf_value_bands, SQL_TABLE_UDF_VALUE_BANDS,
)
