from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from lakeforge.llm.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_fingerprints,
    simhash_neardup_pairs,
)
from lakeforge.llm.multimodal import MEDIA_SCHEMA, extract_features, sample_frames
from lakeforge.llm.similarity import cosine_topk, rp_lsh_buckets
from lakeforge.llm.text import text_stats, tokens_col


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog tonight"),  # near-dup
        (4, "completely different content about spark engines and data"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_tokens_and_stats(spark):
    df = spark.createDataFrame([(1, "The  quick THE a  ")], ["doc_id", "text"])
    toks = df.select(tokens_col("text").alias("t")).collect()[0]["t"]
    assert toks == ["the", "quick", "the", "a"]
    row = text_stats(df, "text", "doc_id").collect()[0]
    assert row["n_tokens"] == 4
    assert row["n_uniq_tokens"] == 3
    assert row["n_stop"] == 3  # the, the, a
    assert row["stop_permille"] == 750


def test_exact_dedup_groups(spark):
    out = exact_dedup(_docs(spark), "text", "doc_id").collect()
    groups = {r["canonical_id"]: r["n_copies"] for r in out}
    assert groups[1] == 2  # docs 1 and 2 collapse
    assert groups[3] == 1 and groups[4] == 1


def test_minhash_lsh_finds_neardup_not_unrelated(spark):
    sig = minhash_signatures(_docs(spark), "text", "doc_id", k=32, shingle_n=3)
    pairs = lsh_candidate_pairs(sig, k=32, bands=8, min_match=16).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 2) in got  # identical -> all 32 components match
    assert (1, 3) in got or (2, 3) in got  # near-dup caught by some band
    assert not any(4 in p for p in got)  # unrelated never pairs


def test_exact_duplicate_has_full_signature_match(spark):
    sig = minhash_signatures(_docs(spark), "text", "doc_id", k=32, shingle_n=3)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_match"]
        for r in lsh_candidate_pairs(sig, k=32, bands=8, min_match=1).collect()
    }
    assert pairs[(1, 2)] == 32


def test_jaccard_pairs(spark):
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard_permille"]
        for r in jaccard_pairs(
            _docs(spark), "text", "doc_id", shingle_n=3, df_cap=50, min_permille=100
        ).collect()
    }
    assert out[(1, 2)] == 1000  # identical docs
    assert (1, 3) in out  # near-dup above threshold
    assert not any(4 in k for k in out)


def test_simhash_identical_docs_equal_fingerprints(spark):
    fps = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprints(_docs(spark), "text", "doc_id").collect()
    }
    assert fps[1] == fps[2]
    assert fps[1] != fps[4]
    assert all(0 <= v < (1 << 32) for v in fps.values())


def test_simhash_neardup_pairs_match_bruteforce(spark):
    """Banding must have exact recall at hamming <= bands-1: the banded
    join's pair set equals the O(n^2) brute force on the same corpus."""
    docs = _docs(spark).union(
        spark.createDataFrame(
            [(5, "the quick brown fox leaps over the lazy dog")],
            ["doc_id", "text"],
        )
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_neardup_pairs(
            docs, "text", "doc_id", bands=4, max_hamming=3
        ).collect()
    }
    fps = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprints(docs, "text", "doc_id").collect()
    }
    ids = sorted(fps)
    brute = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    assert got == brute
    assert (1, 2) in got and got[(1, 2)] == 0  # exact dups at distance 0


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    return df.withColumn("embedding", F.col("embedding").cast("array<float>"))


def test_cosine_topk_ordering(spark):
    emb = _vecs(spark)
    out = cosine_topk(emb.filter("vec_id = 0"), emb, "embedding", "vec_id", k=3).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in ranked] == [1, 2, 3]
    assert abs(ranked[0]["sim"] - 0.993884) < 1e-6
    assert ranked[1]["sim"] == 0.0
    assert ranked[2]["sim"] == -1.0


def test_rp_lsh_buckets_deterministic_and_sign_symmetric(spark):
    emb = _vecs(spark)
    out = {r["vec_id"]: r["bucket"] for r in
           rp_lsh_buckets(emb, "embedding", "vec_id", n_planes=16, dim=4).collect()}
    out2 = {r["vec_id"]: r["bucket"] for r in
            rp_lsh_buckets(emb, "embedding", "vec_id", n_planes=16, dim=4).collect()}
    assert out == out2
    assert all(0 <= b < (1 << 16) for b in out.values())
    # Opposite vectors land in complementary buckets (all plane signs flip;
    # ties at dot==0 both map to 1, so only assert differing buckets).
    assert out[0] != out[3]


def test_multimodal_feature_extraction(spark):
    rows = [
        (1, "image", bytes(range(256)), "image/png", 16, 16, None),
        (2, "image", None, "image/png", None, None, None),
        (3, "video", b"\x00" * 64, "video/mp4", None, None, 5000),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["n_bytes"] == 256
    assert len(feats[1]["features"]) == 16
    # byte histogram of 0..255: every 16-bucket gets 16/256
    assert abs(feats[1]["features"][0] - 16 / 256) < 1e-6
    assert feats[2]["n_bytes"] == 0 and sum(feats[2]["features"]) == 0.0
    # determinism
    feats2 = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["features"] == feats2[1]["features"]


def test_scrub_pii_redacts_and_counts(spark):
    from lakeforge.llm.text import scrub_pii

    rows = [
        (1, "mail a@b.co and c.d+x@e-f.org, call 555-1234 or 555-99"),
        (2, "no contact info here"),
        (3, "edge: @not-an-email, 12-34 not a phone, x@y.z short tld"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in scrub_pii(df, "text", "doc_id").collect()}
    # 555-99 is too short for the phone pattern ({3,8} after the dash)
    assert out[1]["n_emails"] == 2 and out[1]["n_phones"] == 1
    assert out[1]["text"] == "mail <EMAIL> and <EMAIL>, call <PHONE> or 555-99"
    assert out[2]["n_emails"] == 0 and out[2]["n_phones"] == 0
    assert out[2]["text"] == "no contact info here"
    # single-letter TLD doesn't match ({2,}), bare @ doesn't match
    assert out[3]["n_emails"] == 0 and out[3]["n_phones"] == 0


def test_chunk_audio_boundaries_and_payload_bound(spark):
    from lakeforge.llm.multimodal import chunk_audio

    rows = [
        # 25s clip, 100 bytes -> chunks [0,10s),[10,20s),[20,25s)
        (1, "audio", bytes(range(100)), "audio/wav", None, None, 25000),
        (2, "audio", None, "audio/wav", None, None, 5000),  # no payload
        (3, "image", b"\xff" * 10, "image/png", 2, 5, None),  # not audio
        (4, "audio", b"\x01" * 8, "audio/wav", None, None, 10000),  # exact 1
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = chunk_audio(media, chunk_ms=10_000).collect()
    by_key = {(r["media_id"], r["chunk_idx"]): r for r in out}
    assert {m for m, _ in by_key} == {1, 4}  # null payload + non-audio skipped
    c1 = [by_key[(1, i)] for i in range(3)]
    assert [(r["start_ms"], r["end_ms"]) for r in c1] == [
        (0, 10000), (10000, 20000), (20000, 25000),  # ragged last chunk
    ]
    # byte slices partition the payload in order, proportional to time
    assert b"".join(bytes(r["content"]) for r in c1) == bytes(range(100))
    assert len(c1[0]["content"]) == 40  # 10s/25s of 100 bytes
    assert (4, 0) in by_key and len(by_key) == 4  # exact-multiple: 1 chunk


def test_sample_frames(spark):
    rows = [(3, "video", None, "video/mp4", None, None, 3500),
            (4, "image", None, "image/png", None, None, None)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = sample_frames(media, every_ms=1000).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r["ts_ms"])
    assert sorted(by_id[3]) == [0, 1000, 2000]
    assert 4 not in by_id  # images don't produce frames


def test_resize_images_shrinks_payload_and_sets_dims(spark):
    from lakeforge.llm.multimodal import MEDIA_SCHEMA, resize_images

    rows = [
        (1, "image", bytes(range(256)) * 4, "image/png", 32, 32, None),
        (2, "image", None, "image/png", 16, 16, None),
        (3, "video", b"\x00" * 100, "video/mp4", None, None, 5000),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in resize_images(media, 8, 8).collect()}

    assert set(out) == {1, 2}  # video filtered out
    r1 = out[1]
    assert (r1["width"], r1["height"]) == (8, 8)
    # 32x32 -> 8x8 is a 1/16 pixel ratio: payload shrinks accordingly
    assert len(r1["content"]) == 1024 // 16
    assert out[2]["content"] is None and out[2]["width"] is None


def test_python_udtf_lateral_join_surface(spark):
    """Python UDTF (Spark 4 API): table-function surface for row-exploding
    Python logic.  Kept as an API demonstration — hot-path segmentation
    uses the JVM-side posexplode query (q_doc_sentences) instead."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="word string, n int")
    class SplitWords:
        def eval(self, text: str):
            for w in (text or "").split():
                yield (w, len(w))

    rows = SplitWords(lit("alpha bb c")).collect()
    assert [(r["word"], r["n"]) for r in rows] == [("alpha", 5), ("bb", 2), ("c", 1)]

    # lateral-join form over a table
    spark.udtf.register("split_words", SplitWords)
    df = spark.createDataFrame([(1, "x yy"), (2, "zzz")], ["id", "txt"])
    df.createOrReplaceTempView("docs_udtf")
    out = spark.sql(
        "SELECT id, word, n FROM docs_udtf, LATERAL split_words(txt)"
    ).collect()
    assert sorted((r["id"], r["word"], r["n"]) for r in out) == [
        (1, "x", 1), (1, "yy", 2), (2, "zzz", 3)
    ]


def test_pack_sequences_matches_global_window_any_chunking(spark):
    """The distributed two-level prefix sum must equal the naive global
    cumsum for every chunk_size (including one doc per chunk and one
    chunk total)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from lakeforge.llm.packing import pack_sequences

    rows = [(i, (i * 37) % 90 + 1) for i in range(0, 300, 3)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    naive = {
        r["doc_id"]: r["start"]
        for r in df.select(
            "doc_id", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("start")
        ).collect()
    }
    for chunk in (1, 7, 64, 10_000):
        got = pack_sequences(df, "n_tokens", "doc_id", seq_len=128, chunk_size=chunk)
        for r in got.collect():
            assert r["tok_start"] == naive[r["doc_id"]], (chunk, r)
            assert r["bin_id"] * 128 + r["bin_offset"] == r["tok_start"]
            assert 0 <= r["bin_offset"] < 128


def test_contamination_check_flags_benchmark_overlap(spark):
    from lakeforge.llm.decontam import contamination_check

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # = benchmark doc
            (2, "alpha beta gamma delta epsilon other"),  # shares 2 5-grams? no — 1
            (3, "totally different words here now folks"),
        ],
        ["doc_id", "text"],
    )
    bench = corpus.filter("doc_id = 1")
    out = {
        r["doc_id"]: (r["n_shingles"], r["n_hits"], r["contaminated"])
        for r in contamination_check(
            corpus, bench, "text", "doc_id", shingle_n=5, min_hits=1
        ).collect()
    }
    # doc1: 2 shingles, both hit. doc2 shares exactly the first 5-gram.
    assert out[1] == (2, 2, True)
    assert out[2] == (2, 1, True)
    assert out[3] == (2, 0, False)


def test_repetition_stats_flags_dominant_bigram(spark):
    from lakeforge.llm.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam spam spam ok"),
            (2, "a b c d e f g h i j k"),
            (3, "solo"),  # < 2 tokens: no bigrams, absent from output
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_stats(df, "text", "doc_id").collect()}
    assert out[1]["repetitive"] and out[1]["top_bigram_count"] == 9
    assert not out[2]["repetitive"]
    assert out[2]["n_bigrams"] == out[2]["n_distinct_bigrams"] == 10
    assert 3 not in out


def test_pack_sequences_rejects_string_ids(spark):
    import pytest

    from lakeforge.llm.packing import pack_sequences

    df = spark.createDataFrame([("doc-1", 5)], ["doc_id", "n_tokens"])
    with pytest.raises(TypeError, match="integral id_col"):
        pack_sequences(df, "n_tokens", "doc_id")


def test_cosine_topk_rejects_corpus_sized_query_side(spark):
    """The broadcast guard must trip BEFORE launching the join (round-2
    review #6: an unconditional broadcast of a huge query side is an
    executor OOM, not an error)."""
    import pytest as _pytest

    vecs = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[(((F.col("id") + i) % 10) / 10.0).cast("float") for i in range(4)]
        ).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="broadcasts the query side"):
        cosine_topk(vecs, vecs, "embedding", "vec_id", k=3, max_queries=10)
    # At or under the limit it runs.
    out = cosine_topk(vecs.limit(5), vecs, "embedding", "vec_id", k=3, max_queries=10)
    assert out.count() == 15


def test_tfidf_top_terms_salience(spark):
    import pytest

    from lakeforge.llm.ranking import bm25_topk, tfidf_top_terms

    rows = [
        (1, "apple apple apple banana"),
        (2, "banana cherry cherry"),
        (3, "banana dates"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tfidf_top_terms(df, k=1).collect()
    top = {r["doc_id"]: r["term"] for r in out}
    # 'banana' is in every doc -> idf = ln(1) = 0, never the salient term
    assert top == {1: "apple", 2: "cherry", 3: "dates"}
    r1 = next(r for r in out if r["doc_id"] == 1)
    assert (r1["tf"], r1["df"], r1["rk"]) == (3, 1, 1)

    with pytest.raises(ValueError):
        bm25_topk(df, [])


def test_bm25_ranks_term_coverage_and_density(spark):
    from lakeforge.llm.ranking import bm25_topk

    rows = [
        (1, "spark join window"),  # all query terms, short
        (2, "spark spark filler filler filler filler filler filler"),
        (3, "join"),  # one hit, shortest doc
        (4, "nothing relevant here"),  # zero hits -> never scored
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_topk(df, ["spark", "join", "window"], topk=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 4 not in ids  # inverted-index probe: non-hit docs are absent
    assert ids[0] == 1  # full term coverage wins
    assert all(r["bm25"] > 0 for r in out)
    # length normalization: doc 3 (tf=1 in a 1-token doc) beats doc 2
    # (tf=2 diluted across an 8-token doc)
    assert ids.index(3) < ids.index(2)


def _boiler_corpus(spark):
    # Four docs share the footer "subscribe to our newsletter today"; two
    # have unique bodies, one is footer-only, one has no footer at all.
    rows = [
        (1, "alpha beta gamma delta subscribe to our newsletter today"),
        (2, "epsilon zeta eta theta subscribe to our newsletter today"),
        (3, "iota kappa lambda mu subscribe to our newsletter today"),
        (4, "subscribe to our newsletter today"),
        (5, "nu xi omicron pi rho sigma tau upsilon"),
        (6, "x"),  # single token: zero bigrams
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_boilerplate_ngrams_finds_shared_footer(spark):
    from lakeforge.llm.boilerplate import boilerplate_ngrams

    # 6 docs, permille=500 -> min_df = ceil(3.0) = 3: footer bigrams (df=4)
    # qualify, body bigrams (df=1) don't.
    got = {
        r["ngram"]: r["df"]
        for r in boilerplate_ngrams(
            _boiler_corpus(spark), "text", "doc_id", n=2, min_df_permille=500
        ).collect()
    }
    assert got == {
        "subscribe to": 4,
        "to our": 4,
        "our newsletter": 4,
        "newsletter today": 4,
    }


def test_boilerplate_coverage_permille_and_short_doc(spark):
    from lakeforge.llm.boilerplate import boilerplate_coverage

    cov = {
        r["doc_id"]: (r["n_grams"], r["n_boiler"], r["boiler_permille"])
        for r in boilerplate_coverage(
            _boiler_corpus(spark), "text", "doc_id", n=2, min_df_permille=500
        ).collect()
    }
    assert cov[1] == (8, 4, 500)   # 4 body + 4 footer bigrams
    assert cov[4] == (4, 4, 1000)  # footer-only
    assert cov[5] == (7, 0, 0)     # no footer
    assert cov[6] == (0, 0, 0)     # too short for any bigram
    assert len(cov) == 6           # every doc present, including gram-less


def test_boilerplate_broadcast_guard_trips(spark, monkeypatch):
    import pytest

    from lakeforge.llm import boilerplate

    monkeypatch.setattr(boilerplate, "MAX_BROADCAST_GRAMS", 2)
    with pytest.raises(ValueError, match="boilerplate set exceeds"):
        boilerplate.boilerplate_coverage(
            _boiler_corpus(spark), "text", "doc_id", n=2, min_df_permille=500
        )


def test_chunk_documents_windows_and_edges(spark):
    from lakeforge.llm.packing import chunk_documents

    df = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 toks: 3 chunks
            (2, "a b"),  # shorter than window: 1 chunk
            (3, ""),  # empty: no chunks
        ],
        ["doc_id", "text"],
    )
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["n_chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(df, window=4, stride=3).collect()
    )
    assert got == [
        (1, 0, 4, "t0 t1 t2 t3"),
        (1, 1, 4, "t3 t4 t5 t6"),
        (1, 2, 4, "t6 t7 t8 t9"),
        (2, 0, 2, "a b"),
    ]
    # Exact-fit boundary: n == window -> exactly one chunk, not two.
    exact = chunk_documents(
        spark.createDataFrame([(9, "w x y z")], ["doc_id", "text"]),
        window=4, stride=3,
    ).collect()
    assert [(r["chunk_id"], r["chunk_text"]) for r in exact] == [(0, "w x y z")]


def test_chunk_documents_rejects_bad_params(spark):
    import pytest

    from lakeforge.llm.packing import chunk_documents

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="window and stride"):
        chunk_documents(df, window=0, stride=3)


def test_media_header_codecs_roundtrip():
    """Pure-Python: struct-written BMP/WAV headers parse back exactly."""
    import pytest

    from lakeforge.llm.multimodal import (
        decode_bmp_header,
        decode_wav_header,
        encode_bmp,
        encode_wav,
    )

    assert decode_bmp_header(encode_bmp(640, 480)) == (640, 480)
    assert decode_bmp_header(encode_bmp(1, 1, b"\x00\x00\x00\x00")) == (1, 1)

    w = decode_wav_header(encode_wav(n_samples=16_000, sample_rate=8000))
    assert w["sample_rate"] == 8000
    assert w["n_samples"] == 16_000
    assert w["duration_ms"] == 2000
    assert w["n_channels"] == 1 and w["bits"] == 16
    stereo = decode_wav_header(
        encode_wav(n_samples=441, sample_rate=44_100, n_channels=2)
    )
    assert stereo["n_samples"] == 441 and stereo["duration_ms"] == 10

    with pytest.raises(ValueError, match="BMP"):
        decode_bmp_header(b"JUNKJUNKJUNKJUNKJUNKJUNKJUNKJUNK")
    with pytest.raises(ValueError, match="WAV"):
        decode_wav_header(b"RIFFxxxxJUNK")  # RIFF but not WAVE


def test_decode_media_headers_distributed(spark):
    """mapInPandas decode: real parse per row, corrupt rows yield fmt NULL."""
    from lakeforge.llm.multimodal import (
        decode_media_headers,
        encode_bmp,
        encode_wav,
    )

    rows = [
        (1, encode_bmp(320, 200)),
        (2, encode_wav(n_samples=24_000, sample_rate=12_000)),
        (3, b"not-a-media-payload"),
        (4, None),
    ]
    media = spark.createDataFrame(rows, "media_id bigint, content binary")
    got = {r["media_id"]: r.asDict() for r in decode_media_headers(media).collect()}
    assert got[1]["fmt"] == "bmp" and (got[1]["width"], got[1]["height"]) == (320, 200)
    assert got[2]["fmt"] == "wav" and got[2]["duration_ms"] == 2000
    assert got[3]["fmt"] is None and got[4]["fmt"] is None


def test_bigram_likelihood_scores_fluency(spark):
    """Corpus-frequent transitions score high; gibberish scores low;
    sub-2-char docs are excluded."""
    from lakeforge.llm.text import bigram_likelihood

    rows = [(i, "the cat sat on the mat") for i in range(10)]
    rows += [(100, "zq xv qj wk vx")]  # transitions unseen elsewhere
    rows += [(101, "x"), (102, "")]    # no bigrams -> excluded
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in bigram_likelihood(df, "text", "doc_id").collect()}
    assert 101 not in got and 102 not in got
    assert got[0]["n_bigrams"] == 21
    assert got[0]["mean_bigram_ppm"] > got[100]["mean_bigram_ppm"]


def test_token_counts_arrow_matches_jvm(spark):
    """The Arrow path must agree with the codegen path row-for-row —
    including whitespace edge cases (leading/trailing/only/empty)."""
    from lakeforge.llm.text import token_counts, token_counts_arrow

    df = spark.createDataFrame(
        [
            (1, "Hello, world! 42 times."),
            (2, "  leading and trailing  "),
            (3, "   "),
            (4, ""),
            (5, "one"),
            (6, "tabs\tand\nnewlines here"),
        ],
        ["doc_id", "text"],
    )
    jvm = {r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"])
           for r in token_counts(df, "text", "doc_id").collect()}
    arrow = {r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"])
             for r in token_counts_arrow(df, "text", "doc_id").collect()}
    assert jvm == arrow


def test_passage_dedup_finds_cross_doc_passages(spark):
    """Two docs sharing their first 20-token window report one shared
    passage; the unique tails never pair.  A doc repeating its own
    passage twice does NOT count (n_docs filter is distinct-doc)."""
    from lakeforge.llm.dedup import passage_dedup

    common = " ".join(f"w{i}" for i in range(20))
    rows = [
        (1, common + " alpha beta"),
        (2, common + " gamma delta"),
        (3, "totally different words only here " * 4),
        # doc 4 contains the same 20-token window TWICE (aligned), but
        # it's one doc — must not appear as a cross-doc dup on its own.
        (4, ("selfrep " * 20).strip() + " " + ("selfrep " * 20).strip()),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = passage_dedup(df, "text", "doc_id").collect()
    # exactly one cross-doc passage: the shared 20-token prefix of 1 and 2
    assert len(out) == 1
    r = out[0]
    assert r["n_docs"] == 2 and r["canonical_doc_id"] == 1
    assert r["n_occurrences"] == 2


def test_quality_score_labels_and_edges(spark):
    from lakeforge.llm.text import quality_score

    prose = ("the cat sat on a mat and it is nice to see the dog in the park "
             * 3)  # stopword-rich, diverse enough, ~45 tokens
    spam = "buy " * 60  # zero stopwords, uniq_pm -> ~16
    rows = [(1, prose), (2, spam), (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in quality_score(df, "text", "doc_id").collect()}
    assert got[1]["label"] == "keep"
    assert got[2]["label"] == "drop"
    # empty text: all features zero, label drop, no div-by-zero
    assert got[3]["n_tokens"] == 0 and got[3]["quality_score"] == 0
    assert got[3]["label"] == "drop"


def test_capped_sample_matches_single_level_rank(spark):
    """The two-level (bucketed) cap must select EXACTLY the rows a single
    global per-group rank would — including a hot group 50x the cap."""
    import hashlib

    from lakeforge.ops.sampling import capped_sample_per_group

    rows = [("hot", i) for i in range(500)] + [("cold", i + 1000) for i in range(3)]
    df = spark.createDataFrame(rows, ["source", "doc_id"])
    got = {
        (r["source"], r["doc_id"])
        for r in capped_sample_per_group(df, "source", "doc_id", cap=10).collect()
    }

    def h(doc_id):  # md5_int twin: chr(31) joiner, 60-bit prefix
        s = f"{doc_id}\x1fgroupcap".encode()
        return int(hashlib.md5(s).hexdigest()[:15], 16)

    want = set()
    for src, ids in [("hot", range(500)), ("cold", [1000, 1001, 1002])]:
        ranked = sorted(ids, key=lambda i: (h(i), i))[:10]
        want |= {(src, i) for i in ranked}
    assert got == want
    assert sum(1 for s, _ in got if s == "hot") == 10
    assert sum(1 for s, _ in got if s == "cold") == 3


def test_docgen_source_partition_invariant(spark):
    """The custom Python DataSource generates a bit-identical corpus for
    any numPartitions — determinism is per-row, not per-split."""
    from lakeforge.io import docgen_source

    docgen_source.register(spark)

    def corpus(parts):
        df = (
            spark.read.format("lakeforge_docgen")
            .option("rows", 300)
            .option("seed", 7)
            .option("numPartitions", parts)
            .load()
        )
        return sorted(tuple(r) for r in df.collect())

    one, many = corpus(1), corpus(13)
    assert one == many
    assert len(one) == 300
    # generation really is distributed: planner honors the split count
    df13 = (
        spark.read.format("lakeforge_docgen")
        .option("rows", 300).option("seed", 7).option("numPartitions", 13)
        .load()
    )
    assert df13.rdd.getNumPartitions() == 13


def test_decode_bmp_pixels_handles_stride_padding_and_bottom_up():
    """Pixel decode must drop the 4-byte row-stride padding and flip the
    bottom-up storage order — checked against a hand-built 2x3 image with
    distinct per-position values (w=2 -> row stride 8, two pad bytes)."""
    import numpy as np
    import pytest

    from lakeforge.llm.multimodal import decode_bmp_pixels, encode_bmp

    w, h = 2, 3
    # logical top-down image: value = 100 + 10*y + 3*x + c
    img = np.array(
        [[[100 + 10 * y + 3 * x + c for c in range(3)] for x in range(w)]
         for y in range(h)],
        dtype=np.uint8,
    )
    row_bytes = (w * 3 + 3) & ~3
    assert row_bytes == 8  # 6 pixel bytes + 2 pad bytes per row
    rows = np.full((h, row_bytes), 0xEE, np.uint8)  # poison the padding
    rows[:, : w * 3] = img[::-1].reshape(h, w * 3)  # stored bottom-up
    content = encode_bmp(w, h, rows.tobytes())

    out = decode_bmp_pixels(content)
    assert out.shape == (h, w, 3)
    assert np.array_equal(out, img)          # flip undone, padding gone
    assert 0xEE not in out                   # padding never leaks as pixels

    with pytest.raises(ValueError, match="truncated"):
        decode_bmp_pixels(content[:-4])      # short pixel array
    with pytest.raises(ValueError, match="24-bit"):
        bad = bytearray(content)
        bad[28] = 32                         # declare 32bpp
        decode_bmp_pixels(bytes(bad))


def test_decode_wav_samples_roundtrip_and_truncation():
    import numpy as np
    import pytest

    from lakeforge.llm.multimodal import decode_wav_samples, encode_wav

    samples = np.array([-32768, -1, 0, 1, 32767, 12345], dtype="<i2")
    content = encode_wav(
        n_samples=6, sample_rate=8000, data_prefix=samples.tobytes()
    )
    out, hdr = decode_wav_samples(content)
    assert out.shape == (6, 1)
    assert np.array_equal(out.ravel(), samples)
    assert hdr["sample_rate"] == 8000 and hdr["bits"] == 16

    # stereo: frames reshape to (n_samples, 2)
    st = np.arange(8, dtype="<i2")
    c2 = encode_wav(n_samples=4, n_channels=2, data_prefix=st.tobytes())
    out2, hdr2 = decode_wav_samples(c2)
    assert out2.shape == (4, 2) and hdr2["n_channels"] == 2
    assert np.array_equal(out2.ravel(), st)

    with pytest.raises(ValueError, match="truncated"):
        decode_wav_samples(content[:-2])     # declared > actual data


def test_decode_media_stats_distributed(spark):
    """decode_media_stats parses real payloads per Arrow batch and emits
    exact integer stats; a corrupt payload yields an all-NULL row instead
    of failing the task."""
    import numpy as np

    from lakeforge.llm.multimodal import (
        decode_media_stats,
        encode_bmp,
        encode_wav,
    )

    w, h = 5, 4
    img = (np.arange(h * w * 3) % 200).astype(np.uint8).reshape(h, w, 3)
    row_bytes = (w * 3 + 3) & ~3
    rows = np.zeros((h, row_bytes), np.uint8)
    rows[:, : w * 3] = img[::-1].reshape(h, w * 3)
    bmp = encode_bmp(w, h, rows.tobytes())

    samples = np.array([-5, 0, 5, 10], dtype="<i2")
    wav = encode_wav(n_samples=4, data_prefix=samples.tobytes())

    media = spark.createDataFrame(
        [(1, bmp), (2, wav), (3, b"BM garbage")],
        "media_id bigint, content binary",
    )
    got = {r["media_id"]: r.asDict() for r in decode_media_stats(media).collect()}
    assert got[1]["fmt"] == "bmp" and got[1]["n_values"] == h * w * 3
    assert got[1]["val_sum"] == int(img.sum())
    assert (got[1]["val_min"], got[1]["val_max"]) == (int(img.min()), int(img.max()))
    assert got[2]["fmt"] == "wav" and got[2]["n_values"] == 4
    assert (got[2]["val_sum"], got[2]["val_min"], got[2]["val_max"]) == (10, -5, 10)
    assert got[3]["fmt"] is None and got[3]["val_sum"] is None


def test_downsample_bmp_mean_pools_real_pixels():
    import numpy as np
    import pytest

    from lakeforge.llm.multimodal import (
        decode_bmp_pixels,
        downsample_bmp,
        encode_bmp,
    )

    w, h = 5, 4  # ragged width: last column truncated at factor 2
    img = np.arange(h * w * 3, dtype=np.uint8).reshape(h, w, 3)
    row_bytes = (w * 3 + 3) & ~3
    rows = np.zeros((h, row_bytes), np.uint8)
    rows[:, : w * 3] = img[::-1].reshape(h, w * 3)
    content = encode_bmp(w, h, rows.tobytes())

    small = downsample_bmp(content, factor=2)
    out = decode_bmp_pixels(small)
    assert out.shape == (2, 2, 3)
    blocks = img[:4, :4].reshape(2, 2, 2, 2, 3)
    want = blocks.sum(axis=(1, 3), dtype=np.int64) // 4
    assert np.array_equal(out.astype(np.int64), want)

    # smaller than one block -> loud error (queries surface as NULL row)
    one = encode_bmp(1, 1, bytes(4))
    with pytest.raises(ValueError, match="smaller than one"):
        downsample_bmp(one, factor=2)


def test_wav_energy_exact_sum_of_squares(spark):
    import numpy as np

    from lakeforge.llm.multimodal import encode_wav, wav_energy

    samples = np.array([-3, 0, 4, -32768], dtype="<i2")
    wav = encode_wav(n_samples=4, data_prefix=samples.tobytes())
    media = spark.createDataFrame(
        [(7, wav), (8, b"RIFFgarbage!")], "media_id bigint, content binary"
    )
    got = {r["media_id"]: r.asDict() for r in wav_energy(media).collect()}
    assert got[7]["n_samples"] == 4
    assert got[7]["sq_sum"] == 9 + 0 + 16 + 32768 ** 2
    assert got[7]["peak"] == 32768
    assert got[8]["sq_sum"] is None


def test_bpe_train_merges_greedy_overlap_semantics(spark):
    """The relational greedy merge must match hand-computed BPE rounds,
    including the overlap case: pair (a,a) in 'a a a a a' merges twice
    (positions 0,2), leaving 'a_a a_a a'."""
    from lakeforge.llm.bpe import bpe_train_merges

    docs = spark.createDataFrame(
        [(1, "a a a a a"), (2, "b c b c"), (3, "a a b")],
        "doc_id bigint, text string",
    )
    rows = {r["merge_round"]: r.asDict()
            for r in bpe_train_merges(docs, "text", "doc_id", n_merges=2).collect()}
    # round 0: (a,a) appears 4x overlapping in doc1 + 1x in doc3 = 5
    r0 = rows[0]
    assert (r0["merge_left"], r0["merge_right"], r0["pair_count"]) == ("a", "a", 5)
    # doc1: 5 toks -> a_a a_a a (3); doc2: 4; doc3: a_a b (2) -> total 9
    assert r0["corpus_tokens_after"] == 9
    # round 1: pairs now (a_a,a_a)=1, (a_a,a)=1, (b,c)=2, (c,b)=1, (a_a,b)=1
    r1 = rows[1]
    assert (r1["merge_left"], r1["merge_right"], r1["pair_count"]) == ("b", "c", 2)
    # doc2: b_c b_c (2) -> total 9 - 2 = 7
    assert r1["corpus_tokens_after"] == 7


def test_pq_topk_recovers_clustered_structure(spark):
    """On data WITH cluster structure (PQ's intended regime), ADC ranking
    recovers the true nearest neighbors: vectors built from per-subspace
    prototypes are closest to same-prototype vectors, and pq_topk ranks
    them first."""
    from lakeforge.llm.similarity import pq_topk

    # 2 subspaces x 2 dims; two prototypes per subspace, strong separation
    protos = {0: [0.1, 0.1], 1: [0.9, 0.9]}
    rows = []
    for vid in range(16):
        a, b = (vid >> 1) & 1, vid & 1  # prototype choice per subspace
        jitter = (vid % 3) * 0.01
        rows.append((vid, [protos[a][0] + jitter, protos[a][1],
                           protos[b][0], protos[b][1] + jitter]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    out = pq_topk(
        df.filter("vec_id < 2"), df, "embedding", "vec_id",
        dim=4, n_subspaces=2, k_codes=2, iters=2, k=5,
    ).collect()
    by_q: dict[int, list[int]] = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    # query 0 has prototype pattern (0,0): its top neighbors must all
    # share pattern (0,0) — ids {4,8,12} plus pattern-sharing ties
    same_pattern = {v for v in range(16) if ((v >> 1) & 1, v & 1) == (0, 0)}
    assert set(by_q[0][:3]) <= same_pattern - {0}


def test_pq_pretrained_codebooks_bit_identical(spark):
    """VERDICT r05 #3: a pretrained codebook (train once, reuse) must give
    bit-identical PQ results to in-query training — training is
    deterministic, so sharing the quantizer across the PQ/IVF-PQ pair can
    never change oracle hashes."""
    from lakeforge.llm.similarity import (
        codebook_frames,
        pq_topk,
        train_pq_codebooks,
    )

    rows = [(vid, [((vid * 7 + d * 3) % 17) / 17.0 for d in range(8)])
            for vid in range(24)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    kw = dict(dim=8, n_subspaces=2, k_codes=3, iters=2)
    books = train_pq_codebooks(df, "embedding", "vec_id", **kw)
    assert len(books) == 2 and all(len(b) == 3 for b in books)
    q = df.filter("vec_id < 3")
    trained = pq_topk(q, df, "embedding", "vec_id", k=4, **kw).collect()
    reused = pq_topk(
        q, df, "embedding", "vec_id", k=4,
        codebooks=codebook_frames(spark, books), **kw,
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, trained), key=lambda t: (t[0], t[-1])) == \
           sorted(map(tuple, reused), key=lambda t: (t[0], t[-1]))


@pytest.mark.skipif(
    not os.path.exists("/root/testdata/sf0.001"),
    reason="driver testdata absent",
)
def test_cross_source_dup_matrix_accounts_every_pair(spark):
    """The source-pair rollup must conserve the underlying pair count and
    keep unordered-pair keys canonical (lo <= hi)."""
    from lakeforge import workload_llm as wl

    sf = "/root/testdata/sf0.001"
    n_pairs = wl.q_minhash_lsh_pairs(spark, sf).count()
    rows = wl.q_cross_source_dup_matrix(spark, sf).collect()
    assert sum(r.dup_pairs for r in rows) == n_pairs
    for r in rows:
        assert r.source_lo <= r.source_hi
        assert r.sum_match >= r.dup_pairs * 16  # min_match floor


@pytest.mark.skipif(
    not os.path.exists("/root/testdata/sf0.001"),
    reason="driver testdata absent",
)
def test_effective_token_mass_bounded_by_raw(spark):
    """Dedup weighting can only discount: eff <= 1000*raw, with equality
    exactly when a source has no docs in any multi-member cluster."""
    from lakeforge import workload_llm as wl

    sf = "/root/testdata/sf0.001"
    rows = wl.q_effective_token_mass(spark, sf).collect()
    assert rows
    assert any(r.dup_docs > 0 for r in rows), "mutated corpus must dup"
    for r in rows:
        assert 0 <= r.dup_docs <= r.n_docs
        assert r.eff_millitokens <= 1000 * r.raw_tokens
        if r.dup_docs == 0:
            assert r.eff_millitokens == 1000 * r.raw_tokens


@pytest.mark.skipif(
    not os.path.exists("/root/testdata/sf0.001/embeddings.parquet"),
    reason="driver testdata absent",
)
def test_pq_codebook_retrains_after_corpus_rewrite(spark, tmp_path):
    """VERDICT r07 #7: the memoized trained-codebook store keys on
    data_version(embeddings.parquet), so rewriting the corpus at the
    same path within one application must produce a FRESH memo entry
    (a stale codebook would silently mis-quantize the new corpus)."""
    import shutil
    import time as _time

    from lakeforge import workload_llm as wl

    import os

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    src = "/root/testdata/sf0.001/embeddings.parquet"
    # driver testdata ships single-file parquet tables
    shutil.copy(src, f"{sf}/embeddings.parquet")

    before = set(wl._PQ_CODEBOOKS)
    wl._pq_codebooks(spark, sf)
    keys1 = set(wl._PQ_CODEBOOKS) - before
    assert len(keys1) == 1
    # memo hit: same corpus, no new key
    wl._pq_codebooks(spark, sf)
    assert set(wl._PQ_CODEBOOKS) - before == keys1

    # rewrite the corpus in place (perturb one dimension; ensure the
    # mtime/bytes fingerprint moves even on coarse filesystems)
    _time.sleep(0.05)
    rewritten = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .withColumn(
            "embedding",
            F.transform("embedding", lambda x: x * F.lit(0.5)),
        )
    )
    rewritten.write.mode("overwrite").parquet(f"{sf}/embeddings_new.parquet")
    os.remove(f"{sf}/embeddings.parquet")
    shutil.move(f"{sf}/embeddings_new.parquet", f"{sf}/embeddings.parquet")

    wl._pq_codebooks(spark, sf)
    keys2 = set(wl._PQ_CODEBOOKS) - before - keys1
    assert len(keys2) == 1, "rewritten corpus must train a fresh codebook"


def test_kmeans_fit_grouped_matches_per_group_fit(spark):
    """The grouped Lloyd's loop (r12 opt: all PQ subspaces train in one
    driver loop) must produce bit-identical centroids to running
    kmeans_fit per group — init, exact-integer d2, tie-breaks, and the
    one-double-division rounding all have per-group twins."""
    from pyspark.sql import functions as F

    from lakeforge import cache
    from lakeforge.llm.clustering import kmeans_fit, kmeans_fit_grouped

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from lakeforge.llm.clustering import micro_embedding

    sub_len, n_groups, k, iters = 16, 4, 8, 2
    micro = micro_embedding("embedding")
    base_m = emb.select(
        F.col("vec_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(micro, m * sub_len + 1, sub_len).alias("vec"),
                    )
                    for m in range(n_groups)
                ]
            )
        ).alias("_s"),
    ).select(F.col("_s.m").alias("m"), "vec_id", F.col("_s.vec").alias("vec"))

    grouped = {
        (int(r["m"]), int(r["cluster"])): [int(x) for x in r["cvec"]]
        for r in kmeans_fit_grouped(
            base_m, k=k, iters=iters, grp_col="m", id_col="vec_id"
        ).collect()
    }
    cache.release_all()

    for m in range(n_groups):
        sub = emb.select(
            "vec_id", F.slice(micro, m * sub_len + 1, sub_len).alias("vec")
        )
        _, cents = kmeans_fit(
            sub, k=k, iters=iters, id_col="vec_id",
            vec_col="vec", pre_quantized=True,
        )
        per_group = {
            int(r["cluster"]): [int(x) for x in r["cvec"]]
            for r in cents.collect()
        }
        cache.release_all()
        assert {
            c: v for (g, c), v in grouped.items() if g == m
        } == per_group, f"subspace {m} centroids diverge"


def test_ivf_topk_curve_matches_per_nprobe(spark):
    """Each curve point of ivf_topk_curve (r12 opt: one shared
    assign/probe/score pass) must equal ivf_topk run at that nprobe —
    the probe_rank-filter derivation is only valid if candidate sets,
    scores, and top-k tie-breaks all coincide."""
    from lakeforge import cache
    from lakeforge.llm.similarity import ivf_topk, ivf_topk_curve

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    nprobes = (1, 2, 4)
    curve = {
        (int(r["nprobe"]), int(r["query_id"]), int(r["neighbor_id"]))
        for r in ivf_topk_curve(
            emb, "embedding", "vec_id", nprobes=nprobes,
            n_cells=16, n_queries=20, k=10,
        ).collect()
    }
    cache.release_all()
    for np_ in nprobes:
        single = {
            (np_, int(r["query_id"]), int(r["neighbor_id"]))
            for r in ivf_topk(
                emb, "embedding", "vec_id",
                n_cells=16, nprobe=np_, n_queries=20, k=10,
            ).collect()
        }
        assert {t for t in curve if t[0] == np_} == single, (
            f"nprobe={np_} diverges"
        )


def test_l2_topk_prefixes_matches_per_dim(spark):
    """Each truncation point of l2_topk_prefixes (r12 opt: one shared
    Q x N pair frame) must equal l2_topk run on pre-sliced embeddings —
    valid only because micro-quantization commutes with slice and the
    (d2, neighbor_id) tie-breaks coincide."""
    from pyspark.sql import functions as F

    from lakeforge import cache
    from lakeforge.llm.similarity import l2_topk, l2_topk_prefixes

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    dims = (16, 32)
    fused = {
        (int(r["trunc_dim"]), int(r["query_id"]), int(r["neighbor_id"]),
         int(r["rank"]))
        for r in l2_topk_prefixes(
            queries, emb, "embedding", "vec_id", dims=dims, k=10
        ).collect()
    }
    cache.release_all()
    for d in dims:
        tq = queries.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))
        tc = emb.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))
        single = {
            (d, int(r["query_id"]), int(r["neighbor_id"]), int(r["rank"]))
            for r in l2_topk(tq, tc, "embedding", "vec_id", k=10).collect()
        }
        cache.release_all()
        assert {t for t in fused if t[0] == d} == single, f"dim={d} diverges"


def test_curve_and_prefix_input_validation():
    """ADVICE r12: empty or duplicated nprobes/dims must raise up front
    (the union-building loop would return None / duplicate output rows).
    Validation fires before any DataFrame is touched."""
    import pytest

    from lakeforge.llm.similarity import ivf_topk_curve, l2_topk_prefixes

    for bad in ((), (2, 2)):
        with pytest.raises(ValueError, match="nprobes"):
            ivf_topk_curve(None, "embedding", "vec_id", nprobes=bad)
        with pytest.raises(ValueError, match="dims"):
            l2_topk_prefixes(None, None, "embedding", "vec_id", dims=bad)
