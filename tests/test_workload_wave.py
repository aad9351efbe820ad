"""Invariant tests for the round-7 wave operators (oracle equality is
covered by tools/check_oracle.py; these pin the semantic properties a
hash compare can't express)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lakeforge import workload_wave as w

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.exists(SF_DIR), reason="driver testdata absent"
)


def test_fifo_matched_equals_min_of_supply_and_demand(spark):
    """FIFO conservation: per part, total matched quantity must be exactly
    min(total supply qty, total demand qty) — everything matchable
    matches, nothing is double-allocated."""
    got = {
        r.l_partkey: r.matched_qty
        for r in w.q_fifo_lot_matching(spark, SF_DIR).collect()
    }
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_partkey", "l_returnflag", F.col("l_quantity").cast("bigint").alias("q")
    )
    tot = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "N", F.col("q")).otherwise(0)).alias("sn"),
            F.sum(F.when(F.col("l_returnflag") == "R", F.col("q")).otherwise(0)).alias("sr"),
        )
        .collect()
    )
    for r in tot:
        expect = min(r.sn, r.sr)
        assert got.get(r.l_partkey, 0) == expect, r.l_partkey


@pytest.mark.parametrize("layout", ["zero_rows", "mostly_empty_partitions"])
def test_signlsh_over_empty_inputs(spark, tmp_path, layout):
    """The pandas UDFs (``band_keys_of``, ``dot_of``) stack each Arrow
    batch's vectors; a table with no rows, or scan and shuffle partitions
    that are mostly empty, must give the empty answer or the same pairs,
    never a failed query."""
    schema = "vec_id bigint, embedding array<float>, label int"
    dup = [float(i % 7) - 3.0 for i in range(w._SLSH_DIM)]
    other = [float((i * 5) % 11) - 5.0 for i in range(w._SLSH_DIM)]
    rows = [(1, dup, 0), (2, dup, 0), (3, other, 1)]
    path = str(tmp_path / "embeddings.parquet")
    if layout == "zero_rows":
        spark.createDataFrame([], schema).write.parquet(path)
        expect = set()
    else:
        # Nine zero-row files beside the rows' files.
        df = spark.createDataFrame(rows, schema)
        empty = spark.createDataFrame([], schema)
        for _ in range(9):
            empty.write.mode("append").parquet(path)
        for r in rows:
            df.filter(F.col("vec_id") == r[0]).write.mode("append").parquet(path)
        sizes = [len(p) for p in spark.read.parquet(path).rdd.glom().collect()]
        assert sizes.count(0) > len(sizes) // 2, sizes
        expect = {(1, 2)}
    out = w.q_embedding_signlsh_neardup(spark, str(tmp_path))
    assert {(r.a, r.b) for r in out.collect()} == expect


def test_temporal_split_is_leak_free_and_complete(spark):
    rows = {r.split: r for r in w.q_orders_temporal_split(spark, SF_DIR).collect()}
    assert set(rows) == {"train", "val", "test"}
    n_total = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    assert sum(r.n_orders for r in rows.values()) == n_total
    # temporal ordering: max(train) < min(val) <= max(val) < min(test)
    assert rows["train"].max_date < rows["val"].min_date
    assert rows["val"].max_date < rows["test"].min_date
    # ~80/10/10 by rows (boundary dates land earlier, so train >= 80%)
    assert rows["train"].n_orders * 10 >= n_total * 8


def test_signlsh_pairs_are_all_above_threshold_and_subset_of_bruteforce(spark):
    """Every emitted pair must satisfy the exact integer cosine gate
    (no LSH false positive survives the verify), and be a SUBSET of the
    brute-force pairs above threshold (banding only prunes)."""
    out = {(r.a, r.b) for r in w.q_embedding_signlsh_neardup(spark, SF_DIR).collect()}
    exl = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select(
            "vec_id",
            F.posexplode("embedding").alias("pos", "x"),
        )
        .select(
            "vec_id", "pos",
            F.expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").alias("xi"),
        )
    )
    a = exl.alias("a")
    b = exl.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb")
        )
        .agg(F.sum(F.expr("a.xi * b.xi")).alias("dot"))
    )
    norms = exl.groupBy("vec_id").agg(F.sum(F.expr("xi*xi")).alias("nn"))
    brute = (
        dots.join(norms.select(F.col("vec_id").alias("va"), F.col("nn").alias("na")), "va")
        .join(norms.select(F.col("vec_id").alias("vb"), F.col("nn").alias("nb")), "vb")
        .filter(
            (F.col("dot") > 0)
            & F.expr(
                f"CAST(dot AS DECIMAL(38,0)) * dot * 1000000"
                f" >= CAST({w._SLSH_COS2_1E6} AS DECIMAL(38,0)) * na * nb"
            )
        )
    )
    brute_pairs = {(r.va, r.vb) for r in brute.collect()}
    assert out <= brute_pairs


def test_ttr_bounds(spark):
    for r in w.q_docs_type_token_ratio(spark, SF_DIR).collect():
        assert 1 <= r.n_types <= r.n_tokens
        assert 0 <= r.n_hapax <= r.n_types
        assert 0 < r.ttr_permille <= 1000


def test_rate_limiter_conserves_events_and_caps_admits(spark):
    """Admitted + denied == events per user; admits are bounded by the
    bucket's total budget (initial capacity + refill over the user's
    observed span + the spend-then-refill slack of one token)."""
    got = {
        r.user_id: (r.n_admitted, r.n_denied)
        for r in w.q_events_rate_limit_replay(spark, SF_DIR).collect()
    }
    from lakeforge.io.sources import read_events

    ev = (
        read_events(spark, SF_DIR)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("span_us"),
        )
        .collect()
    )
    for r in ev:
        adm, den = got[r.user_id]
        assert adm + den == r.n
        budget = w._TB_CAP_MICRO // 1_000_000 + r.span_us // w._TB_US_PER_TOKEN + 1
        assert adm <= budget, (r.user_id, adm, budget)


def test_rate_limiter_invariant_under_arrow_batch_splits(spark):
    """The depth-vectorized fold carries the final user's state across
    Arrow batches; force tiny input batches so MANY users straddle a
    batch boundary and assert the result is identical to the default
    batching.  Guards the carry/seed path of the r9 vectorization."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    baseline = {
        tuple(r)
        for r in w.q_events_rate_limit_replay(spark, SF_DIR).collect()
    }
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        tiny = {
            tuple(r)
            for r in w.q_events_rate_limit_replay(spark, SF_DIR).collect()
        }
    finally:
        spark.conf.set(key, old)
    assert tiny == baseline


def test_ngram_novelty_short_docs_do_not_crash(spark, tmp_path):
    """ADVICE r07 #1 regression: docs with < 3 tokens used to evaluate
    sequence(1, 0) -> descending [1, 0], whose i=0 crashed slice().
    Short docs must contribute no grams (mirroring the oracle's
    WHERE len(ws) >= 3) and longer docs must still score."""
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [
            (1, ""),                      # 0 tokens
            (2, "one"),                   # 1 token
            (3, "  two   tokens  "),      # 2 tokens after split-filter
            (4, "a b c"),                 # exactly 3 -> one novel gram
            (5, "a b c d"),               # repeats doc 4's gram 'a b c'
        ],
        "doc_id bigint, text string",
    ).write.parquet(f"{sf}/documents.parquet")
    rows = {r.doc_id: r for r in w.q_docs_ngram_novelty(spark, sf).collect()}
    assert set(rows) == {4, 5}  # short docs emit no rows
    assert rows[4].n_grams == 1 and rows[4].n_novel == 1
    assert rows[5].n_grams == 2 and rows[5].n_novel == 1
    assert rows[5].novelty_permille == 500
