from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from lakeforge.ops.dedup import dedup_exact, dedup_keep_first, latest_per_key
from lakeforge.ops.joins import full_outer_coalesce, resolve_interval_key
from lakeforge.ops.quality import duplicate_keys, ordered_sample, table_summary
from lakeforge.ops.scd2 import scd2


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 2, "y"), ("b", 5, "z")], ["k", "v", "payload"]
    )
    out = dedup_keep_first(df, ["k"], [F.col("v").desc()]).collect()
    got = {r["k"]: (r["v"], r["payload"]) for r in out}
    assert got == {"a": (2, "y"), "b": (5, "z")}


def test_latest_per_key_with_tiebreak(spark):
    d = dt.date
    df = spark.createDataFrame(
        [
            ("a", d(2022, 1, 1), 1),
            ("a", d(2022, 2, 1), 2),
            ("a", d(2022, 2, 1), 3),  # same date, higher id wins
        ],
        ["k", "ts", "id"],
    )
    out = latest_per_key(df, ["k"], "ts", tiebreak=["id"]).collect()
    assert len(out) == 1 and out[0]["id"] == 3


def test_dedup_exact_row_distinct(spark):
    df = spark.createDataFrame([("a", 1), ("a", 1), ("b", 2)], ["k", "v"])
    assert dedup_exact(df).count() == 2


def test_scd2_reference_null_semantics(spark):
    """The golden-proven NULL-drop (FIXTURES.md §1): a transition INTO NULL
    under NULL-unsafe `<>` is silently dropped."""
    d = dt.date
    rows = [
        ("Z", d(2022, 2, 1), "Rana", "ID3"),
        ("Z", d(2022, 3, 1), "Rana Ali", None),
        ("Z", d(2022, 4, 1), None, "ID4"),  # must be dropped in compat mode
    ]
    df = spark.createDataFrame(rows, ["person", "date", "name", "id"])
    compat = scd2(df, ["person"], ["name", "id"], "date", sk_name="sk").collect()
    assert [r["effective_start_date"] for r in sorted(compat, key=lambda r: r["effective_start_date"])] == [
        d(2022, 2, 1),
        d(2022, 3, 1),
    ]
    current = [r for r in compat if r["is_current"]]
    assert len(current) == 1 and current[0]["name"] == "Rana Ali"
    assert current[0]["effective_end_date"] == d(9999, 12, 31)

    strict = scd2(df, ["person"], ["name", "id"], "date", null_safe=True).collect()
    assert len(strict) == 3  # NULL transition is a real change in safe mode


def test_scd2_intervals_and_flags(spark):
    d = dt.date
    rows = [
        ("123", d(2022, 1, 1), "Active"),
        ("123", d(2022, 2, 1), "Active"),  # no change -> absorbed
        ("123", d(2022, 3, 1), "In Active"),
        ("456", d(2022, 2, 1), "Active"),
    ]
    df = spark.createDataFrame(rows, ["acc_no", "date", "status"])
    out = {
        (r["acc_no"], r["effective_start_date"]): r
        for r in scd2(df, ["acc_no"], ["status"], "date").collect()
    }
    assert set(out) == {("123", d(2022, 1, 1)), ("123", d(2022, 3, 1)), ("456", d(2022, 2, 1))}
    first = out[("123", d(2022, 1, 1))]
    assert first["effective_end_date"] == d(2022, 2, 28)
    assert first["is_current"] is False
    assert out[("123", d(2022, 3, 1))]["is_current"] is True


def test_resolve_interval_key_picks_valid_version(spark):
    d = dt.date
    dim = spark.createDataFrame(
        [
            (1, "123", d(2022, 1, 1), d(2022, 2, 28)),
            (2, "123", d(2022, 3, 1), d(9999, 12, 31)),
        ],
        ["sk", "acc_no", "effective_start_date", "effective_end_date"],
    )
    fact = spark.createDataFrame(
        [("123", d(2022, 1, 15)), ("123", d(2022, 3, 1)), ("999", d(2022, 1, 1))],
        ["acc_no", "at"],
    )
    out = {(r["acc_no"], r["at"]): r["sk"] for r in
           resolve_interval_key(fact, dim, ["acc_no"], "at").collect()}
    assert out == {("123", d(2022, 1, 15)): 1, ("123", d(2022, 3, 1)): 2, ("999", d(2022, 1, 1)): None}


def test_full_outer_coalesce_keys(spark):
    a = spark.createDataFrame([("x", 1)], ["k", "va"])
    b = spark.createDataFrame([("y", 2)], ["k", "vb"])
    out = {r["k"]: (r["va"], r["vb"]) for r in full_outer_coalesce(a, b, ["k"]).collect()}
    assert out == {"x": (1, None), "y": (None, 2)}


def test_table_summary_single_pass(spark):
    d = dt.date
    df = spark.createDataFrame(
        [
            ("a", d(2022, 1, 1)),
            ("a", d(2022, 1, 1)),
            ("b", d(2022, 2, 1)),
        ],
        ["k", "date"],
    )
    row = table_summary(df, ["k", "date"], date_col="date").collect()[0]
    assert row["n_rows"] == 3
    assert row["n_distinct_keys"] == 2
    assert row["n_dup_keys"] == 1
    assert row["n_dup_rows"] == 2
    assert row["min_date"] == d(2022, 1, 1)
    assert row["max_date"] == d(2022, 2, 1)


def test_duplicate_keys(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",)], ["k"])
    out = duplicate_keys(df, ["k"]).collect()
    assert len(out) == 1 and out[0]["k"] == "a" and out[0]["n"] == 2


def test_ordered_sample(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], ["v"])
    assert [r["v"] for r in ordered_sample(df, ["v"], 3).collect()] == [0, 1, 2]


def test_asof_join_backward_with_exact_tie(spark):
    from lakeforge.ops.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 25, "p2"), (2, 5, "p3")], ["uid", "t", "ev"]
    )
    right = spark.createDataFrame(
        [(1, 10, "v@10"), (1, 20, "v@20"), (1, 30, "v@30"), (3, 1, "vX")],
        ["uid", "t", "seen"],
    )
    out = asof_join(
        left, right, on=["uid"], left_ts="t", right_ts="t", right_payload=["seen"]
    ).collect()
    got = {r["ev"]: r["seen"] for r in out}
    # exact-ts match visible (>= convention); no right row for uid=2 -> null
    assert got == {"p1": "v@10", "p2": "v@20", "p3": None}
    assert len(out) == 3  # left row count preserved


def test_asof_join_strict_excludes_exact_tie(spark):
    from lakeforge.ops.joins import asof_join

    left = spark.createDataFrame([(1, 10, "p1")], ["uid", "t", "ev"])
    right = spark.createDataFrame(
        [(1, 10, "v@10"), (1, 9, "v@9")], ["uid", "t", "seen"]
    )
    out = asof_join(
        left, right, on=["uid"], left_ts="t", right_ts="t",
        right_payload=["seen"], strict=True,
    ).collect()
    assert out[0]["seen"] == "v@9"


def test_asof_join_payload_clash_raises(spark):
    import pytest

    from lakeforge.ops.joins import asof_join

    df = spark.createDataFrame([(1, 1, "x")], ["uid", "t", "seen"])
    with pytest.raises(ValueError, match="collides"):
        asof_join(df, df, on=["uid"], left_ts="t", right_ts="t",
                  right_payload=["seen"])


def test_salted_join_matches_plain_join(spark):
    from lakeforge.ops.joins import salted_join

    big = spark.createDataFrame(
        [(k, i) for i in range(50) for k in ("hot", "cold")], ["k", "v"]
    )
    small = spark.createDataFrame([("hot", "H"), ("cold", "C")], ["k", "tag"])
    out = salted_join(big, small, on=["k"], salt=4).orderBy("k", "v").collect()
    plain = big.join(small, "k").orderBy("k", "v").collect()
    assert out == plain


def test_salted_join_left_keeps_unmatched(spark):
    from lakeforge.ops.joins import salted_join

    big = spark.createDataFrame([("a", 1), ("zzz", 2)], ["k", "v"])
    small = spark.createDataFrame([("a", "A")], ["k", "tag"])
    rows = {r["k"]: r["tag"] for r in salted_join(big, small, ["k"], salt=3, how="left").collect()}
    assert rows == {"a": "A", "zzz": None}


def test_resample_daily_ffill_native_fills_gaps(spark):
    from lakeforge.ops.timeseries import resample_daily_ffill

    d = dt.date
    df = spark.createDataFrame(
        [
            ("a", d(2022, 1, 1), 10.0),
            ("a", d(2022, 1, 4), 40.0),   # 2-day gap -> ffill 10.0
            ("b", d(2022, 1, 2), 7.0),
        ],
        ["k", "day", "v"],
    )
    out = resample_daily_ffill(df, ["k"], "day", ["v"])
    got = {(r["k"], r["day"]): r["v"] for r in out.collect()}
    assert got == {
        ("a", d(2022, 1, 1)): 10.0,
        ("a", d(2022, 1, 2)): 10.0,
        ("a", d(2022, 1, 3)): 10.0,
        ("a", d(2022, 1, 4)): 40.0,
        ("b", d(2022, 1, 2)): 7.0,
    }


def test_resample_native_and_pandas_paths_agree(spark):
    from lakeforge.ops.timeseries import resample_daily_ffill

    d = dt.date
    rows = [
        ("x", d(2022, 3, 1), 1.0),
        ("x", d(2022, 3, 5), 5.0),
        ("x", d(2022, 3, 8), 8.0),
        ("y", d(2022, 3, 3), 3.0),
        ("y", d(2022, 3, 4), 4.0),
    ]
    df = spark.createDataFrame(rows, ["k", "day", "v"])
    native = sorted(
        tuple(r) for r in resample_daily_ffill(df, ["k"], "day", ["v"], how="native").collect()
    )
    pandas_ = sorted(
        tuple(r) for r in resample_daily_ffill(df, ["k"], "day", ["v"], how="pandas").collect()
    )
    assert native == pandas_
    assert len(native) == 8 + 2  # x: 8 days, y: 2 days


def test_connected_components_chain_and_islands(spark):
    from lakeforge.ops.graph import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4, pair 10-11, triangle 20-21-22 (+redundant edge)
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["src", "dst"],
    )
    out = {
        r["vertex"]: r["component"]
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert out == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_observe_metrics_piggyback_on_action(spark):
    from lakeforge.ops.quality import observe_metrics

    df = spark.createDataFrame([(1, "a"), (None, "b"), (3, None)], "k int, v string")
    inst, obs = observe_metrics(
        df, "probe",
        {
            "n_rows": F.count(F.lit(1)),
            "null_k": F.count(F.when(F.col("k").isNull(), 1)),
        },
    )
    inst.write.format("noop").mode("overwrite").save()
    assert obs.get == {"n_rows": 3, "null_k": 1}


def test_key_skew_profile_heavy_hitters(spark):
    from lakeforge.ops.quality import key_skew_profile

    # Key "whale" holds 6 of 10 rows (600 permille); ties below it break
    # by key ascending.
    rows = [("whale",)] * 6 + [("a",), ("b",), ("c",), ("d",)]
    df = spark.createDataFrame(rows, ["k"])
    got = [
        (r["k"], r["n_rows"], r["permille"])
        for r in key_skew_profile(df, ["k"], k=3).collect()
    ]
    assert got == [("whale", 6, 600), ("a", 1, 100), ("b", 1, 100)]


def test_golden_record_field_wise_survivorship(spark):
    """Different fields of the golden row may come from different source
    duplicates; ties break to the smallest value; all-NULL fields vanish
    from the pivot (NULL in the output)."""
    from lakeforge.ops.dedup import golden_record

    rows = [
        (1, "alice", None),
        (1, "alice", "gold"),
        (1, "ALICE2", "gold"),
        (2, None, "silver"),
        (2, None, "bronze"),  # 1-1 tie -> 'bronze' (smallest) wins
    ]
    df = spark.createDataFrame(rows, "k int, name string, tier string")
    out = {r.k: (r.name, r.tier) for r in golden_record(df, "k", ["name", "tier"]).collect()}
    assert out[1] == ("alice", "gold")
    assert out[2] == (None, "bronze")


def test_table_diff_classifies_all_change_types(spark):
    from lakeforge.ops.merge import table_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "CHANGED"), (4, "d")], "k int, v string"
    )
    got = {r.k: r.change_type for r in table_diff(old, new, ["k"]).collect()}
    assert got == {1: "removed", 3: "modified", 4: "added"}


def test_table_diff_null_payloads_differ_from_values(spark):
    from lakeforge.ops.merge import table_diff

    old = spark.createDataFrame([(1, None), (2, "x")], "k int, v string")
    new = spark.createDataFrame([(1, "x"), (2, "x")], "k int, v string")
    got = {r.k: r.change_type for r in table_diff(old, new, ["k"]).collect()}
    assert got == {1: "modified"}  # NULL -> value is a modification; 2 unchanged


def test_range_bucket_join_matches_between_and_left(spark):
    """Bucket-decomposed interval join == naive BETWEEN; left keeps misses."""
    from lakeforge.ops.joins import range_bucket_join

    ranges = spark.createDataFrame(
        [(0, 0, 99), (1, 50, 149), (2, 200, 209)],  # 0/1 overlap; gap 150-199
        ["band", "lo", "hi"],
    )
    probe = spark.createDataFrame(
        [(1, 75), (2, 120), (3, 160), (4, 205), (5, 99)], ["pk", "v"]
    )
    inner = range_bucket_join(probe, ranges, "v", "lo", "hi", bucket_width=64)
    got = sorted((r["pk"], r["band"]) for r in inner.collect())
    # v=75 -> bands 0 and 1 (overlap); v=99 inclusive hi; v=160 no match
    assert got == [(1, 0), (1, 1), (2, 1), (4, 2), (5, 0), (5, 1)]

    left = range_bucket_join(
        probe, ranges, "v", "lo", "hi", bucket_width=64, how="left", probe_key="pk"
    )
    rows = {(r["pk"], r["band"]) for r in left.collect()}
    assert (3, None) in rows and len(rows) == 7

    import pytest

    with pytest.raises(ValueError, match="probe_key"):
        range_bucket_join(probe, ranges, "v", "lo", "hi", 64, how="left")
    with pytest.raises(ValueError, match="bucket_width"):
        range_bucket_join(probe, ranges, "v", "lo", "hi", 0)


def test_triangle_count_known_graph(spark):
    """K4 minus one edge: two triangles; shared-edge vertices in both."""
    from lakeforge.ops.graph import triangle_count

    # K4 on {1,2,3,4} without edge (3,4): triangles (1,2,3) and (1,2,4).
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (4, 1)],  # dup 1-4 reversed
        ["src", "dst"],
    )
    got = {r["vertex"]: r["n_triangles"] for r in triangle_count(edges).collect()}
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}

    # Self-loops and directed duplicates must not create triangles.
    noisy = spark.createDataFrame([(1, 1), (1, 2), (2, 1)], ["src", "dst"])
    assert triangle_count(noisy).count() == 0


def test_blocked_levenshtein_pairs(spark):
    from pyspark.sql import functions as F

    from lakeforge.ops.linkage import blocked_levenshtein_pairs

    df = spark.createDataFrame(
        [
            (1, "chocolate lace"),
            (2, "chocolate lacq"),   # dist 1 from id 1, same block
            (3, "chocolate brown"),  # dist > 2 from both, longer
            (4, "vanilla cream"),
            (5, "vanilla craam"),    # dist 1 from id 4
        ],
        ["id", "name"],
    )
    block = F.substring("name", 1, 4)
    got = sorted(
        (r["id_a"], r["id_b"], r["dist"])
        for r in blocked_levenshtein_pairs(df, "id", "name", block, 2).collect()
    )
    assert got == [(1, 2, 1), (4, 5, 1)]

    # Block cap: with max_block=2 the 3-row 'choc' block is dropped whole.
    capped = blocked_levenshtein_pairs(df, "id", "name", block, 2, max_block=2)
    assert sorted((r["id_a"], r["id_b"]) for r in capped.collect()) == [(4, 5)]


def test_weighted_sample_monotone_and_bounds(spark):
    from pyspark.sql import functions as F

    from lakeforge.ops.sampling import weighted_sample

    df = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 4 * 1000).cast("bigint").alias("w"),  # 0,1k,2k,3k
    )
    got = weighted_sample(df, "k", "w", ppm_per_unit=100).collect()
    by_w = {}
    for r in got:
        by_w[r["w"]] = by_w.get(r["w"], 0) + 1
    # weight 0 -> p=0: never sampled; rates grow with weight (~10%/20%/30%)
    assert 0 not in by_w
    assert by_w[1000] < by_w[2000] < by_w[3000]
    # determinism: same draw twice
    again = weighted_sample(df, "k", "w", ppm_per_unit=100).collect()
    assert sorted(r["k"] for r in again) == sorted(r["k"] for r in got)


def test_check_expectations_rules_and_null_semantics(spark):
    from lakeforge.ops.expectations import Rule, check_expectations

    df = spark.createDataFrame(
        [
            (1, "A", 10, "ok-1"),
            (2, "B", -5, "bad"),
            (3, None, 10, None),   # null status: skipped by in_set
            (1, "A", 200, "ok-2"),  # dup key 1; 200 out of range
        ],
        ["k", "status", "v", "tag"],
    )
    rules = [
        Rule(name="k_not_null", kind="not_null", col="k"),
        Rule(name="k_unique", kind="unique_key", cols=("k",)),
        Rule(name="status_set", kind="in_set", col="status", values=("A", "B")),
        Rule(name="v_range", kind="in_range", col="v", lo=0, hi=100),
        Rule(name="tag_fmt", kind="matches", col="tag", regex="^ok-"),
        Rule(name="v_even", kind="satisfies", expr_sql="v % 2 = 0"),
    ]
    got = {r["rule"]: (r["evaluated"], r["violations"], r["passed"])
           for r in check_expectations(df, rules).collect()}
    assert got["k_not_null"] == (4, 0, True)
    assert got["k_unique"] == (3, 1, False)       # 3 distinct keys, key 1 dup
    assert got["status_set"] == (3, 0, True)      # null skipped, A/B/A pass
    assert got["v_range"] == (4, 2, False)        # -5 and 200
    assert got["tag_fmt"] == (3, 1, False)        # null skipped, 'bad' fails
    assert got["v_even"] == (4, 1, False)         # -5 odd

    import pytest

    with pytest.raises(ValueError, match="empty rule list"):
        check_expectations(df, [])
    with pytest.raises(ValueError, match="duplicate rule names"):
        check_expectations(df, [rules[0], rules[0]])
    with pytest.raises(ValueError, match="unknown rule kind"):
        check_expectations(df, [Rule(name="x", kind="nope", col="k")])


def test_ewma_matches_recursion_and_truncation(spark):
    """with_ewma's closed form must equal the literal s_t=(x_t+s_{t-1})/2
    recursion computed in exact fractions, truncated to the trailing 8."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from lakeforge.ops.timeseries import with_ewma

    xs = [100, 200, 400, 100, 900, 50, 300, 700, 110, 220, 10]
    rows = [(1, i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, ["k", "seq", "cents"])
    out = with_ewma(df, "cents", ["k"], ["seq"], "ewma_cents")
    got = {r["seq"]: r["ewma_cents"] for r in out.collect()}

    for t in range(len(xs)):
        window = xs[max(0, t - 7) : t + 1]
        m = len(window)
        num = sum(v << i for i, v in enumerate(window))  # oldest i=0
        want = num // ((1 << m) - 1)
        assert got[t] == want, (t, got[t], want)


def test_count_min_estimate_bounds_and_grid_size(spark):
    """CM estimates are >= exact always, == exact absent collisions; the
    counter grid never exceeds depth*width rows."""
    from lakeforge.ops.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        count_min_counters,
        count_min_heavy_hitters,
    )

    rows = [("hot",)] * 50 + [(f"k{i}",) for i in range(200)]
    df = spark.createDataFrame(rows, ["key"])
    grid = count_min_counters(df, "key")
    assert grid.count() <= CMS_DEPTH * CMS_WIDTH
    # total per depth row == number of input rows (mass conservation)
    per_depth = {r["depth"]: r["s"] for r in
                 grid.groupBy("depth").agg(F.sum("n").alias("s")).collect()}
    assert per_depth == {d: len(rows) for d in range(CMS_DEPTH)}

    hh = {r["k"]: (r["est_n"], r["exact_n"])
          for r in count_min_heavy_hitters(df, "key", threshold=50).collect()}
    assert "hot" in hh
    est, exact = hh["hot"]
    assert exact == 50 and est >= exact


def test_observe_metrics_rides_the_write(spark, tmp_path):
    """Observation metrics must match a dedicated aggregate — computed
    during the single write action, not by a second scan."""
    from lakeforge.ops.quality import observe_metrics

    df = spark.range(0, 1000).selectExpr(
        "id", "CASE WHEN id % 10 = 0 THEN NULL ELSE id * 2 END AS v"
    )
    observed, obs = observe_metrics(
        df,
        "write_profile",
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_v": F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)),
            "max_v": F.max("v"),
        },
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["n_rows"] == 1000
    assert got["n_null_v"] == 100
    assert got["max_v"] == 1998


def test_bloom_prefilter_is_transparent_and_prunes(spark):
    """Bloom-prefiltered semi join == plain semi join on any input; with
    a tiny bitmap (forced collisions) correctness still holds — false
    positives die in the exact join."""
    from lakeforge.ops.joins import bloom_prefiltered_semi_join

    fact = spark.createDataFrame([(i, i * 10) for i in range(500)], ["k", "v"])
    keys = spark.createDataFrame([(i * 7,) for i in range(30)], ["kk"])
    want = sorted(
        (r["k"], r["v"])
        for r in fact.join(keys, fact.k == keys.kk, "left_semi").collect()
    )
    for n_bits in (64, 16384):  # 64 bits => heavy collisions
        got = sorted(
            (r["k"], r["v"])
            for r in bloom_prefiltered_semi_join(
                fact, keys, "k", "kk", n_bits=n_bits
            ).collect()
        )
        assert got == want, n_bits


def test_kanon_release_suppresses_small_and_uniform_groups(spark):
    from lakeforge.ops.privacy import kanon_release

    rows = (
        [("a", 1, "x")] * 5 + [("a", 1, "y")]      # big + diverse -> released
        + [("b", 1, "x")] * 3                       # too small (k=5)
        + [("c", 1, "x")] * 8                       # big but uniform (l=2)
    )
    df = spark.createDataFrame(rows, "q1 string, q2 bigint, s string")
    rel = {(r["q1"], r["q2"]): r.asDict()
           for r in kanon_release(df, ["q1", "q2"], "s", k=5, l_div=2).collect()}
    assert rel[("a", 1)]["released"] is True
    assert rel[("b", 1)]["released"] is False   # n_rows 3 < 5
    assert rel[("c", 1)]["released"] is False   # n_sensitive 1 < 2
    # the frame keeps the suppressed groups' sizes for the audit
    assert rel[("a", 1)]["n_rows"] == 6
    assert rel[("b", 1)]["n_rows"] + rel[("c", 1)]["n_rows"] == 11


def test_pseudonymize_is_stable_null_safe_and_joinable(spark):
    from lakeforge.ops.privacy import pseudonymize

    a = spark.createDataFrame(
        [(1, "alice"), (2, None), (3, "carol")], "k bigint, name string"
    )
    b = spark.createDataFrame([(1, 10), (3, 30)], "k bigint, amount bigint")

    pa = pseudonymize(a, ["k", "name"], salt="t")
    pb = pseudonymize(b, ["k"], salt="t")
    # referential integrity: the tokenized keys still join
    joined = pa.join(pb, "k").select("name", "amount").collect()
    assert len(joined) == 2
    # same value same salt -> same token; different salt -> different
    pa2 = pseudonymize(a, ["k"], salt="t")
    assert sorted(r["k"] for r in pa.select("k").collect()) == \
           sorted(r["k"] for r in pa2.select("k").collect())
    pc = pseudonymize(a, ["k"], salt="OTHER")
    assert set(r["k"] for r in pc.select("k").collect()).isdisjoint(
        set(r["k"] for r in pa2.select("k").collect())
    )
    # NULL stays NULL; keep_format pads to fixed-width string
    assert pa.filter("name IS NULL").count() == 1
    pf = pseudonymize(a, ["name"], salt="t", keep_format=True)
    vals = [r["name"] for r in pf.collect() if r["name"] is not None]
    assert all(len(v) == 18 and v.isdigit() for v in vals)


def test_bitmap_distinct_merge_is_exact(spark):
    """Bitmap state OR-merged across two batches counts distinct exactly,
    including values above one bucket (32768) and overlap across batches."""
    from lakeforge.ops.sketches import (
        bitmap_distinct_counts,
        distinct_bitmaps,
        merge_distinct_bitmaps,
    )

    a = spark.createDataFrame(
        [("g", 1), ("g", 2), ("g", 40000), ("h", 7)], "k string, v bigint"
    )
    b = spark.createDataFrame(
        [("g", 2), ("g", 99999), ("h", 7), ("h", 8)], "k string, v bigint"
    )
    merged = merge_distinct_bitmaps(
        distinct_bitmaps(a, ["k"], "v"), distinct_bitmaps(b, ["k"], "v"), ["k"]
    )
    got = {r["k"]: r["n_distinct"]
           for r in bitmap_distinct_counts(merged, ["k"]).collect()}
    assert got == {"g": 4, "h": 2}  # overlap (2, 7) not double-counted
