"""Property-based tests (hypothesis) for the semantically-hard operators.

Each example spins Spark jobs, so max_examples is kept small; the point is
shrinkable counterexamples on the interval/ordering edge cases that
hand-written fixtures miss.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lakeforge.ops.joins import asof_join
from lakeforge.ops.scd2 import scd2

_SETTINGS = dict(max_examples=12, deadline=None)

_DATES = st.dates(min_value=dt.date(2020, 1, 1), max_value=dt.date(2020, 3, 1))

# (key, date, status) rows; duplicates on (key, date) excluded by unique key.
_TIMELINES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        _DATES,
        st.sampled_from(["A", "B", "C"]),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda r: (r[0], r[1]),
)


@settings(**_SETTINGS)
@given(rows=_TIMELINES)
def test_scd2_intervals_partition_each_key_timeline(spark, rows):
    df = spark.createDataFrame(rows, ["k", "d", "status"])
    out = scd2(
        df, key_cols=["k"], tracked_cols=["status"], order_col="d", sk_name="sk"
    ).collect()

    by_key: dict[int, list] = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    keys_in = {r[0] for r in rows}
    assert set(by_key) == keys_in

    sentinel = dt.date(9999, 12, 31)
    for k, versions in by_key.items():
        versions.sort(key=lambda r: r["effective_start_date"])
        dates_k = sorted(d for kk, d, _ in rows if kk == k)
        # first version starts at the key's first observation
        assert versions[0]["effective_start_date"] == dates_k[0]
        # consecutive versions tile the timeline: end = next_start - 1 day
        for a, b in zip(versions, versions[1:]):
            assert a["effective_end_date"] == b["effective_start_date"] - dt.timedelta(days=1)
            assert not a["is_current"]
            # adjacent versions must differ in the tracked column
            assert a["status"] != b["status"]
        assert versions[-1]["effective_end_date"] == sentinel
        assert versions[-1]["is_current"]
        # surrogate keys unique
        sks = [v["sk"] for v in versions]
        assert len(sks) == len(set(sks))


_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # key
        st.integers(min_value=0, max_value=30),  # ts
    ),
    min_size=0,
    max_size=10,
    unique_by=lambda r: (r[0], r[1]),
)


@settings(**_SETTINGS)
@given(left=_EVENTS, right=_EVENTS)
def test_asof_join_matches_naive_python(spark, left, right):
    lf = spark.createDataFrame(
        [(k, t, f"L{k}:{t}") for k, t in left], ["k", "t", "lbl"]
    ) if left else spark.createDataFrame([], "k int, t int, lbl string")
    rf = spark.createDataFrame(
        [(k, t, f"R{k}:{t}") for k, t in right], ["k", "t", "payload"]
    ) if right else spark.createDataFrame([], "k int, t int, payload string")

    got = {
        (r["k"], r["t"]): r["payload"]
        for r in asof_join(
            lf, rf, on=["k"], left_ts="t", right_ts="t", right_payload=["payload"]
        ).collect()
    }

    want = {}
    for k, t in left:
        cands = [(rt, f"R{k}:{rt}") for rk, rt in right if rk == k and rt <= t]
        want[(k, t)] = max(cands)[1] if cands else None
    assert got == want


@settings(**_SETTINGS)
@given(rows=_TIMELINES)
def test_scd2_null_safe_vs_reference_mode_on_nulls(spark, rows):
    """Inject NULL statuses: null_safe=True must register null<->value
    transitions as changes; reference mode collapses them (SURVEY.md W3)."""
    with_nulls = [
        (k, d, None if (k + d.day) % 3 == 0 else s) for k, d, s in rows
    ]
    df = spark.createDataFrame(with_nulls, "k int, d date, status string")
    safe = scd2(
        df, key_cols=["k"], tracked_cols=["status"], order_col="d",
        sk_name="sk", null_safe=True,
    ).collect()
    # null-safe mode: adjacent versions always differ (null-aware)
    by_key: dict[int, list] = {}
    for r in safe:
        by_key.setdefault(r["k"], []).append(r)
    for versions in by_key.values():
        versions.sort(key=lambda r: r["effective_start_date"])
        for a, b in zip(versions, versions[1:]):
            assert a["status"] != b["status"]  # None != str in Python too


def test_salted_join_deterministic_under_repartition(spark):
    """Salt assignment must be a pure function of row content: repartitioning
    the input (which reshuffles rand()'s per-partition seeds) may not change
    the result multiset — the determinism guarantee VERDICT r1 flagged."""
    from lakeforge.ops.joins import salted_join

    big = spark.range(0, 500).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    small = spark.createDataFrame([(i, f"t{i}") for i in range(7)], ["k", "tag"])

    def run(frame):
        return sorted(
            tuple(r) for r in salted_join(frame, small, ["k"], salt=5).collect()
        )

    assert run(big) == run(big.repartition(13)) == run(big.repartition(3, "v"))


@given(
    keys=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40, unique=True),
    k=st.integers(min_value=2, max_value=7),
)
@settings(max_examples=15, deadline=None)
def test_kfold_in_range_and_subset_stable(spark, keys, k):
    """Folds are a pure key function: in [0,k), and a row's fold never
    changes when other rows appear/disappear (incremental stability)."""
    from lakeforge.ops.sampling import kfold_col

    df = spark.createDataFrame([(x,) for x in keys], "key bigint")
    full = {r.key: r.fold for r in df.select("key", kfold_col("key", k).alias("fold")).collect()}
    assert all(0 <= f < k for f in full.values())
    half_keys = keys[: max(1, len(keys) // 2)]
    half_df = spark.createDataFrame([(x,) for x in half_keys], "key bigint")
    half = {r.key: r.fold for r in half_df.select("key", kfold_col("key", k).alias("fold")).collect()}
    assert all(full[x] == half[x] for x in half_keys)


@given(
    texts=st.lists(
        st.text(alphabet="ab c\n", min_size=1, max_size=30), min_size=1, max_size=8
    )
)
@settings(max_examples=15, deadline=None)
def test_char_entropy_matches_naive_python(spark, texts):
    import math
    from collections import Counter

    from lakeforge.llm.text import char_entropy

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    got = {r.doc_id: (r.n_chars, r.entropy_bits) for r in char_entropy(df, "text", "doc_id").collect()}
    for i, t in enumerate(texts):
        c = Counter(t)
        n = len(t)
        h = math.log2(n) - sum(v * math.log2(v) for v in c.values()) / n
        assert got[i][0] == n
        assert abs(got[i][1] - round(h, 6)) < 1e-9


_DOC_TEXTS = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=50)
    .map(" ".join),
    min_size=1,
    max_size=8,
)


@settings(**_SETTINGS)
@given(texts=_DOC_TEXTS)
def test_passage_dedup_matches_naive_python(spark, texts):
    """passage_dedup == brute-force python recomputation: same shared
    passages, same doc counts, on arbitrary small corpora."""
    import hashlib
    from collections import defaultdict

    from lakeforge.llm.dedup import passage_dedup

    W = 4  # small window so tiny docs produce multiple passages
    df = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    got = {
        r["passage_hash"]: (r["n_docs"], r["n_occurrences"], r["canonical_doc_id"])
        for r in passage_dedup(df, "text", "doc_id", passage_words=W).collect()
    }

    occurrences = defaultdict(list)
    for doc_id, text in enumerate(texts):
        toks = [t for t in text.lower().split() if t]
        for i in range(0, len(toks), W):
            p = " ".join(toks[i : i + W])
            h = int(hashlib.md5(p.encode()).hexdigest()[:15], 16)
            occurrences[h].append(doc_id)
    want = {
        h: (len(set(ids)), len(ids), min(ids))
        for h, ids in occurrences.items()
        if len(set(ids)) >= 2
    }
    assert got == want


_MOR_BASE = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 100)),
    min_size=0, max_size=8, unique_by=lambda r: r[0],
)
_MOR_DELTAS = st.lists(
    st.tuples(
        st.integers(0, 5),           # key
        st.integers(0, 100),         # value
        st.integers(1, 4),           # seq
        st.booleans(),               # deleted
    ),
    min_size=0, max_size=10,
    unique_by=lambda r: (r[0], r[2]),  # one delta per (key, seq)
)


@settings(**_SETTINGS)
@given(base=_MOR_BASE, deltas=_MOR_DELTAS)
def test_merge_on_read_matches_reference_model(spark, base, deltas):
    """merge_on_read_view == a dict-based latest-wins reference model."""
    from lakeforge.ops.merge import merge_on_read_view

    if not base and not deltas:
        return
    b = spark.createDataFrame(base or [(99, 0)], ["k", "v"])
    if not base:
        b = b.filter("k < 0")
    d = spark.createDataFrame(
        deltas or [(99, 0, 1, False)], ["k", "v", "seq", "_deleted"]
    )
    if not deltas:
        d = d.filter("k < 0")
    out = merge_on_read_view(b, d, keys=["k"], seq_col="seq")
    got = sorted((r["k"], r["v"]) for r in out.collect())

    model: dict[int, tuple[int, int, bool]] = {}  # k -> (seq, v, deleted)
    for k, v in base:
        model[k] = (-1, v, False)
    for k, v, seq, deleted in deltas:
        if k not in model or seq > model[k][0]:
            model[k] = (seq, v, deleted)
    want = sorted(
        (k, v) for k, (seq, v, deleted) in model.items() if not deleted
    )
    assert got == want


# --- round-5 iterative ops vs pure-Python reference models -----------------

_BPE_DOCS_ST = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=8),
    min_size=1, max_size=5,
)


def _bpe_reference(docs: list[list[str]], n_merges: int):
    """Pure-Python BPE: global overlap-counted pair frequencies, greedy
    left-to-right merge, tie-break (count desc, left asc, right asc)."""
    stats = []
    toks = [list(d) for d in docs]
    for r in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for d in toks:
            for x, y in zip(d, d[1:]):
                counts[(x, y)] = counts.get((x, y), 0) + 1
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merged = f"{a}_{b}"
        new_toks = []
        for d in toks:
            out, i = [], 0
            while i < len(d):
                if i + 1 < len(d) and d[i] == a and d[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(d[i])
                    i += 1
            new_toks.append(out)
        toks = new_toks
        stats.append((r, a, b, cnt, sum(len(d) for d in toks)))
    return stats


@settings(**_SETTINGS)
@given(docs=_BPE_DOCS_ST)
def test_bpe_train_matches_python_reference(spark, docs):
    from lakeforge.llm.bpe import bpe_train_merges

    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id bigint, text string",
    )
    got = [
        (r["merge_round"], r["merge_left"], r["merge_right"],
         r["pair_count"], r["corpus_tokens_after"])
        for r in sorted(
            bpe_train_merges(df, "text", "doc_id", n_merges=2).collect(),
            key=lambda r: r["merge_round"],
        )
    ]
    assert got == _bpe_reference(docs, 2)


_EDGES_ST = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7)),
    min_size=1, max_size=14,
).filter(lambda es: any(a != b for a, b in es))


@settings(**_SETTINGS)
@given(edges=_EDGES_ST, depth=st.integers(1, 3))
def test_bfs_depths_matches_python_bfs(spark, edges, depth):
    from collections import deque

    from lakeforge.ops.graph import bfs_depths

    edges = [(a, b) for a, b in edges if a != b]
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    src = min(adj)
    want, q = {src: 0}, deque([src])
    while q:
        u = q.popleft()
        if want[u] >= depth:
            continue
        for v in adj[u]:
            if v not in want:
                want[v] = want[u] + 1
                q.append(v)

    df = spark.createDataFrame(edges, "a bigint, b bigint")
    got = {r["node"]: r["depth"]
           for r in bfs_depths(df, "a", "b", [src], max_depth=depth).collect()}
    assert got == want


_AGG_ROWS = st.lists(
    st.tuples(st.integers(0, 3), st.integers(-50, 50)),
    min_size=0, max_size=12,
)


@settings(**_SETTINGS)
@given(old=_AGG_ROWS, delta=_AGG_ROWS)
def test_merge_aggregates_property(spark, old, delta):
    from lakeforge.ops.merge import merge_aggregates

    if not old and not delta:
        return

    def agg(rows):
        df = spark.createDataFrame(rows or [(99, 0)], "k bigint, v bigint")
        if not rows:
            df = df.filter("k < 0")
        return df.groupBy("k").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").cast("bigint").alias("s"),
            F.min("v").cast("bigint").alias("mn"),
            F.max("v").cast("bigint").alias("mx"),
        )

    merged = merge_aggregates(
        agg(old), agg(delta), ["k"],
        {"n": "sum", "s": "sum", "mn": "min", "mx": "max"},
    )
    got = sorted(tuple(r) for r in merged.collect())
    want = sorted(tuple(r) for r in agg(old + delta).collect())
    assert got == want


_POINTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),   # minimized axis
        st.integers(min_value=0, max_value=40),   # maximized axis
    ),
    min_size=1,
    max_size=25,
)


@settings(**_SETTINGS)
@given(pts=_POINTS)
def test_pareto_frontier_matches_naive_dominance(spark, pts):
    from lakeforge.cache import release_all
    from lakeforge.ops.analytics import pareto_frontier_2d

    df = spark.createDataFrame(pts, ["price", "size"])
    got = {
        (r.price, r.size)
        for r in pareto_frontier_2d(df, "price", "size", block_width=7.0).collect()
    }
    release_all()
    # naive O(n^2) dominance over the reduced point set
    reduced = {}
    for p, sz in pts:
        reduced[p] = max(reduced.get(p, -1), sz)
    cand = set(reduced.items())
    want = {
        (p, sz)
        for p, sz in cand
        if not any(
            (p2 <= p and sz2 >= sz and (p2 < p or sz2 > sz)) for p2, sz2 in cand
        )
    }
    assert got == want


_INTERVALS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),    # key
        st.integers(min_value=0, max_value=30),   # start
        st.integers(min_value=1, max_value=10),   # length
    ),
    min_size=1,
    max_size=20,
)


@settings(**_SETTINGS)
@given(ivs=_INTERVALS)
def test_interval_coalescing_matches_naive_merge(spark, ivs):
    from lakeforge.cache import release_all
    from lakeforge.ops.analytics import coalesce_intervals

    rows = [(k, s, s + ln) for k, s, ln in ivs]
    df = spark.createDataFrame(rows, ["k", "s", "e"])
    got = sorted(
        (r.k, r.island_start, r.island_end)
        for r in coalesce_intervals(df, "k", "s", "e").collect()
    )
    release_all()
    # naive per-key sweep over sorted intervals ([s, e) semantics: touching
    # intervals merge because s == prev_end is not a gap)
    by_key: dict[int, list] = {}
    for k, s, e in rows:
        by_key.setdefault(k, []).append((s, e))
    want = []
    for k, lst in by_key.items():
        lst.sort()
        cur_s, cur_e = lst[0]
        for s, e in lst[1:]:
            if s > cur_e:
                want.append((k, cur_s, cur_e))
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        want.append((k, cur_s, cur_e))
    assert got == sorted(want)


_DELTA_TABLES = st.tuples(
    st.lists(st.tuples(st.integers(0, 5), st.integers(0, 9)), max_size=12),  # A rows
    st.lists(st.tuples(st.integers(0, 5), st.integers(10, 19)), max_size=6),  # dA
    st.lists(st.tuples(st.integers(0, 5), st.integers(20, 29)), max_size=12),  # B rows
    st.lists(st.tuples(st.integers(0, 5), st.integers(30, 39)), max_size=6),  # dB
)


@settings(**_SETTINGS)
@given(tabs=_DELTA_TABLES)
def test_join_delta_multiset_property(spark, tabs):
    """Δ(A⋈B) must equal new-join MINUS old-join as a MULTISET — duplicate
    join keys on both sides are where naive delta rules double-count."""
    from collections import Counter

    from lakeforge.ops.merge import join_delta

    a_rows, da_rows, b_rows, db_rows = tabs
    mk = lambda rows, vcol: spark.createDataFrame(  # noqa: E731
        rows, ["k", vcol]
    ) if rows else spark.createDataFrame([], "k int, %s int" % vcol)
    a, da = mk(a_rows, "va"), mk(da_rows, "va")
    b, db = mk(b_rows, "vb"), mk(db_rows, "vb")
    delta = join_delta(a, da, b, db, "k")
    full = a.unionByName(da).join(b.unionByName(db), "k")
    old = a.join(b, "k")
    key = lambda r: (r.k, r.va, r.vb)  # noqa: E731
    got = Counter(map(key, delta.collect()))
    want = Counter(map(key, full.collect())) - Counter(map(key, old.collect()))
    assert got == want


# --- evaluation ops: AUC vs brute-force pair counting --------------------

from hypothesis import assume

from lakeforge.ops.evaluation import confusion_grid, roc_auc

# (group, integer score, is_positive) — small score range forces heavy ties
_SCORED = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),
        st.integers(min_value=-4, max_value=4),
        st.booleans(),
    ),
    min_size=2,
    max_size=24,
)


def _brute_u2(members):
    pos = [s for s, p in members if p]
    neg = [s for s, p in members if not p]
    return sum(
        2 if sp > sn else (1 if sp == sn else 0) for sp in pos for sn in neg
    )


@settings(**_SETTINGS)
@given(rows=_SCORED)
def test_roc_auc_equals_bruteforce_pair_count(spark, rows):
    df = spark.createDataFrame(
        [(g, float(s), 1 if p else 0) for g, s, p in rows], ["g", "score", "pos"]
    )
    out = {r.g: r for r in roc_auc(df, "score", "pos", ["g"]).collect()}
    # global blocked path must agree with the grouped path's pooled input
    blocked = roc_auc(
        df, "score", "pos", block_expr=F.floor(F.col("score") / 3).cast("bigint")
    ).collect()[0]
    assert blocked.u2 == _brute_u2([(s, p) for _, s, p in rows])
    for g in {r[0] for r in rows}:
        members = [(s, p) for gg, s, p in rows if gg == g]
        n_pos = sum(1 for _, p in members if p)
        n_neg = len(members) - n_pos
        r = out[g]
        assert r.n_pos == n_pos and r.n_neg == n_neg
        assert r.u2 == _brute_u2(members)
        if n_pos and n_neg:
            assert r.auc_permille == (1000 * r.u2) // (2 * n_pos * n_neg)
        else:
            assert r.auc_permille is None


@settings(**_SETTINGS)
@given(rows=_SCORED)
def test_confusion_grid_conserves_classes_and_is_monotone(spark, rows):
    assume(any(p for _, _, p in rows) and any(not p for _, _, p in rows))
    df = spark.createDataFrame(
        [(int(s), 1 if p else 0) for _, s, p in rows], ["score", "pos"]
    )
    grid = sorted(
        confusion_grid(df, "score", "pos", range(-4, 5, 2)).collect(),
        key=lambda r: r.threshold_micros,
    )
    n_pos = sum(1 for _, _, p in rows if p)
    n_neg = len(rows) - n_pos
    prev_tp = None
    for r in grid:
        assert r.tp + r.fn == n_pos
        assert r.fp + r.tn == n_neg
        bf_tp = sum(1 for _, s, p in rows if p and s >= r.threshold_micros)
        assert r.tp == bf_tp
        if prev_tp is not None:
            assert r.tp <= prev_tp  # raising t can only shrink predictions
        prev_tp = r.tp


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.floats(min_value=-2.0, max_value=2.0, allow_nan=False),
            st.booleans(),
        ),
        min_size=1,
        max_size=24,
    )
)
def test_calibration_table_partitions_rows_into_floor_bins(spark, rows):
    import math

    from lakeforge.ops.evaluation import calibration_table

    df = spark.createDataFrame(
        [(float(s), 1 if p else 0) for s, p in rows], ["score", "pos"]
    )
    out = calibration_table(df, "score", "pos", bins_per_unit=4).collect()
    assert sum(r.n for r in out) == len(rows)
    by_bin = {}
    for s, p in rows:
        by_bin.setdefault(math.floor(s * 4), [0, 0, 0])
        b = by_bin[math.floor(s * 4)]
        b[0] += 1
        b[1] += 1 if p else 0
        b[2] += math.floor(s * 1e6)
    for r in out:
        n, n_pos, micros = by_bin[r.bin]
        assert (r.n, r.n_pos, r.sum_score_micros) == (n, n_pos, micros)
        assert r.pos_permille == (1000 * n_pos) // n


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda r: r[0],
    ),
    width=st.sampled_from([1, 3, 7, 1000]),
)
def test_blocked_prefix_sum_equals_global_cumsum(spark, rows, width):
    """Two-level decomposition must be exactly a global exclusive cumsum
    at ANY block width (1 = every value its own block, 1000 = one block)."""
    from lakeforge.ops.analytics import blocked_prefix_sum

    df = spark.createDataFrame(rows, ["v", "cnt"])
    out = blocked_prefix_sum(
        df, "v", "cnt", F.floor(F.col("v") / width).cast("bigint")
    ).collect()
    expect = {}
    acc = 0
    for v, c in sorted(rows):
        expect[v] = acc
        acc += c
    assert len(out) == len(rows)
    for r in out:
        assert r.prefix_sum == expect[r.v], (r.v, width)


@settings(**_SETTINGS)
@given(rows=_SCORED)
def test_pr_curve_matches_bruteforce_cuts(spark, rows):
    from lakeforge.ops.evaluation import pr_curve

    assume(any(p for _, _, p in rows))
    data = [(float(s), 1 if p else 0) for _, s, p in rows]
    df = spark.createDataFrame(data, ["score", "pos"])
    out = pr_curve(
        df, "score", "pos", F.floor(F.col("score") / 3).cast("bigint")
    ).collect()
    n_pos = sum(p for _, p in data)
    cuts = sorted({s for s, _ in data})
    assert len(out) == len(cuts)
    for r in out:
        tp = sum(p for s, p in data if s >= r.score_cut)
        fp = sum(1 - p for s, p in data if s >= r.score_cut)
        assert (r.tp, r.fp) == (tp, fp)
        assert r.precision_permille == (1000 * tp) // (tp + fp)
        assert r.recall_permille == (1000 * tp) // n_pos


@settings(**_SETTINGS)
@given(
    probes=st.lists(
        st.tuples(st.integers(0, 999), st.integers(0, 999)),
        min_size=1, max_size=12,
    ),
    builds=st.lists(
        st.tuples(st.integers(0, 999), st.integers(0, 999)),
        min_size=0, max_size=15,
    ),
    cell=st.sampled_from([7, 50, 400]),
)
def test_nearest_in_box_matches_bruteforce(spark, probes, builds, cell):
    """Ring expansion (iterative path, cell << box) must return exactly the
    brute-force nearest build point within each probe's box, including
    dropouts for empty boxes and (d2, payload) tie-breaks."""
    from lakeforge.ops.spatial import nearest_in_box

    # box: fixed 300-unit neighborhood clipped to [0, 1000)
    p = spark.createDataFrame(
        [
            (i, la, lo, max(0, la - 150), min(1000, la + 150),
             max(0, lo - 150), min(1000, lo + 150))
            for i, (la, lo) in enumerate(probes)
        ],
        "id bigint, plat bigint, plon bigint, box_lat_lo bigint,"
        "box_lat_hi bigint, box_lon_lo bigint, box_lon_hi bigint",
    )
    b = spark.createDataFrame(
        [(la, lo, j) for j, (la, lo) in enumerate(builds)],
        "blat bigint, blon bigint, bkey bigint",
    ) if builds else spark.createDataFrame([], "blat bigint, blon bigint, bkey bigint")
    got = {
        r.id: (r.d2, r.bkey)
        for r in nearest_in_box(p, b, cell, ["bkey"]).collect()
    }
    want = {}
    for i, (la, lo) in enumerate(probes):
        best = None
        for j, (ba, bo) in enumerate(builds):
            if not (max(0, la - 150) <= ba < min(1000, la + 150)):
                continue
            if not (max(0, lo - 150) <= bo < min(1000, lo + 150)):
                continue
            d2 = (la - ba) ** 2 + (lo - bo) ** 2
            if best is None or (d2, j) < best:
                best = (d2, j)
        if best is not None:
            want[i] = best
    assert got == want

    from lakeforge import cache

    cache.release_all()


@settings(**_SETTINGS)
@given(
    probes=st.lists(
        st.tuples(st.integers(0, 799), st.integers(0, 799)),
        min_size=1, max_size=10,
    ),
    builds=st.lists(
        st.tuples(st.integers(0, 799), st.integers(0, 799)),
        min_size=0, max_size=12,
    ),
)
def test_nearest_in_box_aligned_single_shot_matches_bruteforce(
    spark, probes, builds
):
    """box_aligned + box_radius_cells (the single-shot path the spatial
    query takes at low density) skips the box re-check filter — only
    valid when box bounds are cell multiples; pin that contract against
    brute force.  cell=100, boxes = the probe's own cell ±1 (multiples
    of 100), radius 1."""
    from lakeforge.ops.spatial import nearest_in_box

    CELL = 100
    SPACE = 800

    def box(la, lo):
        cl, co = la // CELL, lo // CELL
        return (
            max(0, (cl - 1) * CELL), min(SPACE, (cl + 2) * CELL),
            max(0, (co - 1) * CELL), min(SPACE, (co + 2) * CELL),
        )

    p = spark.createDataFrame(
        [(i, la, lo, *box(la, lo)) for i, (la, lo) in enumerate(probes)],
        "id bigint, plat bigint, plon bigint, box_lat_lo bigint,"
        "box_lat_hi bigint, box_lon_lo bigint, box_lon_hi bigint",
    )
    b = spark.createDataFrame(
        [(la, lo, j) for j, (la, lo) in enumerate(builds)],
        "blat bigint, blon bigint, bkey bigint",
    ) if builds else spark.createDataFrame(
        [], "blat bigint, blon bigint, bkey bigint"
    )
    got = {
        r.id: (r.d2, r.bkey)
        for r in nearest_in_box(
            p, b, CELL, ["bkey"], box_radius_cells=1, box_aligned=True
        ).collect()
    }
    want = {}
    for i, (la, lo) in enumerate(probes):
        lo_la, hi_la, lo_lo, hi_lo = box(la, lo)
        best = None
        for j, (ba, bo) in enumerate(builds):
            if not (lo_la <= ba < hi_la and lo_lo <= bo < hi_lo):
                continue
            d2 = (la - ba) ** 2 + (lo - bo) ** 2
            if best is None or (d2, j) < best:
                best = (d2, j)
        if best is not None:
            want[i] = best
    assert got == want

    from lakeforge import cache

    cache.release_all()


# ---------------------------------------------------------------------------
# Bounded-domain histogram percentiles (ops/percentile.py) vs the naive
# sorted-list type-1 definition.
# ---------------------------------------------------------------------------

_PCT_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["g1", "g2"]),
        st.integers(min_value=-5, max_value=30),
    ),
    min_size=1,
    max_size=40,
)


@settings(**_SETTINGS)
@given(rows=_PCT_ROWS)
def test_bounded_domain_percentiles_match_naive(spark, rows):
    import math

    from lakeforge.ops.percentile import bounded_domain_percentiles

    df = spark.createDataFrame(rows, ["g", "v"]).select(
        "g", F.col("v").cast("bigint").alias("v")
    )
    out = {
        r.g: r
        for r in bounded_domain_percentiles(
            df, ["g"], "v", [(50, "p50"), (90, "p90"), (100, "p100")]
        ).collect()
    }
    by_g: dict[str, list[int]] = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        vals.sort()
        n = len(vals)
        r = out[g]
        assert r.n_rows == n
        for pct, field in ((50, "p50"), (90, "p90"), (100, "p100")):
            expect = vals[max(math.ceil(pct / 100 * n), 1) - 1]
            assert getattr(r, field) == expect, (g, pct, vals)


@settings(**_SETTINGS)
@given(rows=_TIMELINES, split=_DATES)
def test_scd2_incremental_collapse_composability(spark, rows, split):
    """The theorem behind scd2_incremental_snapshot (workload_r10), at
    ARBITRARY split dates over arbitrary timelines: collapsing
    [collapse(history) ∪ batch] equals collapsing the full timeline,
    whenever every batch date is >= every history date per key (which a
    date split guarantees globally).  Surrogate keys included."""
    df = spark.createDataFrame(rows, ["k", "d", "status"])
    full = scd2(
        df, key_cols=["k"], tracked_cols=["status"], order_col="d", sk_name="sk"
    )

    hist = df.filter(F.col("d") < F.lit(split))
    batch = df.filter(F.col("d") >= F.lit(split))
    dim_old = scd2(
        hist, key_cols=["k"], tracked_cols=["status"], order_col="d",
        sk_name="sk",
    )
    affected = batch.select("k").distinct()
    untouched = dim_old.join(affected, "k", "left_anti")
    old_tl = dim_old.join(affected, "k", "left_semi").select(
        "k", F.col("effective_start_date").alias("d"), "status"
    )
    rebuilt = scd2(
        old_tl.unionByName(batch),
        key_cols=["k"], tracked_cols=["status"], order_col="d", sk_name="sk",
    )
    cols = ["sk", "k", "status", "effective_start_date",
            "effective_end_date", "is_current"]
    inc = {
        tuple(r)
        for r in untouched.select(*cols).unionByName(rebuilt.select(*cols)).collect()
    }
    assert inc == {tuple(r) for r in full.select(*cols).collect()}


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.lists(
                st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
                min_size=1, max_size=6,
            ),
        ),
        min_size=2, max_size=12,
        unique_by=lambda r: r[0],
    )
)
def test_simhash_collapse_equals_naive_pair_histogram(spark, docs):
    """The dup-flood collapse in simhash_hamming_histogram (workload_r9b):
    the weighted distinct-fingerprint histogram must equal brute-force
    enumeration of ALL banded doc pairs, as long as the bucket cap does
    not bind (guaranteed here: <= 12 docs << cap 128)."""
    from lakeforge.llm.dedup import simhash_fingerprints
    from lakeforge.workload_r9b import _SH_BANDS, _SH_BITS

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in docs], ["doc_id", "text"]
    )
    fp = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprints(df, "text", "doc_id", bits=_SH_BITS).collect()
    }
    width = _SH_BITS // _SH_BANDS
    mask = (1 << width) - 1

    def bands(s):
        return [(b, (s >> (b * width)) & mask) for b in range(_SH_BANDS)]

    naive: dict[int, int] = {}
    ids = sorted(fp)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if set(bands(fp[a])) & set(bands(fp[b])):
                h = bin(fp[a] ^ fp[b]).count("1")
                naive[h] = naive.get(h, 0) + 1

    import lakeforge.workload_r9b as r9b

    with __import__("tempfile").TemporaryDirectory() as tmp:
        df.select(
            "doc_id", "text", F.lit("en").alias("lang"),
            F.lit("src").alias("source"),
            F.octet_length("text").cast("long").alias("n_chars"),
        ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        got = {
            r["hamming"]: r["n_pairs"]
            for r in r9b.q_simhash_hamming_histogram(spark, tmp).collect()
        }
    from lakeforge import cache

    cache.release_all()
    assert got == naive


# (k, v, p) silver rows: a small domain so batches redeliver rows and
# revisit partitions; p includes NULL (the __HIVE_DEFAULT_PARTITION__).
_MERGE_ROW = st.tuples(
    st.sampled_from(["a", "b", "c"]),
    st.sampled_from(["x", "y"]),
    st.sampled_from([None, "p1", "p2", "p3"]),
)
_MERGE_SCHEMA = "k string, v string, p string"


@settings(**_SETTINGS)
@given(
    batches=st.lists(
        st.lists(_MERGE_ROW, max_size=4), min_size=1, max_size=4
    )
)
@example(
    batches=[
        [("a", "x", "p1"), ("b", "x", None)],
        [],  # empty batch
        [("a", "x", "p1"), ("c", "y", None), ("c", "y", "p2")],  # redelivered
    ]
)
def test_merge_batching_does_not_change_silver(spark, batches):
    """Silver after merging the batches one by one equals the set union of
    every batch row (the keys cover every column) and equals one merge of
    the concatenated batches: the split into batches (empty, redelivered,
    NULL-partitioned, new or seen partitions) does not change the answer."""
    import tempfile

    from lakeforge.io.sources import read_parquet_if_exists
    from lakeforge.ops.merge import merge_full_history

    keys = ["k", "v", "p"]

    def merged(root, parts):
        path = f"{root}/silver"
        for rows in parts:
            merge_full_history(
                spark, spark.createDataFrame(rows, _MERGE_SCHEMA), path,
                keys=keys, partition_cols=["p"],
            )
        silver = read_parquet_if_exists(spark, path)
        return (
            [] if silver is None
            else sorted(map(tuple, silver.select(*keys).collect()), key=repr)
        )

    with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
        batched = merged(a, batches)
        at_once = merged(b, [[r for rows in batches for r in rows]])
    assert batched == sorted({r for rows in batches for r in rows}, key=repr)
    assert batched == at_once
