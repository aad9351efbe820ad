from __future__ import annotations

import os

from pyspark.sql import functions as F

from lakeforge.io.sources import read_parquet_if_exists
from lakeforge.ops.merge import merge_full_history


def _rows(spark, path):
    df = read_parquet_if_exists(spark, path)
    return sorted(tuple(r) for r in df.select("k", "d", "v", "p").collect())


def test_initial_load_then_incremental(spark, tmp_path):
    path = str(tmp_path / "tbl")
    batch1 = spark.createDataFrame(
        [("a", "2022-01-01", "v1", "202201"), ("b", "2022-02-01", "v1", "202202")],
        ["k", "d", "v", "p"],
    )
    merge_full_history(spark, batch1, path, keys=["k", "d", "v", "p"], partition_cols=["p"])
    assert len(_rows(spark, path)) == 2

    # Incremental: one exact duplicate (collapses), one new row in an
    # existing partition, one new partition.
    batch2 = spark.createDataFrame(
        [
            ("a", "2022-01-01", "v1", "202201"),  # dup
            ("c", "2022-02-15", "v1", "202202"),  # new row, existing month
            ("d", "2022-03-01", "v1", "202203"),  # new partition
        ],
        ["k", "d", "v", "p"],
    )
    merge_full_history(spark, batch2, path, keys=["k", "d", "v", "p"], partition_cols=["p"])
    got = _rows(spark, path)
    assert got == sorted(
        [
            ("a", "2022-01-01", "v1", "202201"),
            ("b", "2022-02-01", "v1", "202202"),
            ("c", "2022-02-15", "v1", "202202"),
            ("d", "2022-03-01", "v1", "202203"),
        ]
    )
    # Full history preserved: b survived even though batch2 didn't carry it.


def test_merge_untouched_partition_files_not_rewritten(spark, tmp_path):
    """Dynamic partition overwrite: a partition absent from the batch keeps
    its original data files (the scale property README.md:213 claims)."""
    path = str(tmp_path / "tbl")
    b1 = spark.createDataFrame([("a", "x", "p1"), ("b", "x", "p2")], ["k", "v", "p"])
    merge_full_history(spark, b1, path, keys=["k", "v", "p"], partition_cols=["p"])
    p1_files = set(os.listdir(f"{path}/p=p1"))
    b2 = spark.createDataFrame([("c", "x", "p2")], ["k", "v", "p"])
    merge_full_history(spark, b2, path, keys=["k", "v", "p"], partition_cols=["p"])
    assert set(os.listdir(f"{path}/p=p1")) == p1_files


def _data_files(path):
    """{relative path: (size, mtime_ns)} of every data file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                out[os.path.relpath(os.path.join(root, f), path)] = (
                    st.st_size, st.st_mtime_ns
                )
    return out


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_merge_empty_batch_rewrites_no_partition(spark, tmp_path):
    """A batch with no rows touches no partition: every data file stays
    as it was, and the merge runs no job beyond the silver probe and the
    touched-partition collect (no checkpoint, no write)."""
    path = str(tmp_path / "tbl")
    keys = ["k", "v", "p"]
    b1 = spark.createDataFrame([("a", "x", "p1"), ("b", "x", "p2")], keys)
    merge_full_history(spark, b1, path, keys=keys, partition_cols=["p"])
    before = _data_files(path)
    assert len(before) == 2

    empty = spark.createDataFrame([], "k string, v string, p string")
    n_probe_and_collect = _jobs_in_group(
        spark, "empty_ref",
        lambda: (read_parquet_if_exists(spark, path),
                 empty.select("p").distinct().collect()),
    )
    n_merge = _jobs_in_group(
        spark, "empty_merge",
        lambda: merge_full_history(
            spark, empty, path, keys=keys, partition_cols=["p"]
        ),
    )
    assert n_merge == n_probe_and_collect
    assert _data_files(path) == before
    rows = read_parquet_if_exists(spark, path).select(*keys).collect()
    assert sorted(map(tuple, rows)) == [("a", "x", "p1"), ("b", "x", "p2")]


def test_merge_deterministic_survivor(spark, tmp_path):
    path = str(tmp_path / "tbl")
    b1 = spark.createDataFrame([("a", 1, "old", "p1")], ["k", "seq", "v", "p"])
    merge_full_history(spark, b1, path, keys=["k"], partition_cols=["p"],
                       order_by=[F.col("seq").desc()])
    b2 = spark.createDataFrame([("a", 2, "new", "p1")], ["k", "seq", "v", "p"])
    merge_full_history(spark, b2, path, keys=["k"], partition_cols=["p"],
                       order_by=[F.col("seq").desc()])
    df = read_parquet_if_exists(spark, path)
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["v"] == "new"


def test_probe_missing_path(spark, tmp_path):
    assert read_parquet_if_exists(spark, str(tmp_path / "nope")) is None


def test_merge_safe_under_static_overwrite_session(spark, tmp_path):
    """The partition-scoped merge prunes `existing` to the batch's
    partitions before overwriting — ONLY correct under dynamic partition
    overwrite.  The writer pins the mode per-write, so even a session
    configured static (e.g. one not built by get_spark) must not truncate
    untouched partitions (ADVICE r1, merge.py)."""
    import pyspark.sql.functions as F

    from lakeforge.ops.merge import merge_full_history

    path = str(tmp_path / "silver_static")
    base = spark.createDataFrame(
        [(1, "a", "202201"), (2, "b", "202202")], ["k", "v", "p_ym"]
    )
    merge_full_history(spark, base, path, keys=["k"], partition_cols=["p_ym"])

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        batch = spark.createDataFrame([(3, "c", "202202")], ["k", "v", "p_ym"])
        merge_full_history(spark, batch, path, keys=["k"], partition_cols=["p_ym"])
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    got = {
        tuple(r) for r in spark.read.parquet(path).select("k", "v", "p_ym").collect()
    }
    # 202201 must survive the 202202-only batch under a static session.
    assert got == {(1, "a", "202201"), (2, "b", "202202"), (3, "c", "202202")}


def test_merge_upsert_batch_wins_and_schema_evolves(spark, tmp_path):
    import pyspark.sql.functions as F

    from lakeforge.ops.merge import merge_upsert

    path = str(tmp_path / "scd1")
    base = spark.createDataFrame(
        [(1, "old", "202201"), (2, "keep", "202201"), (3, "x", "202202")],
        ["k", "v", "p_ym"],
    )
    merge_upsert(spark, base, path, keys=["k"], partition_cols=["p_ym"])

    # batch updates k=1, inserts k=9, adds a new column; touches 202201 only
    batch = spark.createDataFrame(
        [(1, "new", "202201", "extra1"), (9, "ins", "202201", "extra9")],
        ["k", "v", "p_ym", "note"],
    )
    merge_upsert(
        spark, batch, path, keys=["k"], partition_cols=["p_ym"], evolve_schema=True
    )

    got = {r["k"]: (r["v"], r["note"]) for r in spark.read.parquet(path).collect()}
    assert got[1] == ("new", "extra1")   # matched -> updated
    assert got[9] == ("ins", "extra9")   # not matched -> inserted
    assert got[2] == ("keep", None)      # untouched key, null-filled new col
    assert got[3][0] == "x"              # untouched partition survives


def test_merge_upsert_order_by_picks_latest_within_batch(spark, tmp_path):
    import pyspark.sql.functions as F

    from lakeforge.ops.merge import merge_upsert

    path = str(tmp_path / "scd1b")
    batch = spark.createDataFrame(
        [(1, 1, "v1"), (1, 3, "v3"), (1, 2, "v2")], ["k", "version", "v"]
    )
    merge_upsert(spark, batch, path, keys=["k"], order_by=[F.col("version").desc()])
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 1 and rows[0]["v"] == "v3"


def test_merge_upsert_deterministic_on_in_batch_duplicates(spark, tmp_path):
    """Two same-key rows in one batch with no order_by: the content-hash
    tiebreak must pick the same survivor under any partitioning."""
    from lakeforge.ops.merge import merge_upsert

    rows = [(1, f"v{i}") for i in range(6)]

    def run(parts, sub):
        path = str(tmp_path / f"dupe{sub}")
        batch = spark.createDataFrame(rows, ["k", "v"]).repartition(parts)
        merge_upsert(spark, batch, path, keys=["k"])
        return spark.read.parquet(path).collect()[0]["v"]

    assert run(1, "a") == run(8, "b") == run(3, "c")


def test_merge_null_partition_value_preserves_prior_rows(spark, tmp_path):
    """A batch row with a NULL partition value must MERGE with the existing
    NULL partition (__HIVE_DEFAULT_PARTITION__), not silently replace it.
    Round-2 ADVICE: `==` made the touched-partition predicate NULL, so the
    partition's prior rows were never read back yet still overwritten."""
    path = str(tmp_path / "nullpart")
    batch1 = spark.createDataFrame(
        [("a", "2022-01-01", "v1", None), ("b", "2022-01-02", "v1", "202201")],
        "k string, d string, v string, p string",
    )
    merge_full_history(spark, batch1, path, keys=["k", "d", "v", "p"], partition_cols=["p"])
    batch2 = spark.createDataFrame(
        [("c", "2022-01-03", "v1", None)],
        "k string, d string, v string, p string",
    )
    merge_full_history(spark, batch2, path, keys=["k", "d", "v", "p"], partition_cols=["p"])
    got = _rows(spark, path)
    assert got == sorted(
        [
            ("a", "2022-01-01", "v1", None),  # prior NULL-partition row kept
            ("b", "2022-01-02", "v1", "202201"),
            ("c", "2022-01-03", "v1", None),
        ]
    )


def test_merge_upsert_evolved_tiebreak_covers_existing_only_columns(spark, tmp_path):
    """Two existing same-key rows differing ONLY in a column absent from the
    evolving batch must resolve to one deterministic survivor (round-2
    ADVICE: the tiebreak hashed only new_df's columns, leaving them tied)."""
    from lakeforge.ops.merge import merge_upsert

    path = str(tmp_path / "evolve_tb")
    existing = spark.createDataFrame(
        [("k1", "x", "extraA"), ("k1", "x", "extraB")], ["k", "v", "extra"]
    )
    # Seed the table directly so BOTH same-key rows exist on disk.
    existing.write.mode("overwrite").parquet(path)
    batch = spark.createDataFrame([("k2", "y")], ["k", "v"])  # no 'extra' col
    merge_upsert(spark, batch, path, keys=["k"], evolve_schema=True)
    df = read_parquet_if_exists(spark, path)
    rows = sorted(tuple(r) for r in df.select("k", "v", "extra").collect())
    # k1 resolved deterministically: xxhash64('extraA'...) vs 'extraB' —
    # the winner is fixed by the hash, not by partitioning.
    k1 = [r for r in rows if r[0] == "k1"]
    assert len(k1) == 1
    expected_extra = k1[0][2]
    # Re-run the same merge from the same seed: survivor must be identical.
    existing.write.mode("overwrite").parquet(path)
    merge_upsert(spark, batch, path, keys=["k"], evolve_schema=True)
    df2 = read_parquet_if_exists(spark, path)
    k1b = [tuple(r) for r in df2.select("k", "v", "extra").collect() if r[0] == "k1"]
    assert len(k1b) == 1 and k1b[0][2] == expected_extra


def test_merge_on_read_latest_wins_and_deletes(spark):
    """MOR resolution: highest seq wins per key; delete markers remove
    the key; base rows (NULL seq) lose to any delta."""
    from lakeforge.ops.merge import merge_on_read_view

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        ["k", "name", "v"],
    )
    deltas = spark.createDataFrame(
        [
            (1, "a", 11, 1, False),   # update
            (1, "a", 12, 2, False),   # later update wins
            (2, "b", 99, 1, True),    # delete
            (5, "e", 50, 1, False),   # insert
        ],
        ["k", "name", "v", "seq", "_deleted"],
    )
    out = merge_on_read_view(base, deltas, keys=["k"], seq_col="seq")
    got = sorted((r["k"], r["name"], r["v"]) for r in out.collect())
    assert got == [(1, "a", 12), (3, "c", 30), (4, "d", 40), (5, "e", 50)]


def test_merge_on_read_delete_vs_upsert_tiebreak_deterministic(spark):
    """ADVICE r05 #2 regression: two deltas sharing (key, seq) where one
    is a delete marker and the other an upsert with IDENTICAL value
    columns must resolve deterministically — the xxhash64 tiebreak now
    includes deleted_col, so the two rows can never hash equal.  The
    winner must be stable across repeated runs and across input
    partitioning."""
    from lakeforge.ops.merge import merge_on_read_view

    base = spark.createDataFrame([(1, "a", 10)], ["k", "name", "v"])
    # same (k, seq), same value columns, delete marker differs
    rows = [(1, "a", 11, 5, True), (1, "a", 11, 5, False)]
    outcomes = set()
    for nparts in (1, 2, 4):
        for rev in (False, True):
            data = list(reversed(rows)) if rev else rows
            deltas = spark.createDataFrame(
                data, ["k", "name", "v", "seq", "_deleted"]
            ).repartition(nparts)
            out = merge_on_read_view(base, deltas, keys=["k"], seq_col="seq")
            outcomes.add(tuple(sorted(tuple(r) for r in out.collect())))
    assert len(outcomes) == 1, f"nondeterministic MOR tiebreak: {outcomes}"


def test_merge_aggregates_equals_full_recompute(spark):
    """IVM combine of old+delta aggregates == aggregate over the union,
    including keys present on only one side and null-safe min/max."""
    from lakeforge.ops.merge import merge_aggregates

    old_rows = [("a", 10), ("a", 20), ("b", 5)]
    delta_rows = [("a", 1), ("c", 7)]

    def agg(rows):
        df = spark.createDataFrame(rows, "k string, v bigint")
        return df.groupBy("k").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").cast("bigint").alias("s"),
            F.min("v").cast("bigint").alias("mn"),
            F.max("v").cast("bigint").alias("mx"),
        )

    merged = merge_aggregates(
        agg(old_rows), agg(delta_rows), ["k"],
        {"n": "sum", "s": "sum", "mn": "min", "mx": "max"},
    )
    got = sorted(tuple(r) for r in merged.collect())
    want = sorted(tuple(r) for r in agg(old_rows + delta_rows).collect())
    assert got == want

    import pytest
    with pytest.raises(ValueError, match="unsupported combine"):
        merge_aggregates(agg(old_rows), agg(delta_rows), ["k"], {"s": "avg"})


# ---------------------------------------------------------------------------
# Merkle bucket reconciliation (merkle_bucket_digests / merkle_bucket_diff).
# ---------------------------------------------------------------------------

def _snap(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v string")


def test_merkle_identical_snapshots_all_equal(spark):
    from lakeforge.ops.merge import merkle_bucket_diff

    a = _snap(spark, [(1, "x"), (2, "y"), (3, "z")])
    b = _snap(spark, [(3, "z"), (1, "x"), (2, "y")])  # order must not matter
    out = merkle_bucket_diff(a, b, ["k"], ["k", "v"], n_buckets=4).collect()
    assert out and all(r.status == "equal" for r in out)
    assert sum(r.n_a for r in out) == 3 and sum(r.n_b for r in out) == 3


def test_merkle_flags_modified_added_removed_buckets(spark):
    from lakeforge.functions.keys import md5_int
    from lakeforge.ops.merge import merkle_bucket_diff
    from pyspark.sql import functions as F

    a = _snap(spark, [(1, "x"), (2, "y"), (3, "z")])
    b = _snap(spark, [(1, "x"), (2, "CHANGED"), (4, "new")])  # 3 removed
    out = {r.bucket: r for r in merkle_bucket_diff(
        a, b, ["k"], ["k", "v"], n_buckets=64
    ).collect()}
    buckets = {
        r.k: r.b for r in a.unionByName(b).select(
            "k", F.pmod(md5_int("k"), F.lit(64)).alias("b")
        ).collect()
    }
    assert out[buckets[1]].status == "equal"
    assert out[buckets[2]].status == "differs"  # modified payload
    assert out[buckets[3]].status == "differs"  # removed: n_b side lighter
    assert out[buckets[4]].status == "differs"  # added
    # counts are 0, never NULL, on the absent side
    assert out[buckets[4]].n_a == 0 and out[buckets[4]].n_b >= 1


def test_merkle_digest_partitioning_independent(spark):
    from lakeforge.ops.merge import merkle_bucket_digests

    rows = [(i, f"v{i}") for i in range(50)]
    one = merkle_bucket_digests(
        _snap(spark, rows).repartition(1), ["k"], ["k", "v"], n_buckets=8
    )
    many = merkle_bucket_digests(
        _snap(spark, rows).repartition(7), ["k"], ["k", "v"], n_buckets=8
    )
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))
