"""Query-boundary cache release (lakeforge/cache.py).

Round-2 review: operator persists were never unpersisted, so a long-lived
session accumulated MEMORY_AND_DISK frames for its lifetime.  These tests
pin the fix — after ``release_all()`` the JVM holds zero cached RDDs.
"""

from __future__ import annotations

import sys
import threading
import time

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from lakeforge import cache
from lakeforge.llm.dedup import jaccard_pairs, minhash_signatures, lsh_candidate_pairs
from lakeforge.ops.graph import connected_components


def _docs(spark, n=60):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(8)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_release_all_drains_persisted_operators(spark):
    cache.release_all(blocking=True)
    docs = _docs(spark)
    pairs = lsh_candidate_pairs(minhash_signatures(docs, "text", "doc_id", k=8), k=8, bands=4, min_match=4)
    pairs.count()  # materialize: the tracked signature persist is now live
    jaccard_pairs(docs, "text", "doc_id", shingle_n=2).count()
    assert cache.n_cached_rdds(spark) > 0
    released = cache.release_all(blocking=True)
    assert released >= 2
    assert cache.n_cached_rdds(spark) == 0


def test_connected_components_releases_iteration_checkpoints(spark):
    cache.release_all(blocking=True)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], ["src", "dst"]
    )
    comp = connected_components(edges, "src", "dst")
    got = {(r.vertex, r.component) for r in comp.collect()}
    assert (3, 1) in got and (22, 20) in got
    # Only the tracked final-labels checkpoint may remain; stale per-
    # iteration checkpoints and the edge frame must already be gone.
    assert cache.n_cached_rdds(spark) <= 1
    cache.release_all(blocking=True)
    assert cache.n_cached_rdds(spark) == 0


def test_cc_jump_fused_checkpoint_converges_and_releases(spark):
    """r13: the per-iteration localCheckpoint is lazy and materialized BY
    the convergence count (one action per iteration).  A 40-node path
    forces ~6 pointer-jump iterations through that fused path; labels,
    early exit, and the release discipline must be unchanged."""
    from lakeforge.ops.graph import connected_components_jump

    cache.release_all(blocking=True)
    rows = [(i, i + 1) for i in range(1, 40)] + [(100, 101)]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    comp = connected_components_jump(edges, "src", "dst")
    got = {(r.vertex, r.component) for r in comp.collect()}
    assert got == {(v, 1) for v in range(1, 41)} | {(100, 100), (101, 100)}
    # Only the tracked final-labels checkpoint may remain live.
    assert cache.n_cached_rdds(spark) <= 1
    cache.release_all(blocking=True)
    assert cache.n_cached_rdds(spark) == 0


def test_release_all_keeps_results_recomputable(spark):
    """A persisted (lineage-intact) operator output stays correct after
    release — re-materialization recomputes instead of failing."""
    cache.release_all(blocking=True)
    docs = _docs(spark)
    out = jaccard_pairs(docs, "text", "doc_id", shingle_n=2)
    before = out.count()
    cache.release_all(blocking=True)
    assert out.count() == before
    cache.release_all(blocking=True)


def _persistent(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _join(threads: list[threading.Thread], timeout: float = 120.0) -> None:
    for th in threads:
        th.join(timeout)
    assert not any(th.is_alive() for th in threads)


def _plan_rdd_id(df) -> int:
    """Id of the RDD a checkpointed frame's ``LogicalRDD`` scans."""
    return df._jdf.queryExecution().analyzed().rdd().id()


@pytest.mark.parametrize("eager", [True, False])
def test_checkpoint_ids_exclude_a_lazily_persisted_input(spark, eager):
    """The input's persisted RDD first materializes inside the checkpoint;
    its id is not the checkpoint's, so releasing the checkpoint keeps it."""
    cache.release_all(blocking=True)
    base = spark.range(100).withColumn("x", F.col("id") * 2).persist()
    dep = base.groupBy((F.col("id") % 3).alias("k")).count()
    before = _persistent(spark)
    out, ids = cache.checkpoint_eager(dep, eager=eager)
    assert ids == {_plan_rdd_id(out)}
    assert out.count() == 3
    inputs = _persistent(spark) - before - ids
    assert inputs  # the persisted input's RDD
    cache.unpersist_rdd_ids(spark, ids, True)
    assert inputs <= _persistent(spark)
    base.unpersist(True)


@pytest.mark.parametrize("eager", [True, False])
def test_concurrent_checkpoints_return_their_own_ids(spark, eager):
    cache.release_all(blocking=True)
    start = threading.Barrier(5, timeout=60)
    got: list[tuple[set[int], set[int]]] = []  # (returned, own) per call

    def worker(t: int) -> None:
        start.wait()
        for i in range(6):
            df = spark.range(20).select((F.col("id") * t + i).alias("v"))
            out, ids = cache.checkpoint_eager(df, eager=eager)
            got.append((ids, {_plan_rdd_id(out)}))

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(5)]
    for th in threads:
        th.start()
    _join(threads)
    assert len(got) == 30
    assert [ids for ids, _ in got] == [own for _, own in got]
    cache.unpersist_rdd_ids(spark, set().union(*(own for _, own in got)), True)


def test_tracked_registry_is_thread_safe(spark):
    """Appends from 8 threads are all registered and all released, also
    while the main thread releases concurrently: a lost append, or a
    release that drops items it did not release, breaks the count."""
    def persist_all(release_meanwhile: bool) -> int:
        frames = []

        def worker(t: int) -> None:
            for i in range(50):
                df = spark.range(t * 50 + i, t * 50 + i + 1)
                frames.append(cache.persist_tracked(df))

        released = 0
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            for th in threads:
                th.start()
            deadline = time.monotonic() + 120
            while (release_meanwhile and time.monotonic() < deadline
                   and any(th.is_alive() for th in threads)):
                released += cache.release_all(blocking=True)
            _join(threads)
        finally:
            sys.setswitchinterval(switch)
        released += cache.release_all(blocking=True)
        none = StorageLevel(False, False, False, False)
        assert all(df.storageLevel == none for df in frames)
        return released

    cache.release_all(blocking=True)
    assert persist_all(release_meanwhile=False) == 400
    assert persist_all(release_meanwhile=True) == 400
