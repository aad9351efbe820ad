"""Session-scoped cache registry: query-boundary release of operator persists.

Several operators persist an intermediate that BOTH sides of a self-join (or
several downstream branches) consume — without the persist the shared plan
runs 2-3x (see lakeforge/llm/dedup.py docstrings).  The persist cannot be
released inside the operator: the output is lazy, so the cache must survive
until the *caller* materializes it.  Round-2 review found the flip side:
nothing ever unpersisted, so a long-lived session (the 60-query bench, an
interactive engine session) accumulated MEMORY_AND_DISK frames for its whole
lifetime — steady cache pressure that degrades every later query.

The fix is a registry with query-boundary scope:

- operators call :func:`persist_tracked` (persist + register) or
  :func:`track_rdds` (register the blocks of an already-materialized
  ``localCheckpoint``, taken with :func:`checkpoint_eager`);
- the caller invokes :func:`release_all` after materializing each query's
  result (bench.py between queries, tools/check_oracle.py per query,
  tests via fixture).

The registry is shared by every thread of the process (a caller may run
operators from several threads at once), so a lock guards it: appends
take it, and :func:`release_all` swaps the list out under it and releases
outside it.  For the same reason :func:`checkpoint_eager` reads its RDD id
from the checkpointed plan, never from a before/after diff of the
session's persistent RDDs: such a diff also catches a lazily persisted
input that first materializes inside the checkpoint, and any RDD another
thread persists meanwhile, and the caller's release would drop those too.

The silver merge (``ops/merge.py``) uses none of this: its write may read
the partitions it replaces, because the dynamic partition overwrite swaps
them in only at job commit, so it needs no checkpoint and caches nothing.

Correctness is unaffected by an early release of a *persisted* frame —
lineage is intact, a re-materialization just recomputes.  Frames registered
via :func:`track_rdds` (localCheckpoints, lineage truncated) must not be re-read
after release; ``release_all`` is strictly a query-boundary operation.

At 100 TB the same discipline matters more, not less: executor storage
memory reclaimed between queries is what keeps a multi-tenant cluster's
shuffle/storage split stable across a long job DAG.
"""

from __future__ import annotations

import threading
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# Items are ("df", DataFrame) — released via DataFrame.unpersist — or
# ("fn", callable(blocking)) for caches the SQL CacheManager can't see
# (localCheckpoint blocks are RDD-level; DataFrame.unpersist is a no-op
# on them, so they release by RDD id — see unpersist_rdd_ids).
_TRACKED: list[tuple[str, DataFrame | Callable[[bool], None]]] = []
_LOCK = threading.Lock()


def persist_tracked(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) and register it for the next
    :func:`release_all`."""
    df.persist(StorageLevel.MEMORY_AND_DISK)
    with _LOCK:
        _TRACKED.append(("df", df))
    return df


def track_rdds(spark, ids: set[int]) -> None:
    """Register the cached blocks of RDD ids (e.g. a ``localCheckpoint``
    an operator returns) for release at the next :func:`release_all`."""
    with _LOCK:
        _TRACKED.append(
            ("fn", lambda blocking: unpersist_rdd_ids(spark, ids, blocking))
        )


def release_all(blocking: bool = False) -> int:
    """Unpersist every tracked frame; returns how many were released.

    Call at a query boundary — after the current query's result has been
    fully materialized and before the next query runs.
    """
    with _LOCK:
        items = list(_TRACKED)
        _TRACKED.clear()
    for kind, item in items:
        try:
            if kind == "df":
                item.unpersist(blocking)
            else:
                item(blocking)
        except Exception:  # session already stopped / frame gone
            pass
    return len(items)


def unpersist_rdd_ids(spark, ids: set[int], blocking: bool = False) -> None:
    """Release the cached blocks of specific RDD ids — the only handle a
    ``localCheckpoint`` leaves once the DataFrame wrapper is out of scope."""
    if not ids:
        return
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        if int(k) in ids:
            jmap.get(k).unpersist(blocking)


def checkpoint_eager(
    df: DataFrame, eager: bool = True
) -> tuple[DataFrame, set[int]]:
    """``localCheckpoint`` returning ``(checkpointed_df, {rdd_id})``.

    The ids are the handle the caller releases the blocks by
    (``unpersist_rdd_ids`` or :func:`track_rdds`).  An iterative
    operator (``ops/graph.py``) releases each round's blocks once the next
    round's checkpoint has materialized, and registers the returned
    round's with :func:`track_rdds`, so no blocks outlive the query
    (VERDICT r06 #1: three sites leaked for the session lifetime).
    ``eager=False`` marks the RDD persistent at call time (so its id is
    already known) and lets the caller's next action materialize the
    blocks: a checkpoint fused with a count is one job.

    The id is that of the RDD the checkpointed plan's ``LogicalRDD`` scans,
    the one RDD ``localCheckpoint`` persists, for either ``eager`` value.
    It names exactly this call's blocks, whatever other RDDs the
    checkpoint's job materializes or other threads persist meanwhile."""
    out = df.localCheckpoint(eager=eager)
    return out, {out._jdf.queryExecution().analyzed().rdd().id()}


def n_cached_rdds(spark) -> int:
    """Number of RDDs the JVM currently holds cached blocks for — the
    between-queries leak probe (0 after release_all + ContextCleaner)."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()
