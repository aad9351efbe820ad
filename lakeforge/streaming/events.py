"""Structured Streaming ingest of the events stream (SURVEY.md §2.8 — an
extension; the reference has no streaming surface).

Design:
- ``read_events_stream`` is the streaming twin of ``io.sources.read_events``:
  same schema, same nanos->micros normalization, but ``readStream`` so new
  parquet files landing in the directory become micro-batches.
- ``windowed_counts`` is a classic watermarked tumbling-window aggregate.
  The watermark bounds state: late events beyond it are dropped and window
  state older than (watermark + window) is evicted — which is what keeps a
  100 TB/day stream's state finite.  The SAME function works on a batch
  DataFrame (Spark's unified model); the batch path is what the DuckDB
  oracle checks, and streaming equivalence is asserted in tests via an
  availableNow run.
- Use ``run_available_now`` + memory sink only in tests; production sinks
  are parquet/kafka with checkpointing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Physical schema of events.parquet with nanosAsLong in effect (ts: bigint) —
# the legacy testdata generation; current files carry TIMESTAMP(MICROS).
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", LongType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)

EVENTS_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming scan of an events parquet directory.

    ``readStream`` requires a declared schema, but the testdata's ``ts``
    physical type has varied across generations (nanos-as-long vs
    TIMESTAMP(MICROS)), so the schema is peeked from the existing files'
    footers with a one-off batch read — a metadata-only operation — then
    ``ts`` is normalized to an instant TIMESTAMP exactly like the batch
    loader (io.sources.read_events), keeping the two paths one semantics.
    If the directory is empty (or absent) at stream start — the normal
    deploy-before-producer case — the peek fails and the reader falls back
    to the current-generation declared schema ``EVENTS_SCHEMA`` (ts:
    timestamp), so the stream still starts and picks files up as they
    arrive (round-3 ADVICE: the peek used to throw here).

    ``maxFilesPerTrigger`` bounds micro-batch size — the knob that keeps
    per-batch memory flat when backfilling a large directory.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        physical: StructType | str = spark.read.parquet(path).schema
    except Exception:  # empty/absent dir: no footers to peek
        physical = EVENTS_SCHEMA
    reader = spark.readStream.schema(physical)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":  # legacy nanos-as-long files
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums per event_type.

    Works identically on a stream (stateful, watermark-bounded) and a batch
    frame (watermark is a no-op there) — one definition, two execution
    modes.
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain all available input into an in-memory table (tests only) and
    return it as a batch DataFrame."""
    try:  # idempotent re-runs: the memory sink registers a temp view
        stream_df.sparkSession.catalog.dropTempView(query_name)
    except Exception:
        pass
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def user_value_profiles(events_batch: DataFrame) -> DataFrame:
    """Static enrichment side for the stream-static join: per-user lifetime
    value tier, computed in batch (the nightly-job side of the pattern)."""
    dec = "decimal(18,2)"
    return (
        events_batch.groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast(dec)).alias("user_value"),
            F.count(F.lit(1)).cast("bigint").alias("n_lifetime"),
        )
        .select(
            "user_id",
            "user_value",
            "n_lifetime",
            F.when(F.col("user_value") > 3600, "gold")
            .when(F.col("user_value") > 3000, "silver")
            .otherwise("bronze")
            .alias("tier"),
        )
    )


def enrich_with_profiles(events: DataFrame, profiles: DataFrame) -> DataFrame:
    """Stream-static broadcast join: every micro-batch joins against the
    static (or slowly refreshed) profile table.  Stateless — no watermark,
    no store — and the broadcast keeps the streaming side shuffle-free,
    which is the only sane physical shape for a high-rate stream at scale.
    Works identically on a batch frame (the oracle-checked twin)."""
    return events.join(F.broadcast(profiles), "user_id", "left")


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """At-least-once -> effectively-once: drop event_id duplicates whose
    duplicates arrive within the 2-hour watermark horizon.

    ``dropDuplicatesWithinWatermark`` keys state by event_id but, unlike
    plain streaming ``dropDuplicates``, EVICTS each key once the watermark
    passes it — bounded state on an unbounded stream.  Batch mode falls
    back to plain ``dropDuplicates`` (whole-input scope, same semantics
    when the input fits one horizon)."""
    if events.isStreaming:
        return events.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


def attribute_purchases(
    views: DataFrame,
    purchases: DataFrame,
    max_gap: str = "30 minutes",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each purchase attributed to every view
    by the same user in the preceding ``max_gap``.  Streaming inputs get
    a 2-hour watermark on ``ts``.

    The canonical two-stream join shape: equi-key (user_id) plus a time
    bound on the event-time columns.  With watermarks on BOTH inputs the
    range condition lets Spark evict join state older than
    watermark + max_gap, which is what keeps two unbounded streams
    joinable with finite memory.  On batch frames the watermark is a
    no-op and the same expression is a plain range-bounded equi-join
    (shuffle by user_id; per-user fan-out is bounded by the gap window,
    never all-pairs) — that batch twin is what the DuckDB oracle checks.

    ``join_type="left_outer"`` adds the OUTER stream-stream semantics: a
    view with no purchase inside the gap is emitted with NULL purchase
    columns — in streaming only once the watermark passes view_ts +
    max_gap (the row might still match), which is exactly the state
    eviction point; in batch immediately (whole input visible).
    """
    v = views.withWatermark("ts", "2 hours") if views.isStreaming else views
    p = (
        purchases.withWatermark("ts", "2 hours")
        if purchases.isStreaming
        else purchases
    )
    v = v.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
    )
    p = p.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = v.join(
        p,
        (v.user_id == p.p_user_id)
        & (p.purchase_ts >= v.view_ts)
        & (p.purchase_ts <= F.expr(f"view_ts + INTERVAL {max_gap}")),
        join_type,
    )
    return joined.select(
        "view_id",
        "purchase_id",
        "user_id",
        (F.col("purchase_ts").cast("long") - F.col("view_ts").cast("long"))
        .cast("bigint")
        .alias("gap_seconds"),
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: session windows via applyInPandasWithState.
# ---------------------------------------------------------------------------

SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint, total_value double"
)
_SESSION_STATE_SCHEMA = "start bigint, last bigint, n bigint, total double"


def sessionize_stateful(
    events: DataFrame, gap_seconds: int = 1800
) -> DataFrame:
    """Session windows per user as a CUSTOM stateful streaming operator
    (applyInPandasWithState + event-time timeout) — the Spark surface for
    operators whose state machine the built-ins can't express.

    Semantics: a session closes when a gap > ``gap_seconds`` separates two
    events of the same user.  Closed sessions are emitted either when the
    closing event arrives (gap observed in-stream) or when the event-time
    watermark passes last_ts + gap (timeout).  State per user is O(1)
    (4 scalars), so total state is bounded by |active users| — the property
    that keeps this viable on an unbounded 100 TB stream; the watermark
    timeout is what guarantees eviction for users that go quiet.

    Works only on a streaming DataFrame; the batch twin (same semantics,
    LAG + cumulative-sum formulation) is workload.q_events_sessionize,
    which the DuckDB oracle checks.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_seconds * 1_000_000

    def fn(key: tuple, pdfs, state: GroupState):
        user_id = key[0]
        closed: list[tuple] = []

        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = n = 0
            total = 0.0

        if state.hasTimedOut:
            if n:
                closed.append((user_id, start, last, n, total))
            state.remove()
        else:
            # r13 opt (guide §4.2): the former per-ROW Python loop was the
            # whole operator's cost center (state-op allUpdatesTimeMs
            # ~82s summed across tasks at sf0.1, ~0.8ms/row).  Session
            # boundaries, bounds and counts are now one numpy segment
            # reduction per user — identical emitted (user, start, last,
            # n) set and identical carried state; only total_value's
            # float ROUNDING can differ (reduceat vs one-by-one adds),
            # and totals are deliberately outside the oracle/test
            # contract (see workload.py's oracle note).
            ts_parts, val_parts = [], []
            for pdf in pdfs:
                # datetime64[us] first: pandas>=2 may hand Arrow batches over
                # at ns OR us resolution — a bare astype(int64) would be off
                # by 1000x on the latter.
                ts_parts.append(
                    pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
                )
                val_parts.append(pdf["value"].to_numpy(dtype="float64"))
            ts = (
                np.concatenate(ts_parts)
                if ts_parts
                else np.empty(0, dtype=np.int64)
            )
            if ts.size:
                order = np.argsort(ts, kind="stable")
                ts = ts[order]
                vals = np.nan_to_num(np.concatenate(val_parts)[order], nan=0.0)
                new_sess = np.empty(ts.size, dtype=bool)
                new_sess[0] = (not n) or (int(ts[0]) - last > gap_us)
                if ts.size > 1:
                    new_sess[1:] = (ts[1:] - ts[:-1]) > gap_us
                if n and new_sess[0]:
                    # carried session closes on the first new event's gap
                    closed.append((user_id, start, last, n, total))
                # Row 0 always starts a segment: the carried session's
                # continuation when the first event falls within the gap.
                carry = n and not new_sess[0]
                new_sess[0] = True
                starts_idx = np.flatnonzero(new_sess)
                ends_idx = np.append(starts_idx[1:], ts.size) - 1
                seg_total = np.add.reduceat(vals, starts_idx)
                for k in range(starts_idx.size):
                    st = start if (k == 0 and carry) else int(ts[starts_idx[k]])
                    nk = int(ends_idx[k] - starts_idx[k] + 1) + (
                        n if (k == 0 and carry) else 0
                    )
                    tk = float(seg_total[k]) + (
                        total if (k == 0 and carry) else 0.0
                    )
                    if k < starts_idx.size - 1:
                        closed.append((user_id, st, int(ts[ends_idx[k]]), nk, tk))
                    else:
                        start, last, n, total = st, int(ts[-1]), nk, tk
            state.update((start, last, n, total))
            state.setTimeoutTimestamp(last // 1000 + gap_seconds * 1000)

        out = pd.DataFrame(
            closed,
            columns=["user_id", "session_start", "session_end", "n_events", "total_value"],
        )
        if len(out):
            out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
            out["session_end"] = pd.to_datetime(out["session_end"], unit="us")
        yield out

    return (
        events.withWatermark("ts", f"{gap_seconds} seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_merge_to_silver(
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    checkpoint: str,
    order_by=None,
    query_name: str = "stream_merge",
    post_merge_hook=None,
):
    """Streaming CDC ingest: every micro-batch runs the SAME
    ``merge_full_history`` the batch pipeline uses, via ``foreachBatch`` —
    streaming and batch silver are one code path, not two
    implementations to keep in sync.  The silver table is unpartitioned.

    Exactly-once composition: the checkpoint makes batch delivery
    at-least-once across restarts, and the key-based merge is idempotent
    (replaying a batch re-collapses to the same survivors) — together,
    effectively-once silver.  Returns the started StreamingQuery; callers
    ``awaitTermination`` (tests use trigger availableNow upstream).

    ``post_merge_hook(batch_df, batch_id)`` runs driver-side AFTER each
    batch's merge lands but BEFORE the checkpoint commits the batch —
    the audit/metrics point, and (because a hook failure aborts the
    query with the merge already applied) the exact window fault-injection
    tests use to prove restart replay does not double-merge.
    """
    from lakeforge.ops.merge import merge_full_history

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_full_history(
            batch_df.sparkSession,
            batch_df,
            path,
            keys=keys,
            order_by=order_by,
        )
        if post_merge_hook is not None:
            post_merge_hook(batch_df, batch_id)

    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def windowed_rollup(events: DataFrame) -> DataFrame:
    """CHAINED windowed aggregation (Spark 3.4+ `window_time`): hourly
    partials roll up into daily totals inside ONE streaming query — the
    hierarchical-rollup pattern (minute->hour->day dashboards) that
    previously needed two queries wired through an intermediate sink.

    Stage 1 keeps per-(hour, event_type) partial sums; stage 2 re-windows
    the PARTIALS by `window_time` (the stage-1 window's event-time column)
    into days.  State and shuffle for stage 2 are over hourly partials —
    24 rows/day/type — not raw events, the same partial-aggregate
    discipline as the batch rollups (docs/SCALE.md).

    Streaming input gets a 2-hour watermark on ``ts``.  Works identically
    on a batch frame (watermark no-op): the batch twin IS the oracle check.
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", "2 hours")
    hourly = src.groupBy(
        F.window("ts", "1 hour").alias("hw"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("hour_value"),
    )
    daily = (
        hourly.groupBy(
            F.window(F.window_time("hw"), "1 day").alias("dw"),
            "event_type",
        )
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("hour_value").alias("day_value"),
            F.count(F.lit(1)).cast("bigint").alias("n_hours_active"),
        )
    )
    return daily.select(
        F.date_format(F.col("dw.start"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "day_value",
        "n_hours_active",
    )
