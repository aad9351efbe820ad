from __future__ import annotations

import os
import shutil

import pytest

from lakeforge.io.sources import read_events
from lakeforge.streaming.events import (
    dedup_within_watermark,
    enrich_with_profiles,
    read_events_stream,
    run_available_now,
    user_value_profiles,
    windowed_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="driver testdata absent")
def test_stream_equals_batch(spark, tmp_path):
    """The same windowed_counts definition over readStream (availableNow)
    and over a batch read must produce identical results — Spark's unified
    batch/stream semantics, verified."""
    stream_dir = tmp_path / "events_in"
    stream_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", stream_dir / "part-000.parquet")

    stream = read_events_stream(spark, str(stream_dir))
    assert stream.isStreaming
    streamed = run_available_now(
        windowed_counts(stream, window="1 hour"),
        "events_hourly_test",
    )
    batch = windowed_counts(read_events(spark, SF_DIR), window="1 hour")

    s = sorted(tuple(r) for r in streamed.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert s == b
    assert len(s) > 0


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="driver testdata absent")
def test_stream_incremental_files_accumulate(spark, tmp_path):
    """Files dropped into the directory are picked up as micro-batches:
    counts after two files = counts over both."""
    stream_dir = tmp_path / "events_inc"
    stream_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", stream_dir / "a.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", stream_dir / "b.parquet")

    stream = read_events_stream(spark, str(stream_dir), max_files_per_trigger=1)
    streamed = run_available_now(
        windowed_counts(stream, window="1 hour"), "events_inc_test"
    )
    batch = windowed_counts(read_events(spark, SF_DIR), window="1 hour")
    got = {
        (r["w_start"], r["event_type"]): r["n_events"] for r in streamed.collect()
    }
    want = {
        (r["w_start"], r["event_type"]): 2 * r["n_events"] for r in batch.collect()
    }
    assert got == want


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="driver testdata absent")
def test_stream_static_enrich_matches_batch(spark, tmp_path):
    """Stream-static broadcast join: each micro-batch enriched against a
    static profile table equals the batch join of the same inputs."""
    stream_dir = tmp_path / "events_enrich"
    stream_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", stream_dir / "part-000.parquet")

    batch_ev = read_events(spark, SF_DIR)
    profiles = user_value_profiles(batch_ev)

    stream = read_events_stream(spark, str(stream_dir), max_files_per_trigger=1)
    streamed = run_available_now(
        enrich_with_profiles(stream, profiles).select(
            "event_id", "user_id", "tier"
        ),
        "events_enrich_test",
        output_mode="append",
    )
    batch = enrich_with_profiles(batch_ev, profiles).select(
        "event_id", "user_id", "tier"
    )
    s = sorted(tuple(r) for r in streamed.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert s == b
    assert len(s) > 0
    assert {r[2] for r in s} >= {"gold", "bronze"}  # tiers actually vary


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="driver testdata absent")
def test_stream_dedup_within_watermark_collapses_redelivery(spark, tmp_path):
    """At-least-once redelivery (same file landing twice) collapses to one
    row per event_id; batch-mode dedup over the doubled input agrees."""
    stream_dir = tmp_path / "events_dup"
    stream_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", stream_dir / "a.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", stream_dir / "b.parquet")

    stream = read_events_stream(spark, str(stream_dir), max_files_per_trigger=1)
    streamed = run_available_now(
        dedup_within_watermark(stream).select("event_id"),
        "events_dedup_test",
        output_mode="append",
    )
    n_unique = read_events(spark, SF_DIR).select("event_id").distinct().count()
    got = streamed.collect()
    assert len(got) == n_unique
    assert len({r["event_id"] for r in got}) == n_unique


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="driver testdata absent")
def test_sessionize_stateful_matches_batch_sessions(spark, tmp_path):
    """The applyInPandasWithState sessionizer's closed sessions must agree
    with a pandas-computed batch sessionization: every emitted session is a
    true session, and every non-final session per user is emitted (final
    sessions may stay open in state if no timeout batch fires)."""
    import pandas as pd

    from lakeforge.streaming.events import sessionize_stateful

    stream_dir = tmp_path / "events_sess"
    stream_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", stream_dir / "part-000.parquet")

    gap_s = 1800
    stream = read_events_stream(spark, str(stream_dir))
    out = run_available_now(
        sessionize_stateful(stream, gap_seconds=gap_s),
        "sessionize_stateful_test",
        output_mode="append",
    )
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in out.collect()
    }

    # Expected sessions from a plain pandas pass over the same data.
    pdf = read_events(spark, SF_DIR).select("user_id", "ts", "value").toPandas()
    pdf = pdf.sort_values(["user_id", "ts"])
    expected_all = set()
    expected_nonfinal = set()
    for uid, g in pdf.groupby("user_id"):
        ts = g["ts"].tolist()
        sessions = []
        start = prev = ts[0]
        n = 1
        for t in ts[1:]:
            if (t - prev).total_seconds() > gap_s:
                sessions.append((uid, start, prev, n))
                start, n = t, 0
            prev = t
            n += 1
        sessions.append((uid, start, prev, n))
        expected_all.update(sessions)
        expected_nonfinal.update(sessions[:-1])

    assert got, "no sessions emitted"
    assert got <= expected_all, "emitted a session that batch logic rejects"
    assert expected_nonfinal <= got, "missed an in-stream-closed session"


def test_sessionize_stateful_same_sessions_for_any_file_split(spark, tmp_path):
    """A session carried across micro-batches continues into the next
    batch's first events: two files read one per trigger emit the same
    (user, start, end, n) set as one batch over both files."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeforge.streaming.events import sessionize_stateful

    t0 = dt.datetime(2024, 1, 1)
    files = {
        # user 1 continues its carried session with several events, user 2
        # closes its carried session, user 4 continues with one event.
        "a.parquet": [(1, 0), (1, 600), (1, 1200), (2, 100), (4, 300)],
        "b.parquet": [(1, 1500), (1, 2000), (1, 10000), (1, 10100),
                      (2, 5000), (2, 5100), (4, 900), (3, 50), (3, 20000)],
    }
    src = tmp_path / "events_split"
    src.mkdir()
    event_id = 0
    for i, (name, rows) in enumerate(files.items()):
        n = len(rows)
        pq.write_table(
            pa.table({
                "event_id": pa.array(range(event_id, event_id + n), pa.int64()),
                "ts": pa.array([t0 + dt.timedelta(seconds=s) for _, s in rows],
                               pa.timestamp("us", tz="UTC")),
                "user_id": pa.array([u for u, _ in rows], pa.int64()),
                "event_type": ["view"] * n,
                "value": [1.0] * n,
                "props": ["{}"] * n,
            }),
            src / name,
        )
        os.utime(src / name, (1_700_000_000 + i, 1_700_000_000 + i))
        event_id += n

    def sessions(max_files, query_name):
        stream = read_events_stream(spark, str(src), max_files_per_trigger=max_files)
        out = run_available_now(
            sessionize_stateful(stream, gap_seconds=1800), query_name, "append"
        )
        return {
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in out.collect()
        }

    split = sessions(1, "sessionize_split_test")
    assert split == sessions(None, "sessionize_single_test")
    assert (1, t0, t0 + dt.timedelta(seconds=2000), 5) in split


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="driver testdata absent")
def test_stream_checkpoint_exactly_once_across_restarts(spark, tmp_path):
    """Checkpointed file-source -> parquet-sink stream, run twice: files
    already committed in the checkpoint are NOT reprocessed after restart
    (exactly-once incremental ingest — the production pattern for
    continuously-landing data)."""
    src = tmp_path / "in"
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "a.parquet")

    def run_once():
        q = (
            read_events_stream(spark, str(src))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    n = read_events(spark, SF_DIR).count()
    run_once()
    assert spark.read.parquet(sink).count() == n

    shutil.copy(f"{SF_DIR}/events.parquet", src / "b.parquet")
    run_once()
    # a.parquet not reprocessed: exactly 2n, not 3n
    assert spark.read.parquet(sink).count() == 2 * n


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="driver testdata absent")
def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """attribute_purchases over TWO readStream inputs (a genuine
    stream-stream interval join with watermarks on both sides) emits the
    same pairs as the batch twin the oracle checks."""
    from lakeforge.streaming.events import attribute_purchases

    stream_dir = tmp_path / "events_in"
    stream_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", stream_dir / "part-000.parquet")

    views_s = read_events_stream(spark, str(stream_dir)).filter(
        "event_type = 'view'"
    )
    purchases_s = read_events_stream(spark, str(stream_dir)).filter(
        "event_type = 'purchase'"
    )
    joined = attribute_purchases(views_s, purchases_s, max_gap="30 minutes")
    assert joined.isStreaming
    streamed = run_available_now(
        joined, "events_attribution_test", output_mode="append"
    )

    ev = read_events(spark, SF_DIR)
    batch = attribute_purchases(
        ev.filter("event_type = 'view'"),
        ev.filter("event_type = 'purchase'"),
        max_gap="30 minutes",
    )

    s = sorted(tuple(r) for r in streamed.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert len(s) > 0
    assert s == b


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="driver testdata absent")
def test_stream_stream_full_outer_join(spark, tmp_path):
    """FULL OUTER stream-stream interval join: matched pairs must equal
    the batch twin exactly; unmatched rows may be withheld at stream end
    (the final watermark can lag the last event — state not yet evicted),
    so the outer sides are checked as subsets of the batch outer sides."""
    from lakeforge.streaming.events import attribute_purchases

    stream_dir = tmp_path / "events_full"
    stream_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", stream_dir / "part-000.parquet")

    views_s = read_events_stream(spark, str(stream_dir)).filter(
        "event_type = 'view'"
    )
    purchases_s = read_events_stream(spark, str(stream_dir)).filter(
        "event_type = 'purchase'"
    )
    joined = attribute_purchases(
        views_s, purchases_s, max_gap="30 minutes", join_type="full_outer"
    )
    assert joined.isStreaming
    streamed = run_available_now(
        joined, "events_attribution_full_test", output_mode="append"
    ).collect()

    ev = read_events(spark, SF_DIR)
    batch = attribute_purchases(
        ev.filter("event_type = 'view'"),
        ev.filter("event_type = 'purchase'"),
        max_gap="30 minutes",
        join_type="full_outer",
    ).collect()

    def split(rows):
        matched = sorted(
            (r["view_id"], r["purchase_id"]) for r in rows
            if r["view_id"] is not None and r["purchase_id"] is not None
        )
        v_only = {r["view_id"] for r in rows if r["purchase_id"] is None}
        p_only = {r["purchase_id"] for r in rows if r["view_id"] is None}
        return matched, v_only, p_only

    sm, sv, sp = split(streamed)
    bm, bv, bp = split(batch)
    assert len(sm) > 0 and sm == bm
    assert sv <= bv and sp <= bp


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="driver testdata absent")
def test_sliding_window_stream_matches_batch(spark, tmp_path):
    """Overlapping (sliding) windows on a stream: each event lands in
    window/slide windows; the availableNow run must reproduce the batch
    counts exactly (complete mode — counts are final when input ends)."""
    stream_dir = tmp_path / "events_slide"
    stream_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", stream_dir / "part-000.parquet")

    from pyspark.sql import functions as F

    def slide_agg(df):
        src = df.withWatermark("ts", "4 hours") if df.isStreaming else df
        return src.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    streamed = run_available_now(
        slide_agg(read_events_stream(spark, str(stream_dir))),
        "events_sliding_test",
        output_mode="complete",
    )
    batch = slide_agg(read_events(spark, SF_DIR))

    key = lambda r: (r["w"]["start"], r["event_type"], r["n"])
    s = sorted(key(r) for r in streamed.collect())
    b = sorted(key(r) for r in batch.collect())
    assert len(s) > 0
    assert s == b


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="driver testdata absent")
def test_chained_windowed_rollup_stream_equals_batch(spark, tmp_path):
    """Chained windowed aggregation (hourly -> window_time -> daily,
    Spark 3.4+) over readStream must equal the same definition run in
    batch — and stage 2 must aggregate PARTIALS (n_hours_active <= 24)."""
    from pyspark.sql import functions as F

    from lakeforge.streaming.events import windowed_rollup

    stream_dir = tmp_path / "events_in"
    stream_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", stream_dir / "part-000.parquet")

    stream = read_events_stream(spark, str(stream_dir))
    streamed = run_available_now(
        windowed_rollup(stream), "events_rollup_test", output_mode="append"
    )
    batch_ev = read_events(spark, SF_DIR)
    batch = windowed_rollup(batch_ev)

    # Append mode emits a day only once its window END clears the final
    # watermark (max event time - 2h); the trailing open day stays in
    # state.  The closed-day prefix must match the batch twin exactly.
    import datetime as dt

    max_ts = batch_ev.agg(F.max("ts")).collect()[0][0]
    wm = max_ts - dt.timedelta(hours=2)
    closed = lambda day: (
        dt.datetime.strptime(day, "%Y-%m-%d") + dt.timedelta(days=1) <= wm
    )
    s = sorted(tuple(r) for r in streamed.collect())
    b = sorted(tuple(r) for r in batch.collect() if closed(r["day"]))
    assert s == b
    assert len(s) > 0
    assert all(1 <= r[4] <= 24 for r in s)


def test_docgen_stream_source_equals_batch(spark, tmp_path):
    """The custom Python DataSource's streaming reader (availableNow,
    offset = next doc_id) drains the same 250 rows the batch reader
    plans — determinism doubles as the replay/recovery story."""
    from lakeforge.io import docgen_source

    docgen_source.register(spark)
    opts = {"rows": "250", "seed": "11", "batchRows": "64"}
    stream = spark.readStream.format("lakeforge_docgen").options(**opts).load()
    # availableNow prefetches a single read() from a simple stream
    # reader; drain with the default ASAP trigger and stop once all 250
    # generated rows landed (read() returns empty batches after that).
    q = (
        stream.writeStream.format("memory")
        .queryName("docgen_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    import time as _time

    deadline = _time.time() + 60
    while _time.time() < deadline:
        if spark.table("docgen_stream_test").count() >= 250:
            break
        _time.sleep(0.5)
    q.stop()
    q.awaitTermination()
    streamed = sorted(
        tuple(r) for r in spark.table("docgen_stream_test").collect()
    )
    batch = sorted(
        tuple(r)
        for r in spark.read.format("lakeforge_docgen").options(**opts).load().collect()
    )
    assert streamed == batch
    assert len(streamed) == 250


def test_custom_source_to_custom_sink_pipeline(spark, tmp_path):
    """End-to-end custom-source pipeline: Python DataSource stream ->
    quality classifier -> foreachBatch -> JSON sink.  The landed rows
    must equal the batch run of the same pipeline (unified semantics
    across the stream and batch reads of the custom source)."""
    import json
    import os

    from lakeforge.io import docgen_source
    from lakeforge.llm.text import quality_score

    docgen_source.register(spark)
    opts = {"rows": "200", "seed": "3", "batchRows": "80"}
    out = str(tmp_path / "kept")

    def land(batch_df, batch_id):
        scored = quality_score(batch_df, "text", "doc_id")
        kept = batch_df.join(
            scored.filter("label = 'keep'").select("doc_id"), "doc_id"
        )
        if kept.take(1):
            kept.write.mode("append").json(out)

    stream = spark.readStream.format("lakeforge_docgen").options(**opts).load()
    q = (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    import time as _time

    deadline = _time.time() + 60
    batch = spark.read.format("lakeforge_docgen").options(**opts).load()
    scored = quality_score(batch, "text", "doc_id")
    want_ids = {
        r["doc_id"] for r in scored.filter("label = 'keep'").collect()
    }
    while _time.time() < deadline:
        files = [f for f in os.listdir(out)] if os.path.exists(out) else []
        got = set()
        for f in files:
            if f.startswith("part-"):
                with open(os.path.join(out, f)) as fh:
                    for line in fh:
                        got.add(json.loads(line)["doc_id"])
        if got >= want_ids:
            break
        _time.sleep(0.5)
    q.stop()
    q.awaitTermination()
    assert got == want_ids
    assert len(want_ids) > 0


def test_streaming_quality_gate_splits_good_and_quarantine(spark, tmp_path):
    """split_by_expectations on a STREAM: good rows land in the silver
    dir, violators in the dead-letter dir with their failed-rule names —
    totals match the batch split of the same input (DLT-expectations
    pattern, no state needed)."""
    from lakeforge.ops.expectations import Rule, split_by_expectations

    rules = [
        Rule(name="type_known", kind="in_set", col="event_type",
             values=("view", "click", "purchase", "signup", "refund")),
        Rule(name="value_nonneg", kind="satisfies", expr_sql="value >= 0"),
    ]
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", stream_dir / "a.parquet")

    stream = read_events_stream(spark, str(stream_dir))
    good_s, quar_s = split_by_expectations(stream, rules)
    outs = {"good": str(tmp_path / "good"), "quar": str(tmp_path / "quar")}
    qs = []
    for name, df in (("good", good_s), ("quar", quar_s)):
        qs.append(
            df.writeStream.format("parquet")
            .option("path", outs[name])
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
    for q in qs:
        q.awaitTermination()

    batch = read_events(spark, SF_DIR)
    good_b, quar_b = split_by_expectations(batch, rules)
    got_good = spark.read.parquet(outs["good"]).count()
    got_quar = spark.read.parquet(outs["quar"])
    assert got_good == good_b.count()
    assert got_quar.count() == quar_b.count()
    assert got_good + got_quar.count() == batch.count()
    # violators carry rule names
    if got_quar.count() > 0:
        names = {n for r in got_quar.collect() for n in r["__failed_rules"]}
        assert names <= {"type_known", "value_nonneg"}


def test_docgen_stream_restart_resumes_exactly_once(spark, tmp_path):
    """Kill the docgen stream mid-drain, restart from the SAME
    checkpoint into the same parquet sink: the final table holds every
    generated row exactly once — the replayable-offset recovery story
    actually exercised (memory sinks don't support recovery; the FILE
    sink's manifest + the source's offset log together give
    exactly-once)."""
    import time as _time

    from lakeforge.io import docgen_source

    docgen_source.register(spark)
    opts = {"rows": "400", "seed": "5", "batchRows": "40"}
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start():
        return (
            spark.readStream.format("lakeforge_docgen")
            .options(**opts)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    def landed():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    q1 = start()
    deadline = _time.time() + 60
    while _time.time() < deadline:
        if landed() >= 80:  # a couple of batches, well before 400
            break
        _time.sleep(0.2)
    q1.stop()
    q1.awaitTermination()
    mid = landed()
    assert 0 < mid < 400  # genuinely mid-stream

    q2 = start()  # same checkpoint -> resumes from committed offsets
    deadline = _time.time() + 60
    while _time.time() < deadline and landed() < 400:
        _time.sleep(0.5)
    q2.stop()
    q2.awaitTermination()

    final = spark.read.parquet(out)
    ids = [r["doc_id"] for r in final.collect()]
    assert len(ids) == 400 and len(set(ids)) == 400
    assert set(ids) == set(range(400))


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="driver testdata absent")
def test_stream_media_decode_equals_batch(spark, tmp_path):
    """decode_media_stats is an Arrow mapInPandas op, so it runs on a
    STREAMING frame unchanged — file-source stream of media payloads ->
    payload decode -> memory sink must equal the batch decode exactly
    (the pattern for continuously-landing media at scale: decode in the
    ingest stream, never persist raw bytes past it)."""
    from lakeforge.llm.multimodal import decode_media_stats
    from lakeforge.workload_llm import _media_fixture

    media_dir = str(tmp_path / "media_in")
    _media_fixture(spark, SF_DIR).write.parquet(media_dir)

    batch = {r["media_id"]: r.asDict()
             for r in decode_media_stats(spark.read.parquet(media_dir)).collect()}

    stream = spark.readStream.schema(
        "media_id bigint, content binary"
    ).parquet(media_dir)
    q = (
        decode_media_stats(stream)
        .writeStream.format("memory")
        .queryName("media_decoded")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["media_id"]: r.asDict()
           for r in spark.sql("SELECT * FROM media_decoded").collect()}
    assert got == batch
    assert any(v["fmt"] == "bmp" for v in got.values())
    assert any(v["fmt"] == "wav" for v in got.values())
    assert any(v["fmt"] is None for v in got.values())  # corrupt rows flow too


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="driver testdata absent")
def test_stream_maintains_exact_distinct_bitmap_state(spark, tmp_path):
    """Streaming IVM composition: a foreachBatch sink OR-merges each
    micro-batch's distinct-bitmaps into a persistent state table; after
    draining the stream the state's counts equal the batch
    COUNT(DISTINCT) — exact incremental distinct maintenance with
    O(distinct/8) state and no raw-value reshuffle across batches."""
    from pyspark.sql import functions as F

    from lakeforge.ops.sketches import (
        bitmap_distinct_counts,
        distinct_bitmaps,
        merge_distinct_bitmaps,
    )

    src = tmp_path / "in"
    state = str(tmp_path / "bitmap_state")
    src.mkdir()
    ev = read_events(spark, SF_DIR)
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    shutil.copy(f"{SF_DIR}/events.parquet", src / "a.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", src / "b.parquet")

    def upsert_state(batch_df, batch_id):
        delta = distinct_bitmaps(batch_df, ["event_type"], "user_id")
        try:
            old = batch_df.sparkSession.read.parquet(state)
        except Exception:
            delta.write.mode("overwrite").parquet(state)
            return
        merged = merge_distinct_bitmaps(old, delta, ["event_type"])
        merged = merged.localCheckpoint(eager=True)  # break read->overwrite
        merged.write.mode("overwrite").parquet(state)

    q = (
        read_events_stream(spark, str(src), max_files_per_trigger=1)
        .writeStream.foreachBatch(upsert_state)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {r["event_type"]: r["n_distinct"]
           for r in bitmap_distinct_counts(
               spark.read.parquet(state), ["event_type"]).collect()}
    want = {r["event_type"]: r["n"]
            for r in ev.groupBy("event_type")
                       .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert got == want  # duplicate deliveries collapse in the bitmaps


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="driver testdata absent")
def test_stream_maintains_aggregate_state_via_ivm(spark, tmp_path):
    """Streaming IVM for distributive aggregates: foreachBatch folds each
    micro-batch's per-type aggregate into a persistent state table with
    merge_aggregates; after the stream drains, state equals the batch
    recompute — count/sum add, min/max take extrema, across batches."""
    from pyspark.sql import functions as F

    from lakeforge.ops.merge import merge_aggregates

    src = tmp_path / "in"
    state = str(tmp_path / "agg_state")
    src.mkdir()
    ev = read_events(spark, SF_DIR)
    import glob as _glob
    for name, frame in (
        ("a", ev.filter(F.col("event_id") % 2 == 0)),
        ("b", ev.filter(F.col("event_id") % 2 == 1)),
    ):
        out = str(tmp_path / f"split_{name}")
        frame.coalesce(1).write.mode("overwrite").parquet(out)
        shutil.copy(_glob.glob(os.path.join(out, "part-*.parquet"))[0],
                    src / f"{name}.parquet")

    def agg(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )

    rules = {"n": "sum", "total": "sum", "first_ts": "min", "last_ts": "max"}

    def fold(batch_df, batch_id):
        delta = agg(batch_df)
        try:
            old = batch_df.sparkSession.read.parquet(state)
        except Exception:
            delta.write.mode("overwrite").parquet(state)
            return
        merged = merge_aggregates(old, delta, ["event_type"], rules)
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(state)

    q = (
        read_events_stream(spark, str(src), max_files_per_trigger=1)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(tuple(r) for r in spark.read.parquet(state).collect())
    want = sorted(tuple(r) for r in agg(ev).collect())
    assert got == want


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="driver testdata absent")
def test_stream_maintains_join_view_via_ivm(spark, tmp_path):
    """Streaming JOIN IVM: a view over orders ⋈ customer maintained from a
    stream of order inserts against the static dimension.  With only the
    fact side streaming the delta rule degenerates to Δview = agg(ΔA ⋈ B);
    foreachBatch folds each micro-batch's joined aggregate into the state
    table with merge_aggregates.  After the stream drains, state equals
    the batch recompute of the full join."""
    import glob as _glob

    from pyspark.sql import functions as F

    from lakeforge.ops.merge import merge_aggregates

    src = tmp_path / "in"
    state = str(tmp_path / "join_view")
    src.mkdir()
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    for name, frame in (
        ("a", orders.filter(F.col("o_orderkey") % 2 == 0)),
        ("b", orders.filter(F.col("o_orderkey") % 2 == 1)),
    ):
        out = str(tmp_path / f"split_{name}")
        frame.coalesce(1).write.mode("overwrite").parquet(out)
        shutil.copy(
            _glob.glob(os.path.join(out, "part-*.parquet"))[0],
            src / f"{name}.parquet",
        )

    def view(df):
        return df.join(F.broadcast(cust), "o_custkey").groupBy(
            "c_nationkey"
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        )

    def fold(batch_df, batch_id):
        delta = view(batch_df)
        try:
            old = batch_df.sparkSession.read.parquet(state)
        except Exception:
            delta.write.mode("overwrite").parquet(state)
            return
        merged = merge_aggregates(
            old, delta, ["c_nationkey"], {"n_orders": "sum", "revenue": "sum"}
        )
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(state)

    q = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(tuple(r) for r in spark.read.parquet(state).collect())
    want = sorted(tuple(r) for r in view(orders).collect())
    assert got == want


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="driver testdata absent")
def test_stream_psi_drift_monitor_per_batch(spark, tmp_path):
    """Streaming drift monitoring: foreachBatch computes each micro-batch's
    PSI against a frozen reference band distribution and appends one row
    per (batch, band) to a monitoring table.  The drifted batch (prices
    shifted up a band) must show a strictly larger PSI total than the
    same-distribution batch, and every per-band contribution is >= 0."""
    import glob as _glob

    from pyspark.sql import functions as F

    from lakeforge.ops.analytics import psi_between

    src = tmp_path / "in"
    monitor = str(tmp_path / "monitor")
    src.mkdir()
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    band = F.least(F.lit(9), F.floor(F.col("o_totalprice") / 50000)).cast("int")

    def bands(df):
        return df.select(band.alias("price_band")).groupBy("price_band").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )

    # frozen reference distribution (persisted parquet, like production)
    ref_path = str(tmp_path / "reference")
    bands(orders).write.mode("overwrite").parquet(ref_path)

    # batch a: same distribution; batch b: shifted one band up (drift)
    shifted = orders.withColumn(
        "o_totalprice", F.col("o_totalprice") + 50000.0
    )
    for name, frame in (("a", orders), ("b", shifted)):
        out = str(tmp_path / f"split_{name}")
        frame.coalesce(1).write.mode("overwrite").parquet(out)
        shutil.copy(
            _glob.glob(os.path.join(out, "part-*.parquet"))[0],
            src / f"{name}.parquet",
        )

    def monitor_batch(batch_df, batch_id):
        ref = batch_df.sparkSession.read.parquet(ref_path)
        out = psi_between(ref, bands(batch_df), "price_band").withColumn(
            "batch_id", F.lit(batch_id)
        )
        out.write.mode("append").parquet(monitor)

    q = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(monitor_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = spark.read.parquet(monitor).collect()
    assert {r.batch_id for r in rows} == {0, 1}
    psi = {}
    for r in rows:
        assert r.psi_contrib >= -1e-9
        psi[r.batch_id] = psi.get(r.batch_id, 0.0) + r.psi_contrib
    # file order a,b => batch 0 is the clean one.  Clean batch PSI is ~0
    # (only Laplace noise); the shifted batch must clearly exceed it.
    assert psi[0] < 0.01
    assert psi[1] > psi[0] + 0.05


def test_stream_auc_monitor_per_batch(spark, tmp_path):
    """Streaming model-quality monitoring: foreachBatch runs the reusable
    exact-AUC core (ops/evaluation.roc_auc) on each micro-batch of
    (score, label) rows and appends one summary row per batch.  The
    batch whose score still separates the classes must show a clearly
    higher AUC than the batch whose scores were shuffled against the
    labels (ranking power destroyed -> AUC ~ 500 permille)."""
    import glob as _glob

    from pyspark.sql import functions as F

    from lakeforge.ops.evaluation import roc_auc

    src = tmp_path / "in"
    monitor = str(tmp_path / "monitor")
    src.mkdir()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # strong signal: score = +1 for positives, noise dim for negatives
    scored = emb.select(
        F.col("vec_id"),
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
    ).withColumn(
        "score",
        F.when(F.col("pos") == 1, F.lit(1.0)).otherwise(
            (F.col("vec_id") % 100).cast("double") / 100.0
        ),
    )
    # broken signal: score keyed to vec_id alone (independent of label)
    broken = scored.withColumn(
        "score", (F.col("vec_id") % 97).cast("double") / 97.0
    )
    for name, frame in (("a", scored), ("b", broken)):
        out = str(tmp_path / f"split_{name}")
        frame.coalesce(1).write.mode("overwrite").parquet(out)
        shutil.copy(
            _glob.glob(os.path.join(out, "part-*.parquet"))[0],
            src / f"{name}.parquet",
        )

    def monitor_batch(batch_df, batch_id):
        out = roc_auc(batch_df, "score", "pos").withColumn(
            "batch_id", F.lit(batch_id)
        )
        out.write.mode("append").parquet(monitor)

    q = (
        spark.readStream.schema(scored.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(monitor_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = {r.batch_id: r for r in spark.read.parquet(monitor).collect()}
    assert set(rows) == {0, 1}
    assert rows[0].auc_permille >= 900  # positives all rank at the top
    assert 350 <= rows[1].auc_permille <= 650  # shuffled ~ coin flip


def test_streaming_cms_counters_merge_to_batch_equivalent(spark, tmp_path):
    """CMS mergeability in STREAMING form: each micro-batch's (r, col)
    counter increments fold into a persistent counter table via
    merge_aggregates (sum-combine) in foreachBatch; after draining, the
    accumulated counters must equal the one-shot batch counters over the
    same events — the distributive-merge property that makes CMS safe to
    maintain incrementally (per day, per stream, per cluster)."""
    import shutil

    from pyspark.sql import functions as F

    from lakeforge.functions.keys import md5_int
    from lakeforge.io.sources import read_events, read_parquet_if_exists
    from lakeforge.ops.merge import merge_aggregates
    from lakeforge.streaming.events import read_events_stream

    D, W = 4, 64
    stream_dir = tmp_path / "ev"
    stream_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", stream_dir / "p0.parquet")
    out = str(tmp_path / "counters")

    def counters_of(df):
        cells = [
            F.struct(
                F.lit(r).alias("r"),
                F.pmod(md5_int("event_type", F.lit(f"cms-r{r}")), F.lit(W))
                .alias("col"),
            )
            for r in range(D)
        ]
        return (
            df.select(F.explode(F.array(*cells)).alias("c"))
            .groupBy(F.col("c.r").alias("r"), F.col("c.col").alias("col"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )

    def sink(batch_df, batch_id):
        delta = counters_of(batch_df)
        old = read_parquet_if_exists(batch_df.sparkSession, out)
        if old is None:
            merged = delta
        else:
            merged = merge_aggregates(old, delta, ["r", "col"], {"cnt": "sum"})
        merged.write.mode("overwrite").parquet(out + "_next")
        # atomic-ish swap for the test: read from _next on the next batch
        spark_ = batch_df.sparkSession
        merged2 = spark_.read.parquet(out + "_next")
        merged2.write.mode("overwrite").parquet(out)

    q = (
        read_events_stream(spark, str(stream_dir))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("maxFilesPerTrigger", "1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.r, r.col): r.cnt
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.r, r.col): r.cnt
        for r in counters_of(read_events(spark, SF_DIR)).collect()
    }
    assert got == want
