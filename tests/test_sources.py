"""Ingestion robustness: corrupt-record capture and schema evolution —
the two failure modes every production ingest hits (SURVEY §2.1 scans are
schema-ENFORCED; these tests pin what happens when reality disagrees)."""

from __future__ import annotations

import glob
import shutil

import pytest
from pyspark.sql import functions as F

from lakeforge.io.sources import read_parquet_if_exists


def test_permissive_json_captures_corrupt_records(spark, tmp_path):
    """PERMISSIVE mode: bad lines land in the corrupt-record column
    instead of failing the job (dead-letter at parse time); good rows
    parse normally; DROPMALFORMED silently drops the bad ones."""
    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "v": 10}\n'
        "{this is not json}\n"
        '{"id": 2, "v": 20}\n'
        '{"id": "NaN-ish", "v": 30}\n'  # type mismatch -> corrupt too
    )
    schema = "id bigint, v bigint, _bad string"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(str(p))
    )
    rows = df.collect()
    good = [(r["id"], r["v"]) for r in rows if r["_bad"] is None]
    bad = [r["_bad"] for r in rows if r["_bad"] is not None]
    assert sorted(good) == [(1, 10), (2, 20)]
    assert len(bad) == 2 and any("not json" in b for b in bad)

    dropped = (
        spark.read.schema("id bigint, v bigint")
        .option("mode", "DROPMALFORMED")
        .json(str(p))
    )
    # DROPMALFORMED drops the syntactically-broken line AND (on full
    # materialization) the type-mismatched one.  Note count()-only plans
    # may report a higher number (no field parse) — always validate
    # DROPMALFORMED ingests on materialized columns, not count().
    got = sorted((r["id"], r["v"]) for r in dropped.collect())
    assert got == [(1, 10), (2, 20)]


def test_parquet_merge_schema_unions_columns(spark, tmp_path):
    """Schema evolution on read: files written before/after a column was
    added read as ONE frame under mergeSchema, old rows NULL-filled —
    no rewrite of historical data."""
    old = spark.createDataFrame([(1, "a")], ["id", "name"])
    new = spark.createDataFrame([(2, "b", 99)], ["id", "name", "score"])
    old.write.parquet(str(tmp_path / "t" / "batch=1"))
    new.write.parquet(str(tmp_path / "t" / "batch=2"))

    merged = (
        spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "t"))
    )
    assert set(merged.columns) >= {"id", "name", "score"}
    got = {r["id"]: r["score"] for r in merged.collect()}
    assert got[1] is None and got[2] == 99


def test_docgen_embeddings_and_edges_kinds(spark):
    """The docgen source's alternate kinds generate deterministic
    embeddings / random-graph edges with the declared schemas — same
    (rows, seed) -> bit-identical data at any partitioning."""
    from lakeforge.io import docgen_source

    docgen_source.register(spark)

    def load(kind, parts, **opts):
        r = spark.read.format("lakeforge_docgen").option("kind", kind) \
            .option("rows", 50).option("numPartitions", parts)
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    e1 = load("embeddings", 2, dim=8)
    e2 = load("embeddings", 7, dim=8)
    assert e1.schema.simpleString() == \
        "struct<vec_id:bigint,embedding:array<float>>"
    rows1 = sorted((r["vec_id"], tuple(r["embedding"])) for r in e1.collect())
    rows2 = sorted((r["vec_id"], tuple(r["embedding"])) for r in e2.collect())
    assert rows1 == rows2 and len(rows1) == 50
    assert all(len(v) == 8 and all(-1 <= x <= 1 for x in v) for _, v in rows1)

    g1 = load("edges", 3, nNodes=10)
    assert g1.schema.simpleString() == \
        "struct<edge_id:bigint,src:bigint,dst:bigint>"
    assert g1.count() == 50
    assert g1.filter("src >= 10 OR dst >= 10 OR src < 0 OR dst < 0").count() == 0

    import pytest
    with pytest.raises(Exception):
        load("bogus", 2).collect()


def test_base_parquet_memoizes_plan_not_data(spark):
    """r13 floor opt: base_parquet returns the SAME analyzed DataFrame for
    repeated reads of an immutable testdata path within one session (a
    catalog, not a cache — no persisted blocks), and its rows equal a
    direct read."""
    from lakeforge import cache
    from lakeforge.io.sources import base_parquet

    path = "/root/testdata/sf0.001/nation.parquet"
    a = base_parquet(spark, path)
    b = base_parquet(spark, path)
    assert a is b  # one analyzed plan per (session, path)
    direct = spark.read.parquet(path)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, direct.collect()))
    # no storage blocks were created by the memo
    cache.release_all(blocking=True)
    assert cache.n_cached_rdds(spark) == 0


def test_base_parquet_refreshes_on_rewrite(spark, tmp_path):
    """The memo key includes the file's stat identity: an in-place
    rewrite must produce a FRESH analyzed plan, not a pinned file list
    (the stale-plan hazard the PQ codebook fingerprint also guards)."""
    import shutil
    import time

    from lakeforge.io.sources import base_parquet

    p = str(tmp_path / "nation.parquet")
    shutil.copy("/root/testdata/sf0.001/nation.parquet", p)
    a = base_parquet(spark, p)
    n1 = a.count()
    time.sleep(0.05)
    spark.read.parquet(p).limit(1).write.mode("overwrite").parquet(
        str(tmp_path / "new.parquet")
    )
    import os

    os.remove(p)
    shutil.move(str(tmp_path / "new.parquet"), p)
    b = base_parquet(spark, p)
    assert b is not a
    assert b.count() == 1 and n1 > 1


def test_base_parquet_sees_rewrite_inside_directory(spark, tmp_path):
    """A directory's stat does not change when the files below it change
    (here: a part file lands in an existing partition directory), so a
    directory dataset is never served from the memo: the second read
    sees the new rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeforge.io.sources import base_parquet

    d = tmp_path / "ds"
    (d / "p=1").mkdir(parents=True)
    pq.write_table(pa.table({"k": [1, 2, 3]}), d / "p=1" / "part-0.parquet")
    assert sorted(r.k for r in base_parquet(spark, str(d)).collect()) == [1, 2, 3]
    pq.write_table(pa.table({"k": [7, 8]}), d / "p=1" / "part-1.parquet")
    got = sorted(r.k for r in base_parquet(spark, str(d)).collect())
    assert got == [1, 2, 3, 7, 8]


@pytest.mark.parametrize("state", ["missing", "empty", "staging_only", "written"])
def test_read_parquet_if_exists(spark, tmp_path, state):
    """The merge's first-load probe: a path with no data files reads as
    None — missing, empty, or left holding only ``_SUCCESS`` and a
    ``.spark-staging-*`` directory by a failed first load (so the load can
    be replayed) — and a written table reads back its rows."""
    path = tmp_path / "tbl"
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").write.parquet(src)
    if state == "empty":
        path.mkdir()
    elif state == "staging_only":
        staging = path / ".spark-staging-0"
        staging.mkdir(parents=True)
        (path / "_SUCCESS").write_text("")
        for f in glob.glob(f"{src}/part-*.parquet"):
            shutil.copy(f, staging)
    elif state == "written":
        shutil.copytree(src, path)
    df = read_parquet_if_exists(spark, str(path))
    if state == "written":
        assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]
    else:
        assert df is None
