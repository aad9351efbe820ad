"""Self-tests of the benchmark's own helpers (no Spark needed):

    python3 perfbench/selftest.py        # or: python3 -m pytest perfbench/selftest.py

- the generator gives byte-identical files for the same seed;
- the tail-percentile selector leaves at least ten samples beyond;
- span self-time arithmetic;
- the byte accounting behind ``space_amp`` and ``write_amp``;
- ``BENCHMARK.json`` names exactly the metrics ``run.py`` prints.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402


def _read_tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _lake_files(root: str, seed: int) -> dict[str, bytes]:
    lake = gen.write_bronze(os.path.join(root, "bronze"), seed)
    stream = gen.CdcStream(lake, os.path.join(root, "cdc"))
    for _ in range(3):
        stream.next()
    return _read_tree(root)


def test_same_seed_same_bytes():
    with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
            tempfile.TemporaryDirectory() as c:
        fa, fb, fc = _lake_files(a, 7), _lake_files(b, 7), _lake_files(c, 8)
        assert fa == fb
        assert len(fa) == 5 + 3 * 5
        assert fa != fc
        gen.write_registry(os.path.join(a, "sf"), 7, 0.001)
        gen.write_registry(os.path.join(b, "sf"), 7, 0.001)
        ra, rb = _read_tree(os.path.join(a, "sf")), _read_tree(os.path.join(b, "sf"))
        assert ra == rb and len(ra) == 10


def test_batches_mix_new_late_and_redelivered_rows():
    lake = gen.Lake(3)
    base = lake.base_rows()
    rows = lake.batch_rows()
    acc = rows["accounts"]
    newest = gen.add_months(lake.last_month, 1)
    assert gen.ym(newest) == gen.NEWEST_YM
    n_late = int(gen.BATCH_ROWS * gen.LATE_SHARE)
    n_redo = int(gen.BATCH_ROWS * gen.REDELIVERY_SHARE)
    assert sum(r[1] >= newest for r in acc) == gen.BATCH_ROWS - n_late - n_redo
    assert sum(r in base["accounts"] for r in acc) >= n_redo
    assert len(rows["person"]) >= 2


def test_history_dates_unique_per_key():
    lake = gen.Lake(5)
    base = lake.base_rows()
    for name in ("accounts", "account_details", "person_profile", "person_iden"):
        date_at = 1 if name.startswith("account") else 2
        keys = [(r[0], r[date_at]) for r in base[name]]
        assert len(keys) == len(set(keys)), name


def test_rendered_dates_parse_back_first_match():
    import datetime as dt
    import random

    rng = random.Random(1)
    fmts = ("%d-%b-%y", "%Y-%m-%d", "%d/%m/%Y", "%m/%d/%Y")  # DEFAULT_DATE_FORMATS
    day = dt.date(2019, 1, 1)
    for _ in range(2000):
        text = gen.fmt_date(rng, day)
        for f in fmts:
            try:
                got = dt.datetime.strptime(text, f).date()
                break
            except ValueError:
                continue
        assert got == day, text
        day += dt.timedelta(days=1)


def test_tail_percentile():
    assert spans.tail_percentile(list(range(10))) is None
    for n in (11, 12, 37, 100, 101, 1000, 5000):
        xs = [float(i) for i in range(n)]
        p, v = spans.tail_percentile(xs[::-1])
        assert sum(x > v for x in xs) >= 10, n
        # one percentile higher would leave fewer than ten beyond
        if p < 99:
            rank = -(-(p + 1) * n // 100)
            assert n - rank < 10, n
    assert spans.tail_percentile([1.0] * 100 + [2.0] * 10) == (90, 1.0)
    assert spans.tail_percentile(list(range(1000))) == (99, 989)


def test_self_time():
    t = spans.Tracer(False)
    t.spans = [
        spans.Span("root", 0.0, 10.0),
        spans.Span("a", 1.0, 4.0, parent=0),
        spans.Span("b", 3.0, 6.0, parent=0),  # overlaps a
        spans.Span("c", 9.0, 12.0, parent=0),  # runs past its parent
        spans.Span("a.1", 1.5, 2.0, parent=1),
    ]
    assert abs(t.self_time(0) - (10 - 5 - 1)) < 1e-9
    assert abs(t.self_time(1) - 2.5) < 1e-9
    assert abs(t.self_time(4) - 0.5) < 1e-9
    assert abs(t.spans[1].dur - 3.0) < 1e-9
    assert spans.covered([], 0, 5) == 0
    assert spans.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4


def test_tracer_disabled_records_nothing():
    t = spans.Tracer(False)
    with t.span("x") as s:
        assert s is None
    assert t.spans == []


def test_byte_accounting():
    with tempfile.TemporaryDirectory() as root:
        def put(rel: str, n: int) -> None:
            p = os.path.join(root, rel)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "wb") as f:
                f.write(b"x" * n)

        put("t/p_ym=202001/part-0.parquet", 100)
        put("t/p_ym=202002/part-0.parquet", 50)
        put("t/_SUCCESS", 0)
        put("t/p_ym=202001/.part-0.parquet.crc", 12)
        before = spans.snapshot(os.path.join(root, "t"))
        assert spans.tree_bytes(os.path.join(root, "t")) == 150
        os.remove(os.path.join(root, "t/p_ym=202001/part-0.parquet"))
        put("t/p_ym=202001/part-1.parquet", 70)  # rewritten partition
        put("t/p_ym=202003/part-0.parquet", 30)  # new partition
        w = spans.diff(before, spans.snapshot(os.path.join(root, "t")))
        assert (w.files, w.bytes, w.partitions) == (2, 100, 2)
        bronze = 400
        assert spans.tree_bytes(os.path.join(root, "t")) / bronze == 150 / 400  # space_amp
        assert w.bytes / bronze == 0.25  # write_amp


def test_benchmark_json_names_match():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_units()
    assert {w["name"] for w in bench["workloads"]} <= set(__import__("workloads").WORKLOADS)


if __name__ == "__main__":
    tests = [(n, f) for n, f in sorted(globals().items()) if n.startswith("test_")]
    for name, fn in tests:
        fn()
        print(f"ok  {name}")
    print(f"{len(tests)} passed")
