"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line.

Methodology (round-3 fixes per VERDICT r02; round-11 session-aging fixes
per VERDICT r10 #2):
- Each query is forced end-to-end with the noop sink (full computation,
  no write cost); the query is REBUILT each run so planning is included.
- **Median of N PASS-SEPARATED runs** (default 3 passes,
  $SPARK_GRAFT_BENCH_RUNS).  Round 10's artifact conflated query cost
  with SESSION STATE: three back-to-back runs of one query inside an
  aging session read [32.5, 14.5, 7.4] s — whatever state produced the
  32.5 also sat under all three samples, so the median kept it.  Now
  each pass covers ALL queries once in its own FRESH SparkSession (own
  JVM heap history, own Python workers, own warm-up), and consecutive
  passes walk DIFFERENT deterministic orders (alphabetical / reverse /
  seeded-hash), so a query's N samples come from N independent session
  lifetimes at N different session ages.  The per-query median is then
  robust to any single session's aging, and positional bias cancels.
  The previous scheme also inherited the registry's PRIORITY ordering,
  which is REWRITTEN every round — so a query's session age (and hence
  its timing) shifted round-over-round with no code change at all; the
  canonical alphabetical base order makes position stable across rounds.
- **run_spread field**: per-query (max-min)/median across passes, with
  distribution quantiles and the worst offenders in the artifact — the
  driver/judge can see agreement (or not) instead of trusting a median.
- **Adaptive heavy-tail re-sampling** (VERDICT r11 #2: the committed
  r11 median for minhash_calibration was a 1-in-3 pass artifact, ~2x its
  cost in two full repro runs): any query with committed median >= 2s
  whose independent sessions disagree by more than 50% gets extra
  fresh-session passes (only the unstable queries re-run, <= 4 extra
  sessions); once a query holds >= 5 samples, the committed median and
  spread come from the symmetric-trimmed central samples, with ALL raw
  samples kept in the artifact for audit.
- **Caches released between runs** (lakeforge.cache.release_all +
  catalog.clearCache): round-2 never unpersisted, so MEMORY_AND_DISK
  frames accumulated across the 60-query session — a plausible driver of
  its uniform 1.30x slowdown.  ``cache_leaks`` in the output is the
  max number of still-cached RDDs observed AFTER a release (want 0).
- **Self-reporting trend**: compares against the newest parseable bench
  artifact in the repo root (BENCH_LOCAL_r*.json preferred, then the
  driver's BENCH_r*.json) and emits common-set totals + per-query deltas,
  so a regression shows up in the artifact instead of waiting for the
  judge.
- **Two artifacts** (round-3 fix: the all-in-one stdout line overflowed
  the driver's capture and BENCH_r03.json arrived `parsed: null`):
  stdout gets ONE COMPACT JSON line — totals, the slowest-40 per-query
  timings, and a trend summary — sized to survive the driver's pipe;
  the COMPLETE per-query medians + full delta map are written to
  ``BENCH_LOCAL_r{N}.json`` in the repo root (committed per round).  A
  subset run, or a run at another SF than the committed round file's,
  writes it to the git-ignored ``BENCH_SUBSET.json`` instead, so a quick
  probe never replaces the round's trend baseline (``_detail_file``).
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lakeforge import cache
from lakeforge.session import get_spark
from lakeforge.workload import QUERIES

# Every registered query is benched (derived from the registry at import
# time so new operators can never silently drop out of the artifact —
# round-4 fix: the prior hand-maintained list had drifted 15 behind).
HEADLINE = list(QUERIES)

# How many of the slowest queries the stdout line carries — the complete
# map goes to BENCH_LOCAL_r{N}.json.  40 entries keep the line ~2 KB.
N_PRINTED = 40


def _round_no() -> int:
    """Current round = newest driver-written BENCH_r{N}.json + 1."""
    here = os.path.dirname(os.path.abspath(__file__))
    best = 0
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            best = max(best, int(m.group(1)))
    return best + 1


def _load_queries_map(path: str, sf: float | None) -> dict[str, float] | None:
    try:
        with open(path) as f:
            data = json.load(f)
        # Driver format: {"parsed": {...}, "tail": "...<json line>"}; also
        # accept our own raw output (BENCH_LOCAL files / local runs).
        out = data.get("parsed") or data
        if not isinstance(out, dict) or "queries" not in out:
            tail = data.get("tail", "")
            for line in reversed(tail.strip().splitlines()):
                if line.startswith("{"):
                    out = json.loads(line)
                    break
        if not isinstance(out, dict):
            return None
        # Cross-SF deltas are meaningless: only compare same-scale runs.
        if sf is not None and out.get("sf") is not None and out["sf"] != sf:
            return None
        q = out.get("queries")
        if not q:
            return None
        return {k: float(v) for k, v in q.items()}
    except Exception:
        return None


def _prior_bench(cur_round: int, sf: float | None) -> tuple[str | None, dict[str, float]]:
    """Newest PARSEABLE per-query map from rounds before ``cur_round``.

    Prefers our complete BENCH_LOCAL_r{k}.json over the driver's captured
    BENCH_r{k}.json (whose tail may be truncated), walking rounds newest
    first until one parses — r03's capture overflow made 'newest file
    only' lose the whole trend baseline.
    """
    here = os.path.dirname(os.path.abspath(__file__))
    for k in range(cur_round - 1, 0, -1):
        for name in (f"BENCH_LOCAL_r{k:02d}.json", f"BENCH_r{k:02d}.json"):
            q = _load_queries_map(os.path.join(here, name), sf)
            if q:
                return name, q
    return None, {}


def _detail_file(round_file: str, sf: float | None, subset: bool,
                 committed: dict | None) -> str:
    """Where a run's per-query detail goes: ``round_file`` (the committed
    ``BENCH_LOCAL_r{N}.json``), unless the run covers a query subset, or
    ``committed`` — that file's parsed contents, None when it is absent —
    was measured at another SF.  Those runs go to ``BENCH_SUBSET.json``."""
    if subset or (committed is not None and committed.get("sf") != sf):
        return "BENCH_SUBSET.json"
    return round_file


def _read_json(path: str) -> dict | None:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _pass_order(names: list[str], pass_no: int) -> list[str]:
    """Deterministic per-pass ordering: canonical alphabetical for pass 0
    (stable round-over-round), then seeded-hash shuffles — ADVICE r11:
    the old alphabetical/REVERSE pair kept mid-alphabet queries at
    mid-session age in BOTH of the first two passes, so positional
    (session-age) bias only cancelled at the ends of the ordering; a
    seeded shuffle per subsequent pass spreads every query's positions."""
    import hashlib

    base = sorted(names)
    if pass_no == 0:
        return base
    return sorted(
        base,
        key=lambda n: hashlib.md5(f"{pass_no}:{n}".encode()).hexdigest(),
    )


# Queries warmed (not measured) at the start of every pass session —
# one per execution family (relational scan/agg, text explode+agg,
# broadcast+array math).  One light query is NOT enough: whichever query
# runs first also pays heap expansion, broadcast thread-pool spin-up, and
# Arrow/Python worker start — round-5's rotation put minhash_calibration
# first and it "regressed 2x" purely by position.
_WARM = ("top_orders", "text_stats", "embedding_cosine_topk")


def _warm_python_boundary(spark) -> None:
    """Two Python-boundary warms the registry warm queries don't cover
    (r12 opt; the r11 cold/steady A/B measured the costs these leave on
    whichever query hits the path first in a fresh session):

    - a cluster-wide mapInPandas no-op spins up the Python worker pool +
      Arrow serialization path on every core (the media/fingerprint ops
      otherwise pay worker start inside their measured run);
    - a tiny read through the custom Python DataSource warms its
      plan/executor plumbing (synthetic_docs_stats read 3.5s cold vs
      0.65s steady on exactly this — docs/AB_COLD_STEADY_R12.json).

    Warm-up computes nothing any measured query reuses (no shared data,
    caches cleared after) — it removes session spin-up from the timings,
    the same rationale as the existing _WARM trio.
    """
    def _ident(batches):
        yield from batches

    (
        spark.range(64)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(_ident, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    from lakeforge.io import docgen_source

    docgen_source.register(spark)
    (
        spark.read.format("lakeforge_docgen")
        .option("rows", 64)
        .option("seed", 42)
        .option("numPartitions", 4)
        .load()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def _run_session_pass(
    order: list[str], sf_dir: str, samples: dict[str, list[float]]
) -> int:
    """One fresh-SparkSession pass over ``order`` (VERDICT r10 #2: bounds
    session aging — no pass inherits another's heap history, code-cache,
    shuffle dirs, or Python worker pool).  Appends one timing sample per
    query; returns the max still-cached RDD count seen after releases."""
    spark = get_spark("lakeforge-bench")
    spark.sparkContext.setLogLevel("ERROR")
    leaks = 0
    for warm in _WARM:
        QUERIES[warm](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        cache.release_all()
        spark.catalog.clearCache()
    _warm_python_boundary(spark)
    cache.release_all()
    spark.catalog.clearCache()
    for name in order:
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        samples[name].append(time.time() - t0)
        # Query boundary: release operator persists so no run benefits
        # from (or pays cache pressure for) a previous run's caches.
        cache.release_all()
        spark.catalog.clearCache()
        leaks = max(leaks, cache.n_cached_rdds(spark))
    spark.stop()
    return leaks


def _central(s: list[float]) -> list[float]:
    """The central samples used for the committed median/spread: with the
    base 3 passes this is all of them; once adaptive re-sampling has
    grown a query to n >= 5 independent sessions, symmetric trimming
    drops floor((n-3)/2) from each end so ONE wild session (r11's
    minhash_calibration pass read 17.97s against 4.57/10.05 siblings and
    4.1-5.6s in two full repro runs) cannot own the committed number.
    The untrimmed raw runs stay in the artifact for audit."""
    s = sorted(s)
    k = max(0, (len(s) - 3) // 2)
    return s[k : len(s) - k] if k else s


# Adaptive re-sampling knobs (VERDICT r11 #2): a query whose committed
# median is >= HEAVY_SEC and whose central-sample spread exceeds
# SPREAD_BAR gets additional fresh-session passes (up to MAX_EXTRA, each
# covering only the still-unstable queries) until its committed number is
# backed by agreeing independent sessions.
HEAVY_SEC, SPREAD_BAR, MAX_EXTRA = 2.0, 0.5, 4


def _spread_map(samples: dict[str, list[float]]) -> dict[str, float]:
    out = {}
    for n, s in samples.items():
        c = _central(s)
        out[n] = round((max(c) - min(c)) / max(statistics.median(c), 1e-9), 3)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    names = [n for n in HEADLINE if n in QUERIES]
    # Optional subset for fast iteration (comma-separated names) — the
    # committed artifact is always a full-registry run.
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        want = {s.strip() for s in only.split(",") if s.strip()}
        names = [n for n in names if n in want]
    samples: dict[str, list[float]] = {n: [] for n in names}
    leaks = 0
    for pass_no in range(runs):
        leaks = max(
            leaks,
            _run_session_pass(_pass_order(names, pass_no), sf_dir, samples),
        )

    # Adaptive heavy-tail re-sampling (VERDICT r11 #2): re-run ONLY the
    # heavy queries whose independent sessions disagree, in fresh
    # sessions, until the committed medians are cross-session stable.
    resampled: list[str] = []
    for extra in range(MAX_EXTRA):
        med = {n: statistics.median(_central(s)) for n, s in samples.items()}
        spr = _spread_map(samples)
        unstable = sorted(
            n for n in names if med[n] >= HEAVY_SEC and spr[n] > SPREAD_BAR
        )
        if not unstable:
            break
        resampled = sorted(set(resampled) | set(unstable))
        leaks = max(
            leaks,
            _run_session_pass(
                _pass_order(unstable, runs + extra), sf_dir, samples
            ),
        )

    timings = {
        n: round(statistics.median(_central(s)), 3)
        for n, s in samples.items()
    }
    # Per-query agreement across the independent sessions (central
    # samples once re-sampled; see _central).
    spread = _spread_map(samples)
    sp_sorted = sorted(spread.values())

    def _q(p: float) -> float:
        return sp_sorted[min(int(p * len(sp_sorted)), len(sp_sorted) - 1)]

    heavy = sorted(timings, key=lambda n: -timings[n])[:20]
    run_spread = {
        "spread_p50": _q(0.50),
        "spread_p90": _q(0.90),
        "spread_max": sp_sorted[-1],
        "resampled": resampled,
        "heavy_tail": {
            n: {"median": timings[n], "runs": [round(x, 3) for x in samples[n]]}
            for n in heavy
        },
        "worst": {
            n: spread[n]
            for n in sorted(spread, key=lambda n: -spread[n])[:10]
        },
    }

    total = round(sum(timings.values()), 3)
    cur_round = _round_no()
    prev_file, prev = _prior_bench(cur_round, sf)
    common = sorted(set(timings) & set(prev))
    deltas = {n: round(timings[n] - prev[n], 3) for n in common}
    prev_total = round(sum(prev[n] for n in common), 3)
    cur_total = round(sum(timings[n] for n in common), 3)
    regressed = sorted(
        n for n in common if prev[n] > 0 and timings[n] > 2 * prev[n]
    )
    by_delta = sorted(common, key=lambda n: deltas[n])
    big = [n for n in common if prev[n] >= 1.0]
    small = [n for n in common if 0 < prev[n] < 1.0]

    def _ratio(ns: list[str]) -> float | None:
        pt = sum(prev[n] for n in ns)
        return round(sum(timings[n] for n in ns) / pt, 3) if pt else None

    trend_summary = {
        "prev_file": prev_file,
        "runs": runs,
        "common_n": len(common),
        "common_prev_total": prev_total,
        "common_cur_total": cur_total,
        "common_ratio": round(cur_total / prev_total, 3) if prev_total else None,
        # Cost-band decomposition: a uniform overhead shift (e.g. the r11
        # pass-separated methodology adding per-query cold cost) shows as
        # small-query inflation with the >=1s band flat; a real engine
        # regression moves the >=1s band.
        "common_ratio_ge1s": _ratio(big),
        "common_ratio_lt1s": _ratio(small),
        "regressed_2x": regressed,
        "top_regressions": {n: deltas[n] for n in by_delta[-3:] if deltas[n] > 0},
        "top_improvements": {n: deltas[n] for n in by_delta[:3] if deltas[n] < 0},
    }
    # Subset runs (SPARK_GRAFT_BENCH_QUERIES, fast iteration) and runs at
    # another SF must not clobber the committed full-registry artifact.
    here = os.path.dirname(os.path.abspath(__file__))
    round_file = f"BENCH_LOCAL_r{cur_round:02d}.json"
    detail_file = _detail_file(
        round_file, sf, bool(only), _read_json(os.path.join(here, round_file))
    )
    # Printed per-query map: the slowest N, UNIONED with every name the
    # previous round's DRIVER artifact printed (r13 fix, VERDICT r12 #2):
    # the driver diffs printed maps round-over-round, so a query that
    # merely fell out of the top-N must not look "dropped from bench".
    # Values are the same medians the detail file carries.
    prev_driver = _load_queries_map(
        os.path.join(here, f"BENCH_r{cur_round - 1:02d}.json"), sf
    )
    by_time = sorted(timings, key=lambda n: -timings[n])
    printed_names = set(by_time[:N_PRINTED]) | (
        set(prev_driver or ()) & set(timings)
    )
    headline = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        # headline set GREW round-over-round (r01: 50 queries); compare
        # per-query or via trend.common_*, not bare totals.
        "n_queries": len(timings),
        "mean_sec_per_query": round(total / max(len(timings), 1), 3),
        "cache_leaks": leaks,
        # stdout stays compact (the driver's capture keeps only the LAST
        # 2000 chars; r03 lost its artifact to overflow and r12's line
        # survived by 10 chars): compact separators, slim trend, and a
        # size guard below — the full map/trend go to the detail file.
        "detail_file": detail_file,
        "queries": {n: timings[n] for n in by_time if n in printed_names},
        "run_spread": {
            k: run_spread[k] for k in ("spread_p50", "spread_p90", "spread_max")
        },
        # stdout trend is the 4-field summary; the full block (bands,
        # top movers, per-query deltas) lives in the detail file.
        "trend": {
            k: trend_summary[k]
            for k in ("prev_file", "common_n", "common_ratio", "regressed_2x")
        },
    }
    with open(os.path.join(here, detail_file), "w") as f:
        json.dump(
            {
                **headline,
                "queries": timings,
                "run_spread": run_spread,
                "trend": {**trend_summary, "delta_sec": deltas},
            },
            f,
            indent=1,
        )
    line = json.dumps(headline, separators=(",", ":"))
    # Hard guard: the line must fit the driver's 2000-char tail capture.
    # Shed optional payload first (trend, spread), then extra query
    # entries beyond the prev-printed contract set (never those: a name
    # printed last round must stay printed).
    if len(line) > 1900:
        headline.pop("trend", None)
        line = json.dumps(headline, separators=(",", ":"))
    if len(line) > 1900:
        headline.pop("run_spread", None)
        line = json.dumps(headline, separators=(",", ":"))
    while len(line) > 1900:
        extras = [
            n for n in reversed(by_time)
            if n in headline["queries"] and n not in (prev_driver or ())
        ]
        if not extras:
            break
        del headline["queries"][extras[0]]
        line = json.dumps(headline, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
