"""lakeforge benchmark: one command, one JSON result line.

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Workloads (``perfbench/workloads.py``):
``full_build`` and ``registry_mix``.  Inputs are generated from ``--seed``
(``perfbench/gen.py``); outputs are checked against DuckDB renditions and
the registry's ``ORACLE_SQL`` twins outside the timed region.

A run generates its inputs in a child process, starts one fresh local
Spark session at half of ``nproc`` cores (see ``main``), builds the workload's one-off state
(``full_build``: PostgreSQL; ``registry_mix``: the Python workers and
untimed warm passes over the mix) and then runs ops in a closed loop with
one client for ``--seconds`` (``full_build`` times a single op).  The
outputs are checked after the loop.
``setup_s`` is session start + state; input generation and the checks
are the benchmark's own work and are in no metric.

``--trace 0`` prints the end-to-end metrics: ``op_p50_s``/``op_p90_s``
are over op latencies (``full_build``) or over each query's median
latency (``registry_mix``); ``retained_mem_mb`` is read after the loop,
before the checks (``Run.retained_mem_mb``).  ``--trace 1`` runs one
untraced warm-up round, one untraced round (the overhead reference and
the op step times), then traced rounds, and prints the per-layer
metrics; its spans go to ``.perfbench_work/traces/<workload>-<seed>.jsonl``.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout; every process it starts (the Spark JVM and its Python workers,
PostgreSQL) is stopped before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "retained_mem_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    from workloads import ENTITIES, GOLD, GOLD_SPANS, REGISTRY_QUERIES

    m = {
        "session.start_s": "s",
        "trace.overhead_s": "s",
        "op.build_s": "s",
        "op.batch_s": "s",
        "op.load_s": "s",
        "io.sinks.space_amp": "ratio",
        "io.sinks.write_amp": "ratio",
        "dwh.load_rows_per_s": "rows/s",
        "io.sources.read_csv_s": "s",
        "io.sources.rows": "count",
        "ops.normalize.s": "s",
        "ops.normalize.keep_ratio": "ratio",
        "ops.quality.s": "s",
        "pipelines.medallion.build_gold_call_s": "s",
        "pipelines.medallion.build_gold_call_s.batch": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "cache.leaks": "count",
        "cache.released": "count",
        "jvm.gc_s": "s",
        "jvm.jit_s": "s",
        "proc.read_bytes": "bytes",
        "proc.write_bytes": "bytes",
        "io.ddl.apply_s": "s",
    }
    for e in ENTITIES:
        m[f"io.sources.probe_s.{e}"] = "s"
        m[f"ops.dedup.keep_ratio.{e}"] = "ratio"
        m[f"ops.merge.s.{e}"] = "s"
        m[f"ops.merge.batch_s.{e}"] = "s"
        m[f"ops.merge.partitions_touched.{e}"] = "count"
    for t in ENTITIES + GOLD:
        m[f"io.sinks.files_written.{t}"] = "count"
        m[f"io.sinks.bytes_written.{t}"] = "bytes"
        m[f"io.sinks.write_s.{t}"] = "s"
    for g in GOLD:
        m[GOLD_SPANS[g]] = "s"
        m[GOLD_SPANS[g] + ".batch"] = "s"
        m[f"io.sinks.write_jdbc_s.{g}"] = "s"
    for q in REGISTRY_QUERIES:
        m[f"workload.plan_s.{q}"] = "s"
        m[f"workload.exec_s.{q}"] = "s"
    return m


class Run:
    """State of one benchmark run: session, counters, spans."""

    def __init__(self, seed: int, seconds: int, trace: bool, cpus: int) -> None:
        from spans import Tracer
        from workloads import Layers

        self.base = os.path.join(ROOT, ".perfbench_work")
        self.work = os.path.join(self.base, "data")
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.cpus = cpus
        self.tracer = Tracer(False)
        self.layers = Layers()
        self.spark = None
        self.jvm_pid = 0
        self.pg = None
        self.session_start_s = 0.0
        self.ddl_s = 0.0
        self.steps: dict[str, float] = {}  # op step times of the last untraced op
        self.attempted = 0
        self.failed = 0

    # -- processes ------------------------------------------------------
    def start_session(self) -> None:
        """Launch the JVM with a fresh SparkSession."""
        from lakeforge.io.jdbc_driver import find_postgres_jar
        from lakeforge.session import get_spark

        tmp = os.path.join(self.base, "tmp")
        # The whole heap is committed and touched at launch: otherwise the
        # first op pays the page faults of a growing heap.  On a shared
        # 4-vCPU VM that took the cold full_build op's spread over ten
        # seeds (interquartile range / median) from about 0.27 to 0.08-0.13.
        opts = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
        conf = {"spark.driver.extraJavaOptions": opts,
                "spark.local.dir": os.path.join(self.base, "spark")}
        jar = find_postgres_jar()
        if jar:
            conf["spark.jars"] = jar
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        self.jvm_pid = int(
            self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self.tracer.spark = self.spark

    def start_postgres(self) -> None:
        from pg import Postgres

        self.pg = Postgres(os.path.join(self.base, "pg"))
        self.pg.start()

    def close(self) -> None:
        """Stop Spark, its JVM and PostgreSQL, and wait for each."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF
                proc.wait(timeout=120)
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.pg is not None:
            self.pg.stop()

    # -- accounting -----------------------------------------------------
    def op_done(self, failed: bool = False) -> None:
        self.attempted += 1
        self.failed += int(failed)

    def retained_mem_mb(self) -> float:
        """Memory the program holds after its ops: the driver JVM's heap
        in use after a full collection, its non-heap pools and buffers
        (``spans.jvm_retained_bytes``), plus the RSS of this Python
        process.  Neither the JVM's RSS nor its peak heap use is a
        measure of the program: the heap is pre-touched, so the RSS is
        the whole heap from launch, and the young generation fills to
        its size before every collection.  The generator runs in a child
        process and the checks run after this is read, so neither is
        counted."""
        from spans import jvm_retained_bytes, rss_kb

        jvm, py = jvm_retained_bytes(self.spark) / 2**20, rss_kb(os.getpid()) / 1024.0
        log(f"retained memory: JVM {jvm:.1f} MB, Python {py:.1f} MB")
        return jvm + py

    # -- the run --------------------------------------------------------
    def execute(self, workload: str) -> dict:
        from spans import (cpu_seconds, cpu_ticks, gc_seconds, io_bytes, jit_seconds,
                           tail_percentile)
        from workloads import ENTITIES, WORKLOADS

        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        w = WORKLOADS[workload](self)
        t0 = time.perf_counter()
        w.inputs()
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.start_session()
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        w.state()
        state_s = time.perf_counter() - t0
        setup_s = session_s + state_s
        log(f"inputs {inputs_s:.2f}s (in no metric), session {session_s:.2f}s, "
            f"state {state_s:.2f}s")

        ref = 0.0
        if self.trace:  # warm-up, then one untraced round: the overhead reference
            w.round(measured=False)
            t0 = time.perf_counter()
            w.round()
            ref = time.perf_counter() - t0
            self.tracer.enabled = True
            gc0, io0 = gc_seconds(self.spark), io_bytes(self.jvm_pid)
            jit_t0 = jit_seconds(self.spark)
        rounds: list[float] = []
        cpu0, gc_0, jit0 = cpu_seconds(self.jvm_pid), gc_seconds(self.spark), jit_seconds(self.spark)
        ticks0 = cpu_ticks()
        start = time.perf_counter()
        while not rounds or (time.perf_counter() - start < self.seconds
                             and len(rounds) < w.max_rounds):
            t0 = time.perf_counter()
            w.round()
            rounds.append(time.perf_counter() - t0)
        self.tracer.enabled = False
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
        log(f"rounds {[round(r, 2) for r in rounds]}, last untraced op steps "
            f"{ {k: round(x, 2) for k, x in self.steps.items()} }")
        log(f"during the rounds: JVM CPU {cpu_seconds(self.jvm_pid) - cpu0:.1f}s, "
            f"GC {gc_seconds(self.spark) - gc_0:.2f}s, JIT {jit_seconds(self.spark) - jit0:.1f}s, "
            f"machine CPU steal "
            f"{ticks[7] / max(1, sum(ticks)):.1%}")
        mem = 0.0 if self.trace else self.retained_mem_mb()

        t0 = time.perf_counter()
        bad = w.check()
        log(f"check {time.perf_counter() - t0:.2f}s")
        for b in bad:
            log(f"check failed: {b}")
        if bad and workload != "registry_mix":  # registry failures are per query
            self.failed = self.attempted
        out = {"correct": not bad, "attempted": self.attempted, "failed": self.failed}
        xs = w.latencies()
        if not self.trace:
            tail = tail_percentile(xs)
            log(f"{len(xs)} latency samples, p50 {statistics.median(xs):.4f}s"
                + (f", p{tail[0]} {tail[1]:.4f}s" if tail else ", too few for a tail"))
            vals = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(xs),
                "op_p90_s": statistics.quantiles(xs, n=10, method="inclusive")[8]
                if len(xs) > 1 else xs[0],
                "retained_mem_mb": mem,
            }
            out["metrics"] = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
            return out

        n = len(rounds)
        L = self.layers.v
        v = {k: x / n for k, x in L.items()}
        v.update(self.steps)
        v["session.start_s"] = self.session_start_s
        v["io.ddl.apply_s"] = self.ddl_s
        v["trace.overhead_s"] = statistics.median(rounds) - ref
        if self.steps:
            v["dwh.load_rows_per_s"] = w.gold_rows / self.steps["op.load_s"]
        jobs, stages, tasks = self.tracer.counts()
        v["spark.jobs"], v["spark.stages"], v["spark.tasks"] = jobs / n, stages / n, tasks / n
        v["jvm.gc_s"] = (gc_seconds(self.spark) - gc0) / n
        v["jvm.jit_s"] = (jit_seconds(self.spark) - jit_t0) / n
        io1 = io_bytes(self.jvm_pid)
        v["proc.read_bytes"] = (io1[0] - io0[0]) / n
        v["proc.write_bytes"] = (io1[1] - io0[1]) / n

        def ratio(num: str, den: str) -> float:
            return L[num] / L[den] if L.get(den) else 0.0

        v["ops.normalize.keep_ratio"] = ratio("ops.normalize.rows_out", "ops.normalize.rows_in")
        for e in ENTITIES:
            v[f"ops.dedup.keep_ratio.{e}"] = ratio(f"ops.dedup.rows_kept.{e}", f"ops.dedup.rows_in.{e}")
        os.makedirs(os.path.join(self.base, "traces"), exist_ok=True)
        self.tracer.dump(os.path.join(self.base, "traces", f"{workload}-{self.seed}.jsonl"))
        out["metrics"] = {k: {"value": float(v.get(k, 0.0)), "unit": u}
                          for k, u in per_layer_units().items()}
        return out


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    for d in ("tmp", "spark"):
        os.makedirs(os.path.join(base, d), exist_ok=True)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    # Spark (and write_jdbc's connections) get half the cores.  On a
    # 4-vCPU share of a shared host, 4 task threads beside the JIT, GC and
    # Python workers burst past the share, and whole runs then took 40-80%
    # longer.  In five interleaved pairs of registry_mix runs, op_p50_s
    # ranged over 0.157-0.173 s on 2 cores and 0.161-0.224 s on 4.
    cpus = max(1, (os.cpu_count() or 1) // 2)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(base, "spark"),
        "TMPDIR": os.path.join(base, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    })
    import lakeforge.session  # noqa: F401  (fails fast outside a checkout)

    run = Run(args.seed, args.seconds, bool(args.trace), cpus)
    try:
        result = run.execute(args.workload)
    finally:
        run.close()
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
