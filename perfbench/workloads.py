"""The benchmark's workloads and the traced wrappers around the layers.

Each workload is a closed loop with one client: the next op starts when
the previous one has finished.  An op is

- ``full_build``: the nightly rebuild of an empty lake (``bronze_to_silver``,
  the silver quality check, ``build_gold`` written to parquet), then one
  CDC micro-batch landed incrementally with the gold refresh of its month,
  then the five gold tables bulk-loaded into PostgreSQL with ``write_jdbc``
  (see ``FullBuild``);
- ``registry_mix``: one registry query planned and forced with the noop
  sink.

The untraced op calls the program's public entry points only.  The traced
op calls the same entry points with the layer functions they look up
replaced by wrappers that record a span, force the stage's frame with a
noop write where the layer is lazy, and count rows and bytes.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

import gen
import pg
import spans as tr

HERE = os.path.dirname(os.path.abspath(__file__))

ENTITIES = ("accounts", "account_details", "person", "person_profile", "person_iden")
GOLD = ("dim_account", "dim_person", "dim_date", "bridge_account_person",
        "fact_account_snapshot")
# gold table -> traced materialization span (the fact includes the
# interval-key resolve of ops.joins.resolve_interval_key)
GOLD_SPANS = {
    "dim_account": "ops.scd2.s.dim_account",
    "dim_person": "ops.scd2.s.dim_person",
    "dim_date": "ops.star.s.dim_date",
    "bridge_account_person": "ops.star.s.bridge",
    "fact_account_snapshot": "ops.star.s.fact",
}
# Surrogate-key primary keys of the DWH tables.
DDL_KEYS = {"dim_account": ["account_sk"], "dim_person": ["person_sk"], "dim_date": ["dt"]}

REGISTRY_SF = 0.01
# Untimed passes over the mix before timing: the first runs every query
# cold; the later ones let the JIT settle.  On 4 cores a pass's JIT
# compile time falls from about 4 s to under 1 s, and the pass from about
# 1.9 s to 1.1 s, over the first 15-20 passes.
WARM_PASSES = 14
# One flagship each of six operator families.  The mix is sized so that
# its generated classes (about 60) stay in Spark's codegen cache
# (spark.sql.codegen.cache.maxEntries, 100 by default, an LRU in four
# segments), so a warm pass compiles none.  A ten-query mix that adds
# shipping_priority, asof_purchase_view, rolling_7day_spend and
# embedding_cosine_topk needs about 122: every pass then recompiled about
# 80 classes with Janino and the JIT compiled them again, the JIT used
# 1.5 of the 4 cores throughout, and a pass ran 34% slower beside a
# 2-core CPU hog (7-14% for a mix that fits), so its latencies followed
# the load of the shared host more than the program.  The heaviest
# families (kmeans_embeddings, pagerank_trade, events_sessions_stateful,
# docs_training_pipeline, minhash_lsh_pairs) are out for run time.
REGISTRY_QUERIES = (
    "scd2_orders", "cdc_merge_orders", "quality_summary_orders",
    "broadcast_enrich", "multi_format_dates", "text_stats",
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def gen_inputs(*args) -> None:
    """Run the input generator (``perfbench/gen.py``) in a child process."""
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), *map(str, args)],
                   check=True)


def warm_python_workers(spark) -> None:
    """Start the Python worker pool, the Arrow path and the Python data
    source as ``bench.py`` does, so no measured op pays for them."""
    from bench import _warm_python_boundary
    from lakeforge import cache

    _warm_python_boundary(spark)
    cache.release_all()
    spark.catalog.clearCache()


def count_rows(df) -> int:
    """Force ``df`` with a noop write and count its rows in the same pass."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return int(obs.get["n"])


@contextmanager
def patched(pairs):
    """Temporarily replace module attributes: [(module, name, value)]."""
    saved = [(m, n, getattr(m, n)) for m, n, _ in pairs]
    for m, n, v in pairs:
        setattr(m, n, v)
    try:
        yield
    finally:
        for m, n, v in saved:
            setattr(m, n, v)


class Layers:
    """Per-layer accumulators of one traced run, summed over traced ops."""

    def __init__(self) -> None:
        self.v: dict[str, float] = {}

    def add(self, name: str, x: float) -> None:
        self.v[name] = self.v.get(name, 0.0) + x


# --------------------------------------------------------------------------
# Medallion
# --------------------------------------------------------------------------

class FullBuild:
    """The nightly rebuild, the first micro-batch after it, and the DWH load.

    One op:

    1. rebuild: an empty lake goes through ``bronze_to_silver`` (the
       initial-load merge path), the silver quality check, and
       ``build_gold``, whose five tables are written to parquet;
    2. batch: one CDC micro-batch of all five files is landed with
       ``bronze_to_silver`` (the incremental ``merge_full_history`` path:
       existence probe, touched-partition prune, ``localCheckpoint``,
       dynamic overwrite) and gold is refreshed for the batch's month with
       ``build_gold(process_ym=...)``;
    3. load: the five rebuilt gold tables are bulk-loaded into PostgreSQL
       with ``write_jdbc`` (overwrite + truncate, ``nproc`` connections).

    The same batch is landed in every op, so every op does the same work.
    A run times one op (``max_rounds``), however long ``--seconds`` is:
    the nightly rebuild in a fresh session, as the reference runs it, so
    its JIT and class-loading cost is part of the op, the same in every
    run.  A warm-up op would add a cold op's 25 s
    to every run for a 16 s warm op (4 cores), which the benchmark's time
    budget does not allow.  The path runs no Python UDFs, so there is no
    Python-worker warm either.
    """

    name = "full_build"
    max_rounds = 1

    def __init__(self, run) -> None:
        self.run = run
        self.silver = os.path.join(run.work, "silver")
        self.gold = os.path.join(run.work, "gold")
        self.gold_ym = os.path.join(run.work, "gold_ym")
        self.op_times: list[float] = []
        self.gold_rows = 0
        self.ddl_applied = False

    # -- set-up ---------------------------------------------------------
    def inputs(self) -> None:
        run = self.run
        gen_inputs("lake", run.work, run.seed)
        self.bronze = os.path.join(run.work, "bronze")
        self.batch = os.path.join(run.work, "cdc", "b0000")
        self.ym = gen.NEWEST_YM
        self.bronze_bytes = tr.tree_bytes(self.bronze)
        self.batch_bytes = tr.tree_bytes(self.batch)

    def state(self) -> None:
        """PostgreSQL; the first load creates the DWH tables from
        ``io.ddl``."""
        self.run.start_postgres()

    # -- the op ---------------------------------------------------------
    def round(self, measured: bool = True) -> None:
        from lakeforge.pipelines.medallion import bronze_to_silver, build_gold

        run = self.run
        traced = run.tracer.enabled
        run.tracer.op += 1
        for d in (self.silver, self.gold, self.gold_ym):
            shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        if traced:
            self.traced_ingest(self.bronze, batch=False)
            self.quality()
            self.traced_gold(None, self.gold, "")
        else:
            bronze_to_silver(run.spark, self.bronze, self.silver)
            self.quality()
            self.write_gold(build_gold(run.spark, self.silver), self.gold)
        self.release()
        t1 = time.perf_counter()
        if traced:
            built = tr.tree_bytes(self.silver) + tr.tree_bytes(self.gold)
            before = tr.snapshot(self.silver)
            self.traced_ingest(self.batch, batch=True)
            self.traced_gold(self.ym, self.gold_ym, ".batch")
        else:
            bronze_to_silver(run.spark, self.batch, self.silver)
            self.write_gold(build_gold(run.spark, self.silver, process_ym=self.ym), self.gold_ym)
        self.release()
        t2 = time.perf_counter()
        self.load()
        t3 = time.perf_counter()
        if measured:
            run.op_done()
            if traced:
                L = run.layers
                L.add("io.sinks.space_amp", built / self.bronze_bytes)
                written = (tr.diff(before, tr.snapshot(self.silver)).bytes
                           + tr.tree_bytes(self.gold_ym))
                L.add("io.sinks.write_amp", written / self.batch_bytes)
            else:
                self.op_times.append(t3 - t0)
                run.steps.update({"op.build_s": t1 - t0, "op.batch_s": t2 - t1,
                                  "op.load_s": t3 - t2})

    def latencies(self) -> list[float]:
        return self.op_times

    def write_gold(self, gold: dict, root: str) -> None:
        from lakeforge.io.sinks import write_partitioned_parquet

        for name, df in gold.items():
            write_partitioned_parquet(df, f"{root}/{name}")

    def release(self) -> None:
        from lakeforge import cache

        n = cache.release_all()
        self.run.spark.catalog.clearCache()
        if self.run.tracer.enabled:
            self.run.layers.add("cache.released", n)
            self.run.layers.add("cache.leaks", cache.n_cached_rdds(self.run.spark))

    def quality(self) -> None:
        """The reference's silver check on every silver table."""
        from lakeforge.io.sources import read_parquet
        from lakeforge.ops.quality import duplicate_keys, table_summary
        from lakeforge.pipelines.medallion import ENTITY_LAYOUT

        run = self.run
        with run.tracer.span("ops.quality") as s:
            for name in ENTITIES:
                keys, _parts = ENTITY_LAYOUT[name]
                df = read_parquet(run.spark, f"{self.silver}/{name}")
                date_col = "date" if "date" in df.columns else None
                table_summary(df, keys, date_col).collect()
                duplicate_keys(df, keys).count()
        if s is not None:
            run.layers.add("ops.quality.s", s.dur)

    def load(self) -> None:
        """Bulk-load the rebuilt gold tables into the DWH; the first load
        creates the DWH tables from ``io.ddl`` first."""
        from lakeforge.io.ddl import star_schema_ddl
        from lakeforge.io.sinks import write_jdbc
        from lakeforge.io.sources import read_parquet

        run, t = self.run, self.run.tracer
        frames = {name: read_parquet(run.spark, f"{self.gold}/{name}") for name in GOLD}
        if not self.ddl_applied:
            t0 = time.perf_counter()
            for stmt in star_schema_ddl(frames, DDL_KEYS).split("\n\n"):
                run.pg.psql(stmt)
            run.ddl_s = time.perf_counter() - t0
            self.ddl_applied = True
        for name, df in frames.items():
            with t.span("io.sinks.write_jdbc", table=name) as s:
                write_jdbc(df, run.pg.url, name, user=pg.USER, password="",
                           num_partitions=run.cpus, mode="overwrite", truncate=True)
            if s is not None:
                run.layers.add(f"io.sinks.write_jdbc_s.{name}", s.dur)

    # -- traced layers --------------------------------------------------
    def traced_ingest(self, bronze_dir: str, batch: bool) -> None:
        """``bronze_to_silver`` with its layer functions wrapped.  The
        initial load's merge time goes to ``ops.merge.s.<entity>``, the
        batch's to ``ops.merge.batch_s.<entity>``."""
        import lakeforge.ops.merge as merge_mod
        import lakeforge.pipelines.medallion as med
        from lakeforge.ops.normalize import REFERENCE_ENTITIES

        run, t, L = self.run, self.run.tracer, self.run.layers
        spec_name = {id(s): n for n, s in REFERENCE_ENTITIES.items()}
        scan_s: dict[str, float] = {}
        raw_rows: dict[str, int] = {}
        rows_in: dict[str, int] = {}
        read_csv, normalize_entity, merge_full_history, probe, write_pq = (
            med.read_csv, med.normalize_entity, med.merge_full_history,
            merge_mod.read_parquet_if_exists, merge_mod.write_partitioned_parquet)

        def w_read_csv(spark, path, schema, *a, **k):
            name = os.path.basename(path)[:-4]
            with t.span("io.sources.read_csv", entity=name) as s:
                df = read_csv(spark, path, schema, *a, **k)
                n = count_rows(df)
            scan_s[name] = s.dur
            raw_rows[name] = n
            if not batch:
                L.add("io.sources.read_csv_s", s.dur)
                L.add("io.sources.rows", n)
            return df

        def w_normalize(df, spec):
            name = spec_name[id(spec)]
            with t.span("ops.normalize", entity=name) as s:
                out = normalize_entity(df, spec)
                n = count_rows(out)
            rows_in[name] = n
            if not batch:
                # self time over the scan: the forced frame re-reads the CSV
                L.add("ops.normalize.s", max(0.0, s.dur - scan_s[name]))
                L.add("ops.normalize.rows_in", raw_rows[name])
                L.add("ops.normalize.rows_out", n)
            return out

        def w_merge(spark, new_df, path, *a, **k):
            name = os.path.basename(path)
            before = tr.snapshot(path)
            n0 = _silver_rows(spark, path)
            with t.span("ops.merge", entity=name, batch=batch) as s:
                merge_full_history(spark, new_df, path, *a, **k)
            w = tr.diff(before, tr.snapshot(path))
            L.add(f"ops.merge.{'batch_s' if batch else 's'}.{name}", s.dur)
            L.add(f"io.sinks.files_written.{name}", w.files)
            L.add(f"io.sinks.bytes_written.{name}", w.bytes)
            if batch:
                L.add(f"ops.merge.partitions_touched.{name}", w.partitions)
            else:
                L.add(f"ops.dedup.rows_in.{name}", rows_in[name])
                L.add(f"ops.dedup.rows_kept.{name}", _silver_rows(spark, path) - n0)

        def w_probe(spark, path):
            with t.span("io.sources.probe", entity=os.path.basename(path)) as s:
                out = probe(spark, path)
            L.add(f"io.sources.probe_s.{os.path.basename(path)}", s.dur)
            return out

        def w_write(df, path, *a, **k):
            with t.span("io.sinks.write", table=os.path.basename(path)) as s:
                write_pq(df, path, *a, **k)
            L.add(f"io.sinks.write_s.{os.path.basename(path)}", s.dur)

        with patched([
            (med, "read_csv", w_read_csv), (med, "normalize_entity", w_normalize),
            (med, "merge_full_history", w_merge),
            (merge_mod, "read_parquet_if_exists", w_probe),
            (merge_mod, "write_partitioned_parquet", w_write),
        ]):
            med.bronze_to_silver(run.spark, bronze_dir, self.silver)

    def traced_gold(self, process_ym: str | None, root: str, suffix: str) -> None:
        """The ``build_gold`` call (its eager silver loads), each gold
        table's materialization, and its parquet write as separate spans."""
        from lakeforge.io.sinks import write_partitioned_parquet
        from lakeforge.pipelines.medallion import build_gold

        run, t, L = self.run, self.run.tracer, self.run.layers
        with t.span("pipelines.medallion.build_gold_call") as s:
            gold = build_gold(run.spark, self.silver, process_ym=process_ym)
        L.add(f"pipelines.medallion.build_gold_call_s{suffix}", s.dur)
        for name in GOLD:  # dim_account first: it is cached for the fact
            with t.span(GOLD_SPANS[name]) as s:
                noop(gold[name])
            L.add(GOLD_SPANS[name] + suffix, s.dur)
        for name in GOLD:
            path = f"{root}/{name}"
            with t.span("io.sinks.write", table=name) as s:
                write_partitioned_parquet(gold[name], path)
            L.add(f"io.sinks.write_s.{name}", s.dur)
            L.add(f"io.sinks.files_written.{name}", len(tr.snapshot(path)))
            L.add(f"io.sinks.bytes_written.{name}", tr.tree_bytes(path))

    # -- correctness ----------------------------------------------------
    def check(self) -> list[str]:
        """Silver (base + batch), the rebuilt gold (base), the month's
        refreshed gold (base + batch), fact -> dim integrity, and the DWH
        read-back, each against DuckDB over the same bronze files."""
        import duckdb

        import oracle

        run = self.run
        con = duckdb.connect()
        oracle.silver_oracle(con, [self.bronze], out="b_")
        oracle.gold_oracle(con, silver="b_", out="og_")
        oracle.silver_oracle(con, [self.bronze, self.batch], out="o_")
        for name in ENTITIES:  # the month slice build_gold(process_ym) reads
            where = "" if name == "person" else f" WHERE p_ym = '{self.ym}'"
            con.execute(f"CREATE VIEW m_{name} AS SELECT * FROM o_{name}{where}")
        oracle.gold_oracle(con, silver="m_", out="om_")
        res = {**oracle.check_silver(con, self.silver),
               **oracle.check_gold(con, self.gold, want="og_", got="g_"),
               **oracle.check_gold(con, self.gold_ym, want="om_", got="gm_")}
        for name, cols in oracle.GOLD_COLUMNS.items():
            path = os.path.join(run.work, f"pg_{name}.csv")
            with open(path, "w") as f:
                f.write(run.pg.psql(
                    f"COPY (SELECT {', '.join(cols)} FROM {name}) TO STDOUT WITH CSV") + "\n")
            types = {r[0]: r[1] for r in con.execute(f"DESCRIBE g_{name}").fetchall()}
            spec = ", ".join(f"'{c}': '{types[c]}'" for c in cols)
            con.execute(f"CREATE VIEW p_{name} AS SELECT * FROM read_csv('{path}', "
                        f"header=false, columns={{{spec}}}, auto_detect=false, "
                        f"allow_quoted_nulls=false)")
            res[f"postgres {name}"] = oracle.mismatches(con, f"p_{name}", f"g_{name}", cols)
        self.gold_rows = sum(res[f"g_{name}"][1] for name in GOLD)
        return [f"{k}: {v}" for k, v in res.items() if v[0] != 0 or v[1] != v[2]]


def _silver_rows(spark, path: str) -> int:
    from lakeforge.io.sources import read_parquet

    return read_parquet(spark, path).count() if os.path.isdir(path) else 0


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

class RegistryMix:
    """Passes over ``REGISTRY_QUERIES`` in a seeded order, each query
    planned and forced with the noop sink."""

    name = "registry_mix"
    max_rounds = sys.maxsize

    def __init__(self, run) -> None:
        self.run = run
        self.sf_dir = os.path.join(run.work, "sf")
        self.bad: dict[str, str] = {}  # query -> first problem
        self.results: dict[str, tuple] = {}  # query -> (columns, rows)
        self.samples: dict[str, list[float]] = {q: [] for q in REGISTRY_QUERIES}
        self.measured = dict.fromkeys(REGISTRY_QUERIES, 0)  # measured runs per query
        self.pass_no = 0

    def inputs(self) -> None:
        gen_inputs("registry", self.sf_dir, self.run.seed, REGISTRY_SF)

    def state(self) -> None:
        """Python workers, then ``WARM_PASSES`` untimed passes; the first
        collects every query's result for the check."""
        warm_python_workers(self.run.spark)
        self.collect_all()
        for _ in range(WARM_PASSES - 1):
            self.round(measured=False)

    def collect_all(self) -> None:
        """Run every query once, cold, and keep its result."""
        from lakeforge import cache
        from lakeforge.workload import QUERIES

        spark = self.run.spark
        for name in REGISTRY_QUERIES:
            try:
                df = QUERIES[name](spark, self.sf_dir)
                self.results[name] = (df.columns, df.collect())
            except Exception as e:  # counted as a failed query, not a crash
                self.bad[name] = f"spark error: {e}"
            finally:
                cache.release_all()
                spark.catalog.clearCache()

    def check_all(self) -> None:
        """Check every collected result against its ORACLE_SQL twin, as
        ``tools/check_oracle.py`` does: same columns and the same
        multiset of rendered rows."""
        import duckdb
        import pandas as pd

        from lakeforge.io.sources import TESTDATA_TABLES
        from lakeforge.workload import ORACLE_SQL

        from tools.check_oracle import compare_strict

        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
        for name, (cols, rows) in self.results.items():
            problems = compare_strict(
                pd.DataFrame([tuple(r) for r in rows], columns=cols),
                con.execute(ORACLE_SQL[name]).df())
            if problems:
                self.bad[name] = problems[0]

    def round(self, measured: bool = True) -> None:
        """One pass over every query in a seeded order."""
        from lakeforge import cache
        from lakeforge.workload import QUERIES

        run, t = self.run, self.run.tracer
        t.op += 1
        order = list(REGISTRY_QUERIES)
        random.Random(f"{run.seed}:{self.pass_no}").shuffle(order)
        self.pass_no += 1
        for name in order:
            t0 = time.perf_counter()
            try:
                with t.span("workload.plan", query=name) as sp:
                    df = QUERIES[name](run.spark, self.sf_dir)
                with t.span("workload.exec", query=name) as se:
                    noop(df)
            except Exception:  # a failing query is a failed op; go on
                traceback.print_exc()
                if measured:
                    run.op_done(failed=True)
                continue
            finally:
                released = cache.release_all()
                run.spark.catalog.clearCache()
            dt = time.perf_counter() - t0
            if not measured:
                continue
            run.op_done()
            self.measured[name] += 1
            if t.enabled:
                run.layers.add(f"workload.plan_s.{name}", sp.dur)
                run.layers.add(f"workload.exec_s.{name}", se.dur)
                run.layers.add("cache.released", released)
                run.layers.add("cache.leaks", cache.n_cached_rdds(run.spark))
            else:
                self.samples[name].append(dt)

    def latencies(self) -> list[float]:
        """Each query's median latency: every query of the mix weighs the
        same, however many passes fit in the run."""
        return [statistics.median(xs) for xs in self.samples.values() if xs]

    def check(self) -> list[str]:
        """Every measured run of a query that does not match its oracle
        is a failed op."""
        self.check_all()
        self.run.failed += sum(self.measured[name] for name in self.bad)
        return [f"{name}: {p}" for name, p in self.bad.items()]


WORKLOADS = {w.name: w for w in (FullBuild, RegistryMix)}
