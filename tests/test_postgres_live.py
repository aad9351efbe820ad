"""LIVE PostgreSQL round-trip for the gold JDBC sink (reference S5:
gold_sql_to_postgres.py:31-44).  A module-scoped fixture boots a
throwaway PostgreSQL server with the benchmark's launcher
(``perfbench/pg.py``) and these tests attest, on a REAL Postgres:

- the generated 01_ddl.sql (io/ddl.py) executes verbatim;
- write_jdbc with mode=overwrite + truncate=true loads every gold table
  through parallel executor connections;
- overwrite TRUNCATEs instead of DROP+CREATE, so the DDL's PRIMARY KEYs
  survive the reload (the contract Derby could not check — it lacks
  TRUNCATE and Spark falls back to DROP there);
- read-back through spark.read.jdbc is row-exact against the frames the
  medallion pipeline produced.

Skips (not fails) when the PostgreSQL binaries (initdb, postgres, psql),
``unshare`` or the JDBC driver jar are missing: that is an environment
gap, not an engine bug.
"""

from __future__ import annotations

import shutil

import pytest

from lakeforge.io.jdbc_driver import find_postgres_jar
from perfbench.pg import USER as PG_USER
from perfbench.pg import Postgres

pytestmark = pytest.mark.skipif(
    not find_postgres_jar()
    or any(shutil.which(t) is None for t in ("initdb", "postgres", "psql", "unshare")),
    reason="PostgreSQL binaries, unshare or the JDBC driver jar missing",
)


@pytest.fixture(scope="module")
def pg(tmp_path_factory):
    server = Postgres(str(tmp_path_factory.mktemp("pg") / "cluster"))
    try:
        server.start()
        yield server
    finally:
        server.stop()


@pytest.fixture(scope="module")
def gold(spark, tmp_path_factory):
    from test_golden_medallion import BRONZE

    from lakeforge.pipelines.medallion import bronze_to_silver, build_gold

    root = tmp_path_factory.mktemp("pg_medallion")
    bronze = root / "bronze"
    bronze.mkdir()
    for fname, content in BRONZE.items():
        (bronze / fname).write_text(content)
    silver = str(root / "silver")
    bronze_to_silver(spark, str(bronze), silver)
    return build_gold(spark, silver)


@pytest.fixture(scope="module")
def ddl_applied(pg, gold):
    """Apply the GENERATED DDL verbatim on the live server, once per
    module — so every test below stands alone (selectable with -k)
    instead of depending on the readback test having run first."""
    from test_golden_medallion import STAR_DDL_KEYS

    from lakeforge.io.ddl import star_schema_ddl

    for name in gold:
        pg.psql(f"DROP TABLE IF EXISTS {name} CASCADE")
    for stmt in star_schema_ddl(gold, STAR_DDL_KEYS).split("\n\n"):
        pg.psql(stmt)
    return STAR_DDL_KEYS


def test_gold_load_and_readback_row_exact(spark, pg, gold, ddl_applied):
    from lakeforge.io.sinks import write_jdbc

    for name, df in gold.items():
        write_jdbc(
            df, pg.url, name, user=PG_USER, password="",
            num_partitions=4, mode="overwrite", truncate=True,
        )
        back = (
            spark.read.format("jdbc")
            .option("url", pg.url)
            .option("dbtable", name)
            .option("user", PG_USER)
            .option("password", "")
            .option("driver", "org.postgresql.Driver")
            .load()
        )
        want = {tuple(r) for r in df.collect()}
        got = {tuple(r) for r in back.select(*df.columns).collect()}
        assert got == want, name
        assert int(pg.psql(f"SELECT count(*) FROM {name}")) == len(want)


def test_overwrite_truncates_and_preserves_primary_keys(spark, pg, gold, ddl_applied):
    """The reference's truncate=true knob exists precisely so reloads keep
    the DDL; assert the PKs are still there AFTER a second overwrite."""
    from lakeforge.io.sinks import write_jdbc

    for name, keys in ddl_applied.items():
        write_jdbc(
            gold[name], pg.url, name, user=PG_USER, password="",
            num_partitions=2, mode="overwrite", truncate=True,
        )
        n_pk = pg.psql(
            "SELECT count(*) FROM information_schema.table_constraints "
            f"WHERE table_name = '{name}' AND constraint_type = 'PRIMARY KEY'"
        )
        assert n_pk == "1", f"{name}: primary key lost on overwrite"
        cols = pg.psql(
            "SELECT kcu.column_name FROM information_schema.key_column_usage kcu "
            "JOIN information_schema.table_constraints tc "
            "  ON tc.constraint_name = kcu.constraint_name "
            f"WHERE tc.table_name = '{name}' "
            "  AND tc.constraint_type = 'PRIMARY KEY' ORDER BY kcu.ordinal_position"
        ).splitlines()
        assert cols == keys, name


def test_month_scoped_reload_matches_reference_knobs(spark, pg, gold, ddl_applied):
    """The reference loads per-month slices (PROCESS_YM) with the same
    sink knobs; a scoped fact reload through the identical path must
    leave only that slice (full-table truncate semantics: the scope is
    the FRAME, the knob set is the reference's)."""
    from pyspark.sql import functions as F

    from lakeforge.io.sinks import write_jdbc

    fact = gold["fact_account_snapshot"]
    months = [
        r[0]
        for r in fact.select(F.date_format("snapshot_date", "yyyyMM"))
        .distinct()
        .collect()
    ]
    one = sorted(months)[0]
    scoped = fact.filter(F.date_format("snapshot_date", "yyyyMM") == one)
    try:
        write_jdbc(
            scoped, pg.url, "fact_account_snapshot", user=PG_USER, password="",
            num_partitions=2, mode="overwrite", truncate=True,
        )
        n = int(pg.psql("SELECT count(*) FROM fact_account_snapshot"))
        assert n == scoped.count()
    finally:
        # restore the full fact even when the assertion fails, so a later
        # run (or test) never sees a truncated table
        write_jdbc(
            fact, pg.url, "fact_account_snapshot", user=PG_USER, password="",
            num_partitions=2, mode="overwrite", truncate=True,
        )
