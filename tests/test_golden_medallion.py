"""End-to-end golden test: reference bronze fixtures -> medallion pipeline
-> the reference's golden gold-layer outputs (FIXTURES.md §1/§3), compared
SK-agnostically (our SKs are deterministic hashes, the reference's are
monotonically_increasing_id) with fact->dim referential integrity checked.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.errors import AnalysisException

from lakeforge import cache
from lakeforge.io.sources import read_parquet, read_parquet_if_exists
from lakeforge.ops.normalize import REFERENCE_ENTITIES
from lakeforge.pipelines.medallion import bronze_to_silver, build_gold

D = dt.date
EOT = D(9999, 12, 31)

BRONZE = {
    "accounts.csv": "Acc no,Date,Status\n123,01-jan-22,Active\n456,01-feb-22,Active\n123,01-mar-22,In Active\n",
    "account_details.csv": "Acc no,Date,type\n123,01-jan-22,CC\n456,01-feb-22,Loan\n123,01-mar-22,CC\n",
    "person.csv": "Acc no,Person\n123,X\n456,Y\n456,Z\n123,X\n",
    "person_profile.csv": "Person,Name,Date\nX,Ahmed,01-jan-22\nY,Hana,01-feb-22\nZ,Rana,01-feb-22\nZ,Rana Ali,01-mar-22\n",
    "person_iden.csv": "Person,Id,Date\nX,ID1,01-jan-22\nY,ID2,01-feb-22\nZ,ID3 (NID),01-feb-22\nZ,ID4 (PASS),01-apr-22\n",
}


@pytest.fixture(scope="module")
def gold(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("medallion")
    bronze = root / "bronze"
    bronze.mkdir()
    for fname, content in BRONZE.items():
        (bronze / fname).write_text(content)
    silver = str(root / "silver")
    bronze_to_silver(spark, str(bronze), silver)
    return silver, build_gold(spark, silver)


def test_silver_partitions(gold, spark):
    silver, _ = gold
    acc = read_parquet(spark, f"{silver}/accounts")
    assert sorted(r["p_ym"] for r in acc.select("p_ym").distinct().collect()) == [
        "202201", "202202", "202203",
    ]
    # partition-type pin: string, not int (SURVEY.md §1 type-drift quirk)
    assert dict(acc.dtypes)["p_ym"] == "string"
    iden = read_parquet(spark, f"{silver}/person_iden")
    assert sorted(r["p_ym"] for r in iden.select("p_ym").distinct().collect()) == [
        "202201", "202202", "202204",
    ]
    person = read_parquet(spark, f"{silver}/person")
    assert person.count() == 3  # exact duplicate (123,X) collapsed
    assert dict(person.dtypes)["acc_no"] == "string"


def test_derived_schemas_match_fixtures_and_silver(gold, spark):
    """The schemas derived from ``EntitySpec`` are the ones the data has:
    each bronze schema is its fixture's CSV header, and each silver schema
    equals what a parquet read of the silver table infers, field order and
    types included — so ``build_gold`` may skip the inference."""
    silver, _ = gold
    for name, spec in REFERENCE_ENTITIES.items():
        header = BRONZE[f"{name}.csv"].split("\n", 1)[0].split(",")
        assert spec.bronze_schema.fieldNames() == header, name
    for name, spec in REFERENCE_ENTITIES.items():
        assert spec.silver_schema == spark.read.parquet(f"{silver}/{name}").schema, name


def test_dim_account_golden(gold):
    _, g = gold
    rows = sorted(
        (r["acc_no"], r["status"], r["type"], r["effective_start_date"],
         r["effective_end_date"], r["is_current"])
        for r in g["dim_account"].collect()
    )
    assert rows == sorted([
        ("123", "Active", "CC", D(2022, 1, 1), D(2022, 2, 28), False),
        ("123", "In Active", "CC", D(2022, 3, 1), EOT, True),
        ("456", "Active", "Loan", D(2022, 2, 1), EOT, True),
    ])


def test_dim_person_golden_null_drop(gold):
    _, g = gold
    rows = sorted(
        (r["person"], r["name"], r["id"], r["effective_start_date"],
         r["effective_end_date"], r["is_current"])
        for r in g["dim_person"].collect()
    )
    # No Z/2022-04-01 row: NULL-unsafe change filter drops it (golden-proven).
    assert rows == sorted([
        ("X", "Ahmed", "ID1", D(2022, 1, 1), EOT, True),
        ("Y", "Hana", "ID2", D(2022, 2, 1), EOT, True),
        ("Z", "Rana", "ID3 (NID)", D(2022, 2, 1), D(2022, 2, 28), False),
        ("Z", "Rana Ali", None, D(2022, 3, 1), EOT, True),
    ])


def test_dim_date_golden(gold):
    _, g = gold
    dates = sorted(r["dt"] for r in g["dim_date"].collect())
    # 2022-04-01 present via person_iden even though dropped from dim_person.
    assert dates == [D(2022, 1, 1), D(2022, 2, 1), D(2022, 3, 1), D(2022, 4, 1)]


def test_bridge_golden(gold):
    _, g = gold
    rows = sorted((r["acc_no"], r["person"]) for r in g["bridge_account_person"].collect())
    assert rows == [("123", "X"), ("456", "Y"), ("456", "Z")]


def test_fact_golden_and_referential_integrity(gold):
    _, g = gold
    dim = {r["account_sk"]: r for r in g["dim_account"].collect()}
    fact = sorted(
        (r["snapshot_date"], r["acc_no"], r["account_sk"])
        for r in g["fact_account_snapshot"].collect()
    )
    assert [(f[0], f[1]) for f in fact] == [
        (D(2022, 1, 1), "123"), (D(2022, 2, 1), "456"), (D(2022, 3, 1), "123"),
    ]
    # Every fact SK resolves to the dim version valid at the snapshot date.
    for snap, acc, sk in fact:
        assert sk in dim
        v = dim[sk]
        assert v["acc_no"] == acc
        assert v["effective_start_date"] <= snap <= v["effective_end_date"]
    # Point-in-time correctness: the 2022-03-01 snapshot sees "In Active".
    assert dim[fact[2][2]]["status"] == "In Active"


def test_cdc_rerun_appends_history(spark, tmp_path):
    """FIXTURES.md §5: round-2 ingest with an appended bronze row."""
    bronze = tmp_path / "bronze"
    bronze.mkdir()
    for fname, content in BRONZE.items():
        (bronze / fname).write_text(content)
    silver = str(tmp_path / "silver")
    bronze_to_silver(spark, str(bronze), silver)

    (bronze / "accounts.csv").write_text(
        BRONZE["accounts.csv"] + "456,01-may-22,Closed\n"
    )
    bronze_to_silver(spark, str(bronze), silver)

    acc = read_parquet(spark, f"{silver}/accounts")
    assert acc.count() == 4  # full history intact + 1 new row
    assert sorted(r["p_ym"] for r in acc.select("p_ym").distinct().collect()) == [
        "202201", "202202", "202203", "202205",
    ]
    g = build_gold(spark, silver)
    acc456 = sorted(
        (r["status"], r["effective_start_date"], r["effective_end_date"], r["is_current"])
        for r in g["dim_account"].filter("acc_no = '456'").collect()
    )
    assert acc456 == sorted([
        ("Active", D(2022, 2, 1), D(2022, 4, 30), False),
        ("Closed", D(2022, 5, 1), EOT, True),
    ])


def _write_bronze(bronze, skip=()):
    bronze.mkdir(exist_ok=True)
    for fname, content in BRONZE.items():
        if fname not in skip:
            (bronze / fname).write_text(content)


def _silver_rows(spark, silver, name):
    df = read_parquet_if_exists(spark, f"{silver}/{name}")
    if df is None:
        return None
    cols = REFERENCE_ENTITIES[name].silver_schema.fieldNames()
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_failed_entity_leaves_the_others_merged_and_replays(gold, spark, tmp_path):
    """The entities ingest concurrently: one entity's failure (here the
    first one's missing bronze file) does not stop the other four, and
    re-running with the file restored gives the silver of a clean run."""
    clean, _ = gold
    first = next(iter(REFERENCE_ENTITIES))
    assert first == "accounts"
    bronze = tmp_path / "bronze"
    _write_bronze(bronze, skip={f"{first}.csv"})
    silver = str(tmp_path / "silver")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        bronze_to_silver(spark, str(bronze), silver)
    assert _silver_rows(spark, silver, first) is None
    for name in REFERENCE_ENTITIES:
        if name != first:
            assert _silver_rows(spark, silver, name) == _silver_rows(spark, clean, name), name

    _write_bronze(bronze)
    bronze_to_silver(spark, str(bronze), silver)
    for name in REFERENCE_ENTITIES:
        assert _silver_rows(spark, silver, name) == _silver_rows(spark, clean, name), name


def test_job_group_reaches_the_entity_workers(spark, tmp_path):
    """The caller's job group is inherited by every entity worker, and the
    concurrent incremental merges leave no cached RDD behind."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    bronze = tmp_path / "bronze"
    _write_bronze(bronze)
    silver = str(tmp_path / "silver")
    ungrouped = set(st.getJobIdsForGroup())
    sc.setJobGroup("b2s", "bronze_to_silver under a job group")
    try:
        bronze_to_silver(spark, str(bronze), silver)
        cache.release_all(blocking=True)
        n_cached = cache.n_cached_rdds(spark)
        # An incremental batch: every entity reads back and rewrites the
        # partitions it touches, and caches nothing doing so.
        for fname, content in BRONZE.items():
            (bronze / fname).write_text(content + content.splitlines()[1] + "\n")
        bronze_to_silver(spark, str(bronze), silver)
        assert cache.n_cached_rdds(spark) == n_cached
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(st.getJobIdsForGroup("b2s")) >= 2 * len(REFERENCE_ENTITIES)
    assert set(st.getJobIdsForGroup()) - ungrouped == set()


STAR_DDL_KEYS = {
    "dim_account": ["account_sk"],
    "dim_person": ["person_sk"],
    "dim_date": ["dt"],
}

# Golden pin of the emitted 01_ddl.sql for the reference star schema
# (VERDICT r02 #7): any schema drift in the gold builders or type-mapping
# drift in io/ddl.py breaks this assertion visibly.
STAR_DDL_GOLDEN = """\
CREATE TABLE IF NOT EXISTS dim_account (
    account_sk BIGINT,
    acc_no TEXT,
    status TEXT,
    type TEXT,
    effective_start_date DATE,
    effective_end_date DATE NOT NULL,
    is_current BOOLEAN NOT NULL,
    PRIMARY KEY (account_sk)
);

CREATE TABLE IF NOT EXISTS dim_person (
    person_sk BIGINT,
    person TEXT,
    name TEXT,
    id TEXT,
    effective_start_date DATE,
    effective_end_date DATE NOT NULL,
    is_current BOOLEAN NOT NULL,
    PRIMARY KEY (person_sk)
);

CREATE TABLE IF NOT EXISTS dim_date (
    dt DATE,
    PRIMARY KEY (dt)
);

CREATE TABLE IF NOT EXISTS bridge_account_person (
    acc_no TEXT,
    person TEXT
);

CREATE TABLE IF NOT EXISTS fact_account_snapshot (
    snapshot_date DATE,
    acc_no TEXT,
    account_sk BIGINT
);"""


def test_star_schema_ddl_pinned(gold):
    from lakeforge.io.ddl import star_schema_ddl

    _, g = gold
    assert star_schema_ddl(g, STAR_DDL_KEYS) == STAR_DDL_GOLDEN


def test_star_schema_ddl_roundtrips_in_duckdb(gold):
    """Execute the generated Postgres DDL in DuckDB (whose DDL parser
    accepts the Postgres type names the generator emits) and load every
    gold table into it — server-free integration evidence for S5 that the
    DDL is syntactically valid and value-compatible with the data Spark
    actually produces (VERDICT r02 #7)."""
    import duckdb

    from lakeforge.io.ddl import star_schema_ddl

    _, g = gold
    con = duckdb.connect()
    for stmt in star_schema_ddl(g, STAR_DDL_KEYS).split("\n\n"):
        con.execute(stmt)
    expected_types = {
        ("dim_account", "account_sk"): "BIGINT",
        ("dim_account", "acc_no"): "VARCHAR",  # TEXT parses as VARCHAR
        ("dim_account", "effective_end_date"): "DATE",
        ("dim_account", "is_current"): "BOOLEAN",
        ("fact_account_snapshot", "snapshot_date"): "DATE",
    }
    for (tbl, col), want in expected_types.items():
        got = con.execute(
            "SELECT data_type FROM information_schema.columns "
            "WHERE table_name = ? AND column_name = ?",
            [tbl, col],
        ).fetchone()[0]
        assert got == want, f"{tbl}.{col}: {got} != {want}"
    # Every gold table's actual rows INSERT cleanly under the DDL's types
    # and constraints (PK uniqueness, NOT NULL), and read back identically.
    for name, df in g.items():
        pdf = df.toPandas()
        con.register("pdf_src", pdf)
        con.execute(f"INSERT INTO {name} SELECT * FROM pdf_src")
        con.unregister("pdf_src")
        assert con.execute(f"SELECT count(*) FROM {name}").fetchone()[0] == len(pdf)


REF_GOLD_CSV = "/root/reference/exports/gold_csv"


@pytest.mark.skipif(
    not os.path.isdir(REF_GOLD_CSV), reason="reference gold CSVs absent"
)
def test_reference_gold_csvs_load_under_generated_ddl(gold):
    """VERDICT r05 #7: close the last daylight between the Derby-tested
    JDBC sink and the reference's real Postgres target — the REFERENCE'S
    OWN exported gold-layer CSVs (exports/gold_csv/*.csv, produced by its
    gold_sql_to_postgres.py pipeline) must load cleanly into tables
    created from OUR generated Postgres DDL, through DuckDB's
    Postgres-compatible type system.  Covers: column-name/order
    alignment, bigint surrogate keys, DATE parsing, and Postgres's
    textual boolean form ('t'/'f') landing in a BOOLEAN column — the
    exact shape a real Postgres COPY of those CSVs would exercise."""
    import duckdb

    from lakeforge.io.ddl import star_schema_ddl

    _, g = gold
    con = duckdb.connect()
    for stmt in star_schema_ddl(g, STAR_DDL_KEYS).split("\n\n"):
        con.execute(stmt)
    for name in sorted(g):
        path = f"{REF_GOLD_CSV}/{name}.csv"
        assert os.path.exists(path), f"reference export missing: {name}"
        # header=true + our DDL's column list: positional load with
        # implicit casts, exactly how COPY ... CSV HEADER behaves.
        con.execute(
            f"INSERT INTO {name} SELECT * FROM read_csv(?, header=true, "
            f"all_varchar=true)",
            [path],
        )
        n_csv = con.execute(
            "SELECT count(*) FROM read_csv(?, header=true)", [path]
        ).fetchone()[0]
        assert (
            con.execute(f"SELECT count(*) FROM {name}").fetchone()[0] == n_csv
        ), name
    # The textual Postgres boolean form arrived as a real BOOLEAN.
    cur = con.execute(
        "SELECT DISTINCT is_current FROM dim_account ORDER BY 1"
    ).fetchall()
    assert all(isinstance(r[0], bool) for r in cur), cur
    # Surrogate keys landed as BIGINT and are unique per the DDL's PK.
    for tbl, keys in STAR_DDL_KEYS.items():
        k = keys[0]
        dup = con.execute(
            f"SELECT {k} FROM {tbl} GROUP BY {k} HAVING count(*) > 1"
        ).fetchall()
        assert not dup, (tbl, dup)
