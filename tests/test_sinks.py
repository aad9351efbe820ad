from __future__ import annotations

import glob

from pyspark.sql import functions as F

from lakeforge.io.sinks import (
    export_csv,
    export_parquet,
    write_partitioned_parquet,
)
from lakeforge.io.sources import read_parquet_if_exists


def test_partitioned_write_roundtrip_and_layout(spark, tmp_path):
    df = spark.createDataFrame(
        [("202201", "a", 1), ("202201", "b", 2), ("202202", "c", 3)],
        ["p_ym", "k", "v"],
    )
    out = str(tmp_path / "t")
    write_partitioned_parquet(df, out, partition_cols=["p_ym"])

    # Hive layout: one directory per partition value, one file each
    # (repartition by partition col => single writer per partition).
    for ym in ("202201", "202202"):
        files = glob.glob(f"{out}/p_ym={ym}/part-*.parquet")
        assert len(files) == 1, files

    back = spark.read.parquet(out)
    got = {(r["p_ym"], r["k"], r["v"]) for r in back.collect()}
    # partition col round-trips (type inference may widen; compare as str)
    assert {(str(a), b, c) for a, b, c in got} == {
        ("202201", "a", 1), ("202201", "b", 2), ("202202", "c", 3)
    }


def test_dynamic_partition_overwrite_rewrites_only_touched(spark, tmp_path):
    out = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("202201", 1), ("202202", 2)], ["p_ym", "v"]
    )
    write_partitioned_parquet(base, out, partition_cols=["p_ym"])

    # Overwrite only the 202202 partition; 202201 must survive.
    patch = spark.createDataFrame([("202202", 99)], ["p_ym", "v"])
    write_partitioned_parquet(patch, out, partition_cols=["p_ym"])

    got = {(str(r["p_ym"]), r["v"]) for r in spark.read.parquet(out).collect()}
    assert got == {("202201", 1), ("202202", 99)}


def test_export_csv_single_file_with_header(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "name"])
    out = str(tmp_path / "csv")
    export_csv(df, out, single_file=True)
    files = glob.glob(f"{out}/part-*.csv")
    assert len(files) == 1
    lines = open(files[0]).read().strip().splitlines()
    assert lines[0] == "id,name"
    assert sorted(lines[1:]) == ["1,x", "2,y"]


def test_export_parquet_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, 2.5)], ["id", "val"])
    out = str(tmp_path / "pq")
    export_parquet(df, out)
    assert spark.read.parquet(out).collect() == df.collect()


def test_read_parquet_if_exists_missing_path(spark, tmp_path):
    assert read_parquet_if_exists(spark, str(tmp_path / "nope")) is None


def test_write_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """Real JDBC sink test against Derby (embedded, ships with Spark) —
    exercises the same codepath as the reference's Postgres bulk load
    (driver/batchsize/numPartitions options), no external DB needed."""
    from lakeforge.io.sinks import write_jdbc

    url = f"jdbc:derby:{tmp_path}/dwh;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    df = spark.createDataFrame(
        [(1, "a", 10.5), (2, "b", 20.25), (3, "c", 30.0)], ["id", "name", "val"]
    )
    write_jdbc(
        df, url=url, table="dim_test", user="", password="",
        driver=driver, num_partitions=2, batchsize=100,
        mode="overwrite", truncate=False,
    )
    back = (
        spark.read.format("jdbc")
        .option("url", url).option("dbtable", "dim_test")
        .option("driver", driver).load()
    )
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )

    # Overwrite replaces, not appends.
    write_jdbc(
        df.limit(1), url=url, table="dim_test", user="", password="",
        driver=driver, num_partitions=1, mode="overwrite", truncate=False,
    )
    assert (
        spark.read.format("jdbc")
        .option("url", url).option("dbtable", "dim_test")
        .option("driver", driver).load().count()
        == 1
    )


def test_orc_roundtrip_partitioned(spark, tmp_path):
    from lakeforge.io.sinks import write_orc
    from lakeforge.io.sources import read_orc

    df = spark.createDataFrame(
        [(1, "a", "2022-01"), (2, "b", "2022-01"), (3, "c", "2022-02")],
        ["id", "v", "p_ym"],
    )
    path = str(tmp_path / "orc_tbl")
    write_orc(df, path, partition_by=["p_ym"])
    # one file per hive partition (single-writer discipline)
    for ym in ("2022-01", "2022-02"):
        files = glob.glob(f"{path}/p_ym={ym}/*.orc")
        assert len(files) == 1, files
    back = read_orc(spark, path)
    got = sorted((r["id"], r["v"], r["p_ym"]) for r in back.collect())
    assert got == [(1, "a", "2022-01"), (2, "b", "2022-01"), (3, "c", "2022-02")]


def test_csv_permissive_corrupt_record_capture(spark, tmp_path):
    """Reference S1 parity: PERMISSIVE mode nulls unparseable fields rather
    than failing the job; adding the corrupt-record column to the schema
    quarantines the raw bad line for later inspection (the bronze-layer
    pattern: never lose input, never fail ingest on one bad row)."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from lakeforge.io.sources import read_csv

    p = tmp_path / "c"
    p.mkdir()
    (p / "a.csv").write_text("id,qty\n1,10\n2,notanumber\n3,30\n")
    schema = StructType(
        [
            StructField("id", IntegerType(), True),
            StructField("qty", IntegerType(), True),
            StructField("_corrupt_record", StringType(), True),
        ]
    )
    df = read_csv(spark, str(p), schema).cache()  # cache: corrupt col needs it
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["qty"] == 10 and rows[1]["_corrupt_record"] is None
    assert rows[2]["qty"] is None  # unparseable field nulled, row kept
    assert rows[2]["_corrupt_record"] == "2,notanumber"  # raw line preserved
    assert rows[3]["qty"] == 30
    df.unpersist()


def test_read_json_with_enforced_schema(spark, tmp_path):
    from lakeforge.io.sources import read_json

    p = tmp_path / "j"
    p.mkdir()
    (p / "a.jsonl").write_text(
        '{"id": 1, "name": "x", "score": 1.5}\n'
        '{"id": 2, "name": "y", "score": null}\n'
        '{"id": 3, "name": null, "score": 2.25, "extra": "dropped"}\n'
    )
    df = read_json(spark, str(p), schema="id bigint, name string, score double")
    assert df.columns == ["id", "name", "score"]
    got = sorted(tuple(r) for r in df.collect())
    assert got == [(1, "x", 1.5), (2, "y", None), (3, None, 2.25)]


def test_postgres_ddl_from_gold_schema(spark):
    """DDL generation closes the reference's declared-but-absent
    db/init/01_ddl.sql (README.md:186-191): types mirror Spark's JDBC
    Postgres dialect so hand-applied DDL matches what write_jdbc creates."""
    from decimal import Decimal

    from lakeforge.io.ddl import postgres_ddl, star_schema_ddl

    df = spark.createDataFrame(
        [(1, "x", Decimal("1.50"), True)],
        "account_sk bigint, acc_no string, bal decimal(18,2), is_current boolean",
    )
    ddl = postgres_ddl(df, "dim_account", primary_key=["account_sk"])
    assert "CREATE TABLE IF NOT EXISTS dim_account" in ddl
    assert "account_sk BIGINT" in ddl
    assert "acc_no TEXT" in ddl
    assert "bal NUMERIC(18,2)" in ddl
    assert "is_current BOOLEAN" in ddl
    assert "PRIMARY KEY (account_sk)" in ddl

    full = star_schema_ddl({"dim_account": df, "bridge": df.select("acc_no")})
    assert full.count("CREATE TABLE") == 2
