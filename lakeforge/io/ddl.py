"""Postgres DDL generation from Spark schemas.

The reference declares ``db/init/01_ddl.sql`` (README.md:186-191) but the
file is absent from its repo; this closes that declared surface: generate
the DWH CREATE TABLE statements from the engine's own gold DataFrames, so
the DDL can never drift from the schema Spark actually writes over JDBC
(io/sinks.py::write_jdbc with ``truncate=true`` keeps this DDL intact on
reload).

Verification without a Postgres server (sandbox has none):

- the emitted DDL executes under DuckDB's Postgres-compatible DDL parser
  and every gold table's real rows load under it
  (tests/test_golden_medallion.py::test_star_schema_ddl_roundtrips_in_duckdb,
  with the exact 01_ddl.sql text pinned golden);
- the live JDBC round-trip runs against embedded Derby
  (tests/test_sinks.py), a different dialect.  Deltas to mind when
  pointing write_jdbc at real Postgres:

  * **String type**: Spark's PostgresDialect writes StringType as TEXT
    (this generator matches); Derby has no TEXT, so the Derby tests
    exercise VARCHAR/CLOB instead.  For Postgres columns typed uuid/
    json/jsonb, add ``stringtype=unspecified`` to the JDBC URL or the
    driver rejects TEXT parameter binds.
  * **truncate=true**: Postgres supports ``TRUNCATE TABLE`` so overwrite
    keeps this DDL (indexes, PKs) intact; Derby lacks it — Spark falls
    back to DROP+CREATE there, which is why the Derby tests can't attest
    DDL preservation and the DuckDB pin above exists.
  * **Upper/lower case**: unquoted identifiers fold to lower-case in
    Postgres, upper in Derby; the generator emits lower-case names so
    Postgres folding is a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# Spark -> Postgres type mapping (mirrors Spark's JDBC PostgresDialect so
# hand-applied DDL matches what df.write.jdbc would create).
_PG_TYPES: list[tuple[type, str]] = [
    (T.BooleanType, "BOOLEAN"),
    (T.ByteType, "SMALLINT"),
    (T.ShortType, "SMALLINT"),
    (T.IntegerType, "INTEGER"),
    (T.LongType, "BIGINT"),
    (T.FloatType, "REAL"),
    (T.DoubleType, "DOUBLE PRECISION"),
    (T.StringType, "TEXT"),
    (T.BinaryType, "BYTEA"),
    (T.DateType, "DATE"),
    (T.TimestampType, "TIMESTAMP"),
]


def pg_type(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return f"NUMERIC({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return pg_type(dt.elementType) + "[]"
    for spark_t, pg in _PG_TYPES:
        if isinstance(dt, spark_t):
            return pg
    raise ValueError(f"no Postgres mapping for Spark type {dt.simpleString()}")


def postgres_ddl(
    df: DataFrame,
    table: str,
    primary_key: list[str] | None = None,
) -> str:
    """CREATE TABLE IF NOT EXISTS statement matching ``df``'s schema
    (nullability kept)."""
    lines = []
    for f in df.schema.fields:
        null = "" if f.nullable else " NOT NULL"
        lines.append(f"    {f.name} {pg_type(f.dataType)}{null}")
    if primary_key:
        lines.append(f"    PRIMARY KEY ({', '.join(primary_key)})")
    body = ",\n".join(lines)
    return f"CREATE TABLE IF NOT EXISTS {table} (\n{body}\n);"


def star_schema_ddl(gold: dict[str, DataFrame], keys: dict[str, list[str]] | None = None) -> str:
    """The full ``01_ddl.sql`` body for a dict of gold tables."""
    keys = keys or {}
    return "\n\n".join(
        postgres_ddl(df, name, keys.get(name)) for name, df in gold.items()
    )
