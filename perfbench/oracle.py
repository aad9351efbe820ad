"""DuckDB rendition of the medallion pipeline, used to check Spark's
silver and gold outputs.

It reads the same bronze CSV files, applies the reference's
normalization (first-match date-format chain, NOT NULL keys, ``yyyyMM``
month key), collapses exact duplicates, and rebuilds the star schema with
the reference's NULL-unsafe SCD2 change filter and the engine's
content-hash surrogate keys (``lakeforge.functions.keys.md5_int``).
Comparisons are order-insensitive multiset equality (``EXCEPT ALL`` both
ways) plus row counts.
"""

from __future__ import annotations

import os

import duckdb

# (bronze columns -> silver columns, date column, month-partitioned)
ENTITIES = {
    "accounts": ({"Acc no": "acc_no", "Date": "date", "Status": "status"}, "date", True),
    "account_details": ({"Acc no": "acc_no", "Date": "date", "type": "type"}, "date", True),
    "person": ({"Acc no": "acc_no", "Person": "person"}, None, False),
    "person_profile": ({"Person": "person", "Name": "name", "Date": "date"}, "date", True),
    "person_iden": ({"Person": "person", "Id": "id", "Date": "date"}, "date", True),
}
# DEFAULT_DATE_FORMATS, same order (first match wins)
DATE_FORMATS = ("%d-%b-%y", "%Y-%m-%d", "%d/%m/%Y", "%m/%d/%Y")

GOLD_COLUMNS = {
    "dim_account": ["account_sk", "acc_no", "status", "type",
                    "effective_start_date", "effective_end_date", "is_current"],
    "dim_person": ["person_sk", "person", "name", "id",
                   "effective_start_date", "effective_end_date", "is_current"],
    "dim_date": ["dt"],
    "bridge_account_person": ["acc_no", "person"],
    "fact_account_snapshot": ["snapshot_date", "acc_no", "account_sk"],
}


def _q(c: str) -> str:
    return '"' + c + '"'


def _date(col: str) -> str:
    tries = ", ".join(f"try_strptime({col}, '{f}')" for f in DATE_FORMATS)
    return f"CAST(coalesce({tries}) AS DATE)"


def _sk(*cols: str) -> str:
    parts = ", ".join(f"coalesce(CAST({c} AS VARCHAR), chr(30))" for c in cols)
    return f"CAST(('0x' || substr(md5(concat_ws(chr(31), {parts})), 1, 15)) AS UBIGINT)::BIGINT"


def silver_oracle(con: duckdb.DuckDBPyConnection, bronze_dirs: list[str],
                  out: str = "o_") -> None:
    """Create views ``{out}<entity>``: expected silver from all bronze dirs."""
    for name, (rename, date_col, partitioned) in ENTITIES.items():
        files = [os.path.join(d, f"{name}.csv") for d in bronze_dirs]
        cols = ", ".join(f"'{raw}': 'VARCHAR'" for raw in rename)
        src = (f"read_csv({files!r}, header=true, delim=',', quote='\"', "
               f"columns={{{cols}}}, auto_detect=false)")
        sel = ", ".join(
            (_date(_q(raw)) if canon == date_col else _q(raw)) + f" AS {canon}"
            for raw, canon in rename.items()
        )
        not_null = " AND ".join(f"{c} IS NOT NULL" for c in rename.values())
        ym = f", strftime({date_col}, '%Y%m') AS p_ym" if partitioned else ""
        con.execute(
            f"CREATE OR REPLACE VIEW {out}{name} AS SELECT DISTINCT *{ym} FROM "
            f"(SELECT {sel} FROM {src}) WHERE {not_null}"
        )


def gold_oracle(con: duckdb.DuckDBPyConnection, silver: str = "o_", out: str = "og_") -> None:
    """Create views ``{out}<table>``: the expected star schema built from
    the silver views named ``{silver}<entity>``."""

    def scd2(view: str, timeline: str, key: str, a: str, b: str, sk: str) -> None:
        w = f"(PARTITION BY {key} ORDER BY date)"
        con.execute(f"""
            CREATE OR REPLACE VIEW {view} AS
            WITH t AS ({timeline}),
            l AS (SELECT *, lag({a}) OVER {w} AS pa, lag({b}) OVER {w} AS pb FROM t),
            c AS (SELECT {key}, date, {a}, {b} FROM l
                  WHERE pa IS NULL OR {a} <> pa OR {b} <> pb),
            e AS (SELECT *, lead(date) OVER {w} AS nxt FROM c)
            SELECT {_sk(key, 'date')} AS {sk}, {key}, {a}, {b},
                   date AS effective_start_date,
                   coalesce(CAST(nxt - 1 AS DATE), DATE '9999-12-31') AS effective_end_date,
                   nxt IS NULL AS is_current
            FROM e""")

    s = silver
    scd2(f"{out}dim_account",
         f"SELECT a.acc_no, a.date, a.status, d.type FROM {s}accounts a "
         f"LEFT JOIN {s}account_details d USING (acc_no, date)",
         "acc_no", "status", "type", "account_sk")
    scd2(f"{out}dim_person",
         f"SELECT coalesce(p.person, i.person) AS person, coalesce(p.date, i.date) AS date, "
         f"p.name, i.id FROM {s}person_profile p FULL OUTER JOIN {s}person_iden i "
         f"ON p.person = i.person AND p.date = i.date",
         "person", "name", "id", "person_sk")
    con.execute(
        f"CREATE OR REPLACE VIEW {out}dim_date AS SELECT DISTINCT dt FROM ("
        + " UNION ALL ".join(
            f"SELECT date AS dt FROM {s}{e} WHERE date IS NOT NULL"
            for e in ("accounts", "account_details", "person_profile", "person_iden"))
        + ")")
    con.execute(f"CREATE OR REPLACE VIEW {out}bridge_account_person AS "
                f"SELECT DISTINCT acc_no, person FROM {s}person")
    con.execute(f"""
        CREATE OR REPLACE VIEW {out}fact_account_snapshot AS
        SELECT g.snapshot_date, g.acc_no, d.account_sk
        FROM (SELECT DISTINCT date AS snapshot_date, acc_no FROM {s}accounts) g
        LEFT JOIN {out}dim_account d ON g.acc_no = d.acc_no
         AND g.snapshot_date BETWEEN d.effective_start_date AND d.effective_end_date""")


def spark_table(con: duckdb.DuckDBPyConnection, view: str, path: str) -> None:
    """View over a Spark-written parquet table (Hive partition values kept
    as strings, as the engine pins them)."""
    con.execute(
        f"CREATE OR REPLACE VIEW {view} AS SELECT * FROM read_parquet("
        f"'{path}/**/*.parquet', hive_partitioning=true, hive_types_autocast=false)"
    )


def mismatches(con: duckdb.DuckDBPyConnection, got: str, want: str,
               cols: list[str]) -> tuple[int, int, int]:
    """(rows in either multiset but not the other, rows got, rows wanted)."""
    c = ", ".join(cols)
    return con.execute(f"""
        SELECT (SELECT count(*) FROM (SELECT {c} FROM {got} EXCEPT ALL SELECT {c} FROM {want}))
             + (SELECT count(*) FROM (SELECT {c} FROM {want} EXCEPT ALL SELECT {c} FROM {got})),
               (SELECT count(*) FROM {got}), (SELECT count(*) FROM {want})""").fetchone()


def silver_columns(name: str) -> list[str]:
    rename, _date_col, partitioned = ENTITIES[name]
    return list(rename.values()) + (["p_ym"] if partitioned else [])


def check_silver(con: duckdb.DuckDBPyConnection, silver_dir: str) -> dict[str, tuple]:
    """Compare every Spark silver table with the ``o_`` views."""
    out = {}
    for name in ENTITIES:
        spark_table(con, f"s_{name}", f"{silver_dir}/{name}")
        out[name] = mismatches(con, f"s_{name}", f"o_{name}", silver_columns(name))
    return out


def check_gold(con: duckdb.DuckDBPyConnection, gold_dir: str, want: str = "og_",
               got: str = "g_") -> dict[str, tuple]:
    """Compare every Spark gold table (as views ``{got}<table>``) with the
    ``{want}<table>`` views, plus the
    fact -> dim_account referential-integrity check (``fact_ri``: fact
    rows whose surrogate key does not resolve to the account version
    valid at the snapshot date)."""
    out = {}
    for name, cols in GOLD_COLUMNS.items():
        spark_table(con, f"{got}{name}", f"{gold_dir}/{name}")
        out[f"{got}{name}"] = mismatches(con, f"{got}{name}", f"{want}{name}", cols)
    orphans = con.execute(f"""
        SELECT count(*) FROM {got}fact_account_snapshot f
        LEFT JOIN {got}dim_account d ON f.account_sk = d.account_sk AND f.acc_no = d.acc_no
         AND f.snapshot_date BETWEEN d.effective_start_date AND d.effective_end_date
        WHERE d.account_sk IS NULL""").fetchone()[0]
    n_fact = out[f"{got}fact_account_snapshot"][1]
    out[f"{got}fact_ri"] = (orphans, n_fact, n_fact)
    return out
