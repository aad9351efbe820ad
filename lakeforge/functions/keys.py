"""Deterministic surrogate keys (replaces reference P7 —
gold_sql_to_postgres.py:118,164; SURVEY.md §7).

The reference uses ``monotonically_increasing_id()``: values embed the
partition id, so surrogate keys differ run-to-run (golden dim_account.csv
shows values like 1486058684417).  That breaks reproducibility, incremental
rebuilds, and any cross-run comparison.

``hash_sk`` instead derives the key from content: the top 60 bits of
``md5(concat_ws(US, cols...))``.  Properties that matter at 100 TB:

- **No shuffle, no global ordering**: computed row-local in the projection —
  unlike a ``row_number()`` SK, which needs a single-partition window (a
  scalability cliff).
- **Stable across runs AND engines**: DuckDB reproduces it exactly as
  ``('0x' || substr(md5(x), 1, 15))::UBIGINT`` — which is how the driver's
  oracle checks verify our SCD2 dimensions value-for-value.
- 60-bit space => collision probability ~n^2/2^61 (≈2e-5 at 1e8 distinct
  keys); for strict uniqueness at larger scales compose with a second salt
  column or use the full 128-bit digest as two bigints.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ASCII unit separator — never appears in the data; prevents ("ab","c") and
# ("a","bc") from colliding.
_SEP = "\x1f"
# ASCII record separator — NULL sentinel, distinct from _SEP and from any
# empty string, so hash(NULL, 'x') != hash('x', NULL) != hash('', 'x').
_NULL = "\x1e"


def md5_int(*cols: Column | str) -> Column:
    """Deterministic 60-bit integer hash of the concatenated columns.

    Exactly reproducible in DuckDB/Postgres/anything with md5():
    ``('0x' || substr(md5(concat_ws(chr(31), ...)), 1, 15))::UBIGINT``.

    NULL columns hash as the chr(30) sentinel: ``concat_ws`` alone SKIPS
    nulls (making (NULL,'x'), ('x',NULL) and ('x',) collide), and the
    DuckDB twin's ``||`` would return NULL for the whole key — the
    coalesce keeps both engines total and position-sensitive on NULLs.
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    concat = F.concat_ws(
        _SEP, *[F.coalesce(c.cast("string"), F.lit(_NULL)) for c in cs]
    )
    return F.conv(F.substring(F.md5(concat), 1, 15), 16, 10).cast("bigint")


def hash_sk(*cols: Column | str) -> Column:
    """Content-addressed surrogate key over the business key columns."""
    return md5_int(*cols)


def md5_int32(col: Column | str) -> Column:
    """32-bit variant (first 8 hex digits) — used where downstream modular
    arithmetic must stay inside signed-64 range under ANSI overflow checks
    (minhash, simhash).  DuckDB: ``('0x'||substr(md5(x),1,8))::UBIGINT``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("bigint")


def duckdb_md5_int_sql(expr_parts: list[str]) -> str:
    """The DuckDB SQL text equivalent of ``md5_int`` over the given SQL
    expressions — used to build oracle queries that hash-match Spark."""
    concat = " || chr(31) || ".join(
        f"COALESCE(CAST({p} AS VARCHAR), chr(30))" for p in expr_parts
    )
    return f"CAST(('0x' || substr(md5({concat}), 1, 15)) AS UBIGINT)::BIGINT"
