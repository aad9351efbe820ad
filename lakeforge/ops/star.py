"""Star-schema builders (reference: dim_date gold_sql_to_postgres.py:67-79,
bridge :174-176, fact :179-195; SURVEY.md §2.3, §2.4).

All three are thin compositions of D2 (DISTINCT), D3 (UNION ALL) and J3
(interval join) — expressed declaratively so Catalyst fuses the distinct
into a partial+final hash aggregate (map-side combine before the shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakeforge.ops.joins import resolve_interval_key


def build_dim_date(sources: list[tuple[DataFrame, str]]) -> DataFrame:
    """UNION ALL of date columns -> DISTINCT, NULLs dropped (reference
    dim_date: gold_sql_to_postgres.py:67-79).  One column, ``dt``.

    ``sources``: (frame, date_column) pairs.  Each branch projects a single
    column before the union, so only one column ever shuffles.
    """
    branches = [
        df.select(F.col(c).cast("date").alias("dt")).filter(F.col(c).isNotNull())
        for df, c in sources
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.distinct()


def build_bridge(df: DataFrame, cols: list[str]) -> DataFrame:
    """M:N bridge = DISTINCT projection (reference: gold_sql_to_postgres.py:174-176)."""
    return df.select(*cols).distinct()


def build_snapshot_fact(
    base: DataFrame,
    dim: DataFrame,
    key: list[str],
    snapshot_col: str,
    sk_col: str,
) -> DataFrame:
    """Periodic-snapshot fact: distinct (snapshot_date, key) grain resolved
    against the SCD2 dim's validity intervals (``effective_start_date`` /
    ``effective_end_date``, as ``scd2`` names them; reference:
    gold_sql_to_postgres.py:179-195).

    The dim side is deliberately UNHINTED (broadcast_dim=False): an SCD2
    dim built from a fact stream grows with scale factor, so the join is
    left to AQE — broadcast while it fits the budget, shuffle join with
    the interval predicate as residual when it outgrows it (the same
    policy as the r9 broadcast-hint sweep; the equi-key keeps the plan a
    hash/merge join, never a nested loop)."""
    grain = (
        base.select(F.col(snapshot_col).cast("date").alias(snapshot_col), *key)
        .filter(F.col(snapshot_col).isNotNull())
        .distinct()
    )
    start_col, end_col = "effective_start_date", "effective_end_date"
    dim_slim = dim.select(sk_col, *key, start_col, end_col)
    return resolve_interval_key(
        grain, dim_slim, key, snapshot_col, start_col, end_col,
        broadcast_dim=False,
    ).select(snapshot_col, *key, sk_col)
