"""The query registry: every named query with its DuckDB oracle.

A query is added with one ``register(name, query, oracle)`` call next to
its definition.  ``lakeforge.workload`` imports the modules that register,
in a fixed order, so the registry's order is that import order.  It then
canonicalizes and reorders the registry into ``workload.QUERIES`` and
``workload.ORACLE_SQL``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def register(name: str, query: QueryFn, oracle: str) -> None:
    """Add ``query`` and its DuckDB ``oracle`` SQL under ``name``."""
    if name in QUERIES:
        raise ValueError(f"query {name!r} is already registered")
    QUERIES[name] = query
    ORACLE_SQL[name] = oracle
