"""The registry contract: the names and order of ``workload.QUERIES`` and
``workload.ORACLE_SQL`` are what ``__spark_entry__``, ``tools/check_oracle.py``
and the benchmark look queries up by."""

from __future__ import annotations

from pathlib import Path

import pytest

from lakeforge import registry, workload

GOLDEN = Path(__file__).parent / "data" / "registry_order.txt"


def test_query_order_matches_golden():
    assert list(workload.QUERIES) == GOLDEN.read_text().split()


def test_oracles_follow_query_order():
    assert list(workload.ORACLE_SQL) == list(workload.QUERIES)


def test_register_rejects_duplicate_name():
    before = dict(registry.QUERIES), dict(registry.ORACLE_SQL)
    with pytest.raises(ValueError, match="scd2_orders"):
        registry.register("scd2_orders", workload.q_scd2_orders, "SELECT 1")
    assert (registry.QUERIES, registry.ORACLE_SQL) == before
