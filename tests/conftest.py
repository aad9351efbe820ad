from __future__ import annotations

import pytest

# The registry's order is import order: load the workload before any test
# module imports a workload_* family module directly.
import lakeforge.workload  # noqa: F401
from lakeforge.session import get_spark


@pytest.fixture(scope="session")
def spark():
    extra = {"spark.ui.enabled": "false", "spark.sql.shuffle.partitions": "4"}
    # The PostgreSQL JDBC driver must be on the JVM classpath at session
    # start for the live-Postgres round-trip tests; harmless when unused.
    from lakeforge.io.jdbc_driver import find_postgres_jar

    jar = find_postgres_jar()
    if jar:
        extra["spark.jars"] = jar
    s = get_spark("lakeforge-tests", master="local[4]", extra_conf=extra)
    yield s
    s.stop()
