"""Locate the PostgreSQL JDBC driver jar (org.postgresql:postgresql).

Spark's JDBC source/sink needs the driver ON THE JVM CLASSPATH at session
start (``spark.jars``).  The jar is upstream PostgreSQL's public Maven
artifact (org.postgresql:postgresql:42.7.3); a copy is vendored under
``<repo>/lib/`` so the live-Postgres tests stand alone.  The finder
probes, in order:

1. ``$LAKEFORGE_PG_JDBC_JAR`` — explicit override (trusted as-is: the
   operator chose it);
2. ``<repo>/lib/postgresql*.jar`` — the vendored copy, **verified
   against a pinned SHA-256** before use (a jar executes with full JVM
   privileges; an unverified file in a writable directory must not
   silently reach the classpath);
3. pyspark's bundled ``jars/`` directory (part of the trusted install).

Returns None when no jar is found — callers (the live-Postgres tests)
must skip, not fail: a missing driver is an environment gap, not an
engine bug.
"""

from __future__ import annotations

import glob
import hashlib
import os

# sha256 of postgresql-42.7.3.jar as published on Maven Central.
VENDORED_JAR_SHA256 = {
    "a2644cbfba1baa145ff7e8c8ef582a6eed7a7ec4ca792f7f054122bdec756268",
}


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def find_postgres_jar() -> str | None:
    env = os.environ.get("LAKEFORGE_PG_JDBC_JAR")
    if env and os.path.isfile(env):
        return env
    here = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    for c in sorted(glob.glob(os.path.join(here, "lib", "postgresql*.jar"))):
        if os.path.isfile(c) and _sha256(c) in VENDORED_JAR_SHA256:
            return c
    try:
        import pyspark

        for c in sorted(
            glob.glob(
                os.path.join(
                    os.path.dirname(pyspark.__file__), "jars", "postgresql-*.jar"
                )
            )
        ):
            if os.path.isfile(c):
                return c
    except Exception:
        pass
    return None
