"""Sources (reference: S1-S3 — bronze_to_silver.py:57-68,
gold_sql_to_postgres.py:46-50; SURVEY.md §2.1).

Scale notes:
- Schemas are always enforced (no inference scan).
- The existence probe asks Hadoop ``FileSystem``, not ``os.path.exists`` —
  the reference's driver-side filesystem check (bronze_to_silver.py:97)
  breaks on object stores (s3a/abfss).
- Filters and projections applied on top of these scans push down to the
  parquet/CSV reader via Catalyst (verify with
  ``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def data_version(path: str) -> tuple[int, int]:
    """Cheap content-version fingerprint of a parquet file/directory:
    (total bytes, max mtime_ns) over its data files.

    Used as a memo-key component wherever a driver-side artifact (trained
    codebook, exact-kNN ground truth) is cached per corpus (ADVICE r06 #1:
    keying only on (applicationId, path, params) silently served stale
    artifacts if the files at ``path`` were rewritten within one Spark
    application).  A rewrite changes bytes and/or mtime, so the memo
    recomputes; the stat walk is driver-side metadata only (no data read)
    — at 100 TB this is the same O(file count) listing any planner does.
    """
    import os

    total, newest = 0, 0
    if os.path.isfile(path):
        st = os.stat(path)
        return st.st_size, st.st_mtime_ns
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            st = os.stat(os.path.join(root, f))
            total += st.st_size
            newest = max(newest, st.st_mtime_ns)
    return total, newest


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Schema-enforced CSV scan with a header row, PERMISSIVE on malformed
    rows (reference S1: bronze_to_silver.py:57-64)."""
    return (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .schema(schema)
        .csv(path)
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (reference S2: bronze_to_silver.py:66-68)."""
    return spark.read.parquet(path)


# Session-scoped memo of ANALYZED base scans of the IMMUTABLE testdata
# tables: (applicationId, {path: DataFrame}).  One entry pair — the
# engine runs one session at a time; a fresh session (new applicationId,
# e.g. each bench pass) drops the previous session's plans wholesale.
_BASE_SCANS: list = [None, {}]


def base_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with a per-session memo of the analyzed
    base DataFrame — a catalog, not a cache (r13 opt, sub-second floor).

    Every ``spark.read.parquet(path)`` call re-runs driver-side file
    listing + footer schema inference plus a handful of py4j round trips
    (~50-100 ms); a bench pass makes ~900 such calls for the same ten
    immutable files.  Reusing the (immutable) analyzed plan is what a
    registered catalog table would give: NO data, NO results and NO
    intermediates are held — execution still scans parquet every time,
    which is why this is floor-latency work, not result caching.

    Meant for effectively-immutable inputs (the ``{sf_dir}/{table}``
    testdata): a memoized plan pins its file list.  As a stale-plan
    guard the memo key includes the path's stat identity (mtime_ns,
    size) — an in-place rewrite gets a fresh plan, the same fingerprint
    rule the PQ codebook store uses.  A directory's stat does not change
    when a file below it is rewritten or lands in a subdirectory, so
    directory datasets are never memoized.  Paths that are rewritten between queries (silver/merge
    targets) still belong on :func:`read_parquet` /
    ``spark.read.parquet`` directly.
    """
    app_id = spark.sparkContext.applicationId
    if _BASE_SCANS[0] != app_id:
        _BASE_SCANS[0] = app_id
        _BASE_SCANS[1] = {}
    if os.path.isdir(path):
        return spark.read.parquet(path)
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return spark.read.parquet(path)  # let Spark surface the error
    df = _BASE_SCANS[1].get(key)
    if df is None:
        df = spark.read.parquet(path)
        _BASE_SCANS[1][key] = df
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The testdata table ``{sf_dir}/{name}.parquet`` (memoized scan)."""
    return base_parquet(spark, f"{sf_dir}/{name}.parquet")


def _has_data_file(fs, path) -> bool:
    """True when ``path`` holds a file Spark would read as data: names that
    start with ``.``, or with ``_`` and are no ``k=v`` partition directory
    (``_SUCCESS``, ``.spark-staging-*``, ``_temporary``), are skipped, as
    in Spark's file index.  Stops at the first data file."""
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if name.startswith(".") or (name.startswith("_") and "=" not in name):
            continue
        if not st.isDirectory() or _has_data_file(fs, st.getPath()):
            return True
    return False


def read_parquet_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """Parquet scan of ``path``, or None while it holds no data files
    (reference S3, fixed).

    The reference branches initial-vs-incremental on ``os.path.exists``
    (bronze_to_silver.py:97-100); that only works on local disk.  Hadoop
    ``FileSystem`` answers for any scheme (hdfs, s3a, abfss) without a
    failed read.  A directory with no data files — empty, or left holding
    only ``_SUCCESS``/``.spark-staging-*`` by a failed first load — counts
    as missing, so that load can be replayed.
    """
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    if not fs.exists(jpath) or not _has_data_file(fs, jpath):
        return None
    return spark.read.parquet(path)


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table, normalizing ``ts`` to a microsecond timestamp.

    The driver's events.parquet has shipped ``ts`` two ways across rounds:

    - TIMESTAMP(NANOS), which Spark's parquet reader rejects
      (PARQUET_TYPE_ILLEGAL) unless ``legacy.parquet.nanosAsLong`` makes it
      arrive as bigint nanos — then converted here with integer division
      (``ts div 1000``: a double roundtrip would lose precision above
      2^53 ns, ~104 days after epoch), matching DuckDB's
      timestamp_ns -> timestamp truncation.
    - TIMESTAMP(MICROS) (current rounds), which both engines read natively —
      passed through untouched.

    Branching on the *loaded* dtype keeps one loader correct for both
    generations of testdata.  The nanosAsLong conf is a ``get_spark``
    session default (session.py); the guarded set below is a fallback for
    externally-built sessions (the driver constructs its own) — skipped
    when already configured, so a lakeforge session sees no config mutation
    at call time.
    """
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # every call site passes the immutable testdata dir, so the memoized
    # base scan applies (r13 floor opt)
    df = table(spark, sf_dir, "events")
    if dict(df.dtypes)["ts"] == "bigint":  # legacy nanos-as-long testdata
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # TIMESTAMP, not TIMESTAMP_NTZ: downstream ops use unix_micros()/window()
    # which require the instant type.  The session timezone is pinned to UTC
    # (session.py), so the NTZ->instant cast is a wall-clock no-op and epoch
    # arithmetic matches DuckDB's naive-timestamp epoch_us exactly.
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    multiline: bool = False,
) -> DataFrame:
    """JSON-lines scan with (strongly recommended) enforced schema.

    Without an explicit schema Spark runs a full inference pass over the
    input — at 100 TB that is a second read of the dataset before the real
    one.  multiline=True parses whole-file JSON arrays (no line splitting,
    not splittable across tasks — keep files small if used).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if multiline:
        reader = reader.option("multiLine", True)
    return reader.json(path)


def read_orc(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning properties as parquet
    (predicate pushdown into stripe/row-group statistics, column
    projection), for lakes standardized on ORC instead."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)
