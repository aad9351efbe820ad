"""Tuned SparkSession factory (reference: C5 — bronze_to_silver.py:7-18,
gold_sql_to_postgres.py:8-17; SURVEY.md §2.7).

The reference configures AQE + shuffle sizing on every entry point; this
factory centralizes those knobs and adds the determinism pins the reference
lacks (partition-column type inference, session time zone).

Scale notes (100 TB / 1000-executor posture):
- AQE on with partition coalescing and skew-join splitting: the static
  ``shuffle.partitions`` value is only an upper bound; AQE right-sizes
  post-shuffle partitions at runtime, which is what survives a 100x scale-up.
- ``maxPartitionBytes`` 128 MB keeps scan tasks memory-bounded regardless of
  input size.
- Partition-column type inference is DISABLED: the reference's silver layout
  (``p_ym=202201/``) silently reads partition keys back as int (SURVEY.md §1);
  we pin them to the written string type.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# local[*] runs the whole engine in the driver JVM, so spark.driver.memory
# IS the executor heap: the 1g default GC-thrashes 32 concurrent tasks
# (GCLocker retry failures on broadcast builds at 10x corpora).  8g is
# still <7% of the 128 GiB box; on a real cluster this knob is irrelevant
# (executors carry their own memory setting).
DEFAULT_DRIVER_MEMORY = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")


def get_spark(
    app_name: str = "lakeforge",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults.

    ``spark.sql.shuffle.partitions`` defaults to the core count — on a
    real cluster set ~2-3x total executor cores through ``extra_conf``
    (AQE coalesces the excess).  ``extra_conf`` is applied last, so it
    overrides any default here.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-planning — coalesce small shuffle partitions,
        # split skewed ones, convert SMJ->BHJ when a side turns out small.
        .config("spark.driver.memory", DEFAULT_DRIVER_MEMORY)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Determinism pins (SURVEY.md §1, §7):
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Incremental merge rewrites only changed partitions (SURVEY.md §4).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # TIMESTAMP(NANOS) parquet columns surface as bigint nanos instead
        # of a read error (io/sources.py::read_events converts to micros).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for every pandas<->Spark boundary (LLM ops use pandas UDFs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        # Headless engine: the UI server + per-job UI state cost driver
        # CPU on every one of the bench's thousands of jobs and nothing
        # reads it here; production monitoring uses the event log /
        # history server instead (set spark.ui.enabled=true to debug).
        .config("spark.ui.enabled", "false")
        # MIN/MAX/COUNT over parquet without filters answer from footer
        # statistics instead of scanning rows — exact semantics, and at
        # 100 TB it is the difference between a metadata read and a full
        # scan for the quality-summary family.
        .config("spark.sql.parquet.aggregatePushdown", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
