"""Reference-parity medallion pipeline wired from the engine's operators.

Reproduces the reference end-to-end (SURVEY.md §3):
- EP1 bronze_to_silver.py: CSV -> normalize -> CDC merge -> partitioned
  silver parquet.
- EP2 gold_sql_to_postgres.py: silver -> star schema (SCD2 dims, dim_date,
  bridge, snapshot fact).

Used by the golden-output tests (FIXTURES.md §3): from the reference's
bronze fixtures this pipeline must produce exactly the reference's golden
gold-layer CSVs (modulo surrogate keys, which are deterministic hashes here
instead of monotonically_increasing_id — compared SK-agnostically with
referential integrity checked fact->dim).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeforge.io.sources import read_csv
from lakeforge.ops.joins import broadcast_left_join, full_outer_coalesce
from lakeforge.ops.merge import merge_full_history
from lakeforge.ops.normalize import REFERENCE_ENTITIES, normalize_entity
from lakeforge.ops.scd2 import scd2
from lakeforge.ops.star import build_bridge, build_dim_date, build_snapshot_fact

# (merge keys, partition cols) per entity — bronze_to_silver.py:178-207.
ENTITY_LAYOUT: dict[str, tuple[list[str], list[str]]] = {
    name: (list(spec.key_cols), list(spec.partition_by))
    for name, spec in REFERENCE_ENTITIES.items()
}


def bronze_to_silver(
    spark: SparkSession, bronze_dir: str, silver_dir: str
) -> None:
    """EP1: ingest all five entities and CDC-merge into silver.

    The entities are independent (each merge reads and writes only its own
    silver path), so they run concurrently, one thread each: at this size
    every merge is a chain of sub-second Spark jobs, and the threads overlap
    their fixed per-job driver cost.  The workers inherit the caller's job
    group, local properties and tags.

    Each entity's merge is its own commit.  If one fails, the others still
    run to the end; then the first failure in ``REFERENCE_ENTITIES`` order
    is raised.  The entities that succeeded keep their merged silver, so
    the fix is to re-run the same bronze: the failed entities are merged,
    and for the others the merge adds no row that silver already holds."""

    def ingest(name: str) -> None:
        spec = REFERENCE_ENTITIES[name]
        raw = read_csv(spark, f"{bronze_dir}/{name}.csv", spec.bronze_schema)
        normalized = normalize_entity(raw, spec)
        keys, partitions = ENTITY_LAYOUT[name]
        merge_full_history(
            spark, normalized, f"{silver_dir}/{name}", keys, partitions
        )

    with ThreadPoolExecutor(len(REFERENCE_ENTITIES)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(ingest), name)
            for name in REFERENCE_ENTITIES
        ]
    for future in futures:  # the pool's exit waited for all of them
        future.result()


def build_gold(
    spark: SparkSession, silver_dir: str, process_ym: str | None = None
) -> dict[str, DataFrame]:
    """EP2: silver -> star schema.  ``process_ym`` scopes reads to one
    partition month (reference P9).  Silver is read with its known schema,
    so building the plan runs no schema-inference job."""

    def load(name: str) -> DataFrame:
        spec = REFERENCE_ENTITIES[name]
        df = spark.read.schema(spec.silver_schema).parquet(f"{silver_dir}/{name}")
        if process_ym and spec.partition_from is not None:
            df = df.where(F.col(spec.partition_from[1]) == process_ym)
        return df

    accounts = load("accounts")
    details = load("account_details")
    person = load("person")
    profile = load("person_profile")
    iden = load("person_iden")

    # dim_account: broadcast-left join of the two account timelines (J1),
    # then SCD2 over (status, type).
    account_timeline = broadcast_left_join(
        accounts.select("acc_no", "date", "status"),
        details.select("acc_no", "date", "type"),
        on=["acc_no", "date"],
    )
    dim_account = scd2(
        account_timeline,
        key_cols=["acc_no"],
        tracked_cols=["status", "type"],
        order_col="date",
        sk_name="account_sk",
    )

    # dim_person: full-outer aligned person timelines (J2) -> SCD2.
    person_timeline = full_outer_coalesce(
        profile.select("person", "date", "name"),
        iden.select("person", "date", "id"),
        on=["person", "date"],
    )
    dim_person = scd2(
        person_timeline,
        key_cols=["person"],
        tracked_cols=["name", "id"],
        order_col="date",
        sk_name="person_sk",
    )

    # C1 (gold_sql_to_postgres.py:115): dim_account feeds both the returned
    # dimension and the fact's interval SK resolve below — cache the staging
    # so its SCD2 plan (two window shuffles) executes once, not per sink.
    # Tracked: the caller releases it after materializing the gold sinks
    # (lakeforge/cache.py query-boundary discipline).
    from lakeforge.cache import persist_tracked

    dim_account = persist_tracked(dim_account)

    dim_date = build_dim_date(
        [(accounts, "date"), (details, "date"), (profile, "date"), (iden, "date")]
    )
    bridge = build_bridge(person, ["acc_no", "person"])
    fact = build_snapshot_fact(
        accounts.select(F.col("date").alias("snapshot_date"), "acc_no"),
        dim_account,
        key=["acc_no"],
        snapshot_col="snapshot_date",
        sk_col="account_sk",
    )
    return {
        "dim_account": dim_account,
        "dim_person": dim_person,
        "dim_date": dim_date,
        "bridge_account_person": bridge,
        "fact_account_snapshot": fact,
    }
