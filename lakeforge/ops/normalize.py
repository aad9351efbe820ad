"""Bronze -> Silver normalization (reference: P1-P4 —
bronze_to_silver.py:115-173; SURVEY.md §2.2).

One declarative op replaces the reference's five hand-written
rename/cast/filter chains.  Everything stays in whole-stage codegen; the
not-null key filter sits directly above the scan so Catalyst pushes it into
the reader.

``EntitySpec`` is the one description of an entity: the bronze schema,
the silver schema, the merge keys and the silver layout all derive from
it, so no second table lists an entity's columns.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StringType, StructField, StructType

from lakeforge.functions.dates import month_key, parse_date_multi


@dataclass(frozen=True)
class EntitySpec:
    """Declarative normalization recipe for one raw entity.

    rename: raw column -> canonical column (reference P1)
    date_cols: canonical columns to run the multi-format parser on (P3)
    key_cols: canonical columns required non-null (P2) — unparseable dates
        in key positions drop the row, matching the reference.  They are
        also the silver merge keys.
    partition_from: if set, (source_date_col, partition_col) derives the
        ``yyyyMM`` partition key (P4)
    partition_by: silver's Hive partition columns (bronze_to_silver.py:
        178-207)
    """

    rename: dict[str, str]
    date_cols: tuple[str, ...] = ()
    key_cols: tuple[str, ...] = ()
    partition_from: tuple[str, str] | None = None
    partition_by: tuple[str, ...] = ()

    @property
    def bronze_schema(self) -> StructType:
        """Enforced bronze schema (reference S1 — bronze_to_silver.py:28-55):
        all-nullable strings over the raw headers, so no inference scan."""
        return StructType([StructField(c, StringType(), True) for c in self.rename])

    @property
    def silver_schema(self) -> StructType:
        """The schema a parquet read of the silver table infers, field order
        included: data columns, then the partition columns (strings, since
        the session turns off partition type inference)."""
        cols = [*self.rename.values()]
        if self.partition_from is not None:
            cols.append(self.partition_from[1])
        data_cols = [c for c in cols if c not in self.partition_by]
        return StructType([
            StructField(c, DateType() if c in self.date_cols else StringType(), True)
            for c in [*data_cols, *self.partition_by]
        ])


def require_keys(df: DataFrame, cols: tuple[str, ...] | list[str]) -> DataFrame:
    """Conjunctive not-null filter on key columns (reference P2)."""
    pred: Column | None = None
    for c in cols:
        term = F.col(c).isNotNull()
        pred = term if pred is None else (pred & term)
    return df.filter(pred) if pred is not None else df


def normalize_entity(df: DataFrame, spec: EntitySpec) -> DataFrame:
    """Apply rename -> date parse -> key filter -> partition key derivation."""
    out = df.select(
        *[F.col(raw).alias(canon) for raw, canon in spec.rename.items()]
    )
    for c in spec.date_cols:
        out = out.withColumn(c, parse_date_multi(F.col(c)))
    out = require_keys(out, spec.key_cols)
    if spec.partition_from is not None:
        src, part = spec.partition_from
        out = out.withColumn(part, month_key(src))
    return out


# The five reference entities (bronze_to_silver.py:115-173).
REFERENCE_ENTITIES: dict[str, EntitySpec] = {
    "accounts": EntitySpec(
        rename={"Acc no": "acc_no", "Date": "date", "Status": "status"},
        date_cols=("date",),
        key_cols=("acc_no", "date", "status"),
        partition_from=("date", "p_ym"),
        partition_by=("p_ym",),
    ),
    "account_details": EntitySpec(
        rename={"Acc no": "acc_no", "Date": "date", "type": "type"},
        date_cols=("date",),
        key_cols=("acc_no", "date", "type"),
        partition_from=("date", "p_ym"),
        partition_by=("p_ym",),
    ),
    "person": EntitySpec(
        rename={"Acc no": "acc_no", "Person": "person"},
        key_cols=("acc_no", "person"),
        partition_by=("acc_no",),
    ),
    "person_profile": EntitySpec(
        rename={"Person": "person", "Name": "name", "Date": "date"},
        date_cols=("date",),
        key_cols=("person", "name", "date"),
        partition_from=("date", "p_ym"),
        partition_by=("p_ym",),
    ),
    "person_iden": EntitySpec(
        rename={"Person": "person", "Id": "id", "Date": "date"},
        date_cols=("date",),
        key_cols=("person", "id", "date"),
        partition_from=("date", "p_ym"),
        partition_by=("p_ym",),
    ),
}
