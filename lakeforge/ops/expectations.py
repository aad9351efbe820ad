"""Declarative data-quality expectations — the Deequ/Great-Expectations
primitive: a rule set evaluated in ONE pass over the table.

Each rule compiles to a conditional-count aggregate expression; the whole
suite becomes a single groupless aggregate, so N rules cost one scan (the
reference's silver_check.py re-scans per check — A1-A5; this generalizes
quality.table_summary's one-pass discipline to arbitrary rule sets).
The long-format result (one row per rule: evaluated / violations /
passed) is pipeline-composable: gate a write on ``violations == 0``,
trend violation counts over time, alert on deltas.

Scale notes:
- One scan, no shuffle beyond the final single-partition partial-merge of
  COUNT partials (bytes: n_rules x 8 per task).
- ``unique_key`` rules are the exception — uniqueness is inherently a
  key-group question, so each one adds one aggregate over the key (still
  map-side-combinable).  They are evaluated together with the row rules
  and unioned into the same report.
- All rules are NULL-explicit: a NULL failing a range/regex/set rule
  counts as a violation ONLY for not_null rules (SQL three-valued logic
  would silently pass NULLs through a `col > 0` check — the classic
  silent-quality-hole; here non-null rules skip NULLs by design, matching
  Deequ's completeness/compliance split).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """One expectation: ``name`` (report key), ``kind``, and parameters.

    kinds: not_null(col) | in_set(col, values) | in_range(col, lo, hi) |
    matches(col, regex) | satisfies(expr_sql) | unique_key(cols)
    """

    name: str
    kind: str
    col: str | None = None
    values: tuple = ()
    lo: float | int | str | None = None
    hi: float | int | str | None = None
    regex: str | None = None
    expr_sql: str | None = None
    cols: tuple = ()


def _row_predicate(r: Rule) -> tuple[Column, Column]:
    """(evaluated?, violated?) columns for a row-local rule."""
    c = F.col(r.col) if r.col else None
    if r.kind == "not_null":
        return F.lit(True), c.isNull()
    if r.kind == "in_set":
        return c.isNotNull(), ~c.isin(*r.values)
    if r.kind == "in_range":
        return c.isNotNull(), ~c.between(F.lit(r.lo), F.lit(r.hi))
    if r.kind == "matches":
        return c.isNotNull(), ~c.rlike(r.regex)
    if r.kind == "satisfies":
        ex = F.expr(r.expr_sql)
        # NULL result = not evaluable for this row (mirrors non-null skip).
        return ex.isNotNull(), ~F.coalesce(ex, F.lit(True))
    raise ValueError(f"unknown rule kind: {r.kind}")


def check_expectations(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate the suite; returns (rule, evaluated, violations, passed).

    ``evaluated`` counts rows the rule applied to (non-null for value
    rules, all rows for not_null, distinct keys for unique_key);
    ``violations`` counts failures among those; ``passed`` is
    violations == 0.  Deterministic output — one row per rule in
    declaration order is recovered by sorting on rule name (report
    consumers should treat it as a set).
    """
    if not rules:
        raise ValueError("check_expectations: empty rule list")
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names: {sorted(names)}")

    row_rules = [r for r in rules if r.kind != "unique_key"]
    key_rules = [r for r in rules if r.kind == "unique_key"]

    reports: list[DataFrame] = []
    if row_rules:
        aggs = []
        for r in row_rules:
            ev, bad = _row_predicate(r)
            aggs.append(
                F.sum(F.when(ev, 1).otherwise(0)).cast("bigint").alias(f"__e_{r.name}")
            )
            aggs.append(
                F.sum(F.when(ev & bad, 1).otherwise(0))
                .cast("bigint")
                .alias(f"__v_{r.name}")
            )
        wide = df.agg(*aggs)
        # wide -> long via stack: one row per rule, still a single job.
        stack_args = ", ".join(
            f"'{r.name}', __e_{r.name}, __v_{r.name}" for r in row_rules
        )
        reports.append(
            wide.select(
                F.expr(
                    f"stack({len(row_rules)}, {stack_args}) AS (rule, evaluated, violations)"
                )
            )
        )
    for r in key_rules:
        keyed = df.groupBy(*r.cols).agg(F.count(F.lit(1)).alias("__n"))
        reports.append(
            keyed.agg(
                F.lit(r.name).alias("rule"),
                F.count(F.lit(1)).cast("bigint").alias("evaluated"),
                F.sum(F.when(F.col("__n") > 1, 1).otherwise(0))
                .cast("bigint")
                .alias("violations"),
            )
        )
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out.withColumn("passed", F.col("violations") == 0)


def split_by_expectations(
    df: DataFrame, rules: list[Rule]
) -> tuple[DataFrame, DataFrame]:
    """Row-level gate: (good, quarantined) — quarantined rows carry a
    ``__failed_rules`` array naming every row-local rule they violate.

    Only row-local kinds participate (unique_key is a dataset-level
    property; gate it with ``check_expectations`` on the batch/sink side).
    Both frames come from ONE predicate projection over the scan — no
    second pass; callers typically write `good` to the main sink and
    `quarantined` to a dead-letter path (the DLT-expectations pattern).
    Works identically on batch and streaming frames (pure row-local
    Projects — no state, no watermark needed).
    """
    row_rules = [r for r in rules if r.kind != "unique_key"]
    if not row_rules:
        raise ValueError("split_by_expectations: no row-local rules")
    flags = []
    for r in row_rules:
        ev, bad = _row_predicate(r)
        flags.append(F.when(ev & bad, F.lit(r.name)))
    tagged = df.withColumn(
        "__failed_rules",
        F.array_compact(F.array(*flags)),
    )
    good = tagged.filter(F.size("__failed_rules") == 0).drop("__failed_rules")
    quarantined = tagged.filter(F.size("__failed_rules") > 0)
    return good, quarantined
