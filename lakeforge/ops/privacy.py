"""Privacy-preserving release: k-anonymity + l-diversity gating.

Training-data and analytics releases at scale need the same gate: a
row-group identified by quasi-identifier columns may only be published if
at least ``k`` records share it (k-anonymity, Sweeney 2002) and the
sensitive column takes at least ``l`` distinct values inside it
(l-diversity, Machanavalli et al. 2007) — otherwise the group is
SUPPRESSED.  Suppression is reported, not silent: the released frame
carries per-group counts, including the suppressed groups' sizes, so
downstream consumers can see what was withheld.

Scale: one groupBy on the quasi-identifier columns (map-side combinable
count + approx-exact distinct), one filter — no second scan of the fact
table; the release decision never touches row-level data again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kanon_release(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    k: int = 5,
    l_div: int = 2,
) -> DataFrame:
    """Per quasi-identifier group: (quasi..., n_rows, n_sensitive,
    released) — released iff n_rows >= k AND n_sensitive >= l_div.

    Callers publish only ``filter(released)``; the full frame (with the
    suppressed groups' sizes still visible) is the audit artifact."""
    if k < 1 or l_div < 1:
        raise ValueError(f"k and l_div must be >= 1, got k={k}, l={l_div}")
    grouped = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct(sensitive_col).cast("bigint").alias("n_sensitive"),
    )
    return grouped.withColumn(
        "released",
        (F.col("n_rows") >= k) & (F.col("n_sensitive") >= l_div),
    )


def pseudonymize(df: DataFrame, cols: list[str], salt: str) -> DataFrame:
    """Deterministic keyed pseudonymization of identifier columns: each
    value is replaced by the 60-bit md5 integer of (salt, value) — the
    same value maps to the same token EVERYWHERE, so joins and
    referential integrity survive de-identification (the property plain
    redaction destroys), while re-identification requires the salt.

    Pure column transforms (functions/keys.py::md5_int convention —
    chr(31) joiner, chr(30) NULL sentinel), zero shuffles, and exactly
    reproducible in any engine with md5() — which is what lets the
    oracle verify a privacy transform at all.  NULLs stay NULL (absence
    is not an identifier)."""
    from lakeforge.functions.keys import md5_int

    out = df
    for c in cols:
        tok = md5_int(F.lit(salt), F.col(c))
        out = out.withColumn(c, F.when(F.col(c).isNotNull(), tok))
    return out
