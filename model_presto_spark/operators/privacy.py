"""Privacy / governance operators for training-data release.

- ``k_anonymity_stats``: equivalence-class sizes over a
  quasi-identifier tuple — the k-anonymity audit (classes smaller
  than k re-identify their members).
- ``k_anonymize``: suppress (null out) the quasi-identifiers of
  every row whose equivalence class is smaller than k; rows in
  large-enough classes pass through untouched. One groupBy on the
  QI tuple + one co-partitioned join back — two shuffles total at
  any scale, no windows over the whole table.
- ``diff_snapshots``: key-level diff of two corpus snapshots
  (added / removed / changed / unchanged) via a single full outer
  join on the key plus a fingerprint comparison — the data-versioning
  primitive behind incremental re-training decisions (pairs with
  profile.psi_drift, which diffs distributions instead of rows).

Complements functions/text.scrub_pii (content-level redaction);
these operate at the record level. Public background: Sweeney's
k-anonymity model; change-data-feed diffs in lakehouse systems.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def k_anonymity_stats(
    df: DataFrame, quasi_identifiers: list[str]
) -> DataFrame:
    """(qi..., class_size, is_k_anonymous-at-k is left to the caller):
    one aggregation over the QI tuple."""
    return df.groupBy(*quasi_identifiers).agg(
        F.count("*").alias("class_size")
    )


def k_anonymize(
    df: DataFrame, quasi_identifiers: list[str], k: int = 5
) -> DataFrame:
    """Suppress quasi-identifiers of rows in classes smaller than k.

    Returns the input schema plus ``suppressed`` (boolean). The class
    sizes broadcast back when small; otherwise both sides are
    hash-partitioned on the QI tuple (co-located join). The join is
    NULL-SAFE on every quasi-identifier: rows whose QI tuple contains
    nulls form a real equivalence class and must not fail open
    (plain equality would leave their class_size null and skip
    suppression).
    """
    sizes = k_anonymity_stats(df, quasi_identifiers).select(
        *[F.col(c).alias(f"__qi_{c}") for c in quasi_identifiers],
        "class_size",
    )
    cond = None
    for c in quasi_identifiers:
        eq = df[c].eqNullSafe(sizes[f"__qi_{c}"])
        cond = eq if cond is None else (cond & eq)
    out = df.join(sizes, cond, "left")
    small = F.coalesce(F.col("class_size") < k, F.lit(False))
    cols = []
    for c in df.columns:
        if c in quasi_identifiers:
            cols.append(F.when(small, F.lit(None)).otherwise(df[c]).alias(c))
        else:
            cols.append(df[c])
    return out.select(*cols, small.alias("suppressed"))


def diff_snapshots(
    old: DataFrame,
    new: DataFrame,
    key: str,
    fingerprint_cols: list[str] | None = None,
    fast_hash: bool = True,
) -> DataFrame:
    """Key-level snapshot diff: one full outer join on the key.

    Each side is reduced to (key, fingerprint) BEFORE the join —
    xxhash64 over the compared columns (``fast_hash=False`` switches
    to the md5-based h60 that replays in a DuckDB oracle) — so the
    shuffle ships 16 bytes per row, never bodies. Output:
    (key, change), change in 'added'|'removed'|'changed'|'unchanged'.
    """
    from model_presto_spark.functions.text import h60_sql

    def fp(df: DataFrame) -> DataFrame:
        cols = fingerprint_cols or [c for c in df.columns if c != key]
        if fast_hash:
            h = F.xxhash64(*[F.col(c) for c in cols])
        else:
            args = ", ".join(f"`{c}`" for c in cols)
            h = F.expr(h60_sql(f"concat_ws('\\u001f', {args})"))
        return df.select(key, h.alias("fp"))

    o = fp(old).withColumnRenamed("fp", "fp_old")
    n = fp(new).withColumnRenamed("fp", "fp_new")
    j = o.join(n, key, "full_outer")
    return j.select(
        key,
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") != F.col("fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )
