"""Sequence packing for LLM pretraining: lay documents end-to-end in
a deterministic pseudo-random order and cut the token stream into
fixed-length training sequences (documents split at bin boundaries —
the standard GPT-style packing that wastes zero tokens to padding
except in the final bin).

The core primitive is a **distributed prefix sum**: a naive
``SUM() OVER (ORDER BY ...)`` plans as a single-partition window —
the whole corpus through one task, unusable at 100 TB. ``prefix_sum``
instead does the classic two-phase scan:

1. range-repartition on the order key, per-partition running sums
   (parallel windows partitioned by partition id);
2. per-partition totals (one tiny relation, #partitions rows) turned
   into exclusive partition offsets with a driver-free window, then
   broadcast-joined back.

Result is identical to the global window (asserted in
tests/test_packing.py) while every heavy stage runs at full
parallelism; the only serial work is over #partitions rows.

Determinism: the order key is the md5-derived 60-bit hash of the
document key (same convention as splits.hash_rank_sample / the dedup
oracles), so the packing is reproducible across runs, engines, and
cluster sizes, and the DuckDB oracle (q74) can state the identical
global-window definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from model_presto_spark.functions.text import h60_sql


def prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "cumsum",
    partitions: int | None = None,
) -> DataFrame:
    """Inclusive prefix sum of ``value_col`` over the total order
    given by ``order_cols`` (which must be a unique key — uniqueness
    is what makes the result invariant to partition boundaries).
    Two-phase scan; no global-order single-task window."""
    spark = df.sparkSession
    n = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = df.repartitionByRange(n, *[F.col(c) for c in order_cols]).withColumn(
        "_pid", F.spark_partition_id()
    )
    per = d.groupBy("_pid").agg(F.sum(value_col).alias("_ps"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = per.select(
        "_pid", F.coalesce(F.sum("_ps").over(w_off), F.lit(0)).alias("_off")
    )
    w_loc = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        d.withColumn("_loc", F.sum(value_col).over(w_loc))
        .join(F.broadcast(offs), "_pid")
        .withColumn(out_col, (F.col("_loc") + F.col("_off")).cast("bigint"))
        .drop("_pid", "_loc", "_off")
    )


def pack_sequences(
    df: DataFrame,
    len_col: str,
    seq_len: int,
    key_col: str = "doc_id",
    salt: str = "pack",
) -> DataFrame:
    """Assign each document's tokens to fixed-length bins: documents
    are laid end-to-end in h60(salt#key) order and the stream is cut
    every ``seq_len`` tokens. Returns one row per (document, bin) the
    document occupies: ``bin_id``, ``offset_in_bin``,
    ``n_tokens_in_bin``, and ``carried`` (true when the document
    started in an earlier bin). Zero-length documents are dropped
    (they occupy no tokens).

    A shard writer consumes this relation grouped by ``bin_id``; at
    100 TB that group-by co-partitions with nothing else and each bin
    is seq_len tokens by construction, so shard sizes are exactly
    uniform (the last bin alone may be short)."""
    ranked = df.where(F.col(len_col) > 0).withColumn(
        "_rank",
        F.expr(h60_sql(f"concat('{salt}#', CAST({key_col} AS STRING))")),
    )
    cum = prefix_sum(ranked, ["_rank", key_col], len_col, "tok_end")
    lo = F.col("tok_end") - F.col(len_col)  # exclusive start offset
    first_bin = F.floor(lo / float(seq_len))
    last_bin = F.floor((F.col("tok_end") - 1) / float(seq_len))
    spans = cum.withColumn("_start", lo).withColumn(
        "bin_id", F.explode_outer(F.sequence(first_bin, last_bin))
    )
    bin_lo = F.col("bin_id") * seq_len
    bin_hi = (F.col("bin_id") + 1) * seq_len
    return spans.select(
        key_col,
        "bin_id",
        (F.greatest(F.col("_start"), bin_lo) - bin_lo)
        .cast("bigint")
        .alias("offset_in_bin"),
        (
            F.least(F.col("tok_end"), bin_hi)
            - F.greatest(F.col("_start"), bin_lo)
        )
        .cast("bigint")
        .alias("n_tokens_in_bin"),
        (F.col("_start") < bin_lo).alias("carried"),
    )
