"""Domain-mix planning: per-source sampling rates toward a target
token mix, applied deterministically.

The training-data question this answers: "given these corpora and a
total token budget, what fraction of each source do I keep so the
mix hits the target proportions?" — the planning step behind
Pile/Dolma-style mixture weights. Two pieces:

- ``mix_plan``: one aggregation over the corpus (per-source doc and
  token totals), then pure column math — share-normalized target
  weights, keep_rate = min(1, budget * share / source_tokens). The
  plan is a ~#sources-row table; at 100 TB that's the only full-scan
  pass and its shuffle carries one row per source.
- ``apply_mix``: broadcast the plan back and keep a document iff its
  md5-derived hash coin lands under the source's rate
  (``h60('mix#'||id) % 1e6 < floor(rate * 1e6)``). No RNG state, no
  partition-order dependence: the same document set survives on any
  cluster size, any retry, and any engine that replays the md5
  convention — the same determinism contract as
  splits.hash_rank_sample, but O(1) per row (no per-stratum sort),
  which is what you want when the corpus is 100 TB and the plan is
  20 rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from model_presto_spark.functions.text import h60_sql

_SCALE = 1_000_000


def mix_plan(
    df: DataFrame,
    source_col: str,
    weight: Column,
    token_count: Column,
    budget_tokens: int,
    max_epochs: float = 1.0,
) -> DataFrame:
    """Per-source plan: (source, n_docs, n_tokens, keep_rate).

    ``weight`` is the target-mix weight expression for a row's source
    (normalized internally); ``token_count`` counts a row's tokens.
    Sources whose budget share exceeds their actual tokens are capped
    at keep_rate 1.0 (their surplus is NOT redistributed — rates stay
    a one-pass closed form; re-plan with a higher budget if exact
    attainment matters).
    """
    per_src = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count).cast("bigint").alias("n_tokens"),
        F.first(weight).alias("__w"),
    )
    total_w = F.sum("__w").over(Window.partitionBy())
    share = F.col("__w") / total_w
    # max_epochs > 1 allows up-sampling small high-weight sources:
    # a rate of 2.6 means two full passes plus a 60% hash-sampled
    # third (applied by apply_mix_epochs)
    rate = F.least(
        F.lit(float(max_epochs)),
        F.lit(float(budget_tokens)) * share / F.col("n_tokens").cast("double"),
    )
    return per_src.select(
        source_col, "n_docs", "n_tokens", rate.alias("keep_rate")
    )


def apply_mix(
    df: DataFrame,
    plan: DataFrame,
    source_col: str,
    id_col: str,
    salt: str = "mix",
) -> DataFrame:
    """Keep each row iff its deterministic hash coin is under its
    source's keep_rate. The plan side is broadcast (#sources rows)."""
    coin = F.expr(h60_sql(f"concat('{salt}#', CAST({id_col} AS STRING))")) % _SCALE
    thresh = F.floor(F.col("keep_rate") * _SCALE)
    return (
        df.join(F.broadcast(plan.select(source_col, "keep_rate")), source_col)
        .filter(coin < thresh)
        .drop("keep_rate")
    )


def apply_mix_epochs(
    df: DataFrame,
    plan: DataFrame,
    source_col: str,
    id_col: str,
    salt: str = "mix",
) -> DataFrame:
    """Epoch-aware application: a source's keep_rate may exceed 1
    (up-sampling). Every row gets ``floor(rate)`` full copies plus
    one more iff its hash coin lands under the fractional part —
    deterministic, O(1)/row, and the emitted ``epoch`` column
    (1-based copy index) lets downstream shuffling re-salt per copy
    so repeated documents don't co-locate. With rates <= 1 this
    degrades exactly to apply_mix (0 or 1 copies)."""
    coin = F.expr(h60_sql(f"concat('{salt}#', CAST({id_col} AS STRING))")) % _SCALE
    rate = F.col("keep_rate")
    frac_thresh = F.floor((rate - F.floor(rate)) * _SCALE)
    n_copies = (F.floor(rate) + (coin < frac_thresh).cast("int")).cast("int")
    joined = (
        df.join(F.broadcast(plan.select(source_col, "keep_rate")), source_col)
        .withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
    )
    return (
        joined.withColumn(
            "epoch", F.explode_outer(F.sequence(F.lit(1), F.col("__n")))
        )
        .drop("__n", "keep_rate")
    )
