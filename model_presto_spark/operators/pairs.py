"""Deterministic pair generation for contrastive / ranking training.

Contrastive embedding training needs k negatives per anchor drawn
uniformly from the corpus. The naive route — crossJoin + sample, or
an RNG column — is either O(n²) or irreproducible across retries and
cluster sizes. The scale shape: give the corpus a dense index once,
derive each anchor's k candidate indices from a cross-engine hash
(no RNG state), and resolve them with ONE equi-join on the index —
k·n joined rows total, no cross join anywhere. Re-running on the
same corpus regenerates the identical pairs (the property that makes
training-data builds idempotent, the reference's dataset.py
idempotence-key discipline applied to pair generation).

The dense index is a global row_number — one sort-shuffle of (id)
pairs only. On a 100 TB corpus where even that is unwelcome, swap in
a precomputed monotonic id; the hash-candidate machinery is
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from model_presto_spark.functions.text import h60_sql


def negative_pairs(
    df: DataFrame,
    id_col: str,
    k: int = 4,
    salt: str = "neg",
    anchor_filter=None,
) -> DataFrame:
    """k deterministic uniform negatives per anchor.

    Returns (anchor id, j, negative id). Candidate index is
    ``1 + h60(salt#id#j) mod n``; a self-collision shifts to the next
    index cyclically (never silently dropped, so every anchor gets
    exactly k negatives). ``anchor_filter`` optionally restricts
    which rows act as anchors — all rows remain candidates."""
    # referenced 3x (anchor set, size scalar, negative resolution) —
    # Spark has no cross-branch subplan reuse, so materialize the
    # (id, idx) relation once instead of re-sorting per reference
    indexed = df.select(
        F.col(id_col),
        F.row_number().over(Window.orderBy(F.col(id_col))).alias("__idx"),
    ).localCheckpoint(eager=False)
    total = indexed.agg(F.count(F.lit(1)).alias("__n"))
    anchors = indexed if anchor_filter is None else indexed.where(anchor_filter)
    cands = anchors.crossJoin(F.broadcast(total)).select(
        F.col(id_col).alias("anchor_id"),
        F.col("__idx"),
        F.col("__n"),
        F.explode_outer(
            F.array(*[F.lit(j) for j in range(1, k + 1)])
        ).alias("j"),
    )
    raw = F.pmod(
        F.expr(
            h60_sql(
                f"concat('{salt}#', CAST(anchor_id AS STRING), '#', CAST(j AS STRING))"
            )
        ),
        F.col("__n"),
    ) + F.lit(1)
    neg_idx = F.when(raw == F.col("__idx"), F.pmod(raw, F.col("__n")) + F.lit(1)).otherwise(
        raw
    )
    picked = cands.select(
        "anchor_id", "j", neg_idx.alias("__neg_idx")
    )
    return picked.join(
        indexed.select(
            F.col(id_col).alias("neg_id"), F.col("__idx").alias("__neg_idx")
        ),
        "__neg_idx",
    ).select("anchor_id", "j", "neg_id")
