"""Feature hashing (the hashing trick) — fixed-width text vectorization.

Vocabulary-based vectorizers (TF-IDF with a fitted vocabulary) need
a global vocabulary pass and a driver-side dictionary; at 100 TB the
vocabulary itself is the scale problem. The hashing trick
(Weinberger et al. 2009, public) removes it: every token maps to
``bucket = h(token) mod dim`` with a ±1 sign from an independent
hash bit, so vectorization is a single stateless pass — no fit, no
dictionary, mergeable across shards, identical on any cluster size.
Output is the sparse (id, bucket, weight) form; densify only at the
model boundary.

md5-based hashes (``h60_sql``) keep it replayable by the DuckDB oracles;
swap ``h60_fast_sql`` in production for ~3-5x less hash CPU.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from model_presto_spark.functions.text import h60_sql, tokens_sql


def hashed_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 256,
    salt: str = "fh",
) -> DataFrame:
    """Signed hashed bag-of-words: (id, bucket, weight) rows, zero
    weights dropped. One explode + one groupBy(id, bucket) — the
    only shuffle is on the output key, token strings never move."""
    tok = F.explode_outer(F.expr(tokens_sql(text_col))).alias("__tok")
    exploded = df.select(F.col(id_col), tok)
    bucket = F.pmod(
        F.expr(h60_sql(f"concat('{salt}#', __tok)")), F.lit(dim)
    ).cast("int")
    sign = F.when(
        F.pmod(
            F.expr(h60_sql(f"concat('{salt}s#', __tok)")), F.lit(2)
        )
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        exploded.select(
            F.col(id_col),
            bucket.alias("bucket"),
            sign.alias("__sign"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.sum("__sign").cast("bigint").alias("weight"))
        .where(F.col("weight") != 0)
    )
