"""Embedding quality control: per-label centroids and
distance-to-centroid z-score outliers — the sanity gate before an
embedding corpus feeds training or an ANN index (mislabeled rows,
collapsed encoders, and corrupt vectors all surface as outliers).

Scale shape: centroids come from a POSITIONAL explode
(label, pos, val) + groupBy — never ``collect_list`` of whole
vectors (that buffers a label's entire vector set on one reducer);
the assembled centroid table is #labels rows and broadcasts back.
Distance statistics are one more groupBy; everything is two shuffles
of scalar-ish rows regardless of corpus size. Distances use the
oracle-identical sequential fold (functions/vectors.py), so the
whole pipeline is DuckDB-checkable (q84).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from model_presto_spark.functions.vectors import sq_euclidean_sql


def label_centroids(
    df: DataFrame, vec_col: str, label_col: str
) -> DataFrame:
    """(label, centroid array<double>, n_vecs) via positional
    explode — the elementwise mean without materializing any label's
    vectors together."""
    pos = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(
            "pos", "val"
        ),
    )
    per_pos = pos.groupBy("label", "pos").agg(
        F.avg("val").alias("c"), F.count(F.lit(1)).alias("n")
    )
    return per_pos.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("c")))),
            lambda s: s["c"],
        ).alias("centroid"),
        F.first("n").alias("n_vecs"),
    )


def embedding_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Per-vector distance to its label centroid + z-score within the
    label; ``is_outlier`` flags z > threshold. Returns (id, label,
    dist, z, is_outlier)."""
    cents = label_centroids(df, vec_col, label_col).select(
        F.col("label"), F.col("centroid")
    )
    joined = df.select(
        F.col(id_col),
        F.col(label_col).alias("label"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).join(F.broadcast(cents), "label")
    with_d = joined.select(
        id_col, "label",
        F.expr(f"SQRT({sq_euclidean_sql('v', 'centroid')})").alias("dist"),
    )
    stats = with_d.groupBy("label").agg(
        F.avg("dist").alias("mu"), F.stddev_samp("dist").alias("sigma")
    )
    return (
        with_d.join(F.broadcast(stats), "label")
        .select(
            id_col,
            "label",
            "dist",
            ((F.col("dist") - F.col("mu")) / F.col("sigma")).alias("z"),
        )
        .withColumn("is_outlier", F.col("z") > z_threshold)
    )
