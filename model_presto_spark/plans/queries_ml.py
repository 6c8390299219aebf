"""Conformance queries for the ML surface (SURVEY §2.10): metric
aggregates, kNN classification, deterministic masking."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, register

# ---------------------------------------------------------------------------
# Q44 — multiclass precision/recall/F1 as SQL aggregates (A14)
# ---------------------------------------------------------------------------
_Q44_PAIRS = """
      SELECT l_returnflag AS label,
             CASE WHEN l_quantity < 10 THEN 'A'
                  WHEN l_quantity < 30 THEN 'N'
                  ELSE 'R' END AS pred
      FROM lineitem
"""

_Q44_ORACLE = f"""
    WITH pairs AS ({_Q44_PAIRS}),
    sup AS (SELECT label AS cls, COUNT(*) AS support FROM pairs GROUP BY 1),
    prd AS (SELECT pred AS cls, COUNT(*) AS predicted FROM pairs GROUP BY 1),
    tp AS (SELECT label AS cls, COUNT(*) AS tp FROM pairs
           WHERE label = pred GROUP BY 1),
    allc AS (SELECT cls FROM sup UNION SELECT cls FROM prd)
    SELECT a.cls,
           COALESCE(s.support, 0) AS support,
           ROUND(COALESCE(t.tp, 0) * 1.0
                 / GREATEST(COALESCE(p.predicted, 0), 1) + 5e-12, 6) AS precision,
           ROUND(COALESCE(t.tp, 0) * 1.0
                 / GREATEST(COALESCE(s.support, 0), 1) + 5e-12, 6) AS recall,
           ROUND(2.0 * (COALESCE(t.tp, 0) * 1.0 / GREATEST(COALESCE(p.predicted, 0), 1))
                     * (COALESCE(t.tp, 0) * 1.0 / GREATEST(COALESCE(s.support, 0), 1))
                 / GREATEST(COALESCE(t.tp, 0) * 1.0 / GREATEST(COALESCE(p.predicted, 0), 1)
                          + COALESCE(t.tp, 0) * 1.0 / GREATEST(COALESCE(s.support, 0), 1),
                          1e-12) + 5e-12, 6) AS f1
    FROM allc a
    LEFT JOIN sup s ON s.cls = a.cls
    LEFT JOIN prd p ON p.cls = a.cls
    LEFT JOIN tp t ON t.cls = a.cls
"""


@register(
    "q44_multiclass_f1",
    _Q44_ORACLE,
    doc="Per-class precision/recall/F1 from confusion counts only — "
    "distributed metric aggregates, no driver-side predictions "
    "(treesat_eval.py:221-252 semantics).",
)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.ml.metrics import multiclass_f1

    li = _t(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.col("l_returnflag").alias("label"),
        F.when(F.col("l_quantity") < 10, "A")
        .when(F.col("l_quantity") < 30, "N")
        .otherwise("R")
        .alias("pred"),
    )
    out = multiclass_f1(pairs, "label", "pred")
    return out.select(
        "cls",
        "support",
        F.round(F.col("precision") + 5e-12, 6).alias("precision"),
        F.round(F.col("recall") + 5e-12, 6).alias("recall"),
        F.round(F.col("f1") + 5e-12, 6).alias("f1"),
    )


# ---------------------------------------------------------------------------
# Q45 — kNN majority-vote classification (M7/O7)
# ---------------------------------------------------------------------------
_SQDIST = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(generate_series(1, 64), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
    "* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), "
    "(acc, x) -> acc + x)"
)

_Q45_ORACLE = f"""
    WITH p AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
    scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS cid, c.label,
             {_SQDIST.format(a='p.embedding', b='c.embedding')} AS dist
      FROM p CROSS JOIN embeddings c
      WHERE p.vec_id <> c.vec_id
    ), topk AS (
      SELECT probe_id, label FROM (
        SELECT probe_id, label,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY dist ASC, cid ASC) AS rn
        FROM scored) WHERE rn <= 5
    ), votes AS (
      SELECT probe_id, label, COUNT(*) AS votes FROM topk GROUP BY 1, 2
    )
    SELECT probe_id, label AS predicted, votes FROM (
      SELECT probe_id, label, votes,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY votes DESC, label ASC) AS rn
      FROM votes) WHERE rn = 1
"""


@register(
    "q45_knn_classify",
    _Q45_ORACLE,
    doc="kNN@5 majority vote over 64-d embeddings (knn.py:4-73 "
    "semantics; deterministic vote/label tie-breaks).",
)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.knn import knn_classify

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20)
    return knn_classify(
        probes.withColumnRenamed("vec_id", "probe_id"),
        emb.withColumnRenamed("vec_id", "cid"),
        probe_id="probe_id",
        cand_id="cid",
        label_col="label",
        probe_vec="embedding",
        cand_vec="embedding",
        k=5,
        metric="sqeuclidean",
        exclude_self=True,
    )


# ---------------------------------------------------------------------------
# Q46 — deterministic hash-derived masking budget (M3)
# ---------------------------------------------------------------------------
_Q46_MASKED = (
    "len(list_filter(generate_series(0, 11), t -> "
    "CAST(('0x' || substr(md5(c_custkey || '_' || t || '#0'), 1, 15)) AS BIGINT) "
    "% 100 < 50))"
)

# random_combinations budget: 12 timesteps x 3 band-groups = a flat
# 36-token grid, draw index i = t*3 + g (masking.py random_combinations
# semantics with the same h60 draw as the Spark side).
_Q46_RC = (
    "len(list_filter(generate_series(0, 35), i -> "
    "CAST(('0x' || substr(md5(c_custkey || '_' || i || '#0'), 1, 15)) AS BIGINT) "
    "% 100 < 50))"
)


@register(
    "q46_mask_budget",
    f"""
    SELECT {_Q46_MASKED} AS budget, {_Q46_RC} AS rc_budget, COUNT(*) AS n
    FROM customer
    GROUP BY 1, 2
    """,
    doc="Hash-derived masking (masking.py:36-58,90-103 semantics, "
    "reproducible across engines/retries) — joint budget histogram of "
    "the random-timesteps and random-combinations strategies.",
)
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.io import spread
    from model_presto_spark.ml.masking import mask_budget, random_combinations_mask

    # The md5 draws are CPU-bound and the customer scan is a single
    # small file (1 partition), which would serialize the masking pass
    # onto one core — spread() first, like every other hashing-heavy
    # operator (steady 1.9 s -> 0.65 s at sf0.1 with both fixes).
    cust = spread(_t(spark, sf_dir, "customer"))
    # Shared draw stream: with group_sizes=(1,1,1) the
    # random_combinations draw index i = t*3+g runs 0..35 over the
    # SAME h60(key||'_'||i) stream that timestep_mask uses for
    # t = 0..11 (masking.py:28-44,96-103 — identical key format and
    # seed), so the timestep-mask budget is exactly the count over the
    # first 12 flags of the flattened rc grid. Materializing the flat
    # grid once (referenced twice below, so CollapseProject cannot
    # inline/duplicate it into the lambdas) replaces the 48-draw
    # two-tree form; results are identity-equal (set-compared at
    # sf0.01).
    rc = random_combinations_mask(
        "c_custkey", 12, group_sizes=(1, 1, 1), ratio=0.5, seed=0
    )
    return (
        cust.select(F.flatten(rc).alias("d"))
        .select(
            mask_budget(F.slice("d", 1, 12)).alias("budget"),
            mask_budget(F.col("d")).alias("rc_budget"),
        )
        .groupBy("budget", "rc_budget")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Q75 — exact distributed ROC-AUC (ml/metrics.binary_auc)
# ---------------------------------------------------------------------------
_Q75_ORACLE = """
    WITH scored AS (
      SELECT embedding[1] + (label - 4.5) * 0.3 AS s,
             CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
      FROM embeddings
    ), per AS (
      SELECT s, SUM(y) AS np, SUM(1 - y) AS nn
      FROM scored GROUP BY s
    ), cum AS (
      SELECT np, nn,
             SUM(nn) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cn
      FROM per
    ), tot AS (
      SELECT SUM(y) AS tp, SUM(1 - y) AS tn FROM scored
    )
    SELECT ROUND(SUM(np * (cn - nn + nn / 2.0))
                 / (tot.tp * tot.tn) + 5e-12, 6) AS auc,
           CAST(tot.tp AS BIGINT) AS n_pos,
           CAST(tot.tn AS BIGINT) AS n_neg
    FROM cum CROSS JOIN tot
    GROUP BY tot.tp, tot.tn
"""


@register(
    "q75_auc",
    _Q75_ORACLE,
    doc="Exact ROC-AUC as the Mann-Whitney rank-sum, computed without "
    "a global-order window: per-score counts (one shuffle), "
    "cumulative negatives via the two-phase distributed prefix sum, "
    "broadcast totals. Midrank tie credit. Score/label derived "
    "deterministically from the embeddings table.",
)
def q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.ml.metrics import binary_auc

    emb = _t(spark, sf_dir, "embeddings")
    scored = emb.select(
        (
            F.element_at(F.col("embedding").cast("array<double>"), 1)
            + (F.col("label") - 4.5) * 0.3
        ).alias("s"),
        (F.col("label") >= 5).cast("int").alias("y"),
    )
    return binary_auc(scored, "s", "y").select(
        F.round(F.col("auc") + 5e-12, 6).alias("auc"), "n_pos", "n_neg"
    )


# ---------------------------------------------------------------------------
# Q84 — embedding QC: distance-to-centroid outliers (ml/embedding_qc.py)
# ---------------------------------------------------------------------------
_Q84_ORACLE = """
    WITH pos AS (
      SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
    ), per_pos AS (
      SELECT label, pos, AVG(val) AS c FROM pos GROUP BY label, pos
    ), cents AS (
      SELECT label, list(c ORDER BY pos) AS centroid FROM per_pos GROUP BY label
    ), dists AS (
      SELECT e.vec_id, e.label,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, 64),
                 i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
                      * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))),
               (acc, x) -> acc + x)) AS dist
      FROM embeddings e JOIN cents c USING (label)
    ), stats AS (
      SELECT label, AVG(dist) AS mu, STDDEV_SAMP(dist) AS sigma
      FROM dists GROUP BY label
    )
    SELECT d.label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN (d.dist - s.mu) / s.sigma > 3.0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(AVG(d.dist) + 5e-10, 4) AS avg_dist,
           ROUND(MAX((d.dist - s.mu) / s.sigma) + 5e-10, 4) AS max_z
    FROM dists d JOIN stats s USING (label)
    GROUP BY d.label
"""


@register(
    "q84_embedding_qc",
    _Q84_ORACLE,
    doc="Embedding quality control per label: positional-explode "
    "centroids (no vector collect_list), broadcast back, distance "
    "z-scores, >3-sigma outlier counts (ml/embedding_qc.py). The "
    "mislabeled-row / collapsed-encoder gate before training or "
    "indexing.",
)
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.ml.embedding_qc import embedding_outliers

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_outliers(emb, "vec_id", "embedding", "label")
    return out.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("is_outlier").cast("int")).cast("bigint").alias(
            "n_outliers"
        ),
        F.round(F.avg("dist") + 5e-10, 4).alias("avg_dist"),
        F.round(F.max("z") + 5e-10, 4).alias("max_z"),
    )
