"""Conformance queries batch #34 (q364+) — top-k tie semantics,
Poisson-bootstrap confidence interval, entity-linkage evaluation,
RFM segment migration, and one-hop graph message passing (the
long-form SpMM primitive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, r6, register



# ---------------------------------------------------------------------------
# Q364 — top-k under the three ranking-tie semantics
# ---------------------------------------------------------------------------
# How many rows "top 100 by quantity" actually selects per flag
# under ROW_NUMBER (exactly k), RANK (k + co-tied overflow), and
# DENSE_RANK (all rows in the top k distinct values) — the semantics
# choice every top-k report silently makes.  Quantities are
# integer-valued so the tie structure is identical in both engines.
_Q364_K = 100

_Q364_ORACLE = f"""
    WITH ranked AS (
      SELECT l_returnflag,
             ROW_NUMBER() OVER w AS rn,
             RANK() OVER w AS rk,
             DENSE_RANK() OVER w AS drk
      FROM lineitem
      WINDOW w AS (PARTITION BY l_returnflag
                   ORDER BY l_quantity DESC, l_orderkey, l_linenumber)
    )
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN rn <= {_Q364_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_row_number,
           CAST(SUM(CASE WHEN rk <= {_Q364_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rank,
           CAST(SUM(CASE WHEN drk <= {_Q364_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dense_rank
    FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag
"""


@register(
    "q364_topk_tie_semantics",
    _Q364_ORACLE,
    doc="Top-100-by-quantity cardinality under ROW_NUMBER vs RANK vs "
    "DENSE_RANK in one window pass (shared sort) — pins the "
    "tie-handling semantics of every 'top-k' report; RANK counts "
    "co-tied overflow, DENSE_RANK admits whole value classes.",
)
def q364(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_quantity").desc(), "l_orderkey", "l_linenumber"
    )
    ranked = li.select(
        "l_returnflag",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
    )
    cnt = lambda c: F.sum(F.when(c <= _Q364_K, 1).otherwise(0)).cast("bigint")
    return (
        ranked.groupBy("l_returnflag")
        .agg(
            cnt(F.col("rn")).alias("n_row_number"),
            cnt(F.col("rk")).alias("n_rank"),
            cnt(F.col("drk")).alias("n_dense_rank"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Q365 — Poisson-bootstrap confidence interval for the mean
# ---------------------------------------------------------------------------
# 32 bootstrap replicates in ONE pass: each (row, replicate) draws a
# Poisson(1) multiplicity from the md5 uniform via literal
# inverse-CDF thresholds (q162's single-draw mechanism, extended to
# a replicate spine), replicate means are exact integer ratios, and
# the CI is the 2nd/31st order statistic.  The resample-free
# distributed bootstrap: no RNG state, no per-replicate shuffle of
# the data — the corpus is read once and the 32x expansion happens
# in-plan.
_Q365_B = 32

# P(Poisson(1) <= k) thresholds for k = 0..4
_POIS = (
    "0.367879441171442",
    "0.735758882342885",
    "0.919698602928606",
    "0.981011843123846",
    "0.996340153172656",
)

_Q365_ORACLE = f"""
    WITH reps AS (SELECT unnest(generate_series(0, {_Q365_B - 1})) AS b),
    base AS (
      SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS y FROM events
    ), wts AS (
      SELECT r.b, bs.y,
             (CAST(('0x' || substr(md5('boot#' || CAST(r.b AS VARCHAR) || '#'
                 || CAST(bs.event_id AS VARCHAR)), 1, 15)) AS BIGINT)
              / 1152921504606846976.0) AS u
      FROM base bs CROSS JOIN reps r
    ), w AS (
      SELECT b, y,
             CASE WHEN u < {_POIS[0]} THEN 0
                  WHEN u < {_POIS[1]} THEN 1
                  WHEN u < {_POIS[2]} THEN 2
                  WHEN u < {_POIS[3]} THEN 3
                  WHEN u < {_POIS[4]} THEN 4
                  ELSE 5 END AS k
      FROM wts
    ), means AS (
      SELECT b, SUM(k * y) * 1.0 / SUM(k) AS m FROM w GROUP BY b
    ), ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rn FROM means
    )
    SELECT ROUND(MIN(CASE WHEN rn = 2 THEN m END) + 5e-12, 6) AS ci_lo,
           ROUND(MIN(CASE WHEN rn = {_Q365_B - 1} THEN m END) + 5e-12, 6)
             AS ci_hi,
           ROUND(AVG(m) + 5e-12, 6) AS boot_mean
    FROM ranked
"""


@register(
    "q365_bootstrap_ci",
    _Q365_ORACLE,
    doc=f"~95% bootstrap CI for the mean from {_Q365_B} Poisson(1) "
    "replicates computed in ONE data pass (literal replicate spine "
    "x md5 inverse-CDF multiplicities — q162's mechanism at full "
    "CI strength).  Replicate means are exact integer ratios; the "
    "interval is an order statistic of 32 values.  No resample "
    "shuffle, no RNG state, cluster-size invariant.",
)
def q365(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import H60_MAX, h60_sql

    from model_presto_spark.io import spread

    # the broadcast crossJoin keeps the probe side's partitioning, and
    # the events scan is one small file — without spread() all
    # n_events * B h60 draws (the dominant cost) run on one core
    ev = spread(_t(spark, sf_dir, "events"))
    base = ev.select(
        "event_id", F.round(F.col("value") * 100).cast("bigint").alias("y")
    )
    reps = spark.range(_Q365_B).select(F.col("id").alias("b"))
    u = F.expr(
        h60_sql("concat('boot#', CAST(b AS STRING), '#', CAST(event_id AS STRING))")
    ) / F.lit(H60_MAX)
    k = (
        F.when(u < float(_POIS[0]), 0)
        .when(u < float(_POIS[1]), 1)
        .when(u < float(_POIS[2]), 2)
        .when(u < float(_POIS[3]), 3)
        .when(u < float(_POIS[4]), 4)
        .otherwise(5)
    )
    means = (
        base.crossJoin(F.broadcast(reps))
        .withColumn("k", k)
        .groupBy("b")
        .agg((F.sum(F.col("k") * F.col("y")) * 1.0 / F.sum("k")).alias("m"))
    )
    ranked = means.withColumn(
        "rn", F.row_number().over(Window.orderBy("m"))
    )
    return ranked.agg(
        F.round(F.min(F.when(F.col("rn") == 2, F.col("m"))) + 5e-12, 6).alias(
            "ci_lo"
        ),
        F.round(
            F.min(F.when(F.col("rn") == _Q365_B - 1, F.col("m"))) + 5e-12, 6
        ).alias("ci_hi"),
        F.round(F.avg("m") + 5e-12, 6).alias("boot_mean"),
    )


# ---------------------------------------------------------------------------
# Q366 — entity-linkage evaluation (precision/recall vs planted truth)
# ---------------------------------------------------------------------------
# The QA step q86's fuzzy linkage lacks: corrupt the registry
# IN-PLAN with a KNOWN mapping (every 3rd supplier's name tail
# mangled), link back with the same block + levenshtein + best-match
# plan, then score predicted links against the planted truth.
# Evaluation-driven-development for record linkage.
_Q366_ORACLE = """
    WITH corrupted AS (
      SELECT s_suppkey AS true_key,
             s_suppkey + 1000 AS rec_id,
             CASE WHEN s_suppkey % 3 = 0
                  THEN substr(s_name, 1, length(s_name) - 2) || 'xx'
                  ELSE s_name END AS rec_name,
             s_nationkey
      FROM supplier
    ), block AS (
      SELECT c.rec_id, c.true_key, s.s_suppkey AS cand_key,
             levenshtein(c.rec_name, s.s_name) AS lev
      FROM corrupted c JOIN supplier s ON s.s_nationkey = c.s_nationkey
      WHERE levenshtein(c.rec_name, s.s_name) <= 2
    ), best AS (
      SELECT rec_id, true_key, cand_key,
             ROW_NUMBER() OVER (PARTITION BY rec_id
                                ORDER BY lev, cand_key) AS rn
      FROM block
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pred,
           CAST(SUM(CASE WHEN cand_key = true_key THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST((SELECT COUNT(*) FROM corrupted) AS BIGINT) AS n_truth,
           ROUND(SUM(CASE WHEN cand_key = true_key THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*) + 5e-12, 6) AS precision,
           ROUND(SUM(CASE WHEN cand_key = true_key THEN 1 ELSE 0 END) * 1.0
                 / (SELECT COUNT(*) FROM corrupted) + 5e-12, 6) AS recall
    FROM best WHERE rn = 1
"""


@register(
    "q366_linkage_eval",
    _Q366_ORACLE,
    doc="Linkage quality audit: registry corrupted in-plan with a "
    "KNOWN key mapping, re-linked by the q86 block + levenshtein + "
    "deterministic best-match plan, and scored — precision over "
    "predicted links, recall over planted truth.  The evaluation "
    "loop that makes fuzzy-matching thresholds tunable instead of "
    "guessed.",
)
def q366(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    corrupted = s.select(
        F.col("s_suppkey").alias("true_key"),
        (F.col("s_suppkey") + 1000).alias("rec_id"),
        F.when(
            F.col("s_suppkey") % 3 == 0,
            F.concat(
                F.expr("substr(s_name, 1, length(s_name) - 2)"), F.lit("xx")
            ),
        )
        .otherwise(F.col("s_name"))
        .alias("rec_name"),
        F.col("s_nationkey").alias("rec_nat"),
    )
    block = (
        corrupted.join(
            F.broadcast(s), F.col("rec_nat") == F.col("s_nationkey")
        )
        .withColumn("lev", F.levenshtein(F.col("rec_name"), F.col("s_name")))
        .filter(F.col("lev") <= 2)
    )
    w = Window.partitionBy("rec_id").orderBy("lev", "s_suppkey")
    best = block.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    n_truth = corrupted.agg(F.count(F.lit(1)).alias("n_truth"))
    correct = F.sum(
        F.when(F.col("s_suppkey") == F.col("true_key"), 1).otherwise(0)
    )
    return (
        best.crossJoin(F.broadcast(n_truth))
        .groupBy("n_truth")
        .agg(
            F.count(F.lit(1)).alias("n_pred"),
            correct.cast("bigint").alias("n_correct"),
            r6(correct * 1.0 / F.count(F.lit(1))).alias("precision"),
            r6(correct * 1.0 / F.col("n_truth")).alias("recall"),
        )
        .select("n_pred", "n_correct", "n_truth", "precision", "recall")
    )


# ---------------------------------------------------------------------------
# Q367 — RFM segment migration (first half vs second half of month)
# ---------------------------------------------------------------------------
# Customers' monetary-tercile segment in Jan 1-15 vs Jan 16-30, with
# absence as segment 0 — the segment-transition report grafted from
# q119's RFM terciles onto q361's state-machine shape.  ntile runs
# on (rounded cents, user) so tercile boundaries are deterministic.
_Q367_ORACLE = """
    WITH spend AS (
      SELECT user_id,
             CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 1 ELSE 2 END AS half,
             CAST(SUM(ROUND(value * 100)) AS BIGINT) AS m_c
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    ), seg AS (
      SELECT user_id, half,
             NTILE(3) OVER (PARTITION BY half ORDER BY m_c, user_id) AS seg
      FROM spend
    ), users AS (SELECT DISTINCT user_id FROM events),
    pivoted AS (
      SELECT u.user_id,
             COALESCE(MAX(CASE WHEN s.half = 1 THEN s.seg END), 0) AS seg_h1,
             COALESCE(MAX(CASE WHEN s.half = 2 THEN s.seg END), 0) AS seg_h2
      FROM users u LEFT JOIN seg s ON s.user_id = u.user_id
      GROUP BY u.user_id
    )
    SELECT CAST(seg_h1 AS BIGINT) AS seg_h1,
           CAST(seg_h2 AS BIGINT) AS seg_h2,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM pivoted GROUP BY 1, 2 ORDER BY 1, 2
"""


@register(
    "q367_segment_migration",
    _Q367_ORACLE,
    doc="Monetary-tercile segment migration between month halves "
    "(absence = segment 0): per-half spend rollup, deterministic "
    "ntile on (cents, user), conditional pivot per user, 4x4 "
    "transition rollup — q119's RFM segments run through q361's "
    "state-machine shape.",
)
def q367(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id",
            F.when(F.dayofmonth("ts") <= 15, 1).otherwise(2).alias("half"),
        )
        .agg(F.sum(F.round(F.col("value") * 100)).cast("bigint").alias("m_c"))
    )
    w = Window.partitionBy("half").orderBy("m_c", "user_id")
    seg = spend.withColumn("seg", F.ntile(3).over(w))
    users = ev.select("user_id").distinct()
    pivoted = (
        users.join(seg.withColumnRenamed("user_id", "s_user"),
                   F.col("user_id") == F.col("s_user"), "left")
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("half") == 1, F.col("seg"))), F.lit(0)
            ).alias("seg_h1"),
            F.coalesce(
                F.max(F.when(F.col("half") == 2, F.col("seg"))), F.lit(0)
            ).alias("seg_h2"),
        )
    )
    return (
        pivoted.groupBy(
            F.col("seg_h1").cast("bigint").alias("seg_h1"),
            F.col("seg_h2").cast("bigint").alias("seg_h2"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("seg_h1", "seg_h2")
    )


# ---------------------------------------------------------------------------
# Q368 — one-hop message passing (long-form SpMM)
# ---------------------------------------------------------------------------
# GNN-style neighborhood aggregation: h'(v, d) = sum over in-edges
# (u -> v) of h(u, d), stated as the long-form sparse-matrix
# multiply — edges join features on the source node, groupBy
# (dst, dim).  Features are a deterministic integer function of
# (node, dim) so the whole hop is integer-exact.  At 100 TB this is
# THE shape of distributed GNN propagation: both relations shuffle
# once on the join key, the aggregation is map-side combined.
_Q368_ORACLE = """
    WITH e AS (
      SELECT DISTINCT CAST(o_custkey % 200 AS BIGINT) AS u,
                      CAST(o_orderkey % 200 AS BIGINT) AS v
      FROM orders WHERE o_custkey % 200 <> o_orderkey % 200
    ), dims AS (SELECT unnest(generate_series(0, 3)) AS d),
    feat AS (
      SELECT n.u AS node, dm.d, CAST((n.u * 7 + dm.d) % 11 AS BIGINT) AS x
      FROM (SELECT DISTINCT u
            FROM (SELECT u FROM e UNION ALL SELECT v FROM e)) n
      CROSS JOIN dims dm
    )
    SELECT e.v AS node, f.d,
           CAST(SUM(f.x) AS BIGINT) AS msg_sum,
           CAST(COUNT(*) AS BIGINT) AS deg_in
    FROM e JOIN feat f ON f.node = e.u
    GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 100
"""


@register(
    "q368_message_passing",
    _Q368_ORACLE,
    doc="One-hop GNN message passing as long-form SpMM: edges join "
    "node features on the source, aggregate per (dst, dim) — one "
    "co-partitioned shuffle + map-side combine, the scale shape of "
    "distributed graph feature propagation (and of every sparse "
    "A^T X product).  Integer features keep the hop exact.",
)
def q368(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    e = (
        o.select(
            (F.col("o_custkey") % 200).cast("bigint").alias("u"),
            (F.col("o_orderkey") % 200).cast("bigint").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    dims = spark.range(4).select(F.col("id").alias("d"))
    feat = nodes.crossJoin(F.broadcast(dims)).select(
        "node", "d", ((F.col("node") * 7 + F.col("d")) % 11).cast("bigint").alias("x")
    )
    return (
        e.join(feat, e.u == feat.node)
        .groupBy(F.col("v").alias("out_node"), "d")
        .agg(
            F.sum("x").cast("bigint").alias("msg_sum"),
            F.count(F.lit(1)).alias("deg_in"),
        )
        .select(F.col("out_node").alias("node"), "d", "msg_sum", "deg_in")
        .orderBy("node", "d")
        .limit(100)
    )
