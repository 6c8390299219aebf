"""Conformance queries batch #39 (q389+) — price elasticity,
indirect standardization (SMR), learning-curve harness, MCC /
balanced-accuracy metrics, and the two-sample Anderson-Darling
test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, r6, register



# ---------------------------------------------------------------------------
# Q389 — log-log price elasticity per brand
# ---------------------------------------------------------------------------
# Elasticity = d ln(quantity) / d ln(unit price) from the Cramer
# moment fit per brand (unit price = extendedprice/quantity after
# discount).  Elasticities here are negative as economics demands —
# the q372 stratum slopes seen through the standard pricing lens.
_Q389_ORACLE = """
    WITH base AS (
      SELECT p.p_brand AS brand,
             ln(l.l_quantity) AS ly,
             ln(l.l_extendedprice / l.l_quantity * (1 - l.l_discount)) AS lx
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), mom AS (
      SELECT brand, COUNT(*) AS n, SUM(lx) AS sx, SUM(ly) AS sy,
             SUM(lx*lx) AS sxx, SUM(lx*ly) AS sxy
      FROM base GROUP BY brand
    )
    SELECT brand,
           ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx) + 5e-12, 6) AS elasticity,
           CAST(n AS BIGINT) AS n
    FROM mom ORDER BY brand
"""


@register(
    "q389_price_elasticity",
    _Q389_ORACLE,
    doc="Own-price elasticity per brand from the log-log Cramer fit "
    "(one moment aggregation over the part-joined facts, part "
    "broadcast).  The pricing-team restatement of grouped OLS — "
    "elasticities land negative as theory demands.",
)
def q389(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.log(F.col("l_quantity")).alias("ly"),
        F.log(
            F.col("l_extendedprice")
            / F.col("l_quantity")
            * (1 - F.col("l_discount"))
        ).alias("lx"),
    )
    mom = base.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    return mom.select(
        "brand",
        r6(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("elasticity"),
        F.col("n").cast("bigint").alias("n"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# Q390 — indirect standardization (standardized morbidity ratio)
# ---------------------------------------------------------------------------
# Observed vs expected urgent orders per nation, where expected
# applies the GLOBAL per-year urgent rate to each nation's yearly
# volume — the epidemiology-standard control for structure (here:
# order-year mix) before comparing groups.  SMR = O/E.
_Q390_ORACLE = """
    WITH base AS (
      SELECT c.c_nationkey AS nk,
             CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS yr,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS urgent
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), ref AS (
      SELECT yr, AVG(CAST(urgent AS DOUBLE)) AS rate FROM base GROUP BY yr
    ), obs AS (
      SELECT b.nk, SUM(b.urgent) AS o, SUM(r.rate) AS e
      FROM base b JOIN ref r ON r.yr = b.yr
      GROUP BY b.nk
    )
    SELECT nk AS nationkey, CAST(o AS BIGINT) AS observed,
           ROUND(e + 5e-12, 6) AS expected,
           ROUND(o / e + 5e-12, 6) AS smr
    FROM obs ORDER BY nk
"""


@register(
    "q390_indirect_standardization",
    _Q390_ORACLE,
    doc="Standardized morbidity ratio per nation: expected urgent "
    "orders from the broadcast per-year reference rates applied to "
    "each nation's own year mix, SMR = observed/expected — the "
    "structure-adjusted group comparison (age-standardization "
    "pattern) in two aggregations.",
)
def q390(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nk"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias(
            "urgent"
        ),
    )
    ref = base.groupBy(F.col("yr").alias("r_yr")).agg(
        F.avg(F.col("urgent").cast("double")).alias("rate")
    )
    obs = (
        base.join(F.broadcast(ref), F.col("yr") == F.col("r_yr"))
        .groupBy("nk")
        .agg(F.sum("urgent").alias("o"), F.sum("rate").alias("e"))
    )
    return obs.select(
        F.col("nk").alias("nationkey"),
        F.col("o").cast("bigint").alias("observed"),
        r6(F.col("e")).alias("expected"),
        r6(F.col("o") / F.col("e")).alias("smr"),
    ).orderBy("nationkey")


# ---------------------------------------------------------------------------
# Q391 — learning-curve harness (nested hash subsets)
# ---------------------------------------------------------------------------
# Metric vs data size on NESTED subsets: the md5 uniform of the row
# id thresholds at 10/25/50/100%, so each smaller sample is a
# subset of every larger one (growth-stable sampling, the
# hash_rank_sample property) — the curve that says whether more
# data would still buy accuracy.
_Q391_PCTS = [10, 25, 50, 100]

_Q391_ORACLE = f"""
    WITH base AS (
      SELECT CAST(('0x' || substr(md5('lc#' || CAST(event_id AS VARCHAR)),
                   1, 15)) AS BIGINT) / 1152921504606846976.0 AS u,
             CASE WHEN value > 50 THEN 1 ELSE 0 END AS pred,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), fr AS (SELECT unnest({_Q391_PCTS!r}) AS pct)
    SELECT CAST(f.pct AS BIGINT) AS pct,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(CASE WHEN pred = y THEN 1.0 ELSE 0.0 END) + 5e-12, 6)
             AS accuracy
    FROM base b JOIN fr f ON b.u < f.pct / 100.0
    GROUP BY f.pct ORDER BY pct
"""


@register(
    "q391_learning_curve",
    _Q391_ORACLE,
    doc="Learning curve on NESTED hash subsets (each fraction a "
    "subset of the next — the growth-stable md5 threshold), "
    "threshold-classifier accuracy at 10/25/50/100% of the data: "
    "one scan, a 4-row literal fraction spine, banded join on the "
    "uniform.  The more-data-or-better-model diagnostic.",
)
def q391(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import H60_MAX, h60_sql

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        (
            F.expr(h60_sql("concat('lc#', CAST(event_id AS STRING))"))
            / F.lit(H60_MAX)
        ).alias("u"),
        F.when(F.col("value") > 50, 1).otherwise(0).alias("pred"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    fr = spark.createDataFrame([(p,) for p in _Q391_PCTS], "pct bigint")
    return (
        base.join(F.broadcast(fr), F.col("u") < F.col("pct") / 100.0)
        .groupBy("pct")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r6(
                F.avg(F.when(F.col("pred") == F.col("y"), 1.0).otherwise(0.0))
            ).alias("accuracy"),
        )
        .orderBy("pct")
    )


# ---------------------------------------------------------------------------
# Q392 — Matthews correlation + balanced accuracy
# ---------------------------------------------------------------------------
# The imbalance-honest metric pair from one integer confusion
# matrix: MCC = (TP*TN - FP*FN)/sqrt((TP+FP)(TP+FN)(TN+FP)(TN+FN))
# and balanced accuracy = (TPR + TNR)/2 — q29's confusion counts
# finished with the metrics that do not reward majority-class
# guessing.
_Q392_ORACLE = """
    WITH cm AS (
      SELECT CAST(SUM(CASE WHEN value > 50 AND event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN value > 50 AND event_type <> 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN value <= 50 AND event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN value <= 50 AND event_type <> 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM events
    )
    SELECT tp, fp, fn, tn,
           ROUND((tp*tn - fp*fn) * 1.0
                 / sqrt(CAST(tp+fp AS DOUBLE) * (tp+fn) * (tn+fp) * (tn+fn))
                 + 5e-12, 6) AS mcc,
           ROUND((tp * 1.0 / (tp+fn) + tn * 1.0 / (tn+fp)) / 2 + 5e-12, 6)
             AS balanced_acc
    FROM cm
"""


@register(
    "q392_mcc",
    _Q392_ORACLE,
    doc="Matthews correlation coefficient + balanced accuracy from "
    "one integer confusion pass — the class-imbalance-honest "
    "completion of the metric family (confusion q29, F1 q44, AUC "
    "q75, AP q352, calibration q92/q363).",
)
def q392(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    pos = F.col("value") > 50
    isp = F.col("event_type") == "purchase"
    cm = ev.agg(
        F.sum(F.when(pos & isp, 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when(pos & ~isp, 1).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when(~pos & isp, 1).otherwise(0)).cast("bigint").alias("fn"),
        F.sum(F.when(~pos & ~isp, 1).otherwise(0)).cast("bigint").alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        r6(
            (tp * tn - fp * fn)
            * 1.0
            / F.sqrt(
                (tp + fp).cast("double") * (tp + fn) * (tn + fp) * (tn + fn)
            )
        ).alias("mcc"),
        r6(((tp * 1.0 / (tp + fn)) + (tn * 1.0 / (tn + fp))) / 2).alias(
            "balanced_acc"
        ),
    )


# ---------------------------------------------------------------------------
# Q393 — two-sample Anderson-Darling test
# ---------------------------------------------------------------------------
# A^2 = (1/(n*m)) sum_{i<N} (M_i*N - n*i)^2 / (i*(N-i)) over the
# pooled order statistics — the tail-sensitive sibling of the KS
# test (q147): AD weights the ECDF gap by 1/(F(1-F)), so it sees
# tail differences KS's sup-norm misses.  Ties broken by a
# deterministic id epsilon (documented; both engines sort the same
# jittered axis).
_Q393_ORACLE = """
    WITH s AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g,
             ROUND(value*100) + event_id * 1e-9 AS v
      FROM events WHERE event_type IN ('purchase', 'click')
    ), pooled AS (
      SELECT g, ROW_NUMBER() OVER (ORDER BY v) AS i,
             SUM(g) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS m_i,
             SUM(g) OVER () AS n1, COUNT(*) OVER () AS nn
      FROM s
    ), agg AS (
      SELECT SUM(CASE WHEN i < nn THEN
               POW(m_i * nn - n1 * i, 2) / (CAST(i AS DOUBLE) * (nn - i))
             ELSE 0 END) AS ssum,
             MAX(n1) AS n1, MAX(nn) AS nn
      FROM pooled
    )
    SELECT ROUND(ssum / (CAST(n1 AS DOUBLE) * (nn - n1)) + 5e-12, 6) AS a2,
           CAST(n1 AS BIGINT) AS n_purchase,
           CAST(nn - n1 AS BIGINT) AS n_click
    FROM agg
"""


@register(
    "q393_anderson_darling",
    _Q393_ORACLE,
    doc="Two-sample Anderson-Darling A^2 over purchase-vs-click "
    "values: one global sort window on the pooled tagged union "
    "(the q147 KS shape), per-position 1/(F(1-F)) weighting for "
    "tail sensitivity, id-epsilon tie-break so both engines walk "
    "one deterministic order.",
)
def q393(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g"),
        (F.round(F.col("value") * 100) + F.col("event_id") * 1e-9).alias("v"),
    )
    w = Window.orderBy("v")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    pooled = s.select(
        F.row_number().over(w).alias("i"),
        F.sum("g").over(wc).alias("m_i"),
        F.sum("g").over(wall).alias("n1"),
        F.count(F.lit(1)).over(wall).alias("nn"),
    )
    term = F.when(
        F.col("i") < F.col("nn"),
        F.pow(F.col("m_i") * F.col("nn") - F.col("n1") * F.col("i"), 2)
        / (F.col("i").cast("double") * (F.col("nn") - F.col("i"))),
    ).otherwise(0.0)
    agg = pooled.agg(
        F.sum(term).alias("ssum"),
        F.max("n1").alias("n1"),
        F.max("nn").alias("nn"),
    )
    return agg.select(
        r6(
            F.col("ssum")
            / (F.col("n1").cast("double") * (F.col("nn") - F.col("n1")))
        ).alias("a2"),
        F.col("n1").cast("bigint").alias("n_purchase"),
        (F.col("nn") - F.col("n1")).cast("bigint").alias("n_click"),
    )
