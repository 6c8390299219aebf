"""Conformance queries batch #38 (q384+) — adstock media-mix fit,
exact quantile regression by candidate enumeration, vocabulary
coverage curve, cross-validation variance, and regression
discontinuity with a planted jump.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, r6, register
from model_presto_spark.plans.queries_docs import DD_TOKENS

_TOK = DD_TOKENS.format(t="text")


# ---------------------------------------------------------------------------
# Q384 — adstock (geometric carryover) media-mix fit
# ---------------------------------------------------------------------------
# Marketing-mix primitive: adstock_t = sum_i spend_i * beta^(t-i)
# (today's spend plus geometrically-decayed carryover), computed by
# the q134 running-sum factorization (sum of spend*beta^-i, scaled
# back by beta^t — no recursion), then correlated with conversions
# through the closed-form moment fit.
_Q384_B = 0.6

_Q384_ORACLE = f"""
    WITH daily AS (
      SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS spend,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
      FROM events GROUP BY 1
    ), ad AS (
      SELECT d, conv,
             SUM(spend * POW({_Q384_B}, -d))
               OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
               * POW({_Q384_B}, d) AS adstock
      FROM daily
    ), mom AS (
      SELECT COUNT(*) AS n, SUM(adstock) AS sx, SUM(conv) AS sy,
             SUM(adstock*adstock) AS sxx, SUM(adstock*conv) AS sxy,
             SUM(conv*conv) AS syy
      FROM ad
    )
    SELECT ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx) + 5e-12, 6)
             AS beta_adstock,
           ROUND((n*sxy - sx*sy)
                 / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)) + 5e-12, 6)
             AS corr,
           CAST(n AS BIGINT) AS n_days
    FROM mom
"""


@register(
    "q384_adstock_fit",
    _Q384_ORACLE,
    doc=f"Media-mix adstock (geometric carryover, beta={_Q384_B}) "
    "via the q134 running-sum factorization — the recursive decay "
    "stated as window algebra — then OLS slope + correlation of "
    "conversions on the adstocked spend from one moment "
    "aggregation.",
)
def q384(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.dayofmonth("ts").cast("bigint").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("spend"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("conv"),
    )
    run = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    ad = daily.select(
        "conv",
        (
            F.sum(F.col("spend") * F.pow(F.lit(_Q384_B), -F.col("d"))).over(run)
            * F.pow(F.lit(_Q384_B), F.col("d"))
        ).alias("adstock"),
    )
    mom = ad.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("adstock").alias("sx"),
        F.sum("conv").alias("sy"),
        F.sum(F.col("adstock") * F.col("adstock")).alias("sxx"),
        F.sum(F.col("adstock") * F.col("conv")).alias("sxy"),
        F.sum(F.col("conv") * F.col("conv")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return mom.select(
        r6(num / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))).alias(
            "beta_adstock"
        ),
        r6(
            num
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("corr"),
        F.col("n").cast("bigint").alias("n_days"),
    )


# ---------------------------------------------------------------------------
# Q385 — exact quantile regression by candidate enumeration
# ---------------------------------------------------------------------------
# tau=0.9 regression line minimizing pinball loss: an optimal
# quantile-regression line passes through two data points, so the
# exact optimum lies in the Theil-Sen candidate set (pairwise
# slopes x anchor intercepts).  The O(n^2) candidates and the
# O(n^3) loss evaluation are paid on the COLLAPSED 30-row daily
# relation (q145/q375 discipline) — exact L1-family regression
# without iterative solvers.
_Q385_TAU = 0.9

_Q385_ORACLE = f"""
    WITH daily AS (
      SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS x,
             CAST(SUM(ROUND(value*100)) AS BIGINT) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), cands AS (
      SELECT DISTINCT ROUND((b.y - a.y) * 1.0 / (b.x - a.x) + 5e-12, 6)
               AS slope
      FROM daily a JOIN daily b ON a.x < b.x
    ), icands AS (
      SELECT c.slope, ROUND(d.y - c.slope * d.x + 5e-12, 6) AS icept
      FROM cands c CROSS JOIN daily d
    ), loss AS (
      SELECT ic.slope, ic.icept,
             SUM(CASE WHEN d.y >= ic.slope * d.x + ic.icept
                      THEN {_Q385_TAU} * (d.y - ic.slope * d.x - ic.icept)
                      ELSE {1 - _Q385_TAU}
                           * (ic.slope * d.x + ic.icept - d.y) END) AS pinball
      FROM icands ic CROSS JOIN daily d
      GROUP BY 1, 2
    )
    SELECT slope, icept, ROUND(pinball + 5e-10, 4) AS pinball
    FROM loss ORDER BY pinball, slope, icept LIMIT 1
"""


@register(
    "q385_quantile_regression",
    _Q385_ORACLE,
    doc=f"Exact tau={_Q385_TAU} quantile regression: the optimum "
    "passes through two data points, so enumerate Theil-Sen slope "
    "candidates x anchor intercepts and take the pinball-loss "
    "argmin — all O(n^3) work on the collapsed 30-row daily "
    "relation, deterministic tie-break on (loss, slope, icept).  "
    "The L1-regression family without IRLS.",
)
def q385(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.dayofmonth("ts").cast("bigint").alias("x"))
        .agg(F.sum(F.round(F.col("value") * 100)).cast("bigint").alias("y"))
    )
    a = daily.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    cands = (
        a.join(b, F.col("xa") < F.col("xb"))
        .select(
            r6(
                (F.col("yb") - F.col("ya")) * 1.0 / (F.col("xb") - F.col("xa"))
            ).alias("slope")
        )
        .distinct()
    )
    icands = cands.crossJoin(daily).select(
        "slope", r6(F.col("y") - F.col("slope") * F.col("x")).alias("icept")
    )
    pts = daily.select(F.col("x").alias("px"), F.col("y").alias("py"))
    pred = F.col("slope") * F.col("px") + F.col("icept")
    pin = F.when(
        F.col("py") >= pred, _Q385_TAU * (F.col("py") - pred)
    ).otherwise((1 - _Q385_TAU) * (pred - F.col("py")))
    loss = (
        icands.crossJoin(pts)
        .groupBy("slope", "icept")
        .agg(F.round(F.sum(pin) + 5e-10, 4).alias("pinball"))
    )
    return loss.orderBy("pinball", "slope", "icept").limit(1)


# ---------------------------------------------------------------------------
# Q386 — vocabulary coverage curve
# ---------------------------------------------------------------------------
# Token mass covered by the top-k vocabulary at several k: the
# cumulative share along the frequency-ranked vocabulary — the
# planning curve for tokenizer/vocab sizing (coverage@k is what
# trades against OOV rate).  One posting-list aggregation + one
# window over the vocabulary-sized relation.
_Q386_KS = [5, 10, 20, 30]

_Q386_ORACLE = f"""
    WITH tf AS (
      SELECT unnest({_TOK}) AS tok FROM documents
    ), cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tf GROUP BY tok),
    ranked AS (
      SELECT ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rk,
             SUM(c) OVER (ORDER BY c DESC, tok ROWS UNBOUNDED PRECEDING)
               AS cum,
             SUM(c) OVER () AS tot
      FROM cnt
    )
    SELECT k.k AS vocab_size,
           ROUND(MAX(cum * 1.0 / tot) + 5e-12, 6) AS coverage
    FROM ranked CROSS JOIN (SELECT unnest({_Q386_KS!r}) AS k) k
    WHERE rk = k.k
    GROUP BY k.k ORDER BY k.k
"""


@register(
    "q386_vocab_coverage",
    _Q386_ORACLE,
    doc="Vocabulary coverage@k (token mass captured by the top-k "
    "frequency-ranked vocabulary) at four sizes: posting-list "
    "aggregation once, cumulative window over the vocabulary-sized "
    "relation, literal k spine.  The sizing curve behind "
    "tokenizer vocab decisions (complements Heaps growth q225 and "
    "Zipf q125).",
)
def q386(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    cnt = docs.selectExpr(
        f"explode_outer({T.tokens_sql('text')}) AS tok"
    ).filter(F.col("tok").isNotNull()).groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.col("c").desc(), "tok")
    ranked = cnt.select(
        F.row_number().over(w).alias("rk"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("tot"),
    )
    ks = spark.createDataFrame([(k,) for k in _Q386_KS], "k bigint")
    return (
        ranked.join(F.broadcast(ks), F.col("rk") == F.col("k"))
        .groupBy(F.col("k").alias("vocab_size"))
        .agg(r6(F.max(F.col("cum") * 1.0 / F.col("tot"))).alias("coverage"))
        .orderBy("vocab_size")
    )


# ---------------------------------------------------------------------------
# Q387 — cross-validation variance of a metric
# ---------------------------------------------------------------------------
# 5-fold CV of a fixed threshold classifier (predict purchase when
# value > 50): folds by md5 hash (uniform, reproducible), accuracy
# per fold, then the mean +- sd that belongs on every reported
# metric.  One pass + a 5-row rollup.
_Q387_ORACLE = """
    WITH base AS (
      SELECT CAST(('0x' || substr(md5('cv#' || CAST(event_id AS VARCHAR)),
                   1, 15)) AS BIGINT) % 5 AS fold,
             CASE WHEN value > 50 THEN 1 ELSE 0 END AS pred,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), per_fold AS (
      SELECT fold, COUNT(*) AS n,
             AVG(CASE WHEN pred = y THEN 1.0 ELSE 0.0 END) AS acc
      FROM base GROUP BY fold
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_folds,
           CAST(MIN(n) AS BIGINT) AS min_fold_n,
           ROUND(AVG(acc) + 5e-12, 6) AS mean_acc,
           ROUND(sqrt((SUM(acc*acc) - SUM(acc)*SUM(acc)/COUNT(*))
                      / (COUNT(*) - 1)) + 5e-12, 6) AS sd_acc
    FROM per_fold
"""


@register(
    "q387_cv_variance",
    _Q387_ORACLE,
    doc="5-fold cross-validated accuracy of a threshold classifier: "
    "hash folds (reproducible, cluster-size invariant), per-fold "
    "accuracy, mean +- sd across folds from raw power sums — the "
    "uncertainty every single-number metric report omits.",
)
def q387(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import h60_sql

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        (
            F.expr(h60_sql("concat('cv#', CAST(event_id AS STRING))")) % 5
        ).alias("fold"),
        F.when(F.col("value") > 50, 1).otherwise(0).alias("pred"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    per_fold = base.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(
            F.when(F.col("pred") == F.col("y"), 1.0).otherwise(0.0)
        ).alias("acc"),
    )
    nf = F.count(F.lit(1))
    return per_fold.agg(
        nf.alias("n_folds"),
        F.min("n").cast("bigint").alias("min_fold_n"),
        r6(F.avg("acc")).alias("mean_acc"),
        r6(
            F.sqrt(
                (
                    F.sum(F.col("acc") * F.col("acc"))
                    - F.sum("acc") * F.sum("acc") / nf
                )
                / (nf - 1)
            )
        ).alias("sd_acc"),
    )


# ---------------------------------------------------------------------------
# Q388 — regression discontinuity with a planted jump
# ---------------------------------------------------------------------------
# Sharp RD: outcome jumps by +0.5 at the value=100 cutoff (planted
# in-plan, so the estimand is KNOWN); local-linear fits on each
# side within the bandwidth, effect = right intercept minus left
# intercept at the (centered) cutoff.  Two Cramer-moment
# aggregations — the discontinuity estimator of the causal family
# with verifiable ground truth.
_Q388_CUT = 100.0
_Q388_BW = 50.0

_Q388_ORACLE = f"""
    WITH base AS (
      SELECT value - {_Q388_CUT} AS x,
             (floor(value * 100) % 100) / 100.0
               + CASE WHEN value >= {_Q388_CUT} THEN 0.5 ELSE 0.0 END AS y
      FROM events
      WHERE value >= {_Q388_CUT - _Q388_BW} AND value < {_Q388_CUT + _Q388_BW}
    ), sides AS (
      SELECT CASE WHEN x >= 0 THEN 1 ELSE 0 END AS side,
             COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*x) AS sxx, SUM(x*y) AS sxy
      FROM base GROUP BY 1
    ), fits AS (
      SELECT side, n,
             (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n AS icept
      FROM sides
    )
    SELECT ROUND(MAX(CASE WHEN side = 1 THEN icept END)
                 - MAX(CASE WHEN side = 0 THEN icept END) + 5e-12, 6)
             AS rd_effect,
           CAST(MAX(CASE WHEN side = 0 THEN n END) AS BIGINT) AS n_left,
           CAST(MAX(CASE WHEN side = 1 THEN n END) AS BIGINT) AS n_right
    FROM fits
"""


@register(
    "q388_regression_discontinuity",
    _Q388_ORACLE,
    doc=f"Sharp regression discontinuity at value={_Q388_CUT:.0f} "
    f"(bandwidth {_Q388_BW:.0f}) with a +0.5 jump planted in-plan: "
    "local-linear Cramer fits per side, effect = intercept gap at "
    "the centered cutoff.  Completes the causal family (DiD q235, "
    "IPW q360, 2SLS q291, RD here) with a known-estimand check.",
)
def q388(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    y = (F.floor(F.col("value") * 100) % 100) / 100.0 + F.when(
        F.col("value") >= _Q388_CUT, 0.5
    ).otherwise(0.0)
    base = ev.filter(
        (F.col("value") >= _Q388_CUT - _Q388_BW)
        & (F.col("value") < _Q388_CUT + _Q388_BW)
    ).select((F.col("value") - _Q388_CUT).alias("x"), y.alias("y"))
    sides = base.groupBy(
        F.when(F.col("x") >= 0, 1).otherwise(0).alias("side")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fits = sides.select(
        "side", "n", ((F.col("sy") - b * F.col("sx")) / F.col("n")).alias("icept")
    )
    return fits.agg(
        r6(
            F.max(F.when(F.col("side") == 1, F.col("icept")))
            - F.max(F.when(F.col("side") == 0, F.col("icept")))
        ).alias("rd_effect"),
        F.max(F.when(F.col("side") == 0, F.col("n")))
        .cast("bigint")
        .alias("n_left"),
        F.max(F.when(F.col("side") == 1, F.col("n")))
        .cast("bigint")
        .alias("n_right"),
    )
