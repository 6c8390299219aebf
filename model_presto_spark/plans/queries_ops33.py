"""Conformance queries batch #33 (q359+) — position-CTR curve,
inverse-propensity-weighted ATE, daily activity churn matrix,
Durbin-Watson autocorrelation diagnostic, and the Murphy
decomposition of the Brier score.

Conventions: md5 60-bit uniforms for coins, cents for money,
x-axes centered to small integers before moment sums, 6dp rounding
(+5e-12) on every ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, r6, register



# ---------------------------------------------------------------------------
# Q359 — click-through rate by within-session position
# ---------------------------------------------------------------------------
# The position-bias curve of search/feed analytics: CTR at rank p
# over (user, day) sessions.  One window pass + one tiny rollup.
_Q359_ORACLE = """
    WITH pos AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY ts, event_id) AS p
      FROM events
    )
    SELECT CAST(p AS BIGINT) AS position,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_click,
           ROUND(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*) + 5e-12, 6) AS ctr
    FROM pos WHERE p <= 10 GROUP BY p ORDER BY p
"""


@register(
    "q359_position_ctr",
    _Q359_ORACLE,
    doc="Position-bias CTR curve: rank within (user, day) by one "
    "entity-keyed window, click share per rank for the first 10 "
    "positions.  The propensity curve position-debiased ranking "
    "models train against.",
)
def q359(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.date_trunc("day", F.col("ts"))).orderBy(
        "ts", "event_id"
    )
    click = F.when(F.col("event_type") == "click", 1).otherwise(0)
    return (
        ev.withColumn("p", F.row_number().over(w))
        .filter(F.col("p") <= 10)
        .groupBy(F.col("p").cast("bigint").alias("position"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(click).cast("bigint").alias("n_click"),
            r6(F.sum(click) * 1.0 / F.count(F.lit(1))).alias("ctr"),
        )
        .orderBy("position")
    )


# ---------------------------------------------------------------------------
# Q360 — inverse-propensity-weighted ATE (Hajek estimator)
# ---------------------------------------------------------------------------
# Observational causal readout: treatment assigned by a seeded
# md5 coin whose threshold DEPENDS on the stratum (0.7 for
# click/view, 0.3 otherwise) — confounded by design; the stratified
# propensities e(s) = P(T=1|s) reweight both arms back to the full
# population.  Completes the causal family (q235 DiD, q291 2SLS,
# q210 CUPED) with the weighting estimator.
_Q360_ORACLE = """
    WITH base AS (
      SELECT event_type AS stratum,
             CAST(ROUND(value * 100) AS BIGINT) AS y,
             CASE WHEN (CAST(('0x' || substr(md5('trt#' ||
                          CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                        / 1152921504606846976.0)
                  < (CASE WHEN event_type IN ('click', 'view')
                          THEN 0.7 ELSE 0.3 END)
                  THEN 1 ELSE 0 END AS t
      FROM events
    ), prop AS (
      SELECT stratum, SUM(t) * 1.0 / COUNT(*) AS e FROM base GROUP BY stratum
    ), w AS (
      SELECT b.y, b.t,
             CASE WHEN b.t = 1 THEN 1.0 / p.e ELSE 1.0 / (1 - p.e) END AS wt
      FROM base b JOIN prop p ON p.stratum = b.stratum
    )
    SELECT ROUND(SUM(CASE WHEN t = 1 THEN wt * y ELSE 0 END)
                 / SUM(CASE WHEN t = 1 THEN wt ELSE 0 END)
               - SUM(CASE WHEN t = 0 THEN wt * y ELSE 0 END)
                 / SUM(CASE WHEN t = 0 THEN wt ELSE 0 END)
               + 5e-10, 4) AS ipw_ate_c,
           CAST(SUM(t) AS BIGINT) AS n_treat,
           CAST(COUNT(*) - SUM(t) AS BIGINT) AS n_control
    FROM w
"""


@register(
    "q360_ipw_ate",
    _Q360_ORACLE,
    doc="Hajek IPW average treatment effect under stratum-confounded "
    "assignment (seeded md5 coin, stratum-dependent threshold): "
    "propensities from one stratum aggregation broadcast back, one "
    "weighted pass for both arm means.  The weighting member of "
    "the causal estimator family (DiD q235, 2SLS q291, CUPED "
    "q210).",
)
def q360(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import H60_MAX, h60_sql

    ev = _t(spark, sf_dir, "events")
    uu = (
        F.expr(h60_sql("concat('trt#', CAST(event_id AS STRING))"))
        / F.lit(H60_MAX)
    )
    thr = F.when(F.col("event_type").isin("click", "view"), 0.7).otherwise(0.3)
    base = ev.select(
        F.col("event_type").alias("stratum"),
        F.round(F.col("value") * 100).cast("bigint").alias("y"),
        F.when(uu < thr, 1).otherwise(0).alias("t"),
    )
    prop = base.groupBy(F.col("stratum").alias("p_stratum")).agg(
        (F.sum("t") * 1.0 / F.count(F.lit(1))).alias("e")
    )
    w = base.join(
        F.broadcast(prop), F.col("stratum") == F.col("p_stratum")
    ).withColumn(
        "wt",
        F.when(F.col("t") == 1, 1.0 / F.col("e")).otherwise(
            1.0 / (1 - F.col("e"))
        ),
    )
    t_arm = F.sum(F.when(F.col("t") == 1, F.col("wt") * F.col("y")).otherwise(0.0)) / F.sum(
        F.when(F.col("t") == 1, F.col("wt")).otherwise(0.0)
    )
    c_arm = F.sum(F.when(F.col("t") == 0, F.col("wt") * F.col("y")).otherwise(0.0)) / F.sum(
        F.when(F.col("t") == 0, F.col("wt")).otherwise(0.0)
    )
    return w.agg(
        F.round(t_arm - c_arm + 5e-10, 4).alias("ipw_ate_c"),
        F.sum("t").cast("bigint").alias("n_treat"),
        (F.count(F.lit(1)) - F.sum("t")).cast("bigint").alias("n_control"),
    )


# ---------------------------------------------------------------------------
# Q361 — daily activity churn matrix
# ---------------------------------------------------------------------------
# Day-over-day purchase-activity transitions over a (user x day)
# spine: the churn/retention state machine (00 dormant, 01
# activation, 10 churn, 11 retention).  The spine is users x 28
# literal days — bounded by the calendar, never by events.
_Q361_ORACLE = """
    WITH days AS (SELECT unnest(generate_series(1, 28)) AS d),
    users AS (SELECT DISTINCT user_id FROM events),
    act AS (
      SELECT user_id, CAST(EXTRACT(day FROM ts) AS BIGINT) AS d
      FROM events
      WHERE event_type = 'purchase' AND EXTRACT(day FROM ts) <= 28
      GROUP BY 1, 2
    ), spine AS (
      SELECT u.user_id, dd.d,
             CASE WHEN a.user_id IS NOT NULL THEN 1 ELSE 0 END AS active
      FROM users u CROSS JOIN days dd
      LEFT JOIN act a ON a.user_id = u.user_id AND a.d = dd.d
    ), trans AS (
      SELECT active,
             LAG(active) OVER (PARTITION BY user_id ORDER BY d) AS prev
      FROM spine
    )
    SELECT CAST(prev AS BIGINT) AS was_active,
           CAST(active AS BIGINT) AS is_active,
           CAST(COUNT(*) AS BIGINT) AS n_user_days
    FROM trans WHERE prev IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
"""


@register(
    "q361_churn_matrix",
    _Q361_ORACLE,
    doc="Day-over-day activity transition matrix (dormant/activation/"
    "churn/retention) on a users x 28-literal-day spine: activity "
    "dedup, spine left join, one lag window per user, 4-row "
    "rollup.  The absence-aware twin of q100's event-state "
    "transitions — a state machine over days that must SEE the "
    "inactive days.",
)
def q361(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    spark_days = spark.range(1, 29).select(F.col("id").alias("d"))
    users = ev.select("user_id").distinct()
    act = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & (F.dayofmonth("ts") <= 28)
        )
        .select(
            F.col("user_id").alias("a_user"),
            F.dayofmonth("ts").cast("bigint").alias("a_d"),
        )
        .distinct()
    )
    spine = (
        users.crossJoin(F.broadcast(spark_days))
        .join(
            act,
            (F.col("user_id") == F.col("a_user")) & (F.col("d") == F.col("a_d")),
            "left",
        )
        .select(
            "user_id",
            "d",
            F.when(F.col("a_user").isNotNull(), 1).otherwise(0).alias("active"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("d")
    trans = spine.withColumn("prev", F.lag("active").over(w)).filter(
        F.col("prev").isNotNull()
    )
    return (
        trans.groupBy(
            F.col("prev").cast("bigint").alias("was_active"),
            F.col("active").cast("bigint").alias("is_active"),
        )
        .agg(F.count(F.lit(1)).alias("n_user_days"))
        .orderBy("was_active", "is_active")
    )


# ---------------------------------------------------------------------------
# Q362 — Durbin-Watson autocorrelation diagnostic on grouped OLS
# ---------------------------------------------------------------------------
# DW = sum (e_t - e_{t-1})^2 / sum e_t^2 over residuals of the
# per-group closed-form OLS (q122's Cramer moments) fit to daily
# revenue vs day index — the standard serial-correlation check on a
# regression (DW ~ 2 means none).  x is centered to 0..365 before
# the moment sums so every product stays well inside double
# exactness.
_Q362_EPOCH0 = 10957  # epoch-days of 2000-01-01


_Q362_ORACLE = f"""
    WITH daily AS (
      SELECT o_orderpriority AS grp,
             date_trunc('day', o_orderdate) AS d,
             CAST(ROUND(SUM(o_totalprice) * 100) AS BIGINT) AS rev_c
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        AND o_orderdate <  TIMESTAMP '2001-01-01'
      GROUP BY 1, 2
    ), idx AS (
      SELECT grp, rev_c,
             EXTRACT(epoch FROM d) / 86400.0 - {_Q362_EPOCH0} AS x
      FROM daily
    ), mom AS (
      SELECT grp, COUNT(*) AS n, SUM(x) AS sx, SUM(rev_c) AS sy,
             SUM(x*x) AS sxx, SUM(x*rev_c) AS sxy
      FROM idx GROUP BY grp
    ), fit AS (
      SELECT grp, (n*sxy - sx*sy) / (n*sxx - sx*sx) AS b,
             (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n AS a
      FROM mom
    ), resid AS (
      SELECT i.grp, i.x, i.rev_c - (f.a + f.b * i.x) AS e
      FROM idx i JOIN fit f ON f.grp = i.grp
    ), lagged AS (
      SELECT grp, e, LAG(e) OVER (PARTITION BY grp ORDER BY x) AS ep
      FROM resid
    )
    SELECT grp,
           ROUND(SUM(CASE WHEN ep IS NOT NULL THEN (e - ep)*(e - ep)
                          ELSE 0 END) / SUM(e*e) + 5e-12, 6) AS dw
    FROM lagged GROUP BY grp ORDER BY grp
"""


@register(
    "q362_durbin_watson",
    _Q362_ORACLE,
    doc="Durbin-Watson serial-correlation diagnostic on per-priority "
    "daily-revenue OLS residuals: closed-form fit from one moment "
    "aggregation (q122 discipline, centered x), residuals by "
    "broadcast-joining the 5-row fit back, one lag window per "
    "group.  The regression-diagnostics companion of q149's ACF.",
)
def q362(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "2000-01-01")
        & (F.col("o_orderdate") < "2001-01-01")
    )
    daily = o.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.date_trunc("day", F.col("o_orderdate")).alias("d"),
    ).agg(F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("rev_c"))
    idx = daily.select(
        "grp",
        "rev_c",
        (
            F.unix_micros(F.col("d").cast("timestamp")) / F.lit(86400000000.0)
            - _Q362_EPOCH0
        ).alias("x"),
    )
    mom = idx.groupBy(F.col("grp").alias("m_grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("rev_c").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("rev_c")).alias("sxy"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = mom.select(
        "m_grp", b.alias("b"), ((F.col("sy") - b * F.col("sx")) / F.col("n")).alias("a")
    )
    resid = idx.join(F.broadcast(fit), F.col("grp") == F.col("m_grp")).select(
        "grp", "x", (F.col("rev_c") - (F.col("a") + F.col("b") * F.col("x"))).alias("e")
    )
    w = Window.partitionBy("grp").orderBy("x")
    lagged = resid.withColumn("ep", F.lag("e").over(w))
    return (
        lagged.groupBy("grp")
        .agg(
            r6(
                F.sum(
                    F.when(
                        F.col("ep").isNotNull(),
                        (F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep")),
                    ).otherwise(0.0)
                )
                / F.sum(F.col("e") * F.col("e"))
            ).alias("dw")
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# Q363 — Murphy decomposition of the Brier score
# ---------------------------------------------------------------------------
# Brier = reliability - resolution + uncertainty (+ within-bin
# variance when forecasts vary inside bins).  Same pseudo-score/
# label convention as q92's reliability diagram; the decomposition
# says WHY the score is what it is (miscalibration vs lack of
# discrimination), which the raw ECE cannot.
_Q363_ORACLE = """
    WITH scored AS (
      SELECT (floor(value * 100) % 100) / 100.0 AS p,
             CASE WHEN event_type IN ('click', 'purchase', 'signup')
                  THEN 1.0 ELSE 0.0 END AS y
      FROM events
    ), bins AS (
      SELECT CAST(floor(p * 10) AS BIGINT) AS bin,
             COUNT(*) AS n_bin, AVG(p) AS pbar, AVG(y) AS ybar_k,
             SUM((p - y) * (p - y)) AS sse
      FROM scored GROUP BY 1
    ), tot AS (
      SELECT SUM(n_bin) AS n, SUM(ybar_k * n_bin) / SUM(n_bin) AS ybar
      FROM bins
    )
    SELECT ROUND(SUM(b.sse) / t.n + 5e-12, 6) AS brier,
           ROUND(SUM(b.n_bin * (b.pbar - b.ybar_k) * (b.pbar - b.ybar_k))
                 / t.n + 5e-12, 6) AS reliability,
           ROUND(SUM(b.n_bin * (b.ybar_k - t.ybar) * (b.ybar_k - t.ybar))
                 / t.n + 5e-12, 6) AS resolution,
           ROUND(t.ybar * (1 - t.ybar) + 5e-12, 6) AS uncertainty
    FROM bins b CROSS JOIN tot t
    GROUP BY t.n, t.ybar
"""


@register(
    "q363_brier_decomposition",
    _Q363_ORACLE,
    doc="Murphy decomposition of the Brier score (reliability - "
    "resolution + uncertainty) over q92's pseudo-scored stream: "
    "one binned aggregation, scalar totals broadcast back — "
    "separates miscalibration from lack of discrimination, the "
    "diagnosis ECE alone can't make.",
)
def q363(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = (F.floor(F.col("value") * 100) % 100) / 100.0
    y = F.when(
        F.col("event_type").isin("click", "purchase", "signup"), 1.0
    ).otherwise(0.0)
    scored = ev.select(p.alias("p"), y.alias("y"))
    bins = scored.groupBy(F.floor(F.col("p") * 10).cast("bigint").alias("bin")).agg(
        F.count(F.lit(1)).alias("n_bin"),
        F.avg("p").alias("pbar"),
        F.avg("y").alias("ybar_k"),
        F.sum((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).alias("sse"),
    )
    tot = bins.agg(
        F.sum("n_bin").alias("n"),
        (F.sum(F.col("ybar_k") * F.col("n_bin")) / F.sum("n_bin")).alias("ybar"),
    )
    return (
        bins.crossJoin(F.broadcast(tot))
        .groupBy("n", "ybar")
        .agg(
            r6(F.sum("sse") / F.col("n")).alias("brier"),
            r6(
                F.sum(
                    F.col("n_bin")
                    * (F.col("pbar") - F.col("ybar_k"))
                    * (F.col("pbar") - F.col("ybar_k"))
                )
                / F.col("n")
            ).alias("reliability"),
            r6(
                F.sum(
                    F.col("n_bin")
                    * (F.col("ybar_k") - F.col("ybar"))
                    * (F.col("ybar_k") - F.col("ybar"))
                )
                / F.col("n")
            ).alias("resolution"),
            r6(F.col("ybar") * (1 - F.col("ybar"))).alias("uncertainty"),
        )
        .select("brier", "reliability", "resolution", "uncertainty")
    )
