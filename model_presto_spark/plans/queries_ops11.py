"""Conformance queries: round-7 operator batch #5 (q237+) —
segmented (broken-stick) trend fit, Gumbel block-maxima tail fit,
one-way fixed-effects within estimator, Markov stationary
distribution, pairwise Jensen-Shannon divergence matrix.

Parity: normal-equation determinants and FE residual sums are
computed from EXACT integer moments (cents / counts / day indices),
then combined through operation-for-operation identical double
expressions in both engines; iteration (q240) is unrolled to a
fixed depth on a tiny state relation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q237 — Segmented trend (one-knot broken-stick OLS) per series
# ---------------------------------------------------------------------------
# Closed-form 3-parameter OLS (intercept, slope, slope change at a
# fixed knot) on daily revenue cents: normal equations solved by
# Cramer's rule from exact integer moments.  The "did the trend
# bend mid-month" fit without any iterative solver — one daily
# aggregation, one per-series moment reduce, scalar algebra.
_Q237_K = 15

# 3x3 determinant of [[r0,r1,r2],[r1,r2_,r3],[r2,r3,r4]]-style
# symmetric systems, as a SQL fragment factory.
def _det3(
    a11: str, a12: str, a13: str,
    a21: str, a22: str, a23: str,
    a31: str, a32: str, a33: str,
) -> str:
    return (
        f"({a11}) * (({a22}) * ({a33}) - ({a23}) * ({a32})) - "
        f"({a12}) * (({a21}) * ({a33}) - ({a23}) * ({a31})) + "
        f"({a13}) * (({a21}) * ({a32}) - ({a22}) * ({a31}))"
    )


_Q237_D = _det3("n", "sx1", "sx2", "sx1", "sx11", "sx12", "sx2", "sx12", "sx22")
_Q237_D0 = _det3("sy", "sx1", "sx2", "sx1y", "sx11", "sx12", "sx2y", "sx12", "sx22")
_Q237_D1 = _det3("n", "sy", "sx2", "sx1", "sx1y", "sx12", "sx2", "sx2y", "sx22")
_Q237_D2 = _det3("n", "sx1", "sy", "sx1", "sx11", "sx1y", "sx2", "sx12", "sx2y")

_Q237_ORACLE = f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS cents
      FROM events GROUP BY event_type, day
    ), idx AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
               AS t,
             cents AS y
      FROM daily
    ), basis AS (
      SELECT event_type, y, t AS x1,
             CASE WHEN t > {_Q237_K} THEN t - {_Q237_K} ELSE 0 END AS x2
      FROM idx
    ), mom AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x1) AS DOUBLE) AS sx1,
             CAST(SUM(x2) AS DOUBLE) AS sx2,
             CAST(SUM(x1 * x1) AS DOUBLE) AS sx11,
             CAST(SUM(x1 * x2) AS DOUBLE) AS sx12,
             CAST(SUM(x2 * x2) AS DOUBLE) AS sx22,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x1 * y) AS DOUBLE) AS sx1y,
             CAST(SUM(x2 * y) AS DOUBLE) AS sx2y
      FROM basis GROUP BY event_type
    )
    SELECT event_type,
           {_R6.format(x=f'(({_Q237_D0}) / ({_Q237_D})) / 100.0')}
             AS intercept,
           {_R6.format(x=f'(({_Q237_D1}) / ({_Q237_D})) / 100.0')}
             AS slope_pre,
           {_R6.format(x=f'(({_Q237_D2}) / ({_Q237_D})) / 100.0')}
             AS slope_change
    FROM mom ORDER BY event_type
"""


@register(
    "q237_segmented_trend",
    _Q237_ORACLE,
    doc="Broken-stick OLS per event-type series: intercept, "
    "pre-knot slope, and slope change at day 15 via Cramer's rule "
    "on the 3x3 normal equations — every moment an exact integer "
    "(cents x day index) before the shared double determinant "
    "algebra.  Closed-form changepoint-magnitude estimation, no "
    "solver.",
)
def q237(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100, 0).cast("bigint").alias("y")
    )
    idx = daily.select(
        "event_type",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("t"),
        "y",
    )
    basis = idx.select(
        "event_type",
        "y",
        F.col("t").alias("x1"),
        F.when(F.col("t") > _Q237_K, F.col("t") - _Q237_K)
        .otherwise(0)
        .alias("x2"),
    )
    mom = basis.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").cast("double").alias("sx1"),
        F.sum("x2").cast("double").alias("sx2"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("sx11"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("sx12"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("sx22"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("sx2y"),
    )

    def det3(a11, a12, a13, a21, a22, a23, a31, a32, a33):
        return (
            a11 * (a22 * a33 - a23 * a32)
            - a12 * (a21 * a33 - a23 * a31)
            + a13 * (a21 * a32 - a22 * a31)
        )

    c = F.col
    d = det3(
        c("n"), c("sx1"), c("sx2"),
        c("sx1"), c("sx11"), c("sx12"),
        c("sx2"), c("sx12"), c("sx22"),
    )
    d0 = det3(
        c("sy"), c("sx1"), c("sx2"),
        c("sx1y"), c("sx11"), c("sx12"),
        c("sx2y"), c("sx12"), c("sx22"),
    )
    d1 = det3(
        c("n"), c("sy"), c("sx2"),
        c("sx1"), c("sx1y"), c("sx12"),
        c("sx2"), c("sx2y"), c("sx22"),
    )
    d2 = det3(
        c("n"), c("sx1"), c("sy"),
        c("sx1"), c("sx11"), c("sx1y"),
        c("sx2"), c("sx12"), c("sx2y"),
    )
    return mom.select(
        "event_type",
        r6((d0 / d) / 100.0).alias("intercept"),
        r6((d1 / d) / 100.0).alias("slope_pre"),
        r6((d2 / d) / 100.0).alias("slope_change"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Q238 — Gumbel block-maxima tail fit (method of moments)
# ---------------------------------------------------------------------------
# Weekly maxima of daily revenue cents per series, Gumbel MOM fit
# beta = s sqrt(6)/pi, mu = xbar - gamma beta, and the 99% return
# level mu - beta ln(-ln 0.99) — the extreme-value answer to "how
# big can a day get".  Maxima and their moments are exact integers.
_Q238_GAMMA = 0.5772156649015329
_Q238_PI = 3.141592653589793

_Q238_XBAR = "CAST(sx AS DOUBLE) / n"
_Q238_S = (
    "SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) "
    "/ (CAST(n AS DOUBLE) * (n - 1)))"
)
_Q238_BETA = f"({_Q238_S}) * SQRT(6.0) / {_Q238_PI}"
_Q238_MU = f"({_Q238_XBAR}) - {_Q238_GAMMA} * ({_Q238_BETA})"

_Q238_ORACLE = f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS cents
      FROM events GROUP BY event_type, day
    ), blocks AS (
      SELECT event_type,
             CAST(FLOOR((EXTRACT(day FROM day) - 1) / 7) AS BIGINT) AS blk,
             MAX(cents) AS mx
      FROM daily GROUP BY event_type, blk
    ), mom AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(mx) AS sx,
             SUM(mx * mx) AS sxx
      FROM blocks GROUP BY event_type
    )
    SELECT event_type, n AS n_blocks,
           {_R6.format(x=f'({_Q238_XBAR}) / 100.0')} AS mean_max,
           {_R6.format(x=f'({_Q238_MU}) / 100.0')} AS gumbel_mu,
           {_R6.format(x=f'({_Q238_BETA}) / 100.0')} AS gumbel_beta,
           {_R6.format(
               x=f'(({_Q238_MU}) - ({_Q238_BETA}) * ln(-ln(0.99))) / 100.0'
           )} AS return_level_99
    FROM mom ORDER BY event_type
"""


@register(
    "q238_gumbel_maxima",
    _Q238_ORACLE,
    doc="Gumbel block-maxima fit per series: weekly maxima of "
    "daily cents, method-of-moments mu/beta, and the 99% return "
    "level.  Two tiny-key aggregations over exact integers; the "
    "extreme-value sizing number for capacity planning.",
)
def q238(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100, 0).cast("bigint").alias("cents")
    )
    blocks = daily.groupBy(
        "event_type",
        F.floor((F.dayofmonth("day") - 1) / 7).cast("bigint").alias("blk"),
    ).agg(F.max("cents").alias("mx"))
    mom = blocks.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mx").alias("sx"),
        F.sum(F.col("mx") * F.col("mx")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    xbar = F.col("sx").cast("double") / F.col("n")
    s = F.sqrt(
        (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        / (nd * (F.col("n") - 1))
    )
    beta = s * F.sqrt(F.lit(6.0)) / _Q238_PI
    mu = xbar - _Q238_GAMMA * beta
    import math

    rl = mu - beta * math.log(-math.log(0.99))
    return mom.select(
        "event_type",
        F.col("n").alias("n_blocks"),
        r6(xbar / 100.0).alias("mean_max"),
        r6(mu / 100.0).alias("gumbel_mu"),
        r6(beta / 100.0).alias("gumbel_beta"),
        r6(rl / 100.0).alias("return_level_99"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Q239 — One-way fixed-effects within estimator
# ---------------------------------------------------------------------------
# Does hour-of-day move spend once user composition is controlled?
# Within-user OLS slope via the decomposition
#   S_xy_within = S_xy_total - sum_u (Sx_u Sy_u / n_u),
# so the estimator needs only per-user integer moments — one
# shuffle on user_id, then a scalar combine.  No residual pass.
_Q239_SLOPE = (
    "(sxy - sxy_between) / (sxx - sxx_between)"
)

_Q239_ORACLE = f"""
    WITH obs AS (
      SELECT user_id, EXTRACT(hour FROM ts) AS x,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS y
      FROM events
    ), per_user AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_u,
             SUM(x) AS sx_u, SUM(y) AS sy_u,
             SUM(x * y) AS sxy_u, SUM(x * x) AS sxx_u
      FROM obs GROUP BY user_id
    ), comb AS (
      SELECT CAST(SUM(n_u) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             SUM(CAST(sxy_u AS DOUBLE)) AS sxy,
             SUM(CAST(sxx_u AS DOUBLE)) AS sxx,
             SUM(CAST(sx_u AS DOUBLE) * sy_u / n_u) AS sxy_between,
             SUM(CAST(sx_u AS DOUBLE) * sx_u / n_u) AS sxx_between
      FROM per_user
    )
    SELECT n, n_users,
           {_R6.format(x=f'({_Q239_SLOPE}) / 100.0')} AS slope_within
    FROM comb
"""


@register(
    "q239_within_estimator",
    _Q239_ORACLE,
    doc="One-way fixed-effects (within) estimator of hour-of-day "
    "on spend cents, controlling user composition: "
    "S_xy_within = S_xy - sum_u Sx_u Sy_u / n_u from per-user "
    "integer moments — one user-keyed shuffle, no demeaned "
    "residual pass over the data.",
)
def q239(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    obs = ev.select(
        "user_id",
        F.hour("ts").alias("x"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("y"),
    )
    per_user = obs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_u"),
        F.sum("x").alias("sx_u"),
        F.sum("y").alias("sy_u"),
        F.sum(F.col("x") * F.col("y")).alias("sxy_u"),
        F.sum(F.col("x") * F.col("x")).alias("sxx_u"),
    )
    comb = per_user.agg(
        F.sum("n_u").alias("n"),
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("sxy_u").cast("double")).alias("sxy"),
        F.sum(F.col("sxx_u").cast("double")).alias("sxx"),
        F.sum(
            F.col("sx_u").cast("double") * F.col("sy_u") / F.col("n_u")
        ).alias("sxy_between"),
        F.sum(
            F.col("sx_u").cast("double") * F.col("sx_u") / F.col("n_u")
        ).alias("sxx_between"),
    )
    slope = (F.col("sxy") - F.col("sxy_between")) / (
        F.col("sxx") - F.col("sxx_between")
    )
    return comb.select(
        "n", "n_users", r6(slope / 100.0).alias("slope_within")
    )


# ---------------------------------------------------------------------------
# Q240 — Markov stationary distribution (unrolled power iteration)
# ---------------------------------------------------------------------------
# Row-normalized event-type transition matrix from per-user
# consecutive pairs (q100's relation), then 8 power-iteration
# steps from the uniform vector — unrolled, because the state is a
# 5-row relation and the iteration cost is nil next to the one
# pass that builds the matrix.
_Q240_ITERS = 8

_Q240_STEP = """
      SELECT p.dst AS state, SUM(v.prob * p.prob) AS prob
      FROM {prev} v JOIN pmat p ON p.src = v.state
      GROUP BY p.dst
"""

_Q240_ORACLE = f"""
    WITH pairs AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ), cnt AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
      FROM pairs WHERE dst IS NOT NULL GROUP BY src, dst
    ), pmat AS (
      SELECT src, dst,
             CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY src) AS prob
      FROM cnt
    ), v0 AS (
      SELECT DISTINCT src AS state, CAST(0.2 AS DOUBLE) AS prob FROM pmat
    ),
    v1 AS ({_Q240_STEP.format(prev='v0')}),
    v2 AS ({_Q240_STEP.format(prev='v1')}),
    v3 AS ({_Q240_STEP.format(prev='v2')}),
    v4 AS ({_Q240_STEP.format(prev='v3')}),
    v5 AS ({_Q240_STEP.format(prev='v4')}),
    v6 AS ({_Q240_STEP.format(prev='v5')}),
    v7 AS ({_Q240_STEP.format(prev='v6')}),
    v8 AS ({_Q240_STEP.format(prev='v7')})
    SELECT state, {_R6.format(x='prob')} AS stationary_prob
    FROM v8 ORDER BY state
"""


@register(
    "q240_stationary_dist",
    _Q240_ORACLE,
    doc="Stationary distribution of the event-type Markov chain: "
    "transition matrix from per-user consecutive pairs (one "
    "window + one shuffle — the only data-sized work), then 8 "
    "unrolled power-iteration steps on the 5-row state vector.  "
    "Model iteration crosses the driver, not the data.",
)
def q240(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    cnt = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c"))
    pmat = cnt.select(
        "src",
        "dst",
        (
            F.col("c").cast("double")
            / F.sum("c").over(Window.partitionBy("src"))
        ).alias("prob"),
    ).localCheckpoint(eager=False)  # reused by every iteration
    v = pmat.select(F.col("src").alias("state")).distinct().select(
        "state", F.lit(0.2).alias("prob")
    )
    for _ in range(_Q240_ITERS):
        v = (
            v.withColumnRenamed("prob", "vprob")
            .join(pmat, F.col("state") == F.col("src"))
            .groupBy(F.col("dst").alias("state"))
            .agg(F.sum(F.col("vprob") * F.col("prob")).alias("prob"))
        )
    return v.select(
        "state", r6(F.col("prob")).alias("stationary_prob")
    ).orderBy("state")


# ---------------------------------------------------------------------------
# Q241 — Pairwise Jensen-Shannon divergence between sources
# ---------------------------------------------------------------------------
# JSD over unigram distributions for every source pair — the
# corpus-mixing distance matrix.  Distributions first (one token
# shuffle reduced to (source, word) counts), then the pair fan-out
# joins only the tiny per-source distributions.  At real scale the
# vocab would be capped to the top-V words; here the synthetic
# vocab is already small (~31).
_Q241_ORACLE = """
    WITH tok AS (
      SELECT source,
             UNNEST(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ), wc AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, w
    ), dist AS (
      SELECT source, w,
             CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY source) AS p
      FROM wc
    ), vocab AS (
      SELECT DISTINCT w FROM wc
    ), srcs AS (
      SELECT DISTINCT source FROM wc
    ), grid AS (
      SELECT a.source AS src_a, b.source AS src_b, v.w
      FROM srcs a JOIN srcs b ON a.source < b.source
      CROSS JOIN vocab v
    ), pairs AS (
      SELECT g.src_a, g.src_b,
             COALESCE(da.p, 0.0) AS pa, COALESCE(db.p, 0.0) AS pb
      FROM grid g
      LEFT JOIN dist da ON da.source = g.src_a AND da.w = g.w
      LEFT JOIN dist db ON db.source = g.src_b AND db.w = g.w
    ), jsd AS (
      SELECT src_a, src_b,
             SUM(CASE WHEN pa > 0
                      THEN 0.5 * pa * ln(pa / (0.5 * (pa + pb)))
                      ELSE 0.0 END
                 + CASE WHEN pb > 0
                        THEN 0.5 * pb * ln(pb / (0.5 * (pa + pb)))
                        ELSE 0.0 END) AS d
      FROM pairs GROUP BY src_a, src_b
    )
    SELECT src_a, src_b, ROUND(d + 5e-12, 6) AS jsd
    FROM jsd
    ORDER BY jsd DESC, src_a, src_b
    LIMIT 30
"""


@register(
    "q241_jsd_matrix",
    _Q241_ORACLE,
    doc="Jensen-Shannon divergence between every source pair's "
    "unigram distribution, top-30 most-divergent pairs.  One "
    "token shuffle to (source, word) counts; the O(S^2) pair join "
    "touches only per-source distributions (cap vocab to top-V at "
    "real scale).  The corpus-mixing distance matrix.",
)
def q241(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import tokens_sql

    docs = _t(spark, sf_dir, "documents")
    tok = docs.selectExpr(
        "source", f"explode_outer({tokens_sql('text')}) AS w"
    ).where(F.col("w").isNotNull())
    wc = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    dist = wc.select(
        "source",
        "w",
        (
            F.col("c").cast("double")
            / F.sum("c").over(Window.partitionBy("source"))
        ).alias("p"),
    ).localCheckpoint(eager=False)  # both sides of the pair join
    vocab = dist.select("w").distinct()
    srcs = dist.select("source").distinct()
    sa = srcs.select(F.col("source").alias("src_a"))
    sb = srcs.select(F.col("source").alias("src_b"))
    grid = (
        sa.join(sb, F.col("src_a") < F.col("src_b"))
        .crossJoin(F.broadcast(vocab))
    )
    da = dist.select(
        F.col("source").alias("sa2"),
        F.col("w").alias("wa"),
        F.col("p").alias("pa"),
    )
    db = dist.select(
        F.col("source").alias("sb2"),
        F.col("w").alias("wb"),
        F.col("p").alias("pb"),
    )
    pairs = (
        grid.join(
            F.broadcast(da),
            (F.col("src_a") == F.col("sa2")) & (F.col("w") == F.col("wa")),
            "left",
        )
        .join(
            F.broadcast(db),
            (F.col("src_b") == F.col("sb2")) & (F.col("w") == F.col("wb")),
            "left",
        )
        .select(
            "src_a",
            "src_b",
            F.coalesce("pa", F.lit(0.0)).alias("pa"),
            F.coalesce("pb", F.lit(0.0)).alias("pb"),
        )
    )
    m = 0.5 * (F.col("pa") + F.col("pb"))
    term_a = F.when(
        F.col("pa") > 0, 0.5 * F.col("pa") * F.log(F.col("pa") / m)
    ).otherwise(0.0)
    term_b = F.when(
        F.col("pb") > 0, 0.5 * F.col("pb") * F.log(F.col("pb") / m)
    ).otherwise(0.0)
    jsd = pairs.groupBy("src_a", "src_b").agg(
        F.sum(term_a + term_b).alias("d")
    )
    return (
        jsd.select(
            "src_a",
            "src_b",
            F.round(F.col("d") + 5e-12, 6).alias("jsd"),
        )
        .orderBy(F.col("jsd").desc(), "src_a", "src_b")
        .limit(30)
    )
