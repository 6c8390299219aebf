"""Conformance queries: round-7 operator batch #22 (q319+) —
Kendall's W concordance, Friedman test, AR-order selection by
AICc, Lincoln-Petersen capture-recapture, A/A null calibration.

Parity: every statistic reduces to exact integer ranks/counts/
moments; deterministic tie-breaks are used wherever ranks are
assigned."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q319 — Kendall's coefficient of concordance W
# ---------------------------------------------------------------------------
# Do the 20 sources rank the top-10 corpus words the same way?
# Each source ranks the panel by its own frequency (deterministic
# tie-break on the word), W = 12 S / (m^2 (n^3 - n)) from exact
# integer rank sums.  The multi-judge agreement statistic.
_Q319_NW = 10

_Q319_W = R6_SQL.format(
    x=(
        "12.0 * (srj2 - CAST(srj AS DOUBLE) * srj / n)"
        " / (CAST(m AS DOUBLE) * m"
        " * (CAST(n AS DOUBLE) * n * n - n))"
    )
)

_Q319_ORACLE = f"""
    WITH tok AS (
      SELECT source,
             UNNEST(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ), wc AS MATERIALIZED (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, w
    ), panel AS (
      SELECT w FROM (
        SELECT w, SUM(c) AS tot,
               ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, w) AS rk
        FROM wc GROUP BY w
      ) WHERE rk <= {_Q319_NW}
    ), ranked AS (
      SELECT s.source, p.w,
             ROW_NUMBER() OVER (PARTITION BY s.source
                                ORDER BY COALESCE(x.c, 0) DESC, p.w)
               AS r
      FROM (SELECT DISTINCT source FROM wc) s
      CROSS JOIN panel p
      LEFT JOIN wc x ON x.source = s.source AND x.w = p.w
    ), rsums AS (
      SELECT w, CAST(SUM(r) AS BIGINT) AS rj,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM ranked GROUP BY w
    ), stat AS (
      SELECT CAST(MAX(m) AS BIGINT) AS m,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(rj AS DOUBLE) * rj) AS srj2,
             CAST(SUM(rj) AS BIGINT) AS srj
      FROM rsums
    )
    SELECT m AS n_judges, n AS n_items,
           {_Q319_W} AS kendalls_w
    FROM stat
"""


@register(
    "q319_kendalls_w",
    _Q319_ORACLE,
    doc="Kendall's W over the sources' rankings of the top-10 "
    "corpus words (deterministic tie-breaks): "
    "W = 12 S / (m^2 (n^3 - n)) from exact integer rank sums.  "
    "W near 0 = judges disagree; the multi-ranking agreement "
    "check.",
)
def q319(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import tokens_sql

    docs = _t(spark, sf_dir, "documents")
    tok = docs.selectExpr(
        "source", f"explode_outer({tokens_sql('text')}) AS w"
    ).where(F.col("w").isNotNull())
    wc = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)
    panel = (
        wc.groupBy(F.col("w").alias("pw"))
        .agg(F.sum("c").alias("tot"))
        .select(
            "pw",
            F.row_number()
            .over(Window.orderBy(F.col("tot").desc(), "pw"))
            .alias("rk"),
        )
        .where(F.col("rk") <= _Q319_NW)
        .select("pw")
    )
    srcs = wc.select("source").distinct()
    ranked = (
        srcs.crossJoin(F.broadcast(panel))
        .join(
            wc.select(
                F.col("source").alias("xs"),
                F.col("w").alias("xw"),
                F.col("c").alias("xc"),
            ),
            (F.col("source") == F.col("xs"))
            & (F.col("pw") == F.col("xw")),
            "left",
        )
        .select(
            "source",
            "pw",
            F.row_number()
            .over(
                Window.partitionBy("source").orderBy(
                    F.coalesce("xc", F.lit(0)).desc(), "pw"
                )
            )
            .alias("r"),
        )
    )
    rsums = ranked.groupBy("pw").agg(
        F.sum("r").alias("rj"), F.count(F.lit(1)).alias("m")
    )
    stat = rsums.agg(
        F.max("m").alias("m"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rj").cast("double") * F.col("rj")).alias("srj2"),
        F.sum("rj").alias("srj"),
    )
    md, ndd = F.col("m").cast("double"), F.col("n").cast("double")
    w_stat = (
        12.0
        * (
            F.col("srj2")
            - F.col("srj").cast("double") * F.col("srj") / F.col("n")
        )
        / (md * F.col("m") * (ndd * F.col("n") * F.col("n") - F.col("n")))
    )
    return stat.select(
        F.col("m").alias("n_judges"),
        F.col("n").alias("n_items"),
        r6(w_stat).alias("kendalls_w"),
    )


# ---------------------------------------------------------------------------
# Q320 — Friedman test (blocks = days, treatments = event types)
# ---------------------------------------------------------------------------
# Within each day, rank the 5 event types by revenue (exact cents,
# deterministic tie-break), chi^2_F = 12/(b k (k+1)) sum R_j^2
# - 3 b (k+1).  The repeated-measures rank test — all integers
# until the closed form.
_Q320_ORACLE = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS y
      FROM events GROUP BY event_type, day
    ), ranked AS (
      SELECT event_type, day,
             ROW_NUMBER() OVER (PARTITION BY day
                                ORDER BY y DESC, event_type) AS r
      FROM daily
    ), rsum AS (
      SELECT event_type, CAST(SUM(r) AS BIGINT) AS rj,
             CAST(COUNT(*) AS BIGINT) AS b
      FROM ranked GROUP BY event_type
    ), stat AS (
      SELECT CAST(MAX(b) AS BIGINT) AS b,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(CAST(rj AS DOUBLE) * rj) AS srj2
      FROM rsum
    )
    SELECT b AS n_blocks, k AS n_treatments,
           {CHI} AS friedman_chi2
    FROM stat
""".replace(
    "{CHI}",
    R6_SQL.format(
        x=(
            "12.0 / (CAST(b AS DOUBLE) * k * (k + 1)) * srj2"
            " - 3.0 * b * (k + 1)"
        )
    ),
)


@register(
    "q320_friedman",
    _Q320_ORACLE,
    doc="Friedman rank test with days as blocks and event types as "
    "treatments: within-day ranks of exact cents (deterministic "
    "tie-break), chi2 = 12/(bk(k+1)) sum R_j^2 - 3b(k+1).  The "
    "nonparametric are-the-treatments-equal test.",
)
def q320(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100, 0).cast("bigint").alias("y")
    )
    ranked = daily.select(
        "event_type",
        F.row_number()
        .over(
            Window.partitionBy("day").orderBy(
                F.col("y").desc(), "event_type"
            )
        )
        .alias("r"),
    )
    rsum = ranked.groupBy("event_type").agg(
        F.sum("r").alias("rj"), F.count(F.lit(1)).alias("b")
    )
    stat = rsum.agg(
        F.max("b").alias("b"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("rj").cast("double") * F.col("rj")).alias("srj2"),
    )
    chi = 12.0 / (
        F.col("b").cast("double") * F.col("k") * (F.col("k") + 1)
    ) * F.col("srj2") - 3.0 * F.col("b") * (F.col("k") + 1)
    return stat.select(
        F.col("b").alias("n_blocks"),
        F.col("k").alias("n_treatments"),
        r6(chi).alias("friedman_chi2"),
    )


# ---------------------------------------------------------------------------
# Q321 — AR order selection by AICc (orders 1 and 2)
# ---------------------------------------------------------------------------
# Fit AR(1) and AR(2) to each daily-cents series on the common
# sample (t >= 3) from exact integer moments (2-param and 3-param
# Cramer), compare AICc = n ln(SSE/n) + 2k + 2k(k+1)/(n-k-1) and
# pick the order.  Model selection without a fitting library.
_Q321_ORACLE = """
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY CAST(ts AS DATE))
                  AS BIGINT) AS t,
             y
      FROM (
        SELECT event_type, CAST(ts AS DATE) AS ts,
               CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)
      )
    ), tri AS (
      SELECT d0.event_type, d0.y AS yv, d1.y AS x1, d2.y AS x2
      FROM daily d0
      JOIN daily d1 ON d1.event_type = d0.event_type
                   AND d1.t = d0.t - 1
      JOIN daily d2 ON d2.event_type = d0.event_type
                   AND d2.t = d0.t - 2
    ), mom AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(yv) AS DOUBLE) AS sy,
             CAST(SUM(x1) AS DOUBLE) AS sx1,
             CAST(SUM(x2) AS DOUBLE) AS sx2,
             CAST(SUM(yv * yv) AS DOUBLE) AS syy,
             CAST(SUM(x1 * x1) AS DOUBLE) AS sx11,
             CAST(SUM(x2 * x2) AS DOUBLE) AS sx22,
             CAST(SUM(x1 * x2) AS DOUBLE) AS sx12,
             CAST(SUM(x1 * yv) AS DOUBLE) AS sx1y,
             CAST(SUM(x2 * yv) AS DOUBLE) AS sx2y
      FROM tri GROUP BY event_type
    ), fits AS (
      SELECT event_type, n,
             syy
             - ((sy - (n * sx1y - sx1 * sy)
                      / (n * sx11 - sx1 * sx1) * sx1) / n) * sy
             - ((n * sx1y - sx1 * sy) / (n * sx11 - sx1 * sx1)) * sx1y
               AS sse1,
             syy
             - ((sy * (sx11 * sx22 - sx12 * sx12)
                 - sx1 * (sx1y * sx22 - sx12 * sx2y)
                 + sx2 * (sx1y * sx12 - sx11 * sx2y))
                / (n * (sx11 * sx22 - sx12 * sx12)
                   - sx1 * (sx1 * sx22 - sx12 * sx2)
                   + sx2 * (sx1 * sx12 - sx11 * sx2))) * sy
             - ((n * (sx1y * sx22 - sx12 * sx2y)
                 - sy * (sx1 * sx22 - sx12 * sx2)
                 + sx2 * (sx1 * sx2y - sx1y * sx2))
                / (n * (sx11 * sx22 - sx12 * sx12)
                   - sx1 * (sx1 * sx22 - sx12 * sx2)
                   + sx2 * (sx1 * sx12 - sx11 * sx2))) * sx1y
             - ((n * (sx11 * sx2y - sx1y * sx12)
                 - sx1 * (sx1 * sx2y - sx1y * sx2)
                 + sy * (sx1 * sx12 - sx11 * sx2))
                / (n * (sx11 * sx22 - sx12 * sx12)
                   - sx1 * (sx1 * sx22 - sx12 * sx2)
                   + sx2 * (sx1 * sx12 - sx11 * sx2))) * sx2y
               AS sse2
      FROM mom
    ), aicc AS (
      SELECT event_type, n,
             n * ln(sse1 / n) + 2.0 * 2
               + 2.0 * 2 * 3 / (n - 2 - 1) AS aicc1,
             n * ln(sse2 / n) + 2.0 * 3
               + 2.0 * 3 * 4 / (n - 3 - 1) AS aicc2
      FROM fits
    )
    SELECT event_type,
           {A1} AS aicc_ar1,
           {A2} AS aicc_ar2,
           CASE WHEN aicc1 <= aicc2 THEN 1 ELSE 2 END AS chosen_order
    FROM aicc ORDER BY event_type
""".replace(
    "{A1}", R6_SQL.format(x="aicc1")
).replace(
    "{A2}", R6_SQL.format(x="aicc2")
)


@register(
    "q321_ar_order",
    _Q321_ORACLE,
    doc="AR(1) vs AR(2) order selection by AICc per series: both "
    "SSEs from one exact integer-moment pass on the common t>=3 "
    "sample (2- and 3-param Cramer), AICc with the small-sample "
    "correction, chosen order.  Box-Jenkins' first step, "
    "solver-free.",
)
def q321(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value") * 100, 0).cast("bigint").alias("y"))
        .select(
            "event_type",
            F.row_number()
            .over(Window.partitionBy("event_type").orderBy("day"))
            .cast("bigint")
            .alias("t"),
            "y",
        )
        .localCheckpoint(eager=False)  # 3-way self-join
    )
    d0 = daily.select(
        F.col("event_type").alias("e0"),
        F.col("t").alias("t0"),
        F.col("y").alias("yv"),
    )
    d1 = daily.select(
        F.col("event_type").alias("e1"),
        F.col("t").alias("t1"),
        F.col("y").alias("x1"),
    )
    d2 = daily.select(
        F.col("event_type").alias("e2"),
        F.col("t").alias("t2"),
        F.col("y").alias("x2"),
    )
    tri = (
        d0.join(
            d1,
            (F.col("e1") == F.col("e0"))
            & (F.col("t1") == F.col("t0") - 1),
        )
        .join(
            d2,
            (F.col("e2") == F.col("e0"))
            & (F.col("t2") == F.col("t0") - 2),
        )
        .select(F.col("e0").alias("event_type"), "yv", "x1", "x2")
    )
    mom = tri.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("yv").cast("double").alias("sy"),
        F.sum("x1").cast("double").alias("sx1"),
        F.sum("x2").cast("double").alias("sx2"),
        F.sum(F.col("yv") * F.col("yv")).cast("double").alias("syy"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("sx11"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("sx22"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("sx12"),
        F.sum(F.col("x1") * F.col("yv")).cast("double").alias("sx1y"),
        F.sum(F.col("x2") * F.col("yv")).cast("double").alias("sx2y"),
    )
    c = F.col
    b1 = (c("n") * c("sx1y") - c("sx1") * c("sy")) / (
        c("n") * c("sx11") - c("sx1") * c("sx1")
    )
    a1 = (c("sy") - b1 * c("sx1")) / c("n")
    sse1 = c("syy") - a1 * c("sy") - b1 * c("sx1y")
    den3 = (
        c("n") * (c("sx11") * c("sx22") - c("sx12") * c("sx12"))
        - c("sx1") * (c("sx1") * c("sx22") - c("sx12") * c("sx2"))
        + c("sx2") * (c("sx1") * c("sx12") - c("sx11") * c("sx2"))
    )
    a3 = (
        c("sy") * (c("sx11") * c("sx22") - c("sx12") * c("sx12"))
        - c("sx1") * (c("sx1y") * c("sx22") - c("sx12") * c("sx2y"))
        + c("sx2") * (c("sx1y") * c("sx12") - c("sx11") * c("sx2y"))
    ) / den3
    b3 = (
        c("n") * (c("sx1y") * c("sx22") - c("sx12") * c("sx2y"))
        - c("sy") * (c("sx1") * c("sx22") - c("sx12") * c("sx2"))
        + c("sx2") * (c("sx1") * c("sx2y") - c("sx1y") * c("sx2"))
    ) / den3
    c3 = (
        c("n") * (c("sx11") * c("sx2y") - c("sx1y") * c("sx12"))
        - c("sx1") * (c("sx1") * c("sx2y") - c("sx1y") * c("sx2"))
        + c("sy") * (c("sx1") * c("sx12") - c("sx11") * c("sx2"))
    ) / den3
    sse2 = (
        c("syy") - a3 * c("sy") - b3 * c("sx1y") - c3 * c("sx2y")
    )
    aicc1 = (
        c("n") * F.log(sse1 / c("n"))
        + 2.0 * 2
        + 2.0 * 2 * 3 / (c("n") - 2 - 1)
    )
    aicc2 = (
        c("n") * F.log(sse2 / c("n"))
        + 2.0 * 3
        + 2.0 * 3 * 4 / (c("n") - 3 - 1)
    )
    return mom.select(
        "event_type",
        r6(aicc1).alias("aicc_ar1"),
        r6(aicc2).alias("aicc_ar2"),
        F.when(aicc1 <= aicc2, 1).otherwise(2).alias("chosen_order"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Q322 — Capture-recapture population estimate
# ---------------------------------------------------------------------------
# Lincoln-Petersen / Chapman estimate of the "true" user
# population from two overlapping samples (active week 1 vs week
# 2): N = n1 n2 / m, Chapman (n1+1)(n2+1)/(m+1) - 1 with its
# closed-form variance.  The dedup-coverage / census estimator —
# exact integer marks.
_Q322_ORACLE = """
    WITH marks AS (
      SELECT user_id,
             MAX(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-08'
                      THEN 1 ELSE 0 END) AS s1,
             MAX(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-08'
                       AND CAST(ts AS DATE) < DATE '2024-01-15'
                      THEN 1 ELSE 0 END) AS s2
      FROM events GROUP BY user_id
    ), cnt AS (
      SELECT CAST(SUM(s1) AS BIGINT) AS n1,
             CAST(SUM(s2) AS BIGINT) AS n2,
             CAST(SUM(s1 * s2) AS BIGINT) AS m,
             CAST(COUNT(*) AS BIGINT) AS n_true
      FROM marks
    )
    SELECT n1, n2, m, n_true,
           {LP} AS lincoln_petersen,
           {CH} AS chapman,
           {VAR} AS chapman_var
    FROM cnt
""".replace(
    "{LP}",
    R6_SQL.format(x="CAST(n1 AS DOUBLE) * n2 / m"),
).replace(
    "{CH}",
    R6_SQL.format(
        x=(
            "CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1.0"
        )
    ),
).replace(
    "{VAR}",
    R6_SQL.format(
        x=(
            "CAST(n1 + 1 AS DOUBLE) * (n2 + 1) * (n1 - m) * (n2 - m)"
            " / ((CAST(m AS DOUBLE) + 1) * (m + 1) * (m + 2))"
        )
    ),
)


@register(
    "q322_capture_recapture",
    _Q322_ORACLE,
    doc="Capture-recapture population estimate from week-1 and "
    "week-2 activity marks: Lincoln-Petersen n1 n2/m, the "
    "bias-corrected Chapman estimator, and its variance — all "
    "exact integer marks, compared against the known truth.  The "
    "how-many-are-we-missing census primitive.",
)
def q322(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = F.to_date("ts")
    marks = ev.groupBy("user_id").agg(
        F.max(
            F.when(d < "2024-01-08", 1).otherwise(0)
        ).alias("s1"),
        F.max(
            F.when(
                (d >= "2024-01-08") & (d < "2024-01-15"), 1
            ).otherwise(0)
        ).alias("s2"),
    )
    cnt = marks.agg(
        F.sum("s1").alias("n1"),
        F.sum("s2").alias("n2"),
        F.sum(F.col("s1") * F.col("s2")).alias("m"),
        F.count(F.lit(1)).alias("n_true"),
    )
    lp = F.col("n1").cast("double") * F.col("n2") / F.col("m")
    ch = (
        (F.col("n1") + 1).cast("double")
        * (F.col("n2") + 1)
        / (F.col("m") + 1)
        - 1.0
    )
    var = (
        (F.col("n1") + 1).cast("double")
        * (F.col("n2") + 1)
        * (F.col("n1") - F.col("m"))
        * (F.col("n2") - F.col("m"))
        / (
            (F.col("m").cast("double") + 1)
            * (F.col("m") + 1)
            * (F.col("m") + 2)
        )
    )
    return cnt.select(
        "n1",
        "n2",
        "m",
        "n_true",
        r6(lp).alias("lincoln_petersen"),
        r6(ch).alias("chapman"),
        r6(var).alias("chapman_var"),
    )


# ---------------------------------------------------------------------------
# Q323 — A/A null calibration (pseudo-variant t statistics)
# ---------------------------------------------------------------------------
# Split users into 4 pseudo-variants (user_id % 4) with NO real
# treatment and compute the Welch t statistic of mean purchase
# value for all 6 variant pairs — every |t| should be
# unremarkable; a large one flags broken bucketing or dependence.
# All moments exact integer cents.
_Q323_ORACLE = """
    WITH g AS (
      SELECT user_id % 4 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS s,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT)
                 * CAST(ROUND(value * 100, 0) AS BIGINT)) AS ss
      FROM events WHERE event_type = 'purchase'
      GROUP BY bucket
    ), pairs AS (
      SELECT a.bucket AS b1, b.bucket AS b2,
             CAST(a.s AS DOUBLE) / a.n AS m1,
             CAST(b.s AS DOUBLE) / b.n AS m2,
             ((CAST(a.n AS DOUBLE) * a.ss - CAST(a.s AS DOUBLE) * a.s)
              / (CAST(a.n AS DOUBLE) * (a.n - 1))) / a.n AS v1,
             ((CAST(b.n AS DOUBLE) * b.ss - CAST(b.s AS DOUBLE) * b.s)
              / (CAST(b.n AS DOUBLE) * (b.n - 1))) / b.n AS v2
      FROM g a JOIN g b ON b.bucket > a.bucket
    )
    SELECT CAST(b1 AS BIGINT) AS bucket_a,
           CAST(b2 AS BIGINT) AS bucket_b,
           {T} AS welch_t,
           ABS({TRAW}) > 3.0 AS alarm
    FROM pairs
    ORDER BY bucket_a, bucket_b
""".replace(
    "{T}",
    R6_SQL.format(x="(m1 - m2) / SQRT(v1 + v2)"),
).replace(
    "{TRAW}", "(m1 - m2) / SQRT(v1 + v2)"
)


@register(
    "q323_aa_test",
    _Q323_ORACLE,
    doc="A/A null calibration: Welch t for mean purchase cents "
    "across all 6 pairs of 4 pseudo-variants (user_id %% 4) — "
    "exact integer moments, |t| > 3 alarms flag broken bucketing "
    "or hidden dependence.  The experimentation-platform health "
    "check that must stay boring.",
)
def q323(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    g = (
        ev.where(F.col("event_type") == "purchase")
        .select((F.col("user_id") % 4).alias("bucket"), cents.alias("y"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("s"),
            F.sum(F.col("y") * F.col("y")).alias("ss"),
        )
    )
    a = g.select(
        F.col("bucket").alias("b1"),
        F.col("n").alias("n1"),
        F.col("s").alias("s1"),
        F.col("ss").alias("ss1"),
    )
    b = g.select(
        F.col("bucket").alias("b2"),
        F.col("n").alias("n2"),
        F.col("s").alias("s2"),
        F.col("ss").alias("ss2"),
    )

    def sem(npre, spre, sspre):
        n, s_, ss = F.col(npre), F.col(spre), F.col(sspre)
        nd = n.cast("double")
        return ((nd * ss - s_.cast("double") * s_) / (nd * (n - 1))) / n

    pairs = a.join(b, F.col("b2") > F.col("b1")).select(
        "b1",
        "b2",
        (F.col("s1").cast("double") / F.col("n1")).alias("m1"),
        (F.col("s2").cast("double") / F.col("n2")).alias("m2"),
        sem("n1", "s1", "ss1").alias("v1"),
        sem("n2", "s2", "ss2").alias("v2"),
    )
    t = (F.col("m1") - F.col("m2")) / F.sqrt(F.col("v1") + F.col("v2"))
    return pairs.select(
        F.col("b1").cast("bigint").alias("bucket_a"),
        F.col("b2").cast("bigint").alias("bucket_b"),
        r6(t).alias("welch_t"),
        (F.abs(t) > 3.0).alias("alarm"),
    ).orderBy("bucket_a", "bucket_b")
