"""Conformance queries: round-7 operator batch #19 (q306+) —
double-charge detection, peak detection with prominence, Ljung-Box
whiteness test, Tukey median polish, exact 3-player Shapley values.

Parity: banded-join pair counts, peak comparisons, and subset
distinct counts are exact integers; Ljung-Box reuses the exact
lag-moment machinery of q289."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q306 — Double-charge detection (same user+amount within 24h)
# ---------------------------------------------------------------------------
# Candidate duplicate payments: purchase pairs by the same user
# with the same whole-dollar amount within 24 hours, found by a
# banded self-join on (user, dollars) — the equi-keys carry the
# join, the time band is a residual.  (Whole dollars, not cents:
# the synthetic amounts are continuous, so exact-cent collisions
# would make the screen vacuous.)  The payments-fraud primitive.
_Q306_BAND_US = 24 * 3600 * 1_000_000

_Q306_ORACLE = f"""
    WITH p AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(FLOOR(value) AS BIGINT) AS dollars
      FROM events WHERE event_type = 'purchase'
    ), pairs AS (
      SELECT a.user_id, a.dollars,
             a.event_id AS first_id, b.event_id AS second_id,
             b.us - a.us AS gap_us
      FROM p a JOIN p b
        ON b.user_id = a.user_id AND b.dollars = a.dollars
       AND b.us > a.us AND b.us - a.us <= {_Q306_BAND_US}
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(dollars AS BIGINT) AS amount_dollars,
           first_id, second_id,
           {_R6.format(x='gap_us / 3600.0e6')} AS gap_hours
    FROM pairs
    ORDER BY user_id, first_id, second_id
"""


@register(
    "q306_double_charge",
    _Q306_ORACLE,
    doc="Double-charge screen: purchase pairs with the same user "
    "and the same whole-dollar amount within 24h via an equi-keyed "
    "(user, dollars) self-join with a time-band residual — the join "
    "never goes all-pairs.  The payments-dedup fraud primitive.",
)
def q306(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        us.alias("us"),
        F.floor("value").cast("bigint").alias("dollars"),
    )
    a = p.select(
        F.col("user_id").alias("ua"),
        F.col("event_id").alias("first_id"),
        F.col("us").alias("usa"),
        F.col("dollars").alias("ca"),
    )
    b = p.select(
        F.col("user_id").alias("ub"),
        F.col("event_id").alias("second_id"),
        F.col("us").alias("usb"),
        F.col("dollars").alias("cb"),
    )
    pairs = a.join(
        b,
        (F.col("ub") == F.col("ua"))
        & (F.col("cb") == F.col("ca"))
        & (F.col("usb") > F.col("usa"))
        & (F.col("usb") - F.col("usa") <= _Q306_BAND_US),
    )
    return pairs.select(
        F.col("ua").cast("bigint").alias("user_id"),
        F.col("ca").cast("bigint").alias("amount_dollars"),
        "first_id",
        "second_id",
        r6((F.col("usb") - F.col("usa")) / 3600.0e6).alias(
            "gap_hours"
        ),
    ).orderBy("user_id", "first_id", "second_id")


# ---------------------------------------------------------------------------
# Q307 — Peak detection with local prominence
# ---------------------------------------------------------------------------
# Local maxima of daily revenue (strictly above both neighbors)
# with prominence = y - max(highest value in the +-3 day window
# excluding the peak itself) ... computed as y minus the larger of
# the two flank maxima.  Exact integer cents; windows per series.
_Q307_ORACLE = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS y
      FROM events GROUP BY event_type, day
    ), ctx AS (
      SELECT event_type, day, y,
             LAG(y) OVER w AS prev_y,
             LEAD(y) OVER w AS next_y,
             MAX(y) OVER (w ROWS BETWEEN 3 PRECEDING
                          AND 1 PRECEDING) AS left_max,
             MAX(y) OVER (w ROWS BETWEEN 1 FOLLOWING
                          AND 3 FOLLOWING) AS right_max
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), peaks AS (
      SELECT event_type, day, y,
             y - GREATEST(left_max, right_max) AS prominence
      FROM ctx
      WHERE prev_y IS NOT NULL AND next_y IS NOT NULL
        AND y > prev_y AND y > next_y
    )
    SELECT event_type, day,
           ROUND(y / 100.0 + 5e-10, 2) AS revenue,
           ROUND(prominence / 100.0 + 5e-10, 2) AS prominence
    FROM peaks
    WHERE prominence > 0
    ORDER BY event_type, day
"""


@register(
    "q307_peaks",
    _Q307_ORACLE,
    doc="Peak detection on daily revenue: strict local maxima with "
    "positive prominence over the +-3-day flank maxima — exact "
    "integer comparisons, lag/lead + framed-max windows per "
    "series.  The spike-census primitive for alerting.",
)
def q307(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100, 0).cast("bigint").alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    ctx = daily.select(
        "event_type",
        "day",
        "y",
        F.lag("y").over(w).alias("prev_y"),
        F.lead("y").over(w).alias("next_y"),
        F.max("y").over(w.rowsBetween(-3, -1)).alias("left_max"),
        F.max("y").over(w.rowsBetween(1, 3)).alias("right_max"),
    )
    peaks = ctx.where(
        F.col("prev_y").isNotNull()
        & F.col("next_y").isNotNull()
        & (F.col("y") > F.col("prev_y"))
        & (F.col("y") > F.col("next_y"))
    ).select(
        "event_type",
        "day",
        "y",
        (
            F.col("y") - F.greatest("left_max", "right_max")
        ).alias("prominence"),
    )
    return (
        peaks.where(F.col("prominence") > 0)
        .select(
            "event_type",
            "day",
            F.round(F.col("y") / 100.0 + 5e-10, 2).alias("revenue"),
            F.round(F.col("prominence") / 100.0 + 5e-10, 2).alias(
                "prominence"
            ),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Q308 — Ljung-Box whiteness test (lags 1..5)
# ---------------------------------------------------------------------------
# Q = n(n+2) sum_k rho_k^2/(n-k) on daily cents per series — the
# is-there-any-autocorrelation-at-all portmanteau test, built on
# the same exact lag-moment machinery as q289.
_Q308_K = 5

_Q308_Q = R6_SQL.format(
    x="MAX(n) * (MAX(n) + 2.0) * SUM(rho_k * rho_k / (n - k))"
)

_Q308_ORACLE = f"""
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
    ), mom AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(y) AS sy, SUM(y * y) AS syy
      FROM daily GROUP BY event_type
    ), lagsum AS (
      SELECT a.event_type, b.t - a.t AS k,
             SUM(a.y * b.y) AS sxy,
             SUM(a.y) AS sa, SUM(b.y) AS sb,
             CAST(COUNT(*) AS BIGINT) AS nk
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type
       AND b.t - a.t BETWEEN 1 AND {_Q308_K}
      GROUP BY a.event_type, k
    ), rho AS (
      SELECT l.event_type, l.k, m.n,
             (CAST(l.sxy AS DOUBLE)
              - CAST(m.sy AS DOUBLE) / m.n * (l.sa + l.sb)
              + l.nk * (CAST(m.sy AS DOUBLE) / m.n)
                     * (CAST(m.sy AS DOUBLE) / m.n))
             / (CAST(m.syy AS DOUBLE)
                - CAST(m.sy AS DOUBLE) * m.sy / m.n) AS rho_k
      FROM lagsum l JOIN mom m ON m.event_type = l.event_type
    )
    SELECT event_type, MAX(n) AS n,
           {_Q308_Q} AS ljung_box_q
    FROM rho
    GROUP BY event_type
    ORDER BY event_type
"""


@register(
    "q308_ljung_box",
    _Q308_ORACLE,
    doc="Ljung-Box portmanteau Q over lags 1..5 of daily cents per "
    "series: exact lag moments (q289's machinery), "
    "Q = n(n+2) sum rho_k^2/(n-k).  Large Q rejects whiteness — "
    "the pre-modeling autocorrelation gate.",
)
def q308(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        .localCheckpoint(eager=False)
    )
    mom = daily.groupBy(F.col("event_type").alias("met")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    a = daily.select(
        F.col("event_type").alias("ea"),
        F.col("t").alias("ta"),
        F.col("y").alias("ya"),
    )
    b = daily.select(
        F.col("event_type").alias("eb"),
        F.col("t").alias("tb"),
        F.col("y").alias("yb"),
    )
    lagsum = (
        a.join(
            b,
            (F.col("eb") == F.col("ea"))
            & (F.col("tb") - F.col("ta")).between(1, _Q308_K),
        )
        .groupBy(
            F.col("ea").alias("event_type"),
            (F.col("tb") - F.col("ta")).alias("k"),
        )
        .agg(
            F.sum(F.col("ya") * F.col("yb")).alias("sxy"),
            F.sum("ya").alias("sa"),
            F.sum("yb").alias("sb"),
            F.count(F.lit(1)).alias("nk"),
        )
    )
    mu = F.col("sy").cast("double") / F.col("n")
    rho = lagsum.join(
        F.broadcast(mom), F.col("event_type") == F.col("met")
    ).select(
        "event_type",
        "k",
        "n",
        (
            (
                F.col("sxy").cast("double")
                - mu * (F.col("sa") + F.col("sb"))
                + F.col("nk") * mu * mu
            )
            / (
                F.col("syy").cast("double")
                - F.col("sy").cast("double") * F.col("sy") / F.col("n")
            )
        ).alias("rho_k"),
    )
    return (
        rho.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            r6(
                F.max("n")
                * (F.max("n") + 2.0)
                * F.sum(
                    F.col("rho_k")
                    * F.col("rho_k")
                    / (F.col("n") - F.col("k"))
                )
            ).alias("ljung_box_q"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q309 — Tukey median polish (2 unrolled rounds)
# ---------------------------------------------------------------------------
# Additive decomposition of the (event_type x week) revenue matrix
# into overall + row + column effects by alternating median
# subtraction, 2 rounds unrolled.  Medians use the shared
# interpolation arithmetic over exact cent residuals; the robust
# two-way EDA classic.
_Q309_STEP = """
    , r{k} AS (
      SELECT event_type, wk,
             v - MEDIAN(v) OVER (PARTITION BY event_type) AS v
      FROM {prev}
    ), c{k} AS (
      SELECT event_type, wk,
             v - MEDIAN(v) OVER (PARTITION BY wk) AS v
      FROM r{k}
    )"""

_Q309_STEPS = "".join(
    _Q309_STEP.format(k=i, prev=("cells" if i == 1 else f"c{i - 1}"))
    for i in (1, 2)
)

_Q309_ORACLE = f"""
    WITH cells AS (
      SELECT event_type,
             CAST(FLOOR((CAST(ts AS DATE) - DATE '2024-01-01') / 7)
                  AS BIGINT) AS wk,
             CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) / 100.0 AS v
      FROM events GROUP BY event_type, wk
    ){_Q309_STEPS}
    SELECT event_type, wk,
           {_R6.format(x='v')} AS residual
    FROM c2
    ORDER BY event_type, wk
"""


@register(
    "q309_median_polish",
    _Q309_ORACLE,
    doc="Tukey median polish of the (event_type x week) revenue "
    "matrix: two unrolled rounds of alternating row/column median "
    "subtraction over exact cent values — the robust two-way "
    "decomposition whose residuals expose cell-level anomalies.",
)
def q309(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.floor(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / 7
        )
        .cast("bigint")
        .alias("wk"),
    ).agg(
        (
            F.round(F.sum("value") * 100, 0).cast("bigint") / 100.0
        ).alias("v")
    )
    cur = cells
    for _ in range(2):
        cur = cur.select(
            "event_type",
            "wk",
            (
                F.col("v")
                - F.median("v").over(Window.partitionBy("event_type"))
            ).alias("v"),
        )
        cur = cur.select(
            "event_type",
            "wk",
            (
                F.col("v")
                - F.median("v").over(Window.partitionBy("wk"))
            ).alias("v"),
        )
    return cur.select(
        "event_type", "wk", r6(F.col("v")).alias("residual")
    ).orderBy("event_type", "wk")


# ---------------------------------------------------------------------------
# Q310 — Exact Shapley values for three corpus sources
# ---------------------------------------------------------------------------
# Data valuation: the exact Shapley value of three sources for the
# submodular "distinct vocabulary" metric — all 2^3 coalition
# values as conditional distinct counts in ONE aggregation pass,
# then the closed-form 3-player Shapley weights.  The principled
# answer to "which source contributes the most new words".
_Q310_SRCS = ("src0", "src1", "src2")

_Q310_SH_A = R6_SQL.format(
    x="(va / 3 + (vab - vb) / 6 + (vac - vc) / 6 + (vabc - vbc) / 3)"
)
_Q310_SH_B = R6_SQL.format(
    x="(vb / 3 + (vab - va) / 6 + (vbc - vc) / 6 + (vabc - vac) / 3)"
)
_Q310_SH_C = R6_SQL.format(
    x="(vc / 3 + (vac - va) / 6 + (vbc - vb) / 6 + (vabc - vab) / 3)"
)

_Q310_ORACLE = f"""
    WITH tok AS (
      SELECT source,
             UNNEST(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
      WHERE source IN ('{_Q310_SRCS[0]}', '{_Q310_SRCS[1]}',
                       '{_Q310_SRCS[2]}')
    ), wmask AS (
      SELECT w,
             MAX(CASE WHEN source = '{_Q310_SRCS[0]}' THEN 1 ELSE 0 END)
               AS in_a,
             MAX(CASE WHEN source = '{_Q310_SRCS[1]}' THEN 1 ELSE 0 END)
               AS in_b,
             MAX(CASE WHEN source = '{_Q310_SRCS[2]}' THEN 1 ELSE 0 END)
               AS in_c
      FROM tok GROUP BY w
    ), v AS (
      SELECT CAST(SUM(in_a) AS DOUBLE) AS va,
             CAST(SUM(in_b) AS DOUBLE) AS vb,
             CAST(SUM(in_c) AS DOUBLE) AS vc,
             CAST(SUM(CASE WHEN in_a = 1 OR in_b = 1
                           THEN 1 ELSE 0 END) AS DOUBLE) AS vab,
             CAST(SUM(CASE WHEN in_a = 1 OR in_c = 1
                           THEN 1 ELSE 0 END) AS DOUBLE) AS vac,
             CAST(SUM(CASE WHEN in_b = 1 OR in_c = 1
                           THEN 1 ELSE 0 END) AS DOUBLE) AS vbc,
             CAST(COUNT(*) AS DOUBLE) AS vabc
      FROM wmask
    )
    SELECT {_Q310_SH_A} AS shapley_a,
           {_Q310_SH_B} AS shapley_b,
           {_Q310_SH_C} AS shapley_c,
           CAST(vabc AS BIGINT) AS total_vocab
    FROM v
"""


@register(
    "q310_shapley",
    _Q310_ORACLE,
    doc="Exact 3-player Shapley values for sources src0/1/2 on "
    "the distinct-vocabulary metric: all 2^3 coalition values from "
    "one per-word membership-mask aggregation, closed-form Shapley "
    "weights (1/3, 1/6).  Data valuation without sampling.",
)
def q310(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import tokens_sql

    docs = _t(spark, sf_dir, "documents")
    tok = (
        docs.where(F.col("source").isin(*_Q310_SRCS))
        .select(
            "source", F.explode_outer(F.expr(tokens_sql("text"))).alias("w")
        )
        .where(F.col("w").isNotNull())
    )
    wmask = tok.groupBy("w").agg(
        *[
            F.max(
                F.when(F.col("source") == s, 1).otherwise(0)
            ).alias(f"in_{chr(97 + i)}")
            for i, s in enumerate(_Q310_SRCS)
        ]
    )
    ia, ib, ic = F.col("in_a"), F.col("in_b"), F.col("in_c")
    v = wmask.agg(
        F.sum(ia).cast("double").alias("va"),
        F.sum(ib).cast("double").alias("vb"),
        F.sum(ic).cast("double").alias("vc"),
        F.sum(F.when((ia == 1) | (ib == 1), 1).otherwise(0))
        .cast("double")
        .alias("vab"),
        F.sum(F.when((ia == 1) | (ic == 1), 1).otherwise(0))
        .cast("double")
        .alias("vac"),
        F.sum(F.when((ib == 1) | (ic == 1), 1).otherwise(0))
        .cast("double")
        .alias("vbc"),
        F.count(F.lit(1)).cast("double").alias("vabc"),
    )
    c = F.col
    sh_a = (
        c("va") / 3
        + (c("vab") - c("vb")) / 6
        + (c("vac") - c("vc")) / 6
        + (c("vabc") - c("vbc")) / 3
    )
    sh_b = (
        c("vb") / 3
        + (c("vab") - c("va")) / 6
        + (c("vbc") - c("vc")) / 6
        + (c("vabc") - c("vac")) / 3
    )
    sh_c = (
        c("vc") / 3
        + (c("vac") - c("va")) / 6
        + (c("vbc") - c("vb")) / 6
        + (c("vabc") - c("vab")) / 3
    )
    return v.select(
        r6(sh_a).alias("shapley_a"),
        r6(sh_b).alias("shapley_b"),
        r6(sh_c).alias("shapley_c"),
        c("vabc").cast("bigint").alias("total_vocab"),
    )
