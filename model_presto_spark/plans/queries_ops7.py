"""Conformance queries: experimentation-platform operators (q209+).

Ratio-metric inference needs the delta method (a per-user ratio is
not an average of i.i.d. rows), and production A/B platforms run
CUPED variance reduction before the test. Both are single-pass
moment aggregations — the 100 TB shape is one groupBy over users
then scalar algebra on a handful of doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register

_R6 = R6_SQL

_HASH_VARIANT = (
    "CAST(('0x' || substr(md5('ab#' || CAST(user_id AS VARCHAR)), 1, 15)) "
    "AS BIGINT) % 2"
)

# ---------------------------------------------------------------------------
# Q209 — delta-method ratio-metric A/B test
# ---------------------------------------------------------------------------
# Metric: value per event, as the ratio of per-user sums R = X̄/Ȳ.
# Var(R) ~ (s_x² - 2R s_xy + R² s_y²) / (n ȳ²) — the delta method;
# naive per-row variance would be wrong because the denominator is
# random too. One aggregation to per-user (x, y), one to per-variant
# moments, scalar algebra after.
_Q209_ORACLE = f"""
    WITH per_user AS (
      SELECT user_id, {_HASH_VARIANT} AS variant,
             SUM(COALESCE(value, 0.0)) AS x,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY user_id
    ), mom AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
             AVG(x) AS mx, AVG(y) AS my,
             (SUM(x * x) - COUNT(*) * AVG(x) * AVG(x)) / (COUNT(*) - 1) AS sxx,
             (SUM(y * y) - COUNT(*) * AVG(y) * AVG(y)) / (COUNT(*) - 1) AS syy,
             (SUM(x * y) - COUNT(*) * AVG(x) * AVG(y)) / (COUNT(*) - 1) AS sxy
      FROM per_user GROUP BY variant
    )
    SELECT variant, n_users,
           {_R6.format(x='mx / my')} AS ratio,
           {_R6.format(
               x='(sxx - 2 * (mx / my) * sxy '
                 '+ (mx / my) * (mx / my) * syy) '
                 '/ (n_users * my * my)')} AS var_ratio
    FROM mom ORDER BY variant
"""


@register(
    "q209_delta_method",
    _Q209_ORACLE,
    doc="Delta-method ratio-metric A/B readout: value-per-event as "
    "the ratio of per-user sums, with the linearized variance "
    "(s_xx - 2R s_xy + R^2 s_yy)/(n my^2) — the correct SE for a "
    "ratio whose denominator is random. Two aggregations total; "
    "variants assigned by the deterministic md5 coin.",
)
def q209(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import h60_sql

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("x"),
        F.count(F.lit(1)).cast("double").alias("y"),
    )
    variant = F.pmod(
        F.expr(h60_sql("concat('ab#', CAST(user_id AS STRING))")),
        F.lit(2),
    ).alias("variant")
    n = F.count(F.lit(1))
    mom = (
        per_user.select(variant, "x", "y")
        .groupBy("variant")
        .agg(
            n.cast("bigint").alias("n_users"),
            F.avg("x").alias("mx"),
            F.avg("y").alias("my"),
            (
                (F.sum(F.col("x") * F.col("x")) - n * F.avg("x") * F.avg("x"))
                / (n - 1)
            ).alias("sxx"),
            (
                (F.sum(F.col("y") * F.col("y")) - n * F.avg("y") * F.avg("y"))
                / (n - 1)
            ).alias("syy"),
            (
                (F.sum(F.col("x") * F.col("y")) - n * F.avg("x") * F.avg("y"))
                / (n - 1)
            ).alias("sxy"),
        )
    )
    ratio = F.col("mx") / F.col("my")
    return mom.select(
        "variant",
        "n_users",
        r6(ratio).alias("ratio"),
        r6(
            (
                F.col("sxx")
                - 2 * ratio * F.col("sxy")
                + ratio * ratio * F.col("syy")
            )
            / (F.col("n_users") * F.col("my") * F.col("my"))
        ).alias("var_ratio"),
    ).orderBy("variant")


# ---------------------------------------------------------------------------
# Q210 — CUPED variance reduction
# ---------------------------------------------------------------------------
# Pre-period covariate x (first half of the month), experiment
# metric y (second half); theta = cov(x,y)/var(x) fitted on ALL
# users (the unbiased CUPED recipe), adjusted metric
# y - theta*(x - mean(x)). Reports per-variant means and the
# variance reduction the adjustment buys.
_Q210_ORACLE = f"""
    WITH per_user AS (
      SELECT user_id, {_HASH_VARIANT} AS variant,
             SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                      THEN COALESCE(value, 0.0) ELSE 0.0 END) AS x,
             SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                      THEN COALESCE(value, 0.0) ELSE 0.0 END) AS y
      FROM events GROUP BY user_id
    ), theta AS (
      SELECT (SUM(x * y) - COUNT(*) * AVG(x) * AVG(y))
               / (SUM(x * x) - COUNT(*) * AVG(x) * AVG(x)) AS th,
             AVG(x) AS gmx
      FROM per_user
    ), adj AS (
      SELECT p.variant, p.y,
             p.y - t.th * (p.x - t.gmx) AS y_adj
      FROM per_user p CROSS JOIN theta t
    )
    SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
           {_R6.format(x='AVG(y)')} AS mean_y,
           {_R6.format(x='AVG(y_adj)')} AS mean_y_adj,
           {_R6.format(
               x='(SUM(y * y) - COUNT(*) * AVG(y) * AVG(y)) / (COUNT(*) - 1)')}
             AS var_y,
           {_R6.format(
               x='(SUM(y_adj * y_adj) - COUNT(*) * AVG(y_adj) * AVG(y_adj)) '
                 '/ (COUNT(*) - 1)')}
             AS var_y_adj
    FROM adj GROUP BY variant ORDER BY variant
"""


@register(
    "q210_cuped",
    _Q210_ORACLE,
    doc="CUPED variance reduction: pre-period covariate (first half "
    "of the month) against the experiment metric (second half), "
    "theta = cov/var fitted once on all users, adjusted metric "
    "y - theta*(x - mean x). Per-variant raw vs adjusted means and "
    "variances — the adjustment's whole point is var_y_adj < var_y "
    "at an unchanged treatment-effect estimate.",
)
def q210(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import h60_sql

    ev = _t(spark, sf_dir, "events")
    pre = F.col("ts").cast("date") < F.lit("2024-01-16").cast("date")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(pre, F.coalesce(F.col("value"), F.lit(0.0))).otherwise(
                    0.0
                )
            ).alias("x"),
            F.sum(
                F.when(~pre, F.coalesce(F.col("value"), F.lit(0.0))).otherwise(
                    0.0
                )
            ).alias("y"),
        )
        .select(
            F.pmod(
                F.expr(h60_sql("concat('ab#', CAST(user_id AS STRING))")),
                F.lit(2),
            ).alias("variant"),
            "x",
            "y",
        )
        .localCheckpoint(eager=False)  # referenced by theta AND adj
    )
    n = F.count(F.lit(1))
    theta = per_user.agg(
        (
            (F.sum(F.col("x") * F.col("y")) - n * F.avg("x") * F.avg("y"))
            / (F.sum(F.col("x") * F.col("x")) - n * F.avg("x") * F.avg("x"))
        ).alias("th"),
        F.avg("x").alias("gmx"),
    )
    adj = per_user.crossJoin(F.broadcast(theta)).select(
        "variant",
        "y",
        (F.col("y") - F.col("th") * (F.col("x") - F.col("gmx"))).alias(
            "y_adj"
        ),
    )
    var_of = lambda c: (
        F.sum(F.col(c) * F.col(c)) - n * F.avg(c) * F.avg(c)
    ) / (n - 1)
    return (
        adj.groupBy("variant")
        .agg(
            n.cast("bigint").alias("n_users"),
            r6(F.avg("y")).alias("mean_y"),
            r6(F.avg("y_adj")).alias("mean_y_adj"),
            r6(var_of("y")).alias("var_y"),
            r6(var_of("y_adj")).alias("var_y_adj"),
        )
        .orderBy("variant")
    )


# ---------------------------------------------------------------------------
# Q211 — Hill tail-index estimator (heavy-tail diagnostics)
# ---------------------------------------------------------------------------
# How heavy is the user-activity tail? Hill over the top-k order
# statistics: alpha = k / sum(ln(x_(i) / x_(k+1))). One aggregation
# to per-user counts (the 100 TB part), then a top-(k+1) on the
# already-small distinct-user relation, scalar algebra after. The
# estimator that decides whether mean-based capacity planning is
# even meaningful for a workload.
_Q211_K = 50

_Q211_EXPR = f"{_Q211_K} / (sum_ln - {_Q211_K} * ln(x_ref))"

_Q211_ORACLE = f"""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY user_id
    ), ranked AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x DESC, user_id) AS rk
      FROM per_user
    ), topk AS (
      SELECT MAX(CASE WHEN rk = {_Q211_K + 1} THEN x END) AS x_ref,
             SUM(CASE WHEN rk <= {_Q211_K} THEN ln(x) END) AS sum_ln,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM ranked
    )
    SELECT n_users,
           {_R6.format(x=_Q211_EXPR)} AS hill_alpha,
           {_R6.format(x='x_ref')} AS x_kplus1
    FROM topk
"""


@register(
    "q211_hill_tail",
    _Q211_ORACLE,
    doc="Hill tail-index over per-user activity counts: "
    "k / sum(ln(x_i/x_(k+1))) on the top-50 order statistics. One "
    "distributed aggregation + one window on the tiny per-user "
    "relation; alpha < 2 means infinite-variance planning territory.",
)
def q211(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    ranked = per_user.select(
        "x",
        F.row_number()
        .over(Window.orderBy(F.col("x").desc(), F.col("user_id")))
        .alias("rk"),
    )
    topk = ranked.agg(
        F.max(F.when(F.col("rk") == _Q211_K + 1, F.col("x"))).alias("x_ref"),
        F.sum(F.when(F.col("rk") <= _Q211_K, F.log(F.col("x")))).alias(
            "sum_ln"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )
    return topk.select(
        "n_users",
        r6(
            F.lit(float(_Q211_K))
            / (F.col("sum_ln") - _Q211_K * F.log(F.col("x_ref")))
        ).alias("hill_alpha"),
        r6(F.col("x_ref")).alias("x_kplus1"),
    )


# ---------------------------------------------------------------------------
# Q212 — Good-Turing count-of-counts smoothing (LM mass estimation)
# ---------------------------------------------------------------------------
# The count-of-counts table N_r and the classic Good-Turing
# quantities: unseen-mass estimate N_1/N and the adjusted count
# r* = (r+1) N_{r+1} / N_r for small r. Two aggregations over the
# bigram stream (bigram counts, then frequency-of-frequency) — both
# map-side combined; the table itself is tiny at any corpus size.
# Word BIGRAMS, not unigrams: the synthetic corpus has only ~31
# distinct words (min count 26), so a unigram spectrum at r<=10 is
# empty — bigrams populate the small-r rows the estimator is about.
_Q212_ORACLE = """
    WITH tok AS (
      SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS ts
      FROM documents
    ), big AS (
      SELECT ts[i] || ' ' || ts[i + 1] AS t
      FROM tok, UNNEST(range(1, len(ts))) AS u(i)
    ), tc AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS r FROM big GROUP BY t
    ), coc AS (
      SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM tc GROUP BY r
    ), tot AS (
      SELECT SUM(r * n_r) AS n_tokens FROM coc
    )
    SELECT c.r, c.n_r,
           ROUND((c.r + 1) * CAST(nxt.n_r AS DOUBLE) / c.n_r + 5e-12, 6)
             AS r_star,
           ROUND(c.r * c.n_r / CAST(t.n_tokens AS DOUBLE) + 5e-12, 6)
             AS mass_share
    FROM coc c
    LEFT JOIN coc nxt ON nxt.r = c.r + 1
    CROSS JOIN tot t
    WHERE c.r <= 10
    ORDER BY c.r
"""


@register(
    "q212_good_turing",
    _Q212_ORACLE,
    doc="Good-Turing count-of-counts: bigram-frequency spectrum N_r, "
    "adjusted counts r* = (r+1)N_{r+1}/N_r, and per-r probability "
    "mass share (r=1 row IS the unseen-mass estimate). Two map-side "
    "combined aggregations; the spectrum is O(max count) rows at "
    "any corpus size.",
)
def q212(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import bigrams, tokens_sql

    docs = _t(spark, sf_dir, "documents")
    tc = (
        docs.select(F.expr(tokens_sql("text")).alias("ts"))
        .select(F.explode_outer(bigrams(F.col("ts"))).alias("t"))
        .where(F.col("t").isNotNull())
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    coc = tc.groupBy("r").agg(F.count(F.lit(1)).alias("n_r")).localCheckpoint(
        eager=False
    )  # referenced 3x: rows, shifted self-join, total
    tot = coc.agg(F.sum(F.col("r") * F.col("n_r")).alias("n_tokens"))
    nxt = coc.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next")
    )
    return (
        coc.where(F.col("r") <= 10)
        .join(F.broadcast(nxt), "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r").cast("bigint").alias("r"),
            F.col("n_r").cast("bigint").alias("n_r"),
            F.round(
                (F.col("r") + 1)
                * F.col("n_r_next").cast("double")
                / F.col("n_r")
                + F.lit(5e-12),
                6,
            ).alias("r_star"),
            F.round(
                F.col("r") * F.col("n_r") / F.col("n_tokens").cast("double")
                + F.lit(5e-12),
                6,
            ).alias("mass_share"),
        )
        .orderBy("r")
    )


# ---------------------------------------------------------------------------
# Q213 — Chao1 vocabulary-richness estimator
# ---------------------------------------------------------------------------
# How many distinct tokens does the corpus REALLY have, including
# the ones not yet seen? Chao1: S_obs + f1^2 / (2 f2), with the
# bias-corrected form when f2 = 0. Per source — the scale shape is
# one (source, bigram) distinct aggregation, then tiny per-source
# algebra. The coverage estimate (1 - f1/n) is Good-Turing's.
# Bigrams for the same reason as q212: the unigram vocabulary is
# saturated (f1 = f2 = 0 everywhere), which makes Chao1 vacuous.
_Q213_ORACLE = """
    WITH tok AS (
      SELECT source,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS ts
      FROM documents
    ), big AS (
      SELECT source, ts[i] || ' ' || ts[i + 1] AS t
      FROM tok, UNNEST(range(1, len(ts))) AS u(i)
    ), tc AS (
      SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
      FROM big GROUP BY source, t
    ), stats AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS s_obs,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS f1,
             CAST(COUNT(CASE WHEN c = 2 THEN 1 END) AS BIGINT) AS f2
      FROM tc GROUP BY source
    )
    SELECT source, s_obs, f1, f2,
           ROUND(s_obs + CASE WHEN f2 > 0
                              THEN CAST(f1 AS DOUBLE) * f1 / (2.0 * f2)
                              ELSE CAST(f1 AS DOUBLE) * (f1 - 1) / 2.0 END
                 + 5e-12, 6) AS chao1,
           ROUND(1.0 - CAST(f1 AS DOUBLE) / n_tokens + 5e-12, 6)
             AS coverage
    FROM stats ORDER BY source
"""


@register(
    "q213_chao1_richness",
    _Q213_ORACLE,
    doc="Chao1 bigram-vocabulary richness and Good-Turing coverage "
    "per source: S_obs + f1^2/(2 f2) (bias-corrected when f2=0) from "
    "singleton/doubleton counts. One (source, bigram) aggregation — "
    "the estimator that says how much vocabulary a crawl has NOT "
    "seen yet.",
)
def q213(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import bigrams, tokens_sql

    docs = _t(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.expr(tokens_sql("text")).alias("ts"))
        .select(
            "source", F.explode_outer(bigrams(F.col("ts"))).alias("t")
        )
        .where(F.col("t").isNotNull())
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = tc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("s_obs"),
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.when(F.col("c") == 1, 1)).cast("bigint").alias("f1"),
        F.count(F.when(F.col("c") == 2, 1)).cast("bigint").alias("f2"),
    )
    chao_extra = F.when(
        F.col("f2") > 0,
        F.col("f1").cast("double") * F.col("f1") / (2.0 * F.col("f2")),
    ).otherwise(F.col("f1").cast("double") * (F.col("f1") - 1) / 2.0)
    return stats.select(
        "source",
        "s_obs",
        "f1",
        "f2",
        F.round(F.col("s_obs") + chao_extra + F.lit(5e-12), 6).alias("chao1"),
        F.round(
            1.0 - F.col("f1").cast("double") / F.col("n_tokens")
            + F.lit(5e-12),
            6,
        ).alias("coverage"),
    ).orderBy("source")
