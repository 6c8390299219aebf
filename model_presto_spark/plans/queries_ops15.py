"""Conformance queries: round-7 operator batch #9 (q256+) —
water-filling token-budget allocation, temporal interpolation join,
negative-binomial overdispersion, DerSimonian-Laird meta-analysis,
Qini uplift curve.

Parity: the water-fill threshold and every test statistic derive
from exact integer token/cent/count moments; interpolation
fractions are exact microsecond rationals."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q256 — Water-filling token-budget allocation across sources
# ---------------------------------------------------------------------------
# Max-min fair allocation: each source keeps min(n_s, T) tokens
# with the cap T chosen so the total hits the budget (60% of the
# corpus).  T has a closed form per sorted segment — one ascending
# rank + prefix sum over the per-source relation, pick the first
# feasible segment.  The fair-share alternative to q70's
# proportional mix.
_Q256_ORACLE = """
    WITH tok AS (
      SELECT source,
             CAST(len(list_filter(
               regexp_split_to_array(lower(text), '\\s+'),
               x -> x <> '')) AS BIGINT) AS n_tok
      FROM documents
    ), src AS (
      SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_s
      FROM tok GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(n_s) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(FLOOR(3.0 * SUM(n_s) / 5) AS BIGINT) AS b
      FROM src
    ), ranked AS (
      SELECT s.source, s.n_s, t.n, t.k, t.b,
             ROW_NUMBER() OVER (ORDER BY s.n_s, s.source) AS i,
             COALESCE(SUM(s.n_s) OVER (ORDER BY s.n_s, s.source
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) AS p_prev
      FROM src s CROSS JOIN tot t
    ), cand AS (
      SELECT *,
             (CAST(b AS DOUBLE) - p_prev) / (k - i + 1) AS t_i
      FROM ranked
    ), thr AS (
      -- the true level is the LARGEST feasible candidate: segments
      -- after the binding one are also "feasible" but underestimate
      SELECT MAX(t_i) AS t_star
      FROM cand WHERE t_i <= n_s
    )
    SELECT c.source, c.n_s,
           ROUND(LEAST(CAST(c.n_s AS DOUBLE), t.t_star) + 5e-12, 6)
             AS allocation,
           ROUND(LEAST(CAST(c.n_s AS DOUBLE), t.t_star) / c.n_s
                 + 5e-12, 6) AS keep_rate,
           ROUND(t.t_star + 5e-12, 6) AS water_level
    FROM cand c CROSS JOIN thr t
    ORDER BY c.source
"""


@register(
    "q256_waterfill_budget",
    _Q256_ORACLE,
    doc="Water-filling (max-min fair) token allocation to a 60% "
    "corpus budget: per-source integer token totals, ascending "
    "rank + prefix sum, closed-form cap per segment; the binding "
    "segment's level is the LARGEST feasible candidate.  Small "
    "sources keep everything; the cap binds only the big ones.",
)
def q256(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import tokens_sql

    docs = _t(spark, sf_dir, "documents")
    src = (
        docs.selectExpr("source", f"size({tokens_sql('text')}) AS n_tok")
        .groupBy("source")
        .agg(F.sum("n_tok").cast("bigint").alias("n_s"))
    )
    tot = src.agg(
        F.sum("n_s").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.floor(3.0 * F.sum("n_s") / 5).cast("bigint").alias("b"),
    )
    wr = Window.orderBy("n_s", "source")
    ranked = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_s",
        "n",
        "k",
        "b",
        F.row_number().over(wr).alias("i"),
        F.coalesce(
            F.sum("n_s").over(
                wr.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("p_prev"),
    )
    cand = ranked.withColumn(
        "t_i",
        (F.col("b").cast("double") - F.col("p_prev"))
        / (F.col("k") - F.col("i") + 1),
    )
    # Largest feasible candidate = the binding segment's level
    # (later segments are feasible but underestimate).
    thr = cand.where(F.col("t_i") <= F.col("n_s")).agg(
        F.max("t_i").alias("t_star")
    )
    alloc = F.least(F.col("n_s").cast("double"), F.col("t_star"))
    return (
        cand.crossJoin(F.broadcast(thr))
        .select(
            "source",
            "n_s",
            r6(alloc).alias("allocation"),
            r6(alloc / F.col("n_s")).alias("keep_rate"),
            r6(F.col("t_star")).alias("water_level"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q257 — Temporal interpolation join (probe times onto a daily curve)
# ---------------------------------------------------------------------------
# Linearly interpolate each series' daily-cents curve at 97
# generated probe timestamps (every 7h): probe joins its bracketing
# days, value = y_d + (y_{d+1} - y_d) * day-fraction.  The
# sensor-fusion primitive as-of joins can't express (they snap,
# this blends); fractions are exact microsecond rationals.
_Q257_ORACLE = """
    WITH daily AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS cents
      FROM events GROUP BY event_type, day
    ), probes AS (
      SELECT TIMESTAMP '2024-01-01 00:00:00'
               + to_hours(7 * CAST(t.k AS INT)) AS pt
      FROM generate_series(0, 96) t(k)
    ), joined AS (
      SELECT d0.event_type, p.pt, d0.cents AS y0, d1.cents AS y1,
             (epoch_us(p.pt) - epoch_us(CAST(d0.day AS TIMESTAMP)))
               / 86400.0e6 AS frac
      FROM probes p
      JOIN daily d0 ON d0.day = CAST(p.pt AS DATE)
      JOIN daily d1 ON d1.event_type = d0.event_type
                   AND d1.day = d0.day + to_days(1)
    )
    SELECT event_type, pt,
           ROUND((y0 + (CAST(y1 AS DOUBLE) - y0) * frac) / 100.0
                 + 5e-10, 2) AS value_interp
    FROM joined
    ORDER BY event_type, pt
"""


@register(
    "q257_interpolation_join",
    _Q257_ORACLE,
    doc="Temporal interpolation join: 97 generated probe times "
    "every 7h, each joined to its bracketing daily-cents points "
    "per series, linear blend by exact microsecond day-fraction.  "
    "What an as-of join snaps, this interpolates — resampling "
    "onto an arbitrary probe grid.",
)
def q257(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100, 0).cast("bigint").alias("cents")
    ).localCheckpoint(eager=False)  # both bracket joins
    # NTZ arithmetic so no session-timezone shift can sneak in
    # between the engines (events ts is NTZ too).
    probes = daily.sparkSession.range(0, 97).select(
        F.expr(
            "timestampadd(HOUR, CAST(7 * id AS INT), "
            "TIMESTAMP_NTZ '2024-01-01 00:00:00')"
        ).alias("pt")
    )
    d0 = daily.select(
        F.col("event_type").alias("et0"),
        F.col("day").alias("day0"),
        F.col("cents").alias("y0"),
    )
    d1 = daily.select(
        F.col("event_type").alias("et1"),
        F.col("day").alias("day1"),
        F.col("cents").alias("y1"),
    )
    frac = (
        F.unix_micros(F.col("pt").cast("timestamp"))
        - F.unix_micros(F.col("day0").cast("timestamp"))
    ) / 86400.0e6
    joined = (
        probes.join(F.broadcast(d0), F.to_date("pt") == F.col("day0"))
        .join(
            F.broadcast(d1),
            (F.col("et1") == F.col("et0"))
            & (F.col("day1") == F.date_add(F.col("day0"), 1)),
        )
        .select(
            F.col("et0").alias("event_type"),
            "pt",
            "y0",
            "y1",
            frac.alias("frac"),
        )
    )
    return (
        joined.select(
            "event_type",
            F.col("pt").cast("timestamp_ntz").alias("pt"),
            F.round(
                (
                    F.col("y0")
                    + (F.col("y1").cast("double") - F.col("y0"))
                    * F.col("frac")
                )
                / 100.0
                + 5e-10,
                2,
            ).alias("value_interp"),
        )
        .orderBy("event_type", "pt")
    )


# ---------------------------------------------------------------------------
# Q258 — Negative-binomial overdispersion diagnostics
# ---------------------------------------------------------------------------
# Are daily event counts Poisson or overdispersed?  Dispersion
# index v/m, NB method-of-moments r = m^2/(v - m) and p = m/v per
# series — all from exact integer daily-count moments (sample
# variance).
_Q258_ORACLE = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, day
    ), mom AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(y) AS sy, SUM(y * y) AS syy
      FROM daily GROUP BY event_type
    ), s AS (
      SELECT event_type, n,
             CAST(sy AS DOUBLE) / n AS m,
             (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * (n - 1)) AS v
      FROM mom
    )
    SELECT event_type, n,
           ROUND(m + 5e-12, 6) AS mean_daily,
           ROUND(v + 5e-12, 6) AS var_daily,
           ROUND(v / m + 5e-12, 6) AS dispersion_index,
           ROUND(CASE WHEN v > m THEN m * m / (v - m) END + 5e-12, 6)
             AS nb_r,
           ROUND(CASE WHEN v > m THEN m / v END + 5e-12, 6) AS nb_p
    FROM s ORDER BY event_type
"""


@register(
    "q258_overdispersion",
    _Q258_ORACLE,
    doc="Overdispersion diagnostics per event-type daily counts: "
    "dispersion index v/m and negative-binomial MOM (r, p) from "
    "exact integer moments; NULL when equidispersed.  Decides "
    "Poisson vs NB for rate modeling.",
)
def q258(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("y")
    )
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    m = F.col("sy").cast("double") / F.col("n")
    v = (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")) / (
        nd * (F.col("n") - 1)
    )
    s = mom.select("event_type", "n", m.alias("m"), v.alias("v"))
    return s.select(
        "event_type",
        "n",
        r6(F.col("m")).alias("mean_daily"),
        r6(F.col("v")).alias("var_daily"),
        r6(F.col("v") / F.col("m")).alias("dispersion_index"),
        r6(
            F.when(
                F.col("v") > F.col("m"),
                F.col("m") * F.col("m") / (F.col("v") - F.col("m")),
            )
        ).alias("nb_r"),
        r6(F.when(F.col("v") > F.col("m"), F.col("m") / F.col("v"))).alias(
            "nb_p"
        ),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Q259 — Random-effects meta-analysis (DerSimonian-Laird)
# ---------------------------------------------------------------------------
# Pool the per-source treatment effect (user-parity mean value
# difference in cents) across the 20 sources-as-studies: fixed
# effect, Cochran's Q, DL tau^2, and the random-effects pooled
# estimate.  Study moments are exact integers; the pooling is a
# tiny scalar reduce.
_Q259_ORACLE = """
    WITH obs AS (
      SELECT d.source, e.user_id % 2 AS variant,
             CAST(ROUND(e.value * 100, 0) AS BIGINT) AS y
      FROM events e
      JOIN documents d ON d.doc_id = e.event_id % 500
    ), g AS (
      SELECT source, variant,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(y) AS s, SUM(y * y) AS ss
      FROM obs GROUP BY source, variant
    ), study AS (
      SELECT a.source,
             (CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
               / 100.0 AS d,
             (((CAST(a.n AS DOUBLE) * a.ss
                - CAST(a.s AS DOUBLE) * a.s)
               / (CAST(a.n AS DOUBLE) * (a.n - 1))) / a.n
              + ((CAST(b.n AS DOUBLE) * b.ss
                  - CAST(b.s AS DOUBLE) * b.s)
                 / (CAST(b.n AS DOUBLE) * (b.n - 1))) / b.n)
             / 10000.0 AS var_d
      FROM (SELECT * FROM g WHERE variant = 1) a
      JOIN (SELECT * FROM g WHERE variant = 0) b
        ON b.source = a.source
    ), fe AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             SUM(1.0 / var_d) AS sw,
             SUM(d / var_d) AS swd,
             SUM(1.0 / (var_d * var_d)) AS sw2
      FROM study
    ), q AS (
      SELECT f.k, f.sw, f.sw2, f.swd / f.sw AS mu_fe,
             (SELECT SUM((s.d - f.swd / f.sw) * (s.d - f.swd / f.sw)
                         / s.var_d) FROM study s) AS cochran_q
      FROM fe f
    ), tau AS (
      SELECT k, mu_fe, cochran_q,
             GREATEST(0.0, (cochran_q - (k - 1))
                           / (sw - sw2 / sw)) AS tau2
      FROM q
    )
    SELECT t.k, ROUND(t.mu_fe + 5e-12, 6) AS mu_fixed,
           ROUND(t.cochran_q + 5e-12, 6) AS cochran_q,
           ROUND(t.tau2 + 5e-12, 6) AS tau2,
           ROUND((SELECT SUM(s.d / (s.var_d + t.tau2)) FROM study s)
                 / (SELECT SUM(1.0 / (s.var_d + t.tau2)) FROM study s)
                 + 5e-12, 6) AS mu_random
    FROM tau t
"""


@register(
    "q259_meta_analysis",
    _Q259_ORACLE,
    doc="DerSimonian-Laird random-effects meta-analysis pooling "
    "per-source variant effects: study means/variances from exact "
    "integer cent moments, fixed effect, Cochran's Q, DL tau^2, "
    "random-effects pooled mean.  The many-experiments synthesis "
    "primitive.",
)
def q259(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    obs = ev.join(
        F.broadcast(docs), docs.doc_id == ev.event_id % 500
    ).select(
        "source",
        (F.col("user_id") % 2).alias("variant"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("y"),
    )
    g = obs.groupBy("source", "variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("ss"),
    )

    def _side(v, pre):
        return g.where(F.col("variant") == v).select(
            F.col("source").alias(f"{pre}src"),
            F.col("n").alias(f"{pre}n"),
            F.col("s").alias(f"{pre}s"),
            F.col("ss").alias(f"{pre}ss"),
        )

    a, b = _side(1, "a"), _side(0, "b")

    def _sv(pre):
        n = F.col(f"{pre}n").cast("double")
        s = F.col(f"{pre}s").cast("double")
        ss = F.col(f"{pre}ss")
        return ((n * ss - s * F.col(f"{pre}s")) / (n * (F.col(f"{pre}n") - 1))) / F.col(f"{pre}n")

    study = a.join(b, F.col("bsrc") == F.col("asrc")).select(
        F.col("asrc").alias("source"),
        (
            (
                F.col("as").cast("double") / F.col("an")
                - F.col("bs").cast("double") / F.col("bn")
            )
            / 100.0
        ).alias("d"),
        ((_sv("a") + _sv("b")) / 10000.0).alias("var_d"),
    )
    study = study.localCheckpoint(eager=False)  # fe + Q + RE reuse
    fe = study.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(1.0 / F.col("var_d")).alias("sw"),
        F.sum(F.col("d") / F.col("var_d")).alias("swd"),
        F.sum(1.0 / (F.col("var_d") * F.col("var_d"))).alias("sw2"),
    )
    qq = study.crossJoin(F.broadcast(fe)).agg(
        F.max("k").alias("k"),
        F.max("sw").alias("sw"),
        F.max("sw2").alias("sw2"),
        F.max(F.col("swd") / F.col("sw")).alias("mu_fe"),
        F.sum(
            (F.col("d") - F.col("swd") / F.col("sw"))
            * (F.col("d") - F.col("swd") / F.col("sw"))
            / F.col("var_d")
        ).alias("cochran_q"),
    )
    tau = qq.select(
        "k",
        "mu_fe",
        "cochran_q",
        F.greatest(
            F.lit(0.0),
            (F.col("cochran_q") - (F.col("k") - 1))
            / (F.col("sw") - F.col("sw2") / F.col("sw")),
        ).alias("tau2"),
    )
    re = study.crossJoin(F.broadcast(tau)).agg(
        F.max("k").alias("k"),
        F.max("mu_fe").alias("mu_fe"),
        F.max("cochran_q").alias("cochran_q"),
        F.max("tau2").alias("tau2"),
        (
            F.sum(F.col("d") / (F.col("var_d") + F.col("tau2")))
            / F.sum(1.0 / (F.col("var_d") + F.col("tau2")))
        ).alias("mu_random"),
    )
    return re.select(
        "k",
        r6(F.col("mu_fe")).alias("mu_fixed"),
        r6(F.col("cochran_q")).alias("cochran_q"),
        r6(F.col("tau2")).alias("tau2"),
        r6(F.col("mu_random")).alias("mu_random"),
    )


# ---------------------------------------------------------------------------
# Q260 — Qini uplift curve by score decile
# ---------------------------------------------------------------------------
# Uplift targeting audit: users deciled by activity score (total
# events), treatment = user parity, response = purchase count;
# per-decile cumulative Qini value S_t(k) - S_c(k) * N_t(k)/N_c(k)
# from exact integer counts.
_Q260_ORACLE = """
    WITH per_user AS (
      SELECT user_id,
             user_id % 2 AS treat,
             CAST(COUNT(*) AS BIGINT) AS activity,
             CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                  AS BIGINT) AS conv
      FROM events GROUP BY user_id
    ), scored AS (
      SELECT *, NTILE(10) OVER (ORDER BY activity DESC, user_id)
               AS decile
      FROM per_user
    ), agg AS (
      SELECT decile,
             CAST(SUM(treat) AS BIGINT) AS n_t,
             CAST(SUM(1 - treat) AS BIGINT) AS n_c,
             CAST(SUM(conv * treat) AS BIGINT) AS s_t,
             CAST(SUM(conv * (1 - treat)) AS BIGINT) AS s_c
      FROM scored GROUP BY decile
    ), cum AS (
      SELECT decile, n_t, n_c,
             SUM(n_t) OVER w AS cn_t, SUM(n_c) OVER w AS cn_c,
             SUM(s_t) OVER w AS cs_t, SUM(s_c) OVER w AS cs_c
      FROM agg
      WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
    )
    SELECT decile, n_t, n_c,
           ROUND(CAST(cs_t AS DOUBLE) / cn_t
                 - CAST(cs_c AS DOUBLE) / cn_c + 5e-12, 6)
             AS cum_uplift_rate,
           ROUND(cs_t - CAST(cs_c AS DOUBLE) * cn_t / cn_c + 5e-12, 6)
             AS qini
    FROM cum ORDER BY decile
"""


@register(
    "q260_qini",
    _Q260_ORACLE,
    doc="Qini uplift curve: users deciled by activity (total "
    "order), cumulative treated-vs-control purchase response "
    "S_t - S_c * N_t/N_c per decile from exact integer counts.  "
    "The does-targeting-actually-work audit for uplift models.",
)
def q260(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("activity"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "conv"
        ),
    ).select(
        "user_id",
        (F.col("user_id") % 2).alias("treat"),
        "activity",
        "conv",
    )
    scored = per_user.withColumn(
        "decile",
        F.ntile(10).over(
            Window.orderBy(F.col("activity").desc(), "user_id")
        ),
    )
    agg = scored.groupBy("decile").agg(
        F.sum("treat").alias("n_t"),
        F.sum(1 - F.col("treat")).alias("n_c"),
        F.sum(F.col("conv") * F.col("treat")).alias("s_t"),
        F.sum(F.col("conv") * (1 - F.col("treat"))).alias("s_c"),
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = agg.select(
        "decile",
        "n_t",
        "n_c",
        F.sum("n_t").over(w).alias("cn_t"),
        F.sum("n_c").over(w).alias("cn_c"),
        F.sum("s_t").over(w).alias("cs_t"),
        F.sum("s_c").over(w).alias("cs_c"),
    )
    return cum.select(
        "decile",
        "n_t",
        "n_c",
        r6(
            F.col("cs_t").cast("double") / F.col("cn_t")
            - F.col("cs_c").cast("double") / F.col("cn_c")
        ).alias("cum_uplift_rate"),
        r6(
            F.col("cs_t")
            - F.col("cs_c").cast("double") * F.col("cn_t") / F.col("cn_c")
        ).alias("qini"),
    ).orderBy("decile")
