"""Conformance queries batch #35 (q369+) — Croston intermittent-
demand forecast, Kitagawa mix/rate decomposition, Dirichlet-smoothed
query-likelihood retrieval, Simpson's-paradox detector, and
Benjamini-Hochberg FDR over a test battery with a planted effect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, r6, register
from model_presto_spark.plans.queries_docs import DD_TOKENS

_TOK = DD_TOKENS.format(t="text")


# ---------------------------------------------------------------------------
# Q369 — Croston's method for intermittent demand
# ---------------------------------------------------------------------------
# Per-user demand forecast when most days have NO demand: separate
# exponential smoothing of nonzero demand sizes and of inter-demand
# intervals; rate = size_hat / interval_hat.  Both smoothings use
# the exact adjust=True weighted-mean closed form (the q134 EWMA
# algebra), stated directly as one weighted aggregation per user —
# no recursion.
_Q369_A = 0.2  # smoothing constant; beta = 1 - a

_Q369_ORACLE = f"""
    WITH dem AS (
      SELECT user_id, CAST(EXTRACT(day FROM ts) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS z
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), seq AS (
      SELECT user_id, d, z,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS i,
             COUNT(*) OVER (PARTITION BY user_id) AS n,
             d - LAG(d) OVER (PARTITION BY user_id ORDER BY d) AS gap
      FROM dem
    ), zfit AS (
      SELECT user_id,
             SUM(z * POW({1 - _Q369_A}, n - i))
               / SUM(POW({1 - _Q369_A}, n - i)) AS z_hat
      FROM seq GROUP BY user_id
    ), gfit AS (
      SELECT user_id,
             SUM(gap * POW({1 - _Q369_A}, n - i))
               / SUM(POW({1 - _Q369_A}, n - i)) AS x_hat,
             COUNT(*) AS n_gaps
      FROM seq WHERE gap IS NOT NULL GROUP BY user_id
    )
    SELECT z.user_id,
           CAST(g.n_gaps + 1 AS BIGINT) AS n_demands,
           ROUND(z.z_hat + 5e-12, 6) AS size_hat,
           ROUND(g.x_hat + 5e-12, 6) AS interval_hat,
           ROUND(z.z_hat / g.x_hat + 5e-12, 6) AS demand_rate
    FROM zfit z JOIN gfit g ON g.user_id = z.user_id
    WHERE g.n_gaps >= 2
    ORDER BY z.user_id
"""


@register(
    "q369_croston",
    _Q369_ORACLE,
    doc="Croston intermittent-demand forecast per user: nonzero "
    "demand days -> exact adjust=True EWMA of sizes AND of "
    "inter-demand gaps (the q134 closed form as one weighted "
    "aggregation each), rate = size/interval.  One user-keyed "
    "window + two aggregations; the forecasting method for the "
    "sparse-demand regime where plain smoothing biases low.",
)
def q369(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    beta = 1 - _Q369_A
    dem = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.dayofmonth("ts").cast("bigint").alias("d"))
        .agg(F.count(F.lit(1)).alias("z"))
    )
    w = Window.partitionBy("user_id").orderBy("d")
    seq = dem.select(
        "user_id",
        "d",
        "z",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n"),
        (F.col("d") - F.lag("d").over(w)).alias("gap"),
    )
    wgt = F.pow(F.lit(beta), F.col("n") - F.col("i"))
    zfit = seq.groupBy(F.col("user_id").alias("z_user")).agg(
        (F.sum(F.col("z") * wgt) / F.sum(wgt)).alias("z_hat")
    )
    gfit = (
        seq.filter(F.col("gap").isNotNull())
        .groupBy("user_id")
        .agg(
            (F.sum(F.col("gap") * wgt) / F.sum(wgt)).alias("x_hat"),
            F.count(F.lit(1)).alias("n_gaps"),
        )
    )
    return (
        zfit.join(gfit, F.col("z_user") == F.col("user_id"))
        .filter(F.col("n_gaps") >= 2)
        .select(
            "user_id",
            (F.col("n_gaps") + 1).cast("bigint").alias("n_demands"),
            r6(F.col("z_hat")).alias("size_hat"),
            r6(F.col("x_hat")).alias("interval_hat"),
            r6(F.col("z_hat") / F.col("x_hat")).alias("demand_rate"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Q370 — Kitagawa / Oaxaca mix-rate decomposition
# ---------------------------------------------------------------------------
# Why did overall CTR move between week 1 and week 4?  The change
# splits EXACTLY into a mix effect (stratum weights shifted, rates
# held at period 1) and a rate effect (rates shifted, weights at
# period 2): delta = sum (w2-w1) r1 + sum w2 (r2-r1).  Two tiny
# aggregations; the decomposition every metrics review needs before
# declaring a regression.
_Q370_ORACLE = """
    WITH base AS (
      SELECT CASE WHEN EXTRACT(day FROM ts) <= 7 THEN 1
                  WHEN EXTRACT(day FROM ts) >= 22 THEN 2 END AS period,
             CAST(FLOOR(EXTRACT(hour FROM ts) / 6.0) AS BIGINT) AS stratum,
             CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END AS y
      FROM events
      WHERE EXTRACT(day FROM ts) <= 7 OR EXTRACT(day FROM ts) >= 22
    ), agg AS (
      SELECT period, stratum, COUNT(*) AS n, AVG(y) AS r
      FROM base GROUP BY 1, 2
    ), tot AS (SELECT period, SUM(n) AS nt FROM agg GROUP BY 1),
    wide AS (
      SELECT a.stratum,
             MAX(CASE WHEN a.period = 1 THEN a.n * 1.0 / t.nt END) AS w1,
             MAX(CASE WHEN a.period = 2 THEN a.n * 1.0 / t.nt END) AS w2,
             MAX(CASE WHEN a.period = 1 THEN a.r END) AS r1,
             MAX(CASE WHEN a.period = 2 THEN a.r END) AS r2
      FROM agg a JOIN tot t ON t.period = a.period
      GROUP BY a.stratum
    )
    SELECT ROUND(SUM(w2 * r2) - SUM(w1 * r1) + 5e-12, 6) AS total_delta,
           ROUND(SUM((w2 - w1) * r1) + 5e-12, 6) AS mix_effect,
           ROUND(SUM(w2 * (r2 - r1)) + 5e-12, 6) AS rate_effect
    FROM wide
"""


@register(
    "q370_mix_rate_decomposition",
    _Q370_ORACLE,
    doc="Kitagawa decomposition of a CTR change between two periods "
    "into mix effect (stratum-weight shift at period-1 rates) and "
    "rate effect (within-stratum rate shift at period-2 weights) — "
    "an exact identity from two stratum aggregations.  The "
    "'did the metric move or did the traffic mix move' question.",
)
def q370(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    period = (
        F.when(F.dayofmonth("ts") <= 7, 1)
        .when(F.dayofmonth("ts") >= 22, 2)
    )
    base = ev.filter(
        (F.dayofmonth("ts") <= 7) | (F.dayofmonth("ts") >= 22)
    ).select(
        period.alias("period"),
        F.floor(F.hour("ts") / 6).cast("bigint").alias("stratum"),
        F.when(F.col("event_type") == "click", 1.0).otherwise(0.0).alias("y"),
    )
    agg = base.groupBy("period", "stratum").agg(
        F.count(F.lit(1)).alias("n"), F.avg("y").alias("r")
    )
    tot = agg.groupBy(F.col("period").alias("t_period")).agg(
        F.sum("n").alias("nt")
    )
    wide = (
        agg.join(F.broadcast(tot), F.col("period") == F.col("t_period"))
        .groupBy("stratum")
        .agg(
            F.max(
                F.when(F.col("period") == 1, F.col("n") * 1.0 / F.col("nt"))
            ).alias("w1"),
            F.max(
                F.when(F.col("period") == 2, F.col("n") * 1.0 / F.col("nt"))
            ).alias("w2"),
            F.max(F.when(F.col("period") == 1, F.col("r"))).alias("r1"),
            F.max(F.when(F.col("period") == 2, F.col("r"))).alias("r2"),
        )
    )
    return wide.agg(
        r6(
            F.sum(F.col("w2") * F.col("r2")) - F.sum(F.col("w1") * F.col("r1"))
        ).alias("total_delta"),
        r6(F.sum((F.col("w2") - F.col("w1")) * F.col("r1"))).alias("mix_effect"),
        r6(F.sum(F.col("w2") * (F.col("r2") - F.col("r1")))).alias("rate_effect"),
    )


# ---------------------------------------------------------------------------
# Q371 — Dirichlet-smoothed query-likelihood retrieval
# ---------------------------------------------------------------------------
# The language-modeling member of the retrieval family (BM25 q91,
# TF-IDF q73): score(q, d) = sum_t log((tf + mu*p_t) / (len_d + mu)).
# Split into a document-only part (computable for every doc without
# a join) plus a correction for PRESENT terms only — so the join
# touches just the posting list of the query terms, never all
# (doc, term) pairs.
_Q371_TERMS = ["spark", "join", "vector"]
_Q371_MU = 100.0
_Q371_K = 10

_Q371_TLIT = "', '".join(_Q371_TERMS)

_Q371_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK}) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ), dlen AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS len FROM tf GROUP BY 1
    ), corpus AS (SELECT CAST(SUM(tf) AS BIGINT) AS ct FROM tf),
    pterm AS (
      SELECT token, SUM(tf) * 1.0 / MAX(c.ct) AS p
      FROM tf CROSS JOIN corpus c
      WHERE token IN ('{_Q371_TLIT}')
      GROUP BY token
    ), base AS (
      SELECT d.doc_id,
             SUM(ln({_Q371_MU} * p.p / (d.len + {_Q371_MU}))) AS base_score
      FROM dlen d CROSS JOIN pterm p
      GROUP BY d.doc_id
    ), corr AS (
      SELECT t.doc_id,
             SUM(ln((t.tf + {_Q371_MU} * p.p) / ({_Q371_MU} * p.p)))
               AS corr_score
      FROM tf t JOIN pterm p ON p.token = t.token
      GROUP BY t.doc_id
    ), scored AS (
      SELECT b.doc_id,
             ROUND(b.base_score + COALESCE(c.corr_score, 0) + 5e-12, 6) AS ql
      FROM base b LEFT JOIN corr c ON c.doc_id = b.doc_id
    )
    SELECT doc_id, ql,
           CAST(ROW_NUMBER() OVER (ORDER BY ql DESC, doc_id) AS BIGINT) AS rank
    FROM scored
    ORDER BY ql DESC, doc_id LIMIT {_Q371_K}
"""


@register(
    "q371_query_likelihood",
    _Q371_ORACLE,
    doc="Dirichlet-smoothed query likelihood (mu=100) for a 3-term "
    "query: doc-only term computed from lengths alone, present-term "
    "correction joined ONLY through the query terms' posting list "
    "(absent terms never materialize).  Completes the retrieval "
    "family beside BM25 (q91) and TF-IDF (q73); rank on the "
    "rounded score.",
)
def q371(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    toks = docs.selectExpr(
        "doc_id", f"explode_outer({T.tokens_sql('text')}) AS token"
    ).filter(F.col("token").isNotNull())
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dlen = tf.groupBy(F.col("doc_id").alias("d_doc")).agg(
        F.sum("tf").cast("bigint").alias("len")
    )
    corpus = tf.agg(F.sum("tf").cast("bigint").alias("ct"))
    pterm = (
        tf.filter(F.col("token").isin(_Q371_TERMS))
        .crossJoin(F.broadcast(corpus))
        .groupBy(F.col("token").alias("p_token"))
        .agg((F.sum("tf") * 1.0 / F.max("ct")).alias("p"))
    )
    base = (
        dlen.crossJoin(F.broadcast(pterm))
        .groupBy("d_doc")
        .agg(
            F.sum(
                F.log(_Q371_MU * F.col("p") / (F.col("len") + _Q371_MU))
            ).alias("base_score")
        )
    )
    corr = (
        tf.join(F.broadcast(pterm), F.col("token") == F.col("p_token"))
        .groupBy(F.col("doc_id").alias("c_doc"))
        .agg(
            F.sum(
                F.log(
                    (F.col("tf") + _Q371_MU * F.col("p"))
                    / (_Q371_MU * F.col("p"))
                )
            ).alias("corr_score")
        )
    )
    scored = base.join(corr, F.col("d_doc") == F.col("c_doc"), "left").select(
        F.col("d_doc").alias("doc_id"),
        r6(F.col("base_score") + F.coalesce(F.col("corr_score"), F.lit(0.0))).alias(
            "ql"
        ),
    )
    w = Window.orderBy(F.col("ql").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .orderBy(F.col("ql").desc(), "doc_id")
        .limit(_Q371_K)
    )


# ---------------------------------------------------------------------------
# Q372 — Simpson's-paradox detector
# ---------------------------------------------------------------------------
# Per-stratum OLS slope of quantity on discount vs the pooled slope,
# with a sign-reversal flag.  On this data the paradox is REAL: the
# A and N strata trend positive while the pooled slope is negative.
# Signs compare on the 6dp-rounded slopes so both engines flip
# together.
_Q372_ORACLE = """
    WITH base AS (
      SELECT l_returnflag AS g, l_discount AS x, l_quantity AS y
      FROM lineitem
    ), per AS (
      SELECT g, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*x) AS sxx, SUM(x*y) AS sxy
      FROM base GROUP BY g
    ), pooled AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*x) AS sxx, SUM(x*y) AS sxy
      FROM base
    )
    SELECT p.g,
           ROUND((p.n*p.sxy - p.sx*p.sy) / (p.n*p.sxx - p.sx*p.sx)
                 + 5e-12, 6) AS stratum_slope,
           ROUND((q.n*q.sxy - q.sx*q.sy) / (q.n*q.sxx - q.sx*q.sx)
                 + 5e-12, 6) AS pooled_slope,
           CASE WHEN sign(ROUND((p.n*p.sxy - p.sx*p.sy)
                                / (p.n*p.sxx - p.sx*p.sx) + 5e-12, 6))
                     <> sign(ROUND((q.n*q.sxy - q.sx*q.sy)
                                   / (q.n*q.sxx - q.sx*q.sx) + 5e-12, 6))
                THEN 1 ELSE 0 END AS reversed
    FROM per p CROSS JOIN pooled q ORDER BY p.g
"""


@register(
    "q372_simpsons_paradox",
    _Q372_ORACLE,
    doc="Simpson's-paradox detector: per-stratum vs pooled OLS slope "
    "(q122 Cramer moments, one grouped + one global aggregation), "
    "sign-reversal flag on the rounded slopes.  Non-vacuous here — "
    "two of three strata genuinely reverse against the pooled "
    "trend.",
)
def q372(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_discount").alias("x"),
        F.col("l_quantity").alias("y"),
    )
    def moments(df, keys):
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )

    slope = lambda: r6(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    per = moments(base, ["g"]).select("g", slope().alias("stratum_slope"))
    pooled = moments(base.withColumn("k", F.lit(1)), ["k"]).select(
        slope().alias("pooled_slope")
    )
    return (
        per.crossJoin(F.broadcast(pooled))
        .select(
            "g",
            "stratum_slope",
            "pooled_slope",
            F.when(
                F.signum(F.col("stratum_slope"))
                != F.signum(F.col("pooled_slope")),
                1,
            )
            .otherwise(0)
            .alias("reversed"),
        )
        .orderBy("g")
    )


# ---------------------------------------------------------------------------
# Q373 — Benjamini-Hochberg FDR over a planted test battery
# ---------------------------------------------------------------------------
# Per-nation urgent-order rate z-tests with a KNOWN effect planted
# in-plan (nations divisible by 5 get +0.12), p-values via the
# Abramowitz-Stegun 7.1.26 erf approximation (identical closed form
# in both engines), then the BH step-up at q = 0.10: reject ranks
# <= argmax{i : p_(i) <= q i/m}.  The planted nations take the top
# five ranks and are all rejected — multiple-testing control with a
# verifiable ground truth.
_Q373_Q = 0.10

_AS_ERF = (
    "(1 - POW(1 + 0.278393*({x}) + 0.230389*POW({x},2) "
    "+ 0.000972*POW({x},3) + 0.078108*POW({x},4), -4))"
)

_Q373_ORACLE = f"""
    WITH ev AS (
      SELECT c.c_nationkey AS nk,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END
               + CASE WHEN c.c_nationkey % 5 = 0 THEN 0.12 ELSE 0.0 END AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), g AS (SELECT nk, COUNT(*) AS n, AVG(y) AS p FROM ev GROUP BY nk),
    tot AS (SELECT AVG(y) AS p0 FROM ev),
    z AS (
      SELECT g.nk, abs(g.p - t.p0) / sqrt(0.25 / g.n) AS zstat
      FROM g CROSS JOIN tot t
    ), pv AS (
      SELECT nk, zstat,
             2 * (1 - (0.5 * (1 + {_AS_ERF.format(x='zstat/sqrt(2)')})))
               AS p_two
      FROM z
    ), ranked AS (
      SELECT nk, zstat, p_two,
             ROW_NUMBER() OVER (ORDER BY p_two, nk) AS i,
             COUNT(*) OVER () AS m
      FROM pv
    ), cut AS (
      SELECT MAX(CASE WHEN p_two <= {_Q373_Q} * i / m THEN i ELSE 0 END) AS k
      FROM ranked
    )
    SELECT r.nk AS nationkey,
           ROUND(r.zstat + 5e-12, 6) AS z,
           ROUND(r.p_two + 5e-12, 6) AS p_value,
           CAST(r.i AS BIGINT) AS rank,
           CASE WHEN r.i <= c.k THEN 1 ELSE 0 END AS rejected,
           CASE WHEN r.nk % 5 = 0 THEN 1 ELSE 0 END AS planted
    FROM ranked r CROSS JOIN cut c
    ORDER BY r.i
"""


@register(
    "q373_bh_fdr",
    _Q373_ORACLE,
    doc="Benjamini-Hochberg step-up (q=0.10) over 25 per-nation "
    "rate z-tests with an effect planted in-plan: p-values from "
    "the A&S erf closed form, BH cutoff = one max over the ranked "
    "battery, rejections flagged beside the planted truth (all "
    "five planted nations take the top ranks).  Multiple-testing "
    "control as window algebra.",
)
def q373(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    y = F.when(F.col("o_orderpriority") == "1-URGENT", 1.0).otherwise(
        0.0
    ) + F.when(F.col("c_nationkey") % 5 == 0, 0.12).otherwise(0.0)
    ev = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nk"), y.alias("y")
        # lineage cut: ev feeds per-nation and corpus rates (plan
        # audit: 16 scans un-materialized)
    ).localCheckpoint(eager=False)
    g = ev.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n"), F.avg("y").alias("p")
    )
    tot = ev.agg(F.avg("y").alias("p0"))
    zdf = g.crossJoin(F.broadcast(tot)).select(
        "nk",
        (
            F.abs(F.col("p") - F.col("p0")) / F.sqrt(F.lit(0.25) / F.col("n"))
        ).alias("zstat"),
    )
    xa = F.col("zstat") / F.sqrt(F.lit(2.0))
    erf = 1 - F.pow(
        1
        + 0.278393 * xa
        + 0.230389 * F.pow(xa, 2)
        + 0.000972 * F.pow(xa, 3)
        + 0.078108 * F.pow(xa, 4),
        -4,
    )
    pv = zdf.withColumn("p_two", 2 * (1 - (0.5 * (1 + erf))))
    w = Window.orderBy("p_two", "nk")
    ranked = pv.select(
        "nk",
        "zstat",
        "p_two",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    ).localCheckpoint(eager=False)
    cut = ranked.agg(
        F.max(
            F.when(
                F.col("p_two") <= _Q373_Q * F.col("i") / F.col("m"), F.col("i")
            ).otherwise(0)
        ).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(cut))
        .select(
            F.col("nk").alias("nationkey"),
            r6(F.col("zstat")).alias("z"),
            r6(F.col("p_two")).alias("p_value"),
            F.col("i").cast("bigint").alias("rank"),
            F.when(F.col("i") <= F.col("k"), 1).otherwise(0).alias("rejected"),
            F.when(F.col("nk") % 5 == 0, 1).otherwise(0).alias("planted"),
        )
        .orderBy("rank")
    )
