"""Conformance queries: round-7 operator batch #8 (q251+) —
leave-one-source-out KL ablation, lagged cross-correlation,
Gini decision stump, Fellegi-Sunter linkage weights, inter-arrival
exponential fit with KS goodness.

Parity notes: ablation KL and the stump work entirely on integer
counts; cross-correlation uses exact per-lag integer moments;
inter-arrival gaps are exact integer microseconds."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q251 — Leave-one-source-out corpus KL ablation
# ---------------------------------------------------------------------------
# How much does each source pull the corpus unigram distribution?
# KL( corpus-minus-source || corpus ) from ONE (word, source) count
# relation: the ablated counts are total-minus-source integers, so
# all S ablations reuse the same aggregation (no per-source rescan).
_Q251_ORACLE = """
    WITH tok AS (
      SELECT source,
             UNNEST(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ), ws AS MATERIALIZED (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, w
    ), wtot AS (
      SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM ws GROUP BY w
    ), stot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS cs FROM ws GROUP BY source
    ), n AS (
      SELECT CAST(SUM(cw) AS BIGINT) AS nn FROM wtot
    ), terms AS (
      SELECT s.source,
             (CAST(t.cw - COALESCE(x.c, 0) AS DOUBLE) / (n.nn - s.cs))
             * ln((CAST(t.cw - COALESCE(x.c, 0) AS DOUBLE)
                   / (n.nn - s.cs))
                  / (CAST(t.cw AS DOUBLE) / n.nn)) AS term
      FROM stot s
      CROSS JOIN n
      CROSS JOIN wtot t
      LEFT JOIN ws x ON x.source = s.source AND x.w = t.w
      WHERE t.cw - COALESCE(x.c, 0) > 0
    )
    SELECT source, {_R6_X} AS ablation_kl
    FROM (
      SELECT source, SUM(term) AS kl FROM terms GROUP BY source
    )
    ORDER BY ablation_kl DESC, source
""".replace("{_R6_X}", R6_SQL.format(x="kl"))


@register(
    "q251_source_ablation_kl",
    _Q251_ORACLE,
    doc="Leave-one-source-out KL ablation: KL(corpus-minus-source "
    "|| corpus) for every source from one (word, source) count "
    "relation — ablated distributions are total-minus-source "
    "integers, so all ablations share the single token "
    "aggregation.  Ranks sources by distributional influence.",
)
def q251(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import tokens_sql

    docs = _t(spark, sf_dir, "documents")
    tok = docs.selectExpr(
        "source", f"explode_outer({tokens_sql('text')}) AS w"
    ).where(F.col("w").isNotNull())
    ws = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)  # wtot, stot, ablation join
    wtot = ws.groupBy("w").agg(F.sum("c").alias("cw"))
    stot = ws.groupBy("source").agg(F.sum("c").alias("cs"))
    n = wtot.agg(F.sum("cw").alias("nn"))
    grid = stot.crossJoin(F.broadcast(n)).crossJoin(
        F.broadcast(wtot.withColumnRenamed("w", "tw"))
    )
    terms = grid.join(
        ws.select(
            F.col("source").alias("xs"),
            F.col("w").alias("xw"),
            F.col("c").alias("xc"),
        ),
        (F.col("source") == F.col("xs")) & (F.col("tw") == F.col("xw")),
        "left",
    ).select(
        "source",
        (F.col("cw") - F.coalesce("xc", F.lit(0))).alias("abl"),
        "cw",
        "cs",
        "nn",
    )
    p = F.col("abl").cast("double") / (F.col("nn") - F.col("cs"))
    q = F.col("cw").cast("double") / F.col("nn")
    kl = (
        terms.where(F.col("abl") > 0)
        .groupBy("source")
        .agg(F.sum(p * F.log(p / q)).alias("kl"))
    )
    return kl.select("source", r6(F.col("kl")).alias("ablation_kl")).orderBy(
        F.col("ablation_kl").desc(), "source"
    )


# ---------------------------------------------------------------------------
# Q252 — Lagged cross-correlation between two series
# ---------------------------------------------------------------------------
# corr(clicks_t, purchases_{t+k}) for k = -7..7 from exact integer
# daily counts: the lag grid joins the two ~30-row daily relations
# on (day + k), Pearson per lag from integer moments.  Finds the
# lead/lag structure between signals.
_Q252_CORR = (
    "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / "
    "(SQRT(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * "
    " SQRT(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"
)

_Q252_ORACLE = f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events
      WHERE event_type IN ('click', 'purchase')
      GROUP BY day, event_type
    ), x AS (
      SELECT day, c FROM daily WHERE event_type = 'click'
    ), y AS (
      SELECT day, c FROM daily WHERE event_type = 'purchase'
    ), lag_grid AS (
      SELECT UNNEST(range(-7, 8)) AS k
    ), mom AS (
      SELECT g.k,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x.c) AS sx, SUM(y.c) AS sy,
             SUM(x.c * x.c) AS sxx, SUM(y.c * y.c) AS syy,
             SUM(x.c * y.c) AS sxy
      FROM lag_grid g
      JOIN x ON TRUE
      JOIN y ON y.day = x.day + to_days(CAST(g.k AS INT))
      GROUP BY g.k
    )
    SELECT CAST(k AS BIGINT) AS lag_days, n,
           {_R6.format(x=_Q252_CORR)} AS xcorr
    FROM mom ORDER BY lag_days
"""


@register(
    "q252_cross_correlation",
    _Q252_ORACLE,
    doc="Lagged cross-correlation clicks->purchases for k=-7..7: "
    "the 15-lag grid joins two ~30-row daily count relations on "
    "day+k, Pearson per lag from exact integer moments.  The "
    "lead/lag discovery tool (ACF q149's two-signal sibling).",
)
def q252(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    x = daily.where(F.col("event_type") == "click").select(
        F.col("day").alias("dx"), F.col("c").alias("cx")
    )
    y = daily.where(F.col("event_type") == "purchase").select(
        F.col("day").alias("dy"), F.col("c").alias("cy")
    )
    lag_grid = daily.sparkSession.range(-7, 8).select(
        F.col("id").alias("k")
    )
    mom = (
        lag_grid.crossJoin(x)
        .join(
            y,
            F.col("dy")
            == F.date_add(F.col("dx"), F.col("k").cast("int")),
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cx").alias("sx"),
            F.sum("cy").alias("sy"),
            F.sum(F.col("cx") * F.col("cx")).alias("sxx"),
            F.sum(F.col("cy") * F.col("cy")).alias("syy"),
            F.sum(F.col("cx") * F.col("cy")).alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    return mom.select(
        F.col("k").cast("bigint").alias("lag_days"),
        "n",
        r6(num / den).alias("xcorr"),
    ).orderBy("lag_days")


# ---------------------------------------------------------------------------
# Q253 — Gini decision stump (best threshold on a price feature)
# ---------------------------------------------------------------------------
# Best single split of o_totalprice predicting fully-shipped
# status, by weighted Gini impurity: counts per DISTINCT price
# first (the scale move — candidates are distinct values, not
# rows), prefix class counts by window, impurity from exact
# integers, argmin with price tiebreak.
_Q253_ORACLE = """
    WITH per_price AS (
      SELECT o_totalprice AS thr,
             CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                  AS BIGINT) AS f_c,
             CAST(COUNT(*) AS BIGINT) AS n_c
      FROM orders GROUP BY o_totalprice
    ), pre AS (
      SELECT thr,
             SUM(f_c) OVER w AS fl,
             SUM(n_c) OVER w AS nl,
             SUM(f_c) OVER () AS ftot,
             SUM(n_c) OVER () AS ntot
      FROM per_price
      WINDOW w AS (ORDER BY thr ROWS UNBOUNDED PRECEDING)
    ), cost AS (
      SELECT thr, fl, nl, ftot, ntot,
             (CAST(nl AS DOUBLE)
              * (1.0 - (CAST(fl AS DOUBLE) / nl)
                       * (CAST(fl AS DOUBLE) / nl)
                     - (CAST(nl - fl AS DOUBLE) / nl)
                       * (CAST(nl - fl AS DOUBLE) / nl))
              + CAST(ntot - nl AS DOUBLE)
              * (1.0 - (CAST(ftot - fl AS DOUBLE) / (ntot - nl))
                       * (CAST(ftot - fl AS DOUBLE) / (ntot - nl))
                     - (CAST((ntot - nl) - (ftot - fl) AS DOUBLE)
                        / (ntot - nl))
                       * (CAST((ntot - nl) - (ftot - fl) AS DOUBLE)
                          / (ntot - nl))))
             / ntot AS gini
      FROM pre WHERE nl < ntot
    ), best AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY gini, thr) AS rk
      FROM cost
    )
    SELECT ROUND(thr + 5e-10, 2) AS threshold,
           CAST(nl AS BIGINT) AS n_left,
           CAST(fl AS BIGINT) AS f_left,
           {_R6_X} AS gini
    FROM best WHERE rk = 1
""".replace("{_R6_X}", R6_SQL.format(x="gini"))


@register(
    "q253_decision_stump",
    _Q253_ORACLE,
    doc="Gini decision stump on o_totalprice vs fully-shipped "
    "status: per-distinct-price class counts (candidates are "
    "distinct values, not rows), prefix counts in one window pass, "
    "weighted impurity from exact integers, deterministic argmin.  "
    "The tree-builder's inner loop as a relational plan.",
)
def q253(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    per_price = o.groupBy(F.col("o_totalprice").alias("thr")).agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("f_c"),
        F.count(F.lit(1)).alias("n_c"),
    )
    w = Window.orderBy("thr").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    pre = per_price.select(
        "thr",
        F.sum("f_c").over(w).alias("fl"),
        F.sum("n_c").over(w).alias("nl"),
        F.sum("f_c").over(wall).alias("ftot"),
        F.sum("n_c").over(wall).alias("ntot"),
    )
    fl, nl = F.col("fl").cast("double"), F.col("nl")
    ftot, ntot = F.col("ftot"), F.col("ntot")
    p1l = fl / nl
    p0l = (F.col("nl") - F.col("fl")).cast("double") / nl
    p1r = (ftot - F.col("fl")).cast("double") / (ntot - nl)
    p0r = ((ntot - nl) - (ftot - F.col("fl"))).cast("double") / (
        ntot - nl
    )
    gini = (
        nl.cast("double") * (1.0 - p1l * p1l - p0l * p0l)
        + (ntot - nl).cast("double") * (1.0 - p1r * p1r - p0r * p0r)
    ) / ntot
    cost = pre.where(F.col("nl") < F.col("ntot")).select(
        "thr", "fl", "nl", gini.alias("gini")
    )
    best = cost.withColumn(
        "rk", F.row_number().over(Window.orderBy("gini", "thr"))
    )
    return best.where(F.col("rk") == 1).select(
        F.round(F.col("thr") + 5e-10, 2).alias("threshold"),
        F.col("nl").cast("bigint").alias("n_left"),
        F.col("fl").cast("bigint").alias("f_left"),
        r6(F.col("gini")).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Q254 — Fellegi-Sunter linkage weights (agreement patterns)
# ---------------------------------------------------------------------------
# Record-linkage scoring between customers and suppliers blocked on
# nation: agreement vector = (balance-band match, balance-sign
# match), m/u probabilities from a deterministic key-derived truth
# label, per-pattern log2 match weight.  All probabilities are
# integer-count ratios; the weight table is what a linkage engine
# ships to production.
_Q254_ORACLE = """
    WITH pairs AS (
      SELECT CASE WHEN FLOOR(c.c_acctbal / 2000.0)
                     = FLOOR(s.s_acctbal / 2000.0)
                  THEN 1 ELSE 0 END AS a_band,
             CASE WHEN (c.c_acctbal >= 0) = (s.s_acctbal >= 0)
                  THEN 1 ELSE 0 END AS a_sign,
             CASE WHEN c.c_custkey % 100 = s.s_suppkey % 100
                  THEN 1 ELSE 0 END AS lbl
      FROM customer c JOIN supplier s
        ON s.s_nationkey = c.c_nationkey
    ), field AS (
      SELECT CAST(SUM(lbl) AS BIGINT) AS n_m,
             CAST(SUM(1 - lbl) AS BIGINT) AS n_u,
             CAST(SUM(a_band * lbl) AS BIGINT) AS band_m,
             CAST(SUM(a_band * (1 - lbl)) AS BIGINT) AS band_u,
             CAST(SUM(a_sign * lbl) AS BIGINT) AS sign_m,
             CAST(SUM(a_sign * (1 - lbl)) AS BIGINT) AS sign_u
      FROM pairs
    ), pat AS (
      SELECT a_band, a_sign,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(lbl) AS BIGINT) AS n_match
      FROM pairs GROUP BY a_band, a_sign
    )
    SELECT p.a_band, p.a_sign, p.n_pairs, p.n_match,
           ROUND((CASE WHEN p.a_band = 1
                  THEN ln(LEAST(GREATEST(CAST(f.band_m AS DOUBLE) / f.n_m,
                                         1e-6), 1.0 - 1e-6)
                          / LEAST(GREATEST(CAST(f.band_u AS DOUBLE) / f.n_u,
                                           1e-6), 1.0 - 1e-6))
                  ELSE ln((1.0 - LEAST(GREATEST(
                             CAST(f.band_m AS DOUBLE) / f.n_m,
                             1e-6), 1.0 - 1e-6))
                          / (1.0 - LEAST(GREATEST(
                               CAST(f.band_u AS DOUBLE) / f.n_u,
                               1e-6), 1.0 - 1e-6)))
                  END
                + CASE WHEN p.a_sign = 1
                  THEN ln(LEAST(GREATEST(CAST(f.sign_m AS DOUBLE) / f.n_m,
                                         1e-6), 1.0 - 1e-6)
                          / LEAST(GREATEST(CAST(f.sign_u AS DOUBLE) / f.n_u,
                                           1e-6), 1.0 - 1e-6))
                  ELSE ln((1.0 - LEAST(GREATEST(
                             CAST(f.sign_m AS DOUBLE) / f.n_m,
                             1e-6), 1.0 - 1e-6))
                          / (1.0 - LEAST(GREATEST(
                               CAST(f.sign_u AS DOUBLE) / f.n_u,
                               1e-6), 1.0 - 1e-6)))
                  END) / ln(2.0) + 5e-12, 6) AS fs_weight
    FROM pat p CROSS JOIN field f
    ORDER BY p.a_band, p.a_sign
"""


@register(
    "q254_fellegi_sunter",
    _Q254_ORACLE,
    doc="Fellegi-Sunter linkage weights over nation-blocked "
    "customer-supplier pairs: m/u agreement probabilities per "
    "field from integer counts against a key-derived truth label, "
    "per-pattern log2 weight.  One blocked join + one aggregation "
    "— the probabilistic-linkage scoring table.",
)
def q254(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    pairs = c.join(
        F.broadcast(s), s.s_nationkey == c.c_nationkey
    ).select(
        F.when(
            F.floor(F.col("c_acctbal") / 2000.0)
            == F.floor(F.col("s_acctbal") / 2000.0),
            1,
        )
        .otherwise(0)
        .alias("a_band"),
        F.when(
            (F.col("c_acctbal") >= 0) == (F.col("s_acctbal") >= 0), 1
        )
        .otherwise(0)
        .alias("a_sign"),
        F.when(
            F.col("c_custkey") % 100 == F.col("s_suppkey") % 100, 1
        )
        .otherwise(0)
        .alias("lbl"),
    ).localCheckpoint(eager=False)  # field totals + pattern rollup
    field = pairs.agg(
        F.sum("lbl").alias("n_m"),
        F.sum(1 - F.col("lbl")).alias("n_u"),
        F.sum(F.col("a_band") * F.col("lbl")).alias("band_m"),
        F.sum(F.col("a_band") * (1 - F.col("lbl"))).alias("band_u"),
        F.sum(F.col("a_sign") * F.col("lbl")).alias("sign_m"),
        F.sum(F.col("a_sign") * (1 - F.col("lbl"))).alias("sign_u"),
    )
    pat = pairs.groupBy("a_band", "a_sign").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("lbl").alias("n_match"),
    )

    def _clamp(x):
        # degenerate tiny-sample probabilities (0 or 1) would make
        # the log weights infinite — clamp like production linkage
        # engines do (and keep both engines' arithmetic identical)
        return F.least(F.greatest(x, F.lit(1e-6)), F.lit(1.0 - 1e-6))

    def _w(agree_col: str, m_col: str, u_col: str):
        m = _clamp(F.col(m_col).cast("double") / F.col("n_m"))
        u = _clamp(F.col(u_col).cast("double") / F.col("n_u"))
        return F.when(F.col(agree_col) == 1, F.log(m / u)).otherwise(
            F.log((1.0 - m) / (1.0 - u))
        )

    import math

    return (
        pat.crossJoin(F.broadcast(field))
        .select(
            "a_band",
            "a_sign",
            "n_pairs",
            "n_match",
            F.round(
                (
                    _w("a_band", "band_m", "band_u")
                    + _w("a_sign", "sign_m", "sign_u")
                )
                / math.log(2.0)
                + 5e-12,
                6,
            ).alias("fs_weight"),
        )
        .orderBy("a_band", "a_sign")
    )


# ---------------------------------------------------------------------------
# Q255 — Inter-arrival exponential fit + KS goodness
# ---------------------------------------------------------------------------
# Per-user consecutive gaps (exact integer microseconds), pooled
# exponential MLE lambda = n / sum(gaps), and the KS distance
# between the empirical gap CDF and the fitted exponential —
# evaluated per DISTINCT gap with both ECDF step sides.
_Q255_ORACLE = """
    WITH gaps AS (
      SELECT epoch_us(ts) - LAG(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
      FROM events
    ), gg AS MATERIALIZED (
      SELECT g FROM gaps WHERE g IS NOT NULL
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(g) AS BIGINT) AS sg
      FROM gg
    ), dist AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM gg GROUP BY g
    ), steps AS (
      SELECT g,
             SUM(c) OVER (ORDER BY g ROWS UNBOUNDED PRECEDING) AS cum
      FROM dist
    ), ks AS (
      SELECT MAX(GREATEST(
               ABS(CAST(s.cum AS DOUBLE) / t.n
                   - (1.0 - exp(-(CAST(t.n AS DOUBLE) / t.sg) * s.g))),
               ABS(CAST(s.cum - 1 AS DOUBLE) / t.n
                   - (1.0 - exp(-(CAST(t.n AS DOUBLE) / t.sg) * s.g)))
             )) AS d,
             MAX(t.n) AS n, MAX(t.sg) AS sg
      FROM steps s CROSS JOIN tot t
    )
    SELECT n,
           ROUND(3600.0e6 * n / sg + 5e-12, 6) AS lambda_per_hour,
           ROUND(d + 5e-12, 6) AS ks_stat
    FROM ks
"""


@register(
    "q255_interarrival_fit",
    _Q255_ORACLE,
    doc="Pooled inter-arrival analysis: per-user consecutive gaps "
    "as exact integer microseconds (one user-keyed window), "
    "exponential MLE rate, and the exact KS distance vs the "
    "fitted CDF over distinct gaps (both ECDF step sides).  The "
    "is-it-really-Poisson check for arrival modeling.",
)
def q255(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — the cast's
    # timezone offset cancels in the gap difference.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = ev.select(
        (us - F.lag(us).over(w)).alias("g")
    ).where(F.col("g").isNotNull())
    gaps = gaps.localCheckpoint(eager=False)  # tot + dist
    tot = gaps.agg(
        F.count(F.lit(1)).alias("n"), F.sum("g").alias("sg")
    )
    dist = gaps.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    steps = dist.select(
        "g",
        F.sum("c")
        .over(Window.orderBy("g").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    lam = F.col("n").cast("double") / F.col("sg")
    fitted = 1.0 - F.exp(-lam * F.col("g"))
    ks = (
        steps.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.greatest(
                    F.abs(
                        F.col("cum").cast("double") / F.col("n") - fitted
                    ),
                    F.abs(
                        (F.col("cum") - 1).cast("double") / F.col("n")
                        - fitted
                    ),
                )
            ).alias("d"),
            F.max("n").alias("n"),
            F.max("sg").alias("sg"),
        )
    )
    return ks.select(
        "n",
        F.round(
            3600.0e6 * F.col("n") / F.col("sg") + 5e-12, 6
        ).alias("lambda_per_hour"),
        r6(F.col("d")).alias("ks_stat"),
    )
