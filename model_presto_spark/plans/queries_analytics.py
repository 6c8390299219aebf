"""Conformance queries: behavioral / product-analytics family
(q118+) over the events and orders streams — ordered funnels, RFM
segmentation, multi-touch attribution, Benford first-digit audit
(operators/behavior.py). Oracle conventions as everywhere."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, register

# ---------------------------------------------------------------------------
# Q118 — strict-order funnel signup -> view -> purchase
# ---------------------------------------------------------------------------
_FUNNEL = ["signup", "view", "purchase"]

_Q118_ORACLE = """
    WITH s0 AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ), s1 AS (
      SELECT e.user_id, MIN(e.ts) AS t1
      FROM events e JOIN s0 ON s0.user_id = e.user_id
      WHERE e.event_type = 'view' AND e.ts > s0.t0 GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY 1
    )
    SELECT 'signup' AS step, 1 AS step_index,
           CAST((SELECT COUNT(*) FROM s0) AS BIGINT) AS n_entities
    UNION ALL
    SELECT 'view', 2, CAST((SELECT COUNT(*) FROM s1) AS BIGINT)
    UNION ALL
    SELECT 'purchase', 3, CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
"""


@register(
    "q118_ordered_funnel",
    _Q118_ORACLE,
    doc="Strict-order product funnel (each step strictly after the "
    "previous, single earliest anchor): one entity-keyed aggregation "
    "+ one entity-keyed join per step — never a stream self-join. "
    "Counts monotonically non-increasing by construction.",
)
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.behavior import ordered_funnel

    ev = _t(spark, sf_dir, "events")
    out = ordered_funnel(ev, "user_id", "ts", "event_type", _FUNNEL)
    return out.select(
        "step", F.col("step_index").cast("int").alias("step_index"), "n_entities"
    )


# ---------------------------------------------------------------------------
# Q119 — RFM segmentation over purchase events
# ---------------------------------------------------------------------------
_RFM_TILES = 4

_Q119_ORACLE = f"""
    WITH p AS (
      SELECT * FROM events WHERE event_type = 'purchase'
    ), h AS (
      SELECT MAX(ts) AS m FROM p
    ), per AS (
      SELECT user_id,
             datediff('day', CAST(MAX(ts) AS DATE),
                      CAST((SELECT m FROM h) AS DATE)) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             ROUND(SUM(value) + 5e-12, 6) AS monetary
      FROM p GROUP BY 1
    )
    SELECT user_id, recency_days, frequency, monetary,
           ntile({_RFM_TILES}) OVER (ORDER BY recency_days, user_id)
             AS r_score,
           ntile({_RFM_TILES}) OVER (ORDER BY frequency DESC, user_id)
             AS f_score,
           ntile({_RFM_TILES}) OVER (ORDER BY monetary DESC, user_id)
             AS m_score,
           CAST(ntile({_RFM_TILES}) OVER (ORDER BY recency_days, user_id)
                AS VARCHAR)
           || CAST(ntile({_RFM_TILES}) OVER (ORDER BY frequency DESC, user_id)
                   AS VARCHAR)
           || CAST(ntile({_RFM_TILES}) OVER (ORDER BY monetary DESC, user_id)
                   AS VARCHAR) AS segment
    FROM per
"""


@register(
    "q119_rfm",
    _Q119_ORACLE,
    doc=f"RFM segmentation ({_RFM_TILES}-tile scores, 1=best) over "
    "purchase events: one entity aggregation + three ntile windows "
    "over the entity-level relation; monetary rounds before the "
    "ordering so float sums rank identically in any engine.",
)
def q119(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.behavior import rfm_scores

    ev = _t(spark, sf_dir, "events")
    out = rfm_scores(
        ev.where(F.col("event_type") == "purchase"),
        "user_id",
        "ts",
        "value",
        n_tiles=_RFM_TILES,
    )
    return out.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.col("r_score").cast("int").alias("r_score"),
        F.col("f_score").cast("int").alias("f_score"),
        F.col("m_score").cast("int").alias("m_score"),
        "segment",
    )


# ---------------------------------------------------------------------------
# Q120 — linear multi-touch attribution of purchases
# ---------------------------------------------------------------------------
_TOUCHES = ["click", "view"]

_Q120_ORACLE = """
    WITH stream AS (
      SELECT user_id, ts, event_id, event_type AS t
      FROM events WHERE event_type IN ('click', 'view', 'purchase')
    ), marked AS (
      SELECT user_id, t,
             SUM(CASE WHEN t <> 'purchase' THEN 1 ELSE 0 END)
               OVER wp AS n_prior,
             SUM(CASE WHEN t = 'click' THEN 1 ELSE 0 END)
               OVER wp AS cnt_click,
             SUM(CASE WHEN t = 'view' THEN 1 ELSE 0 END)
               OVER wp AS cnt_view
      FROM stream
      WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), conv AS (
      SELECT * FROM marked
      WHERE t = 'purchase' AND COALESCE(n_prior, 0) > 0
    )
    SELECT 'click' AS touch_type,
           ROUND(SUM(CAST(cnt_click AS DOUBLE) / n_prior) + 5e-12, 6)
             AS credit,
           CAST(COUNT(CASE WHEN cnt_click > 0 THEN 1 END) AS BIGINT)
             AS n_conversions
    FROM conv
    UNION ALL
    SELECT 'view',
           ROUND(SUM(CAST(cnt_view AS DOUBLE) / n_prior) + 5e-12, 6),
           CAST(COUNT(CASE WHEN cnt_view > 0 THEN 1 END) AS BIGINT)
    FROM conv
"""


@register(
    "q120_attribution",
    _Q120_ORACLE,
    doc="Linear multi-touch attribution: every prior click/view of "
    "the converting user splits the conversion credit equally. One "
    "window pass over the entity-ordered merged stream (running "
    "per-type prior counts) — never a touches x conversions join.",
)
def q120(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.behavior import attribution

    ev = _t(spark, sf_dir, "events")
    out = attribution(
        ev, "user_id", "ts", "event_type", _TOUCHES, "purchase",
        id_col="event_id", model="linear",
    )
    return out.select(
        "touch_type",
        F.round(F.col("credit") + F.lit(5e-12), 6).alias("credit"),
        "n_conversions",
    )


# ---------------------------------------------------------------------------
# Q121 — Benford first-digit audit of order totals per priority
# ---------------------------------------------------------------------------
def _q121_oracle() -> str:
    exp = ", ".join(repr(math.log10(1 + 1 / d)) for d in range(1, 10))
    return f"""
    WITH base AS (
      SELECT o_orderpriority AS grp,
             CAST(floor(o_totalprice
                        / power(10.0, floor(log10(o_totalprice))))
                  AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), counts AS (
      SELECT grp, digit, COUNT(*) AS n FROM base GROUP BY 1, 2
    ), totals AS (
      SELECT grp, SUM(n) AS total FROM counts GROUP BY 1
    ), spine AS (
      SELECT grp, total, unnest(generate_series(1, 9)) AS digit
      FROM totals
    ), scored AS (
      SELECT s.grp, s.digit,
             CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
             CAST(COALESCE(c.n, 0) AS DOUBLE) / s.total AS observed,
             ([{exp}])[s.digit] AS expected,
             s.total
      FROM spine s LEFT JOIN counts c
        ON c.grp = s.grp AND c.digit = s.digit
    ), chi AS (
      SELECT grp,
             SUM(pow(observed - expected, 2) / expected * total) AS chi2
      FROM scored GROUP BY 1
    )
    SELECT scored.grp AS o_orderpriority, scored.digit,
           scored.n,
           ROUND(scored.observed + 5e-12, 6) AS observed,
           ROUND(scored.expected + 5e-12, 6) AS expected,
           ROUND(chi.chi2 + 5e-12, 6) AS chi2
    FROM scored JOIN chi ON chi.grp = scored.grp
"""


@register(
    "q121_benford",
    _q121_oracle(),
    doc="Benford first-digit audit (fraud/anomaly staple): digit "
    "extraction is pure arithmetic (no string round-trip), the "
    "9-digit spine makes absent digits contribute their expected "
    "mass to chi-square; expected shares embed as identical Python "
    "double literals in both engines.",
)
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.behavior import benford_digits

    o = _t(spark, sf_dir, "orders")
    out = benford_digits(o, "o_totalprice", "o_orderpriority")
    return out.select(
        "o_orderpriority",
        F.col("digit").cast("int").alias("digit"),
        "n",
        F.round(F.col("observed") + F.lit(5e-12), 6).alias("observed"),
        F.round(F.col("expected") + F.lit(5e-12), 6).alias("expected"),
        F.round(F.col("chi2") + F.lit(5e-12), 6).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Q122 — grouped closed-form OLS: value vs day per event type
# ---------------------------------------------------------------------------
_Q122_ORACLE = """
    WITH base AS (
      SELECT event_type,
             CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS DOUBLE) AS x,
             CAST(value AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM base GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           ROUND(CASE WHEN n * sxx - sx * sx <> 0.0
             THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END
             + 5e-12, 6) AS slope,
           ROUND(CASE WHEN n * sxx - sx * sx <> 0.0
             THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
             END + 5e-12, 6) AS intercept,
           ROUND(CASE WHEN n * sxx - sx * sx <> 0.0
                       AND n * syy - sy * sy <> 0.0
             THEN (n * sxy - sx * sy) * (n * sxy - sx * sy)
                  / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END
             + 5e-12, 6) AS r2
    FROM m
"""


@register(
    "q122_grouped_ols",
    _Q122_ORACLE,
    doc="Per-group simple OLS from moment sums (one map-side-"
    "combinable aggregation, no iterations): slope/intercept/r2 of "
    "event value vs day. Identical closed-form expression trees in "
    "both engines.",
)
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.stats import grouped_ols

    ev = _t(spark, sf_dir, "events")
    base = ev.where(F.col("value").isNotNull()).select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        F.col("value").cast("double").alias("y"),
    )
    out = grouped_ols(base, "event_type", "x", "y")
    return out.select(
        "event_type",
        "n",
        F.round(F.col("slope") + F.lit(5e-12), 6).alias("slope"),
        F.round(F.col("intercept") + F.lit(5e-12), 6).alias("intercept"),
        F.round(F.col("r2") + F.lit(5e-12), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Q123 — covariance + correlation matrix of embedding dimensions
# ---------------------------------------------------------------------------
_COV_DIMS = 6

_Q123_ORACLE = f"""
    WITH long AS (
      SELECT vec_id, d - 1 AS d, CAST(embedding[d] AS DOUBLE) AS x
      FROM embeddings, generate_series(1, {_COV_DIMS}) g(d)
    ), prod AS (
      SELECT a.d AS i, b.d AS j,
             CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(a.x) AS si, SUM(b.x) AS sj, SUM(a.x * b.x) AS sij
      FROM long a JOIN long b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    ), cov AS (
      SELECT i, j, (sij - si * sj / n) / (n - 1.0) AS cov FROM prod
    ), diag AS (
      SELECT i AS k, cov AS var FROM cov WHERE i = j
    )
    SELECT c.i, c.j,
           ROUND(c.cov + 5e-12, 6) AS cov,
           ROUND(CASE WHEN di.var > 0 AND dj.var > 0
             THEN c.cov / sqrt(di.var * dj.var) END + 5e-12, 6) AS corr
    FROM cov c
    JOIN diag di ON di.k = c.i
    JOIN diag dj ON dj.k = c.j
"""


@register(
    "q123_covariance",
    _Q123_ORACLE,
    doc=f"Pairwise covariance + Pearson correlation of the first "
    f"{_COV_DIMS} embedding dimensions, long form: the pair stream "
    "is a co-partitioned self-join on the row id (O(n·d²) rows — "
    "covariance's inherent arithmetic), moments map-side combined; "
    "the correlation join runs on the d²-sized covariance relation.",
)
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.stats import (
        correlation_matrix,
        covariance_matrix,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cov = covariance_matrix(emb, "vec_id", "embedding", _COV_DIMS)
    corr = correlation_matrix(emb, "vec_id", "embedding", _COV_DIMS)
    return (
        cov.join(corr, ["i", "j"])
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            F.round(F.col("cov") + F.lit(5e-12), 6).alias("cov"),
            F.round(F.col("corr") + F.lit(5e-12), 6).alias("corr"),
        )
    )


# ---------------------------------------------------------------------------
# Q124 — additive seasonal decomposition of daily event-type series
# ---------------------------------------------------------------------------
_SD_PERIOD = 7

_Q124_ORACLE = f"""
    WITH series AS (
      SELECT event_type AS k, CAST(ts AS DATE) AS d,
             SUM(value) AS value
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), staged AS (
      SELECT k, d, CAST(value AS DOUBLE) AS value,
             CAST((row_number() OVER w - 1) % {_SD_PERIOD} AS INT) AS phase,
             CASE WHEN COUNT(value) OVER w7 = {_SD_PERIOD}
                  THEN AVG(CAST(value AS DOUBLE)) OVER w7 END AS trend
      FROM series
      WINDOW w AS (PARTITION BY k ORDER BY d),
             w7 AS (PARTITION BY k ORDER BY d
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), pm AS (
      SELECT k, phase, AVG(value - trend) AS pm
      FROM staged GROUP BY 1, 2
    ), ctr AS (
      SELECT k, AVG(pm) AS pm_mean FROM pm GROUP BY 1
    ), seas AS (
      SELECT pm.k, pm.phase, pm.pm - ctr.pm_mean AS seasonal
      FROM pm JOIN ctr ON ctr.k = pm.k
    )
    SELECT s.k AS event_type, s.d, ROUND(s.value + 5e-10, 4) AS value,
           s.phase,
           ROUND(s.trend + 5e-12, 6) AS trend,
           ROUND(seas.seasonal + 5e-12, 6) AS seasonal,
           ROUND(s.value - s.trend - seas.seasonal + 5e-12, 6) AS residual
    FROM staged s JOIN seas ON seas.k = s.k AND seas.phase = s.phase
"""


@register(
    "q124_seasonal",
    _Q124_ORACLE,
    doc=f"Classical additive decomposition (period {_SD_PERIOD}, "
    "centered moving-average trend, zero-centered phase means): two "
    "windows over the key-partitioned series + one phase-sized "
    "aggregation joined back. Trend null at incomplete edges — the "
    "standard boundary contract.",
)
def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.timeseries import seasonal_decompose

    ev = _t(spark, sf_dir, "events")
    series = (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            F.col("event_type").alias("k"), F.to_date("ts").alias("d")
        )
        .agg(F.sum("value").alias("value"))
    )
    out = seasonal_decompose(series, "k", "d", "value", period=_SD_PERIOD)
    return out.select(
        F.col("k").alias("event_type"),
        "d",
        F.round(F.col("value") + F.lit(5e-10), 4).alias("value"),
        "phase",
        F.round(F.col("trend") + F.lit(5e-12), 6).alias("trend"),
        F.round(F.col("seasonal") + F.lit(5e-12), 6).alias("seasonal"),
        F.round(F.col("residual") + F.lit(5e-12), 6).alias("residual"),
    )


# ---------------------------------------------------------------------------
# Q125 — Zipf-law fit of the corpus token frequency distribution
# ---------------------------------------------------------------------------
_Q125_ORACLE = """
    WITH tf AS (
      SELECT token, COUNT(*) AS freq
      FROM (
        SELECT unnest(list_filter(
          regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS token
        FROM documents)
      GROUP BY 1
    ), ranked AS (
      SELECT log10(CAST(row_number() OVER (ORDER BY freq DESC, token)
                        AS DOUBLE)) AS x,
             log10(CAST(freq AS DOUBLE)) AS y
      FROM tf
    ), m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_types,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) + 5e-12, 6)
             AS zipf_slope,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
                 + 5e-12, 6) AS intercept,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)) + 5e-12, 6)
             AS r2
    FROM m
"""


@register(
    "q125_zipf",
    _Q125_ORACLE,
    doc="Zipf-law exponent of the corpus unigram distribution: "
    "log-log rank/frequency OLS composed from the posting-list "
    "frequency table and the closed-form moment regression "
    "(stats.grouped_ols) — the corpus-health fingerprint a data "
    "pipeline tracks across snapshots.",
)
def q125(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from model_presto_spark.functions.text import tokens_sql
    from model_presto_spark.operators.stats import grouped_ols

    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode_outer(F.expr(tokens_sql("text"))).alias("token"))
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.col("token"))
    ranked = tf.select(
        F.lit("all").alias("g"),
        F.log10(F.row_number().over(w).cast("double")).alias("x"),
        F.log10(F.col("freq").cast("double")).alias("y"),
    )
    out = grouped_ols(ranked, "g", "x", "y")
    return out.select(
        F.col("n").alias("n_types"),
        F.round(F.col("slope") + F.lit(5e-12), 6).alias("zipf_slope"),
        F.round(F.col("intercept") + F.lit(5e-12), 6).alias("intercept"),
        F.round(F.col("r2") + F.lit(5e-12), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Q126 — bounded k-core peeling on the derived orders graph
# ---------------------------------------------------------------------------
_KC_MOD = 50
_KC_K = 4
_KC_ROUNDS = 3


def _q126_oracle() -> str:
    head = f"""
    WITH e0 AS (
      SELECT DISTINCT
        least(o_custkey % {_KC_MOD}, o_orderkey % {_KC_MOD}) AS a,
        greatest(o_custkey % {_KC_MOD}, o_orderkey % {_KC_MOD}) AS b
      FROM orders
      WHERE o_custkey % {_KC_MOD} <> o_orderkey % {_KC_MOD}
    ), nodes AS (
      SELECT a AS node FROM e0 UNION SELECT b FROM e0
    )"""
    steps = []
    for i in range(_KC_ROUNDS):
        steps.append(f""", d{i} AS (
      SELECT n, COUNT(*) AS d FROM (
        SELECT a AS n FROM e{i} UNION ALL SELECT b FROM e{i}) GROUP BY 1
    ), k{i} AS (
      SELECT n FROM d{i} WHERE d >= {_KC_K}
    ), e{i + 1} AS (
      SELECT e.a, e.b FROM e{i} e
      JOIN k{i} ka ON ka.n = e.a
      JOIN k{i} kb ON kb.n = e.b
    )""")
    tail = f"""
    , fd AS (
      SELECT n AS node, COUNT(*) AS degree FROM (
        SELECT a AS n FROM e{_KC_ROUNDS}
        UNION ALL SELECT b FROM e{_KC_ROUNDS}) GROUP BY 1
    )
    SELECT CAST(nodes.node AS BIGINT) AS node,
           CAST(COALESCE(fd.degree, 0) AS BIGINT) AS degree,
           COALESCE(fd.degree, 0) >= {_KC_K} AS in_core
    FROM nodes LEFT JOIN fd ON fd.node = nodes.node"""
    return head + "".join(steps) + tail


@register(
    "q126_kcore",
    _q126_oracle(),
    doc=f"Bounded k-core peeling (k={_KC_K}, {_KC_ROUNDS} rounds, "
    "unrolled-SQL contract like PageRank/BFS/LPA): each round one "
    "degree aggregation + two semi-joins, eager checkpoint lineage "
    "truncation; the fixpoint variant loops until the drop count "
    "hits zero.",
)
def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.graph import kcore_peel

    orders = _t(spark, sf_dir, "orders")
    e = orders.select(
        (F.col("o_custkey") % _KC_MOD).cast("bigint").alias("src"),
        (F.col("o_orderkey") % _KC_MOD).cast("bigint").alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    out = kcore_peel(e, k=_KC_K, rounds=_KC_ROUNDS)
    return out.select(
        F.col("node").cast("bigint").alias("node"), "degree", "in_core"
    )


# ---------------------------------------------------------------------------
# Q127 — Pareto (80/20) concentration analysis of customer revenue
# ---------------------------------------------------------------------------
_PARETO_TH = 0.8

_Q127_ORACLE = f"""
    WITH rev AS (
      SELECT o_custkey, ROUND(SUM(o_totalprice) + 5e-12, 6) AS revenue
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT o_custkey, revenue,
             row_number() OVER (ORDER BY revenue DESC, o_custkey) AS rnk,
             SUM(revenue) OVER (ORDER BY revenue DESC, o_custkey
                                ROWS UNBOUNDED PRECEDING) AS cum_rev,
             SUM(revenue) OVER () AS total_rev,
             COUNT(*) OVER () AS n_cust
    FROM rev
    )
    SELECT CAST(MIN(rnk) AS BIGINT) AS n_top,
           CAST(MAX(n_cust) AS BIGINT) AS n_customers,
           ROUND(CAST(MIN(rnk) AS DOUBLE) / MAX(n_cust) + 5e-12, 6)
             AS top_share_of_customers
    FROM ranked
    WHERE cum_rev / total_rev >= {_PARETO_TH}
"""


@register(
    "q127_pareto",
    _Q127_ORACLE,
    doc=f"Pareto concentration: the smallest top-k of customers whose "
    f"cumulative revenue reaches {_PARETO_TH:.0%}. Revenue rounds "
    "before ranking (cross-engine stable order); the cumulative "
    "window runs over the customer-level relation, not raw orders.",
)
def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice") + F.lit(5e-12), 6).alias("revenue")
    )
    w = Window.orderBy(F.desc("revenue"), F.col("o_custkey"))
    ranked = rev.select(
        "o_custkey",
        "revenue",
        F.row_number().over(w).alias("rnk"),
        F.sum("revenue").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum_rev"),
        F.sum("revenue").over(Window.partitionBy()).alias("total_rev"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_cust"),
    )
    hit = ranked.where(
        F.col("cum_rev") / F.col("total_rev") >= _PARETO_TH
    )
    return hit.agg(
        F.min("rnk").cast("bigint").alias("n_top"),
        F.max("n_cust").cast("bigint").alias("n_customers"),
        F.round(
            F.min("rnk").cast("double") / F.max("n_cust") + F.lit(5e-12), 6
        ).alias("top_share_of_customers"),
    )


# ---------------------------------------------------------------------------
# Q128 — association rules (confidence / lift) from frequent pairs
# ---------------------------------------------------------------------------
_AR_MIN = 150

_Q128_ORACLE = f"""
    WITH b AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
      FROM events
    ), nb AS (
      SELECT COUNT(*) AS n_baskets
      FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events)
    ), l1 AS (
      SELECT event_type, COUNT(*) AS support FROM b GROUP BY 1
    ), p2 AS (
      SELECT b1.event_type AS antecedent, b2.event_type AS consequent,
             COUNT(*) AS pair_support
      FROM b b1 JOIN b b2
        ON b1.user_id = b2.user_id AND b1.d = b2.d
       AND b1.event_type <> b2.event_type
      GROUP BY 1, 2 HAVING COUNT(*) >= {_AR_MIN}
    )
    SELECT p2.antecedent, p2.consequent,
           CAST(p2.pair_support AS BIGINT) AS pair_support,
           ROUND(CAST(p2.pair_support AS DOUBLE) / la.support + 5e-12, 6)
             AS confidence,
           ROUND(CAST(p2.pair_support AS DOUBLE) * nb.n_baskets
                 / (CAST(la.support AS DOUBLE) * lc.support) + 5e-12, 6)
             AS lift
    FROM p2
    JOIN l1 la ON la.event_type = p2.antecedent
    JOIN l1 lc ON lc.event_type = p2.consequent
    CROSS JOIN nb
"""


@register(
    "q128_association_rules",
    _Q128_ORACLE,
    doc="Association rules over user-day baskets: directed "
    "confidence P(c|a) and lift from the within-basket pair counts "
    f"(support >= {_AR_MIN}) — the Apriori (q102) post-processing "
    "that turns itemsets into recommendations. Basket-keyed joins "
    "only; item-support tables broadcast.",
)
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # b feeds nb/l1/b1/b2 — materialize the distinct basket relation
    # once instead of re-scanning events per reference
    b = (
        ev.select("user_id", F.to_date("ts").alias("d"), "event_type")
        .distinct()
        .localCheckpoint(eager=False)
    )
    nb = b.select("user_id", "d").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    l1 = b.groupBy("event_type").agg(F.count(F.lit(1)).alias("support"))
    b1 = b.select("user_id", "d", F.col("event_type").alias("antecedent"))
    b2 = b.select("user_id", "d", F.col("event_type").alias("consequent"))
    p2 = (
        b1.join(b2, ["user_id", "d"])
        .where(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("pair_support"))
        .where(F.col("pair_support") >= _AR_MIN)
    )
    la = l1.select(
        F.col("event_type").alias("antecedent"),
        F.col("support").alias("sup_a"),
    )
    lc = l1.select(
        F.col("event_type").alias("consequent"),
        F.col("support").alias("sup_c"),
    )
    return (
        p2.join(F.broadcast(la), "antecedent")
        .join(F.broadcast(lc), "consequent")
        .crossJoin(F.broadcast(nb))
        .select(
            "antecedent",
            "consequent",
            F.col("pair_support").cast("bigint").alias("pair_support"),
            F.round(
                F.col("pair_support").cast("double") / F.col("sup_a")
                + F.lit(5e-12),
                6,
            ).alias("confidence"),
            F.round(
                F.col("pair_support").cast("double")
                * F.col("n_baskets")
                / (F.col("sup_a").cast("double") * F.col("sup_c"))
                + F.lit(5e-12),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Q129 — lead-lag cross-correlation between two daily series
# ---------------------------------------------------------------------------
_XC_LAGS = 3

_Q129_ORACLE = f"""
    WITH s AS (
      SELECT CAST(ts AS DATE) AS d,
             SUM(CASE WHEN event_type = 'view' THEN value END) AS x,
             SUM(CASE WHEN event_type = 'purchase' THEN value END) AS y
      FROM events GROUP BY 1
    ), lags AS (
      SELECT unnest(generate_series(-{_XC_LAGS}, {_XC_LAGS})) AS lag
    ), paired AS (
      SELECT l.lag, a.x, b.y
      FROM lags l
      JOIN s a ON TRUE
      JOIN s b ON b.d = a.d + CAST(l.lag AS INTEGER)
      WHERE a.x IS NOT NULL AND b.y IS NOT NULL
    ), m AS (
      SELECT lag, CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM paired GROUP BY 1
    )
    SELECT CAST(lag AS INT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           ROUND(CASE WHEN (n * sxx - sx * sx) > 0
                       AND (n * syy - sy * sy) > 0
             THEN (n * sxy - sx * sy)
                  / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END
             + 5e-12, 6) AS xcorr
    FROM m
"""


@register(
    "q129_lead_lag",
    _Q129_ORACLE,
    doc=f"Lead-lag cross-correlation (lags -{_XC_LAGS}..{_XC_LAGS}) "
    "between the daily view and purchase value series: the lag table "
    "is a literal spine crossed against the (days-sized) series "
    "relation; Pearson per lag from the same closed-form moments as "
    "grouped OLS.",
)
def q129(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(
            F.when(F.col("event_type") == "view", F.col("value"))
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
        ).alias("y"),
    )
    lags = ev.sparkSession.range(-_XC_LAGS, _XC_LAGS + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = s.select("d", "x")
    b = s.select(F.col("d").alias("bd"), "y")
    paired = (
        lags.crossJoin(a)
        .join(b, F.col("bd") == F.expr("date_add(d, lag)"))
        .where(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    x, y = F.col("x"), F.col("y")
    m = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    dx = m["n"] * m["sxx"] - m["sx"] * m["sx"]
    dy = m["n"] * m["syy"] - m["sy"] * m["sy"]
    return m.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(
            F.when(
                (dx > 0) & (dy > 0),
                (m["n"] * m["sxy"] - m["sx"] * m["sy"]) / F.sqrt(dx * dy),
            )
            + F.lit(5e-12),
            6,
        ).alias("xcorr"),
    )
