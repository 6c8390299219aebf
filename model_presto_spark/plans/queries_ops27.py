"""Conformance queries: round-7 operator batch #21 (q315+) —
Bradley-Terry strengths, CausalImpact-lite counterfactual,
Burt's structural-holes constraint, record-breaking days.

Parity: pairwise win counts, pre-period OLS moments, edge shares,
and record flags are exact integers/rationals; the Bradley-Terry
MM iteration runs driver-side on the bounded 5-item state."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, r6_py, register

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q315 — Bradley-Terry strengths (2 MM iterations)
# ---------------------------------------------------------------------------
# Event types "play" each other daily (higher revenue wins);
# Bradley-Terry strengths via two minorization-maximization
# rounds p_i <- W_i / sum_j n_ij/(p_i + p_j), normalized to mean
# 1.  The pairwise-comparison ranking model: one data pass to the
# 5x5 win matrix, iteration on the bounded state (driver-side,
# oracle-unrolled).
_Q315_ITERS = 2

_Q315_STEP = """
    , p{k} AS (
      SELECT w.i,
             (SELECT SUM(CASE WHEN ww.i = w.i THEN ww.wins ELSE 0 END)
              FROM wins ww) /
             (SELECT SUM(n.n_ij / (pi.p + pj.p))
              FROM nmat n
              JOIN p{km1} pi ON pi.i = n.i
              JOIN p{km1} pj ON pj.i = n.j
              WHERE n.i = w.i) AS p
      FROM (SELECT DISTINCT i FROM wins) w
    )"""

_Q315_STEPS = "".join(
    _Q315_STEP.format(k=i, km1=i - 1)
    for i in range(1, _Q315_ITERS + 1)
)

_Q315_ORACLE = f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS y
      FROM events GROUP BY event_type, day
    ), games AS MATERIALIZED (
      SELECT a.event_type AS i, b.event_type AS j,
             CASE WHEN a.y > b.y THEN 1 ELSE 0 END AS win
      FROM daily a JOIN daily b
        ON b.day = a.day AND a.event_type <> b.event_type
    ), wins AS MATERIALIZED (
      SELECT i, CAST(SUM(win) AS BIGINT) AS wins
      FROM games GROUP BY i
    ), nmat AS MATERIALIZED (
      SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n_ij
      FROM games GROUP BY i, j
    ), p0 AS (
      SELECT DISTINCT i, CAST(1.0 AS DOUBLE) AS p FROM wins
    ){_Q315_STEPS}
    , norm AS (
      SELECT AVG(p) AS mp FROM p{_Q315_ITERS}
    )
    SELECT p.i AS event_type, w.wins,
           {_R6.format(x='p.p / n.mp')} AS bt_strength
    FROM p{_Q315_ITERS} p
    JOIN wins w ON w.i = p.i
    CROSS JOIN norm n
    ORDER BY event_type
"""


@register(
    "q315_bradley_terry",
    _Q315_ORACLE,
    doc="Bradley-Terry strengths for event types from daily "
    "revenue head-to-heads: one pass to the 5x5 win matrix, two "
    "MM rounds p_i <- W_i / sum n_ij/(p_i+p_j) on the bounded "
    "state (driver-side; oracle unrolls the same rounds), "
    "mean-normalized.  The pairwise-ranking model.",
)
def q315(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100, 0).cast("bigint").alias("y")
    )
    a = daily.select(
        F.col("event_type").alias("i"),
        F.col("day").alias("da"),
        F.col("y").alias("ya"),
    )
    b = daily.select(
        F.col("event_type").alias("j"),
        F.col("day").alias("db"),
        F.col("y").alias("yb"),
    )
    games = a.join(
        b, (F.col("db") == F.col("da")) & (F.col("i") != F.col("j"))
    ).select(
        "i",
        "j",
        F.when(F.col("ya") > F.col("yb"), 1).otherwise(0).alias("win"),
    )
    stats = games.groupBy("i", "j").agg(
        F.sum("win").alias("w_ij"), F.count(F.lit(1)).alias("n_ij")
    )
    rows = stats.collect()
    n_ij = {(r["i"], r["j"]): r["n_ij"] for r in rows}
    w_i: dict[str, int] = {}
    for r in rows:
        w_i[r["i"]] = w_i.get(r["i"], 0) + r["w_ij"]
    items = sorted(w_i)
    p = {i: 1.0 for i in items}
    for _ in range(_Q315_ITERS):
        p_new = {}
        for i in items:
            den = 0.0
            for j in items:
                if i == j:
                    continue
                den += n_ij.get((i, j), 0) / (p[i] + p[j])
            p_new[i] = w_i[i] / den
        p = p_new
    schema = "event_type string, wins bigint, bt_strength double"
    if not items:  # no games: no strengths (the oracle's empty join)
        return spark.createDataFrame([], schema)
    mp = sum(p[i] for i in items) / len(items)

    out = [(i, int(w_i[i]), r6_py(p[i] / mp)) for i in items]
    return spark.createDataFrame(out, schema).orderBy("event_type")


# ---------------------------------------------------------------------------
# Q316 — CausalImpact-lite (control-fitted counterfactual)
# ---------------------------------------------------------------------------
# Predict the purchase series after the Jan-16 "intervention" from
# the click series using an OLS fit on the PRE period only, then
# report the post-period cumulative lift actual - predicted.  All
# regression moments are exact pre-period integers; the standard
# synthetic-counterfactual readout.
_Q316_CUT = "2024-01-16"

_Q316_ORACLE = f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(CASE WHEN event_type = 'click'
                                 THEN value ELSE 0 END) * 100, 0)
                  AS BIGINT) AS kc,
             CAST(ROUND(SUM(CASE WHEN event_type = 'purchase'
                                 THEN value ELSE 0 END) * 100, 0)
                  AS BIGINT) AS pc
      FROM events GROUP BY day
    ), pre AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(kc) AS DOUBLE) AS sx,
             CAST(SUM(pc) AS DOUBLE) AS sy,
             CAST(SUM(kc * kc) AS DOUBLE) AS sxx,
             CAST(SUM(kc * pc) AS DOUBLE) AS sxy
      FROM daily WHERE day < DATE '{_Q316_CUT}'
    ), beta AS (
      SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
               AS a
      FROM pre
    ), post AS (
      SELECT d.day, d.pc,
             b.a + b.b * d.kc AS pred
      FROM daily d CROSS JOIN beta b
      WHERE d.day >= DATE '{_Q316_CUT}'
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_post_days,
           ROUND(SUM(pc) / 100.0 + 5e-10, 2) AS actual_total,
           {_R6.format(x='SUM(pred) / 100.0')} AS predicted_total,
           {_R6.format(x='SUM(pc - pred) / 100.0')} AS cumulative_lift,
           {_R6.format(x='SUM(pc - pred) / SUM(pred)')}
             AS relative_lift
    FROM post
"""


@register(
    "q316_causal_impact",
    _Q316_ORACLE,
    doc="CausalImpact-lite: counterfactual purchase revenue after "
    "Jan 16 predicted from the click series with a PRE-period-only "
    "OLS fit (exact integer moments), cumulative and relative "
    "lift.  The control-series intervention readout without a "
    "state-space model.",
)
def q316(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(
            F.sum(
                F.when(
                    F.col("event_type") == "click", F.col("value")
                ).otherwise(0.0)
            )
            * 100,
            0,
        )
        .cast("bigint")
        .alias("kc"),
        F.round(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                ).otherwise(0.0)
            )
            * 100,
            0,
        )
        .cast("bigint")
        .alias("pc"),
    ).localCheckpoint(eager=False)  # pre fit + post apply
    pre = daily.where(F.col("day") < _Q316_CUT).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("kc").cast("double").alias("sx"),
        F.sum("pc").cast("double").alias("sy"),
        F.sum(F.col("kc") * F.col("kc")).cast("double").alias("sxx"),
        F.sum(F.col("kc") * F.col("pc")).cast("double").alias("sxy"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    beta = pre.select(
        b.alias("b"),
        ((F.col("sy") - b * F.col("sx")) / F.col("n")).alias("a"),
    )
    post = (
        daily.where(F.col("day") >= _Q316_CUT)
        .crossJoin(F.broadcast(beta))
        .select(
            "pc",
            (F.col("a") + F.col("b") * F.col("kc")).alias("pred"),
        )
    )
    return post.agg(
        F.count(F.lit(1)).alias("n_post_days"),
        F.round(F.sum("pc") / 100.0 + 5e-10, 2).alias("actual_total"),
        r6(F.sum("pred") / 100.0).alias("predicted_total"),
        r6(F.sum(F.col("pc") - F.col("pred")) / 100.0).alias(
            "cumulative_lift"
        ),
        r6(
            F.sum(F.col("pc") - F.col("pred")) / F.sum("pred")
        ).alias("relative_lift"),
    )


# ---------------------------------------------------------------------------
# Q317 — Burt's structural-holes constraint
# ---------------------------------------------------------------------------
# Network constraint c_i = sum_j (p_ij + sum_q p_iq p_qj)^2 over
# the derived graph's edge-share matrix p (uniform weights):
# low constraint = brokerage position.  One degree pass, one
# 2-hop join on the bounded edge relation; top-10 brokers.
_Q317_MOD = 120

_Q317_ORACLE = f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT
             CAST(least(o_custkey % {_Q317_MOD},
                        o_orderkey % {_Q317_MOD}) AS BIGINT) AS a,
             CAST(greatest(o_custkey % {_Q317_MOD},
                           o_orderkey % {_Q317_MOD}) AS BIGINT) AS b
      FROM orders
      WHERE o_custkey % {_Q317_MOD} <> o_orderkey % {_Q317_MOD}
    ), sym AS MATERIALIZED (
      SELECT a AS u, b AS v FROM e
      UNION ALL
      SELECT b AS u, a AS v FROM e
    ), deg AS MATERIALIZED (
      SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
    ), p AS MATERIALIZED (
      SELECT s.u, s.v, 1.0 / d.d AS pv
      FROM sym s JOIN deg d ON d.u = s.u
    ), twohop AS (
      SELECT p1.u, p2.v, SUM(p1.pv * p2.pv) AS ind
      FROM p p1 JOIN p p2 ON p2.u = p1.v
      GROUP BY p1.u, p2.v
    ), terms AS (
      SELECT d.u AS i, d.v AS j,
             (d.pv + COALESCE(t.ind, 0.0))
             * (d.pv + COALESCE(t.ind, 0.0)) AS term
      FROM p d
      LEFT JOIN twohop t ON t.u = d.u AND t.v = d.v
    ), cons AS (
      SELECT i, SUM(term) AS c FROM terms GROUP BY i
    )
    SELECT cons.i AS node, deg.d AS degree,
           {_R6.format(x='cons.c')} AS constraint_idx
    FROM cons JOIN deg ON deg.u = cons.i
    ORDER BY constraint_idx, node
    LIMIT 10
"""


@register(
    "q317_structural_holes",
    _Q317_ORACLE,
    doc="Burt's structural-holes constraint on the derived graph: "
    "edge shares p_ij = 1/deg, indirect shares via one 2-hop "
    "join, c_i = sum_j (p_ij + sum_q p_iq p_qj)^2; 10 least-"
    "constrained (best broker) nodes.  The social-capital metric "
    "as two joins over the bounded edge relation.",
)
def q317(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = (F.col("o_custkey") % _Q317_MOD).cast("bigint")
    b = (F.col("o_orderkey") % _Q317_MOD).cast("bigint")
    e = (
        orders.select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).localCheckpoint(eager=False)  # deg + p (2x) + output
    deg = sym.groupBy(F.col("u").alias("du")).agg(
        F.count(F.lit(1)).alias("d")
    )
    p = sym.join(
        F.broadcast(deg), F.col("u") == F.col("du")
    ).select("u", "v", (1.0 / F.col("d")).alias("pv")).localCheckpoint(
        eager=False
    )  # direct terms + both 2-hop sides
    p1 = p.select(
        F.col("u").alias("hu"), F.col("v").alias("hm"), F.col("pv").alias("pv1")
    )
    p2 = p.select(
        F.col("u").alias("hm2"), F.col("v").alias("hv"), F.col("pv").alias("pv2")
    )
    twohop = (
        p1.join(p2, F.col("hm2") == F.col("hm"))
        .groupBy(F.col("hu").alias("tu"), F.col("hv").alias("tv"))
        .agg(F.sum(F.col("pv1") * F.col("pv2")).alias("ind"))
    )
    terms = p.join(
        twohop,
        (F.col("tu") == F.col("u")) & (F.col("tv") == F.col("v")),
        "left",
    ).select(
        "u",
        (
            (F.col("pv") + F.coalesce("ind", F.lit(0.0)))
            * (F.col("pv") + F.coalesce("ind", F.lit(0.0)))
        ).alias("term"),
    )
    cons = terms.groupBy("u").agg(F.sum("term").alias("c"))
    return (
        cons.join(F.broadcast(deg), F.col("u") == F.col("du"))
        .select(
            F.col("u").alias("node"),
            F.col("d").alias("degree"),
            r6(F.col("c")).alias("constraint_idx"),
        )
        .orderBy("constraint_idx", "node")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q318 — Record-breaking days (running-max census)
# ---------------------------------------------------------------------------
# How many daily-revenue records does each series set, and when
# was the last one?  Exact integer comparisons against the strict
# prefix maximum; the observed record count is compared with the
# ~H_n harmonic expectation for an i.i.d. series (drift detector
# in disguise).
_Q318_ORACLE = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS y
      FROM events GROUP BY event_type, day
    ), flags AS (
      SELECT event_type, day, y,
             CASE WHEN MAX(y) OVER (PARTITION BY event_type
                                    ORDER BY day
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) IS NULL
                    OR y > MAX(y) OVER (PARTITION BY event_type
                                        ORDER BY day
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS is_record
      FROM daily
    ), hn AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(is_record) AS BIGINT) AS n_records,
             MAX(CASE WHEN is_record = 1 THEN day END) AS last_record,
             SUM(CAST(1.0 AS DOUBLE) / rn) AS harmonic
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY day) AS rn
        FROM flags
      ) GROUP BY event_type
    )
    SELECT event_type, n, n_records, last_record,
           {EXP} AS expected_iid
    FROM hn ORDER BY event_type
""".replace("{EXP}", R6_SQL.format(x="harmonic"))


@register(
    "q318_records",
    _Q318_ORACLE,
    doc="Record-breaking census per series: strict running-max "
    "records from exact integer cents, last record day, and the "
    "harmonic-number expectation H_n an i.i.d. series would give "
    "— excess records = upward drift, the one-line trend tell.",
)
def q318(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100, 0).cast("bigint").alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    prev_max = F.max("y").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flags = daily.select(
        "event_type",
        "day",
        "y",
        F.when(
            prev_max.isNull() | (F.col("y") > prev_max), 1
        )
        .otherwise(0)
        .alias("is_record"),
        F.row_number().over(w).alias("rn"),
    )
    return (
        flags.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("is_record").alias("n_records"),
            F.max(
                F.when(F.col("is_record") == 1, F.col("day"))
            ).alias("last_record"),
            r6(F.sum(1.0 / F.col("rn"))).alias("expected_iid"),
        )
        .orderBy("event_type")
    )
