"""Conformance queries: round-7 operator batch #6 (q242+) — Markov
removal-effect attribution, graph modularity, kNN hubness.

q242 is the template for "iterate on model state, not on data":
the event stream is reduced once to a transition matrix; the 15
Jacobi value-iteration steps (x5 removal scenarios) run on a
25-row scenario x state relation, unrolled identically in both
engines so parity does not depend on convergence."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, r6_py, register
from model_presto_spark.plans.queries_docs import _DD_DOT, _DD_NORM

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q242 — Markov attribution (removal effects)
# ---------------------------------------------------------------------------
# First-order Markov attribution over user journeys (events up to
# the first purchase): conversion probability from START via fixed
# 15-step value iteration, once per removal scenario (channel's
# value pinned to 0 = "paths through it fail").  Removal effect
# = 1 - P_removed / P_full.  The only data-sized work is the
# journey window + transition counts.
_Q242_ITERS = 15
_Q242_CHANNELS = ("click", "error", "signup", "view")

_Q242_STEP_TMPL = """
    v{k} AS (
      SELECT u.sc, u.state,
             CASE WHEN u.state = u.sc THEN CAST(0.0 AS DOUBLE)
                  ELSE u.base + COALESCE(s.acc, CAST(0.0 AS DOUBLE))
             END AS v
      FROM u LEFT JOIN (
        SELECT vp.sc, t.src, SUM(t.prob * vp.v) AS acc
        FROM v{km1} vp JOIN tt t ON t.dst = vp.state
        GROUP BY vp.sc, t.src
      ) s ON s.sc = u.sc AND s.src = u.state
    )"""

_Q242_STEPS = ",".join(
    _Q242_STEP_TMPL.format(k=i, km1=i - 1)
    for i in range(1, _Q242_ITERS + 1)
)

_Q242_SCEN = "', '".join(("none",) + _Q242_CHANNELS)

_Q242_ORACLE = f"""
    WITH fp AS (
      SELECT user_id, MIN(ts) AS fts
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), j AS (
      SELECT e.user_id, e.ts, e.event_id, e.event_type
      FROM events e LEFT JOIN fp ON fp.user_id = e.user_id
      WHERE fp.fts IS NULL OR e.ts <= fp.fts
    ), seq AS (
      SELECT user_id, event_type AS st,
             LEAD(event_type) OVER w AS nxt,
             ROW_NUMBER() OVER w AS rn
      FROM j
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), trans AS (
      SELECT st AS src,
             CASE WHEN nxt IS NULL THEN 'DROP'
                  WHEN nxt = 'purchase' THEN 'CONV'
                  ELSE nxt END AS dst
      FROM seq WHERE st <> 'purchase'
      UNION ALL
      SELECT 'START' AS src,
             CASE WHEN st = 'purchase' THEN 'CONV' ELSE st END AS dst
      FROM seq WHERE rn = 1
    ), cnt AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
      FROM trans GROUP BY src, dst
    ), pmat AS MATERIALIZED (
      SELECT src, dst,
             CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY src) AS prob
      FROM cnt
    ), u AS MATERIALIZED (
      SELECT s.sc, st.state,
             COALESCE(b.base, CAST(0.0 AS DOUBLE)) AS base
      FROM (SELECT UNNEST(['{_Q242_SCEN}']) AS sc) s
      CROSS JOIN (SELECT DISTINCT src AS state FROM pmat) st
      LEFT JOIN (SELECT src, prob AS base FROM pmat WHERE dst = 'CONV') b
        ON b.src = st.state
    ), tt AS MATERIALIZED (
      SELECT src, dst, prob FROM pmat WHERE dst NOT IN ('CONV', 'DROP')
    ), v0 AS (
      SELECT sc, state, CAST(0.0 AS DOUBLE) AS v FROM u
    ),{_Q242_STEPS}
    SELECT r.sc AS channel,
           {_R6.format(x='f.pf')} AS p_full,
           {_R6.format(x='r.v')} AS p_removed,
           {_R6.format(x='1.0 - r.v / f.pf')} AS removal_effect
    FROM (SELECT sc, v FROM v{_Q242_ITERS}
          WHERE state = 'START' AND sc <> 'none') r
    CROSS JOIN (SELECT v AS pf FROM v{_Q242_ITERS}
                WHERE state = 'START' AND sc = 'none') f
    ORDER BY channel
"""


@register(
    "q242_markov_attribution",
    _Q242_ORACLE,
    doc="Markov removal-effect attribution: journeys to first "
    "purchase -> transition matrix (the one data pass), then 15 "
    "unrolled value-iteration steps on a scenario x state relation "
    "(5 x 5 rows) with the removed channel pinned to 0.  Removal "
    "effect = 1 - P_removed/P_full from START.",
)
def q242(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fts"))
    )
    j = (
        ev.join(F.broadcast(fp), "user_id", "left")
        .where(F.col("fts").isNull() | (F.col("ts") <= F.col("fts")))
        .select("user_id", "ts", "event_id", "event_type")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = j.select(
        F.col("event_type").alias("st"),
        F.lead("event_type").over(w).alias("nxt"),
        F.row_number().over(w).alias("rn"),
    )
    trans = (
        seq.where(F.col("st") != "purchase")
        .select(
            F.col("st").alias("src"),
            F.when(F.col("nxt").isNull(), "DROP")
            .when(F.col("nxt") == "purchase", "CONV")
            .otherwise(F.col("nxt"))
            .alias("dst"),
        )
        .unionAll(
            seq.where(F.col("rn") == 1).select(
                F.lit("START").alias("src"),
                F.when(F.col("st") == "purchase", "CONV")
                .otherwise(F.col("st"))
                .alias("dst"),
            )
        )
    )
    cnt = trans.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c"))
    pmat = cnt.select(
        "src",
        "dst",
        (
            F.col("c").cast("double")
            / F.sum("c").over(Window.partitionBy("src"))
        ).alias("prob"),
    ).localCheckpoint(eager=False)  # feeds u, tt, base
    # The chain state is bounded by construction (5 event types + 2
    # absorbing states), so the value iteration crosses the DRIVER,
    # not the data: collect the <=35-row matrix and iterate in
    # Python — a 15-deep distributed join loop is pure plan-compile
    # overhead here (it was 38 s; this is <1 s).  The arithmetic
    # mirrors the oracle's step expression term for term.
    rows = pmat.collect()
    probs: dict[tuple[str, str], float] = {
        (r["src"], r["dst"]): r["prob"] for r in rows
    }
    trans_states = sorted({s for s, _ in probs})
    out_rows = []
    schema = "channel string, p_full double, p_removed double, removal_effect double"
    if "START" not in trans_states:  # no journeys: no START row to report
        return spark.createDataFrame(out_rows, schema)
    p_by_scen: dict[str, float] = {}
    for scenario in ("none",) + _Q242_CHANNELS:
        v_cur = {s: 0.0 for s in trans_states}
        for _ in range(_Q242_ITERS):
            v_nxt = {}
            for s in trans_states:
                if s == scenario:
                    v_nxt[s] = 0.0
                    continue
                acc = 0.0
                for d in trans_states:
                    acc += probs.get((s, d), 0.0) * v_cur[d]
                v_nxt[s] = probs.get((s, "CONV"), 0.0) + acc
            v_cur = v_nxt
        p_by_scen[scenario] = v_cur["START"]
    pf = p_by_scen["none"]

    for ch in sorted(_Q242_CHANNELS):
        pr = p_by_scen[ch]
        out_rows.append((ch, r6_py(pf), r6_py(pr), r6_py(1.0 - pr / pf)))
    return spark.createDataFrame(out_rows, schema).orderBy("channel")


# ---------------------------------------------------------------------------
# Q243 — Graph modularity of a fixed partition
# ---------------------------------------------------------------------------
# Newman modularity Q = sum_c (e_c/m - (d_c/2m)^2) for the
# node%4 partition of the derived graph — all from exact integer
# edge/degree counts; the partition-quality score that label-prop
# (q107) and community pipelines optimize.
_Q243_MOD = 200
_Q243_COMMS = 4

_Q243_ORACLE = f"""
    WITH e AS (
      SELECT DISTINCT
             CAST(least(o_custkey % {_Q243_MOD},
                        o_orderkey % {_Q243_MOD}) AS BIGINT) AS a,
             CAST(greatest(o_custkey % {_Q243_MOD},
                           o_orderkey % {_Q243_MOD}) AS BIGINT) AS b
      FROM orders
      WHERE o_custkey % {_Q243_MOD} <> o_orderkey % {_Q243_MOD}
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e
    ), intra AS (
      SELECT a % {_Q243_COMMS} AS comm,
             CAST(COUNT(*) AS BIGINT) AS e_c
      FROM e WHERE a % {_Q243_COMMS} = b % {_Q243_COMMS}
      GROUP BY comm
    ), deg AS (
      SELECT node % {_Q243_COMMS} AS comm,
             CAST(COUNT(*) AS BIGINT) AS d_c
      FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
      GROUP BY comm
    ), terms AS (
      SELECT d.comm, COALESCE(i.e_c, 0) AS e_c, d.d_c, m.m,
             CAST(COALESCE(i.e_c, 0) AS DOUBLE) / m.m
               - (CAST(d.d_c AS DOUBLE) / (2 * m.m))
                 * (CAST(d.d_c AS DOUBLE) / (2 * m.m)) AS q_c
      FROM deg d CROSS JOIN m LEFT JOIN intra i ON i.comm = d.comm
    )
    SELECT comm, e_c, d_c,
           {_R6.format(x='q_c')} AS q_c,
           {_R6.format(x='SUM(q_c) OVER ()')} AS modularity
    FROM terms ORDER BY comm
"""


@register(
    "q243_modularity",
    _Q243_ORACLE,
    doc="Newman modularity of the node%4 partition on the derived "
    "graph: per-community intra-edge and degree-sum integer "
    "counts, Q = sum(e_c/m - (d_c/2m)^2) via a window over the "
    "4-row community relation.",
)
def q243(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = (F.col("o_custkey") % _Q243_MOD).cast("bigint")
    b = (F.col("o_orderkey") % _Q243_MOD).cast("bigint")
    e = (
        orders.select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)  # m, intra, deg
    )
    m = e.agg(F.count(F.lit(1)).alias("m"))
    intra = (
        e.where(F.col("a") % _Q243_COMMS == F.col("b") % _Q243_COMMS)
        .groupBy((F.col("a") % _Q243_COMMS).alias("comm"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy((F.col("node") % _Q243_COMMS).alias("comm"))
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    terms = (
        deg.crossJoin(F.broadcast(m))
        .join(F.broadcast(intra), "comm", "left")
        .select(
            "comm",
            F.coalesce("e_c", F.lit(0)).alias("e_c"),
            "d_c",
            (
                F.coalesce("e_c", F.lit(0)).cast("double") / F.col("m")
                - (F.col("d_c").cast("double") / (2 * F.col("m")))
                * (F.col("d_c").cast("double") / (2 * F.col("m")))
            ).alias("q_c"),
        )
    )
    return terms.select(
        "comm",
        "e_c",
        "d_c",
        r6(F.col("q_c")).alias("q_c"),
        r6(F.sum("q_c").over(Window.partitionBy())).alias("modularity"),
    ).orderBy("comm")


# ---------------------------------------------------------------------------
# Q244 — kNN hubness (in-degree of the neighbor graph)
# ---------------------------------------------------------------------------
# How unevenly do vectors appear in other vectors' top-5 lists?
# Hubs distort retrieval and dedup; the in-degree distribution is
# the standard diagnostic.  Exact top-5 over a capped slice (the
# bounded-oracle pattern of q35/q54; LSH/IVF are the scale paths).
_Q244_CAP = 450
_Q244_K = 5
_Q244_TOP = 15

_Q244_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_Q244_CAP}
    ), scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             1.0 - {_DD_DOT.format(a='p.embedding', b='c.embedding')}
                   / ({_DD_NORM.format(a='p.embedding')}
                      * {_DD_NORM.format(a='c.embedding')}) AS dist
      FROM v p CROSS JOIN v c
      WHERE p.vec_id <> c.vec_id
    ), ranked AS (
      SELECT probe_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY dist ASC, neighbor_id ASC)
               AS rank
      FROM scored
    )
    SELECT neighbor_id AS vec_id,
           CAST(COUNT(*) AS BIGINT) AS in_degree
    FROM ranked WHERE rank <= {_Q244_K}
    GROUP BY neighbor_id
    ORDER BY in_degree DESC, vec_id
    LIMIT {_Q244_TOP}
"""


@register(
    "q244_hubness",
    _Q244_ORACLE,
    doc="kNN hubness: in-degree of the exact cosine top-5 neighbor "
    "graph over a capped embedding slice, top-15 hubs.  The "
    "retrieval-quality diagnostic (hub vectors dominate neighbor "
    "lists); uses the broadcast-probe brute-force baseline, with "
    "LSH (q40) / IVF as the uncapped scale paths.",
)
def q244(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.io import spread
    from model_presto_spark.operators.knn import knn_join

    # raw float arrays (NO upfront array<double> cast — CollapseProject
    # would inline the cast into the distance fold and re-cast the
    # whole vector per element; knn._distance casts per ELEMENT inside
    # its lambdas, so products/norms still accumulate in double)
    # + spread: the candidate side streams the crossJoin, and the
    # single-file embeddings scan would otherwise score all 450x450
    # pairs on one task
    emb = spread(
        _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < _Q244_CAP)
    )
    nn = knn_join(
        emb.withColumnRenamed("vec_id", "probe_id"),
        emb.withColumnRenamed("vec_id", "neighbor_id"),
        probe_id="probe_id",
        cand_id="neighbor_id",
        probe_vec="embedding",
        cand_vec="embedding",
        k=_Q244_K,
        metric="cosine",
        exclude_self=True,
    )
    return (
        nn.groupBy(F.col("neighbor_id").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("in_degree"))
        .orderBy(F.col("in_degree").desc(), "vec_id")
        .limit(_Q244_TOP)
    )


# ---------------------------------------------------------------------------
# Q245 — Holt-Winters additive seasonal smoothing (period 7)
# ---------------------------------------------------------------------------
# Triple exponential smoothing of daily revenue per event type:
# distributed daily aggregation (cent-rounded — the 100 TB part),
# then the operators/timeseries.holt_winters fold over the bounded
# day axis.  Oracle replays the identical recurrence WITH RECURSIVE,
# carrying the rotating 7-element seasonal list as a LIST column.
_Q245_A = 0.4   # level
_Q245_B = 0.2   # trend
_Q245_D = 0.3   # seasonal
_Q245_P = 7

_Q245_LNEW = (
    f"{_Q245_A} * (p.y - s.s[1]) + (1 - {_Q245_A}) * (s.l + s.b)"
)

_Q245_ORACLE = f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             ROUND(SUM(value), 2) AS y
      FROM events GROUP BY event_type, day
    ), ser AS (
      SELECT event_type, list(y ORDER BY day) AS ys
      FROM daily GROUP BY event_type
    ), ini AS (
      SELECT event_type, ys, len(ys) AS tmax,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         ys[1:{_Q245_P}]), (a, x) -> a + x)
               / {_Q245_P}.0 AS m1,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         ys[{_Q245_P + 1}:{2 * _Q245_P}]), (a, x) -> a + x)
               / {_Q245_P}.0 AS m2
      FROM ser
    ), state AS (
      SELECT event_type, ys, tmax, {_Q245_P} AS t,
             m1 AS l,
             (m2 - m1) / {_Q245_P}.0 AS b,
             list_transform(ys[1:{_Q245_P}], y -> y - m1) AS s,
             CAST(0.0 AS DOUBLE) AS sse
      FROM ini
      UNION ALL
      SELECT s.event_type, s.ys, s.tmax, s.t + 1,
             {_Q245_LNEW} AS l,
             {_Q245_B} * (({_Q245_LNEW}) - s.l)
               + (1 - {_Q245_B}) * s.b AS b,
             list_append(s.s[2:{_Q245_P}],
                         {_Q245_D} * (p.y - ({_Q245_LNEW}))
                         + (1 - {_Q245_D}) * s.s[1]) AS s,
             s.sse + (p.y - (s.l + s.b + s.s[1]))
                   * (p.y - (s.l + s.b + s.s[1])) AS sse
      FROM state s
      JOIN LATERAL (SELECT s.ys[s.t + 1] AS y) p ON TRUE
      WHERE s.t < s.tmax
    )
    SELECT event_type, CAST(tmax AS BIGINT) AS n_days,
           ROUND(l + 5e-12, 6) AS level,
           ROUND(b + 5e-12, 6) AS trend,
           ROUND(l + b + s[1] + 5e-12, 6) AS forecast_next,
           ROUND(SQRT(sse / (tmax - {_Q245_P})) + 5e-12, 6) AS rmse
    FROM state WHERE t = tmax
    ORDER BY event_type
"""


@register(
    "q245_holt_winters",
    _Q245_ORACLE,
    doc="Additive Holt-Winters (period 7) on daily revenue per "
    "event type: cent-rounded daily aggregation, then the "
    "operators/timeseries.holt_winters struct fold over the "
    "bounded day axis — level/trend/rotating seasonal array in one "
    "projection, no shuffle beyond the daily rollup.  Final level, "
    "trend, one-step forecast, one-step-ahead RMSE.",
)
def q245(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.timeseries import holt_winters

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 2).alias("y")
    )
    ser = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("pts")
    )
    ys = F.transform(F.col("pts"), lambda s: s["y"])
    st = holt_winters(ys, _Q245_P, _Q245_A, _Q245_B, _Q245_D)
    return (
        ser.select(
            "event_type",
            F.size("pts").cast("bigint").alias("n_days"),
            st.alias("st"),
        )
        .select(
            "event_type",
            "n_days",
            r6(F.col("st.l")).alias("level"),
            r6(F.col("st.b")).alias("trend"),
            r6(
                F.col("st.l")
                + F.col("st.b")
                + F.element_at(F.col("st.s"), 1)
            ).alias("forecast_next"),
            r6(
                F.sqrt(
                    F.col("st.sse")
                    / (F.col("n_days") - _Q245_P).cast("double")
                )
            ).alias("rmse"),
        )
        .orderBy("event_type")
    )
