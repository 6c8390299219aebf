"""Conformance queries: analytics family #4 (q152+) — bipartite
co-purchase projection, rolling median, MoM growth, chi-square
independence, burstiness, TF-IDF document cosine pairs, interval
coverage, event sojourn times. Oracle conventions as everywhere."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register
from model_presto_spark.plans.queries_docs import dd_tokens

_R6 = R6_SQL
_r6 = r6


# ---------------------------------------------------------------------------
# Q152 — bipartite projection: suppliers linked by shared customers
# ---------------------------------------------------------------------------
_Q152_ORACLE = f"""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), deg AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY s
    ), pairs AS (
      SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS shared
      FROM e a JOIN e b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2
    )
    SELECT p.s1, p.s2, p.shared,
           {_R6.format(x='CAST(p.shared AS DOUBLE) / sqrt(CAST(d1.d AS DOUBLE) * CAST(d2.d AS DOUBLE))')}
             AS cosine
    FROM pairs p
    JOIN deg d1 ON d1.s = p.s1
    JOIN deg d2 ON d2.s = p.s2
    ORDER BY p.shared DESC, p.s1 ASC, p.s2 ASC LIMIT 20
"""


@register(
    "q152_bipartite_projection",
    _Q152_ORACLE,
    doc="Supplier co-purchase graph: project the customer-supplier "
    "bipartite graph onto suppliers, weight = shared customers, "
    "cosine-normalized by degrees. Pair generation is a self-join "
    "co-partitioned on the customer key — pairs form inside each "
    "customer's bounded supplier set (the d^2-per-entity guard), "
    "never across the whole relation; degrees broadcast back.",
)
def q152(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # materialize the bipartite edge list once: deg + both pair sides
    # reference it, and an un-materialized plan re-runs the
    # orders-lineitem join/distinct per reference (plan audit: 16
    # scans -> 4)
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    # hot-key guard: a customer whose basket holds d suppliers emits
    # d^2 pairs below; one pathological buyer (the "empty URL" analog)
    # would dominate the stage at 100 TB. Sample-cap per-customer
    # supplier sets at 1000 — far above the honest sf-series maximum
    # (sf0.1 max basket ~ tens), so the oracle-parity result is
    # bit-identical while the plan is skew-proof; drops are logged
    # when the cap fires (skew.cap_key_multiplicity telemetry).
    from model_presto_spark.operators.skew import cap_key_multiplicity

    e_capped = cap_key_multiplicity(e, "c", 1000, mode="sample")
    a = e_capped.select(F.col("c"), F.col("s").alias("s1"))
    b = e_capped.select(F.col("c"), F.col("s").alias("s2"))
    pairs = (
        a.join(b, "c")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        pairs.join(
            F.broadcast(deg.select(F.col("s").alias("s1"), F.col("d").alias("d1"))),
            "s1",
        )
        .join(
            F.broadcast(deg.select(F.col("s").alias("s2"), F.col("d").alias("d2"))),
            "s2",
        )
        .select(
            "s1",
            "s2",
            "shared",
            _r6(
                F.col("shared").cast("double")
                / F.sqrt(F.col("d1").cast("double") * F.col("d2").cast("double"))
            ).alias("cosine"),
        )
    )
    return out.orderBy(
        F.col("shared").desc(), F.col("s1").asc(), F.col("s2").asc()
    ).limit(20)


# ---------------------------------------------------------------------------
# Q153 — 7-day rolling exact median of daily revenue
# ---------------------------------------------------------------------------
_Q153_MED = (
    "quantile_cont(revenue, 0.5) OVER (ORDER BY day "
    "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"
)

_Q153_ORACLE = f"""
    WITH daily AS (
      SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
             SUM(o_totalprice) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT day,
           {_R6.format(x='revenue')} AS revenue,
           {_R6.format(x=_Q153_MED)} AS med7
    FROM daily
"""


@register(
    "q153_rolling_median",
    _Q153_ORACLE,
    doc="Exact 7-day rolling median of daily revenue: the robust "
    "smoothing twin of q144's rolling mean (a single spike cannot "
    "drag it). Pre-aggregate-then-window discipline — the percentile "
    "frame runs over the ~2.4k-row daily series, never the stream.",
)
def q153(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias(
            "day"
        )
    ).agg(F.sum("o_totalprice").alias("revenue"))
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        _r6(F.col("revenue")).alias("revenue"),
        _r6(F.expr("percentile(revenue, 0.5)").over(w)).alias("med7"),
    )


# ---------------------------------------------------------------------------
# Q154 — month-over-month revenue growth per order priority
# ---------------------------------------------------------------------------
_Q154_MOM = (
    "CASE WHEN lag(revenue) OVER w IS NULL THEN 0.0 "
    "ELSE (revenue - lag(revenue) OVER w) / lag(revenue) OVER w END"
)

_Q154_ORACLE = f"""
    WITH m AS (
      SELECT o_orderpriority,
             strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             SUM(o_totalprice) AS revenue
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority, month,
           {_R6.format(x='revenue')} AS revenue,
           {_R6.format(x=_Q154_MOM)} AS mom_growth
    FROM m
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month)
"""


@register(
    "q154_mom_growth",
    _Q154_ORACLE,
    doc="Month-over-month growth per priority: calendar-aligned lag "
    "over the pre-aggregated monthly relation (period-over-period, "
    "the reporting staple). One shuffle to monthly, one tiny window.",
)
def q154(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        "o_orderpriority",
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        ),
    ).agg(F.sum("o_totalprice").alias("revenue"))
    w = Window.partitionBy("o_orderpriority").orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "o_orderpriority",
        "month",
        _r6(F.col("revenue")).alias("revenue"),
        _r6(
            F.when(prev.isNull(), F.lit(0.0)).otherwise(
                (F.col("revenue") - prev) / prev
            )
        ).alias("mom_growth"),
    )


# ---------------------------------------------------------------------------
# Q155 — chi-square independence test: event type x weekday
# ---------------------------------------------------------------------------
_Q155_CHI = (
    "SUM(pow(f.nxy - px.nx * py.ny / t.n, 2) / (px.nx * py.ny / t.n))"
)

_Q155_ORACLE = f"""
    WITH obs AS (
      SELECT event_type AS x, dayofweek(ts) AS y,
             CAST(COUNT(*) AS DOUBLE) AS nxy
      FROM events GROUP BY 1, 2
    ), xs AS (SELECT DISTINCT x FROM obs), ys AS (SELECT DISTINCT y FROM obs),
    spine AS (SELECT x, y FROM xs CROSS JOIN ys),
    full_t AS (
      SELECT s.x, s.y, COALESCE(o.nxy, 0.0) AS nxy
      FROM spine s LEFT JOIN obs o ON o.x = s.x AND o.y = s.y
    ), tot AS (SELECT SUM(nxy) AS n FROM full_t),
    px AS (SELECT x, SUM(nxy) AS nx FROM full_t GROUP BY x),
    py AS (SELECT y, SUM(nxy) AS ny FROM full_t GROUP BY y)
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_events,
           CAST(((SELECT COUNT(*) FROM xs) - 1)
                * ((SELECT COUNT(*) FROM ys) - 1) AS BIGINT) AS dof,
           {_R6.format(x=_Q155_CHI)} AS chi2
    FROM full_t f
    CROSS JOIN tot t
    JOIN px ON px.x = f.x
    JOIN py ON py.y = f.y
"""


@register(
    "q155_chi_square",
    _Q155_ORACLE,
    doc="Chi-square test of independence over the event-type x "
    "weekday contingency table: zero-observed cells re-enter via the "
    "category-spine cross join (they carry expected mass), marginals "
    "broadcast. The hypothesis-test twin of q151's MI effect size.",
)
def q155(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # obs is a ~35-row contingency table referenced by xs/ys/spine/
    # marginals — materialize once instead of re-aggregating the
    # stream per reference (plan audit: 24 scans -> 2)
    obs = (
        ev.groupBy(F.col("event_type").alias("x"), F.dayofweek("ts").alias("y"))
        .agg(F.count(F.lit(1)).cast("double").alias("nxy"))
        .localCheckpoint(eager=False)
    )
    xs = obs.select("x").distinct()
    ys = obs.select("y").distinct()
    spine = xs.crossJoin(ys)
    full_t = spine.join(obs, ["x", "y"], "left").select(
        "x", "y", F.coalesce(F.col("nxy"), F.lit(0.0)).alias("nxy")
    )
    tot = full_t.agg(F.sum("nxy").alias("n"))
    px = full_t.groupBy("x").agg(F.sum("nxy").alias("nx"))
    py = full_t.groupBy("y").agg(F.sum("nxy").alias("ny"))
    nx_count = xs.count()
    ny_count = ys.count()
    j = (
        full_t.crossJoin(F.broadcast(tot))
        .join(F.broadcast(px), "x")
        .join(F.broadcast(py), "y")
    )
    exp = F.col("nx") * F.col("ny") / F.col("n")
    return j.agg(
        F.max("n").cast("bigint").alias("n_events"),
        F.lit((nx_count - 1) * (ny_count - 1)).cast("bigint").alias("dof"),
        _r6(F.sum(F.pow(F.col("nxy") - exp, 2) / exp)).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Q156 — burstiness of daily activity per user
# ---------------------------------------------------------------------------
_Q156_ORACLE = f"""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS c
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS nd,
             SUM(c) AS s1, SUM(c * c) AS s2
      FROM daily GROUP BY 1
    ), stats AS (
      SELECT user_id, nd, s1 / nd AS mu,
             sqrt(s2 / nd - (s1 / nd) * (s1 / nd)) AS sigma
      FROM m WHERE nd >= 5
    )
    SELECT user_id, CAST(nd AS BIGINT) AS n_days,
           {_R6.format(x='sigma * sigma / mu')} AS fano,
           {_R6.format(x='(sigma - mu) / (sigma + mu)')} AS burstiness
    FROM stats
"""


@register(
    "q156_burstiness",
    _Q156_ORACLE,
    doc="Activity burstiness per user: Fano factor (variance/mean of "
    "daily counts) and the Goh-Barabasi burstiness (sigma-mu)/"
    "(sigma+mu) from raw power sums — two partial-aggregated "
    "groupBys, population moments shared across engines exactly.",
)
def q156(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    m = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    ).where(F.col("nd") >= 5)
    mu = F.col("s1") / F.col("nd")
    sigma = F.sqrt(F.col("s2") / F.col("nd") - mu * mu)
    return m.select(
        "user_id",
        F.col("nd").cast("bigint").alias("n_days"),
        _r6(sigma * sigma / mu).alias("fano"),
        _r6((sigma - mu) / (sigma + mu)).alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# Q157 — TF-IDF document-cosine near-pairs via inverted index
# ---------------------------------------------------------------------------
_Q157_MAX_DF = 50

_Q157_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, UNNEST({dd_tokens('text')}) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM tok GROUP BY 1, 2
    ), df AS (
      SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ), nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM tf),
    w AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln((SELECT n FROM nd) / df.df) AS w
      FROM tf JOIN df ON df.term = tf.term
      WHERE df.df <= {_Q157_MAX_DF} AND df.df > 1
    ), norms AS (
      SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY doc_id
    ), dots AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, SUM(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           {_R6.format(x='dot / (n1.nrm * n2.nrm)')} AS cosine
    FROM dots
    JOIN norms n1 ON n1.doc_id = d1
    JOIN norms n2 ON n2.doc_id = d2
    ORDER BY {_R6.format(x='dot / (n1.nrm * n2.nrm)')} DESC, d1 ASC, d2 ASC
    LIMIT 20
"""


@register(
    "q157_tfidf_cosine",
    _Q157_ORACLE,
    doc="Sparse TF-IDF document cosine via posting-list self-join: "
    "pairs form only inside a term's posting list, and the "
    "max_doc_freq cutoff ({} here) bounds every list — the d^2 "
    "stop-term guard shared with q34's inverted index. Norms "
    "join back per doc. The doc-doc similarity miner on top of "
    "q73's TF-IDF weighting.".format(_Q157_MAX_DF),
)
def q157(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import tokens_sql

    docs = _t(spark, sf_dir, "documents")
    tok = docs.selectExpr(
        "doc_id", f"explode_outer({tokens_sql('text')}) AS term"
    ).filter(F.col("term").isNotNull())
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    n_docs = tf.select("doc_id").distinct().count()
    # the weighted posting list feeds norms AND both sides of the
    # pair join — materialize once so the token explosion + tf/df
    # aggregation runs a single time (plan audit: 16 scans -> 2)
    w = (
        tf.join(F.broadcast(df), "term")
        .where((F.col("df") <= _Q157_MAX_DF) & (F.col("df") > 1))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias(
                "w"
            ),
        )
        .localCheckpoint(eager=False)
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a = w.select(F.col("term"), F.col("doc_id").alias("d1"), F.col("w").alias("wa"))
    b = w.select(F.col("term"), F.col("doc_id").alias("d2"), F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    sim = (
        dots.join(
            F.broadcast(norms.select(F.col("doc_id").alias("d1"), F.col("nrm").alias("n1"))),
            "d1",
        )
        .join(
            F.broadcast(norms.select(F.col("doc_id").alias("d2"), F.col("nrm").alias("n2"))),
            "d2",
        )
        .select(
            "d1",
            "d2",
            _r6(F.col("dot") / (F.col("n1") * F.col("n2"))).alias("cosine"),
        )
    )
    return sim.orderBy(
        F.col("cosine").desc(), F.col("d1").asc(), F.col("d2").asc()
    ).limit(20)


# ---------------------------------------------------------------------------
# Q158 — union-of-intervals coverage per user (sweep line)
# ---------------------------------------------------------------------------
_Q158_ORACLE = f"""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts + INTERVAL 30 MINUTE) AS e
      FROM events
    ), ev AS (
      SELECT user_id, s AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT user_id, e AS t, -1 AS delta FROM iv
    ), swept AS (
      SELECT user_id, t,
             SUM(delta) OVER (
               PARTITION BY user_id ORDER BY t ASC, delta ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open,
             lead(t) OVER (
               PARTITION BY user_id ORDER BY t ASC, delta ASC) AS nxt
      FROM ev
    )
    SELECT user_id,
           {_R6.format(x='CAST(SUM(CASE WHEN open > 0 THEN nxt - t ELSE 0 END) AS DOUBLE) / 60000000.0')}
             AS covered_min
    FROM swept GROUP BY user_id
"""


@register(
    "q158_interval_coverage",
    _Q158_ORACLE,
    doc="Total covered time of the UNION of each user's 30-min "
    "activity intervals (overlaps counted once): sweep line over "
    "+1/-1 events, segment length between consecutive sweep points "
    "accrues while open > 0. Integer microsecond arithmetic keeps "
    "the sweep exact; one shuffle on the user key. The sibling of "
    "q135's peak-concurrency sweep. Tie note: at equal t the -1 "
    "sorts first and segment lengths at equal t are zero, so any "
    "within-tie order yields the same sum.",
)
def q158(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from model_presto_spark.operators.temporal import _epoch_us

    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        _epoch_us("ts").alias("s"),
        (_epoch_us("ts") + F.lit(30 * 60 * 1000000)).alias("e"),
    )
    starts = iv.select("user_id", F.col("s").alias("t"), F.lit(1).alias("delta"))
    ends = iv.select("user_id", F.col("e").alias("t"), F.lit(-1).alias("delta"))
    u = starts.unionByName(ends)
    wo = Window.partitionBy("user_id").orderBy(
        F.col("t").asc(), F.col("delta").asc()
    )
    swept = u.select(
        "user_id",
        "t",
        F.sum("delta").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "open"
        ),
        F.lead("t").over(wo).alias("nxt"),
    )
    return swept.groupBy("user_id").agg(
        _r6(
            F.sum(
                F.when(F.col("open") > 0, F.col("nxt") - F.col("t")).otherwise(
                    F.lit(0)
                )
            ).cast("double")
            / F.lit(60e6)
        ).alias("covered_min")
    )


# ---------------------------------------------------------------------------
# Q159 — sojourn time per event type (state holding times)
# ---------------------------------------------------------------------------
_Q159_ORACLE = f"""
    WITH seq AS (
      SELECT event_type,
             CAST(epoch_us(lead(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                  - epoch_us(ts) AS DOUBLE) / 60000000.0 AS hold_min
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(hold_min) AS BIGINT) AS n_transitions,
           {_R6.format(x='AVG(hold_min)')} AS mean_hold_min,
           {_R6.format(x='quantile_cont(hold_min, 0.5)')} AS p50_hold_min
    FROM seq
    WHERE hold_min IS NOT NULL
    GROUP BY event_type
"""


@register(
    "q159_sojourn",
    _Q159_ORACLE,
    doc="State holding (sojourn) times: minutes spent in each event "
    "type before the user's next event — one lead window per user "
    "stream, then a grouped mean/median. The dwell-time complement "
    "of q100's Markov transition probabilities.",
)
def q159(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from model_presto_spark.operators.temporal import _epoch_us

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        (
            (F.lead(_epoch_us("ts")).over(w) - _epoch_us("ts")).cast("double")
            / F.lit(60e6)
        ).alias("hold_min"),
    ).where(F.col("hold_min").isNotNull())
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        _r6(F.avg("hold_min")).alias("mean_hold_min"),
        _r6(F.expr("percentile(hold_min, 0.5)")).alias("p50_hold_min"),
    )
