"""Conformance queries: round-7 operator batch #13 (q276+) —
chain-ladder run-off triangle, one ALS half-step, IPF raking,
Huber robust mean, split-conformal intervals.

Parity: triangles/residuals/order statistics are exact integer
cents; the 2x2 ALS solves and IPF scalings are closed-form algebra
over identical doubles; IPF's bounded 10-cell state iterates
driver-side (the q242 rule: model crosses the driver, not data)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, r6_py, register

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q276 — Chain-ladder run-off triangle (user-cohort spend)
# ---------------------------------------------------------------------------
# Customer-cohort revenue run-off on ORDERS: cohort = year of the
# customer's first order, dev = order year - cohort year,
# cumulative cents per (cohort, dev).  Cohorts after 1995 are
# right-censored by the 2001 data end — exactly a claims triangle.
# Development factors f_d = sum C_{i,d+1} / sum C_{i,d} over
# cohorts observing both; censored cohorts are projected to
# ultimate by the explicit remaining-factor product (no exp/ln
# round trip).
_Q276_ORACLE = """
    WITH fo AS (
      SELECT o_custkey,
             CAST(MIN(EXTRACT(year FROM o_orderdate)) AS BIGINT) AS cy
      FROM orders GROUP BY o_custkey
    ), inc AS (
      SELECT f.cy AS cohort,
             CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) - f.cy
               AS dev,
             CAST(ROUND(SUM(o.o_totalprice) * 100, 0) AS BIGINT)
               AS c_inc
      FROM orders o JOIN fo f ON f.o_custkey = o.o_custkey
      GROUP BY cohort, dev
    ), cum AS MATERIALIZED (
      SELECT cohort, dev,
             SUM(c_inc) OVER (PARTITION BY cohort ORDER BY dev
                              ROWS UNBOUNDED PRECEDING) AS c
      FROM inc
    ), fac AS MATERIALIZED (
      SELECT a.dev AS d,
             SUM(b.c) / CAST(SUM(a.c) AS DOUBLE) AS f
      FROM cum a JOIN cum b
        ON b.cohort = a.cohort AND b.dev = a.dev + 1
      GROUP BY a.dev
    ), wide AS (
      SELECT MAX(CASE WHEN d = 0 THEN f END) AS f0,
             MAX(CASE WHEN d = 1 THEN f END) AS f1,
             MAX(CASE WHEN d = 2 THEN f END) AS f2,
             MAX(CASE WHEN d = 3 THEN f END) AS f3,
             MAX(CASE WHEN d = 4 THEN f END) AS f4,
             MAX(CASE WHEN d = 5 THEN f END) AS f5
      FROM fac
    ), latest AS (
      SELECT cohort, MAX(dev) AS dmax FROM cum GROUP BY cohort
    )
    SELECT c.cohort, l.dmax,
           ROUND(c.c / 100.0 + 5e-10, 2) AS paid_to_date,
           ROUND(c.c
                 * CASE l.dmax
                     WHEN 0 THEN w.f0 * w.f1 * w.f2 * w.f3 * w.f4 * w.f5
                     WHEN 1 THEN w.f1 * w.f2 * w.f3 * w.f4 * w.f5
                     WHEN 2 THEN w.f2 * w.f3 * w.f4 * w.f5
                     WHEN 3 THEN w.f3 * w.f4 * w.f5
                     WHEN 4 THEN w.f4 * w.f5
                     WHEN 5 THEN w.f5
                     ELSE 1.0 END / 100.0 + 5e-10, 2) AS ultimate
    FROM latest l
    JOIN cum c ON c.cohort = l.cohort AND c.dev = l.dmax
    CROSS JOIN wide w
    ORDER BY c.cohort
"""


@register(
    "q276_chain_ladder",
    _Q276_ORACLE,
    doc="Chain-ladder projection of the customer-revenue run-off "
    "triangle: cohort = first-order year, cumulative integer "
    "cents per (cohort, dev-year), volume-weighted development "
    "factors over co-observed cohorts, censored cohorts projected "
    "to ultimate by the explicit remaining-factor product.  The "
    "actuarial reserving classic on purchase data.",
)
def q276(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    fo = o.groupBy(F.col("o_custkey").alias("fck")).agg(
        F.min(F.year("o_orderdate")).cast("bigint").alias("cy")
    )
    inc = (
        o.join(F.broadcast(fo), F.col("o_custkey") == F.col("fck"))
        .groupBy(
            F.col("cy").alias("cohort"),
            (F.year("o_orderdate").cast("bigint") - F.col("cy")).alias(
                "dev"
            ),
        )
        .agg(
            F.round(F.sum("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("c_inc")
        )
    )
    cum = inc.select(
        "cohort",
        "dev",
        F.sum("c_inc")
        .over(
            Window.partitionBy("cohort")
            .orderBy("dev")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("c"),
    ).localCheckpoint(eager=False)  # factors (2x) + latest + final
    a = cum.select(
        F.col("cohort").alias("ca"),
        F.col("dev").alias("d"),
        F.col("c").alias("cva"),
    )
    b = cum.select(
        F.col("cohort").alias("cb"),
        F.col("dev").alias("db"),
        F.col("c").alias("cvb"),
    )
    fac = (
        a.join(
            b,
            (F.col("cb") == F.col("ca"))
            & (F.col("db") == F.col("d") + 1),
        )
        .groupBy("d")
        .agg((F.sum("cvb") / F.sum("cva").cast("double")).alias("f"))
    )
    wide = fac.agg(
        *[
            F.max(F.when(F.col("d") == i, F.col("f"))).alias(f"f{i}")
            for i in range(6)
        ]
    )
    latest = cum.groupBy(F.col("cohort").alias("lc")).agg(
        F.max("dev").alias("dmax")
    )

    def tail_product(start: int):
        prod = F.lit(1.0)
        for i in range(start, 6):
            prod = prod * F.col(f"f{i}")
        return prod

    factor = F.lit(1.0)
    for dmax in range(5, -1, -1):
        factor = F.when(
            F.col("dmax") == dmax, tail_product(dmax)
        ).otherwise(factor)
    return (
        latest.join(
            cum,
            (F.col("cohort") == F.col("lc"))
            & (F.col("dev") == F.col("dmax")),
        )
        .crossJoin(F.broadcast(wide))
        .select(
            "cohort",
            "dmax",
            F.round(F.col("c") / 100.0 + 5e-10, 2).alias("paid_to_date"),
            F.round(F.col("c") * factor / 100.0 + 5e-10, 2).alias(
                "ultimate"
            ),
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# Q277 — One ALS half-step (rank-2 user factors, closed form)
# ---------------------------------------------------------------------------
# Fix deterministic rank-2 item factors over the 5 event types,
# solve every user's factors in closed form: w = (F'F + lambda I)^-1 F'r
# with 2x2 Cramer inversion from per-user sums.  The distributed
# ALS inner loop — per-user normal equations from one shuffle,
# no gradient steps.
_Q277_LAMBDA = 0.1

# item factor components from the alphabetical item index i=1..5
_Q277_F1 = "(1.0 + (it.i % 3))"
_Q277_F2 = "(1.0 + ((it.i * 2) % 5))"

_Q277_ORACLE = f"""
    WITH items AS (
      SELECT event_type,
             CAST(ROW_NUMBER() OVER (ORDER BY event_type) AS BIGINT)
               AS i
      FROM (SELECT DISTINCT event_type FROM events)
    ), rate AS (
      SELECT e.user_id, e.event_type,
             CAST(ROUND(SUM(e.value) * 100, 0) AS BIGINT) AS cents,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events e GROUP BY e.user_id, e.event_type
    ), obs AS (
      SELECT r.user_id,
             CAST(r.cents AS DOUBLE) / r.n / 100.0 AS r,
             {_Q277_F1} AS f1, {_Q277_F2} AS f2
      FROM rate r JOIN items it ON it.event_type = r.event_type
    ), mom AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_items,
             SUM(f1 * f1) + {_Q277_LAMBDA} AS a11,
             SUM(f1 * f2) AS a12,
             SUM(f2 * f2) + {_Q277_LAMBDA} AS a22,
             SUM(f1 * r) AS b1,
             SUM(f2 * r) AS b2
      FROM obs GROUP BY user_id
    )
    SELECT user_id, n_items,
           {_R6.format(
               x='(b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12)'
           )} AS w1,
           {_R6.format(
               x='(a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12)'
           )} AS w2
    FROM mom
    ORDER BY user_id
    LIMIT 10
"""


@register(
    "q277_als_step",
    _Q277_ORACLE,
    doc="One ALS half-step with rank-2 factors: deterministic item "
    "factors over event types, per-user normal equations "
    "(F'F + 0.1 I) w = F'r accumulated in one shuffle, closed-form "
    "2x2 Cramer solve — the distributed matrix-factorization "
    "inner loop without any solver library.",
)
def q277(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    items = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.row_number()
            .over(Window.orderBy("event_type"))
            .cast("bigint")
            .alias("i"),
        )
    )
    rate = ev.groupBy("user_id", "event_type").agg(
        F.round(F.sum("value") * 100, 0).cast("bigint").alias("cents"),
        F.count(F.lit(1)).alias("n"),
    )
    obs = rate.join(F.broadcast(items), "event_type").select(
        "user_id",
        (F.col("cents").cast("double") / F.col("n") / 100.0).alias("r"),
        (1.0 + (F.col("i") % 3)).alias("f1"),
        (1.0 + ((F.col("i") * 2) % 5)).alias("f2"),
    )
    lam = _Q277_LAMBDA
    mom = obs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum(F.col("f1") * F.col("f1")) + lam).alias("a11"),
        F.sum(F.col("f1") * F.col("f2")).alias("a12"),
        (F.sum(F.col("f2") * F.col("f2")) + lam).alias("a22"),
        F.sum(F.col("f1") * F.col("r")).alias("b1"),
        F.sum(F.col("f2") * F.col("r")).alias("b2"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    return (
        mom.select(
            "user_id",
            "n_items",
            r6(
                (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12"))
                / det
            ).alias("w1"),
            r6(
                (F.col("a11") * F.col("b2") - F.col("a12") * F.col("b1"))
                / det
            ).alias("w2"),
        )
        .orderBy("user_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q278 — Iterative proportional fitting (survey raking)
# ---------------------------------------------------------------------------
# Rake the (event_type x variant) count table to uniform target
# margins with 5 row/column scaling rounds.  The table is bounded
# by construction (10 cells), so the iteration crosses the driver;
# the oracle unrolls the same 10 scaling steps as CTEs.
_Q278_ITERS = 5

_Q278_ROW = """
    r{k} AS (
      SELECT c.event_type, c.variant,
             c.v * (t.n / 5.0)
                 / SUM(c.v) OVER (PARTITION BY c.event_type) AS v
      FROM {prev} c CROSS JOIN tot t
    )"""
_Q278_COL = """
    c{k} AS (
      SELECT r.event_type, r.variant,
             r.v * (t.n / 2.0)
                 / SUM(r.v) OVER (PARTITION BY r.variant) AS v
      FROM r{k} r CROSS JOIN tot t
    )"""

_Q278_STEPS = ",".join(
    _Q278_ROW.format(k=i, prev=("c0" if i == 1 else f"c{i - 1}"))
    + ","
    + _Q278_COL.format(k=i)
    for i in range(1, _Q278_ITERS + 1)
)

_Q278_ORACLE = f"""
    WITH base AS MATERIALIZED (
      SELECT event_type, user_id % 2 AS variant,
             CAST(COUNT(*) AS DOUBLE) AS v
      FROM events GROUP BY event_type, variant
    ), tot AS MATERIALIZED (
      SELECT SUM(v) AS n FROM base
    ), c0 AS (
      SELECT event_type, variant, v FROM base
    ),{_Q278_STEPS}
    SELECT event_type, CAST(variant AS BIGINT) AS variant,
           {_R6.format(x='v')} AS raked_weighted_count,
           {_R6.format(x='v / b.bv')} AS rake_factor
    FROM c{_Q278_ITERS} f
    JOIN (SELECT event_type AS be, variant AS bv2, v AS bv FROM base) b
      ON b.be = f.event_type AND b.bv2 = f.variant
    ORDER BY event_type, variant
"""


@register(
    "q278_ipf_raking",
    _Q278_ORACLE,
    doc="Iterative proportional fitting of the event-type x "
    "variant count table to uniform margins, 5 row/col scaling "
    "rounds.  One data aggregation; the 10-cell iteration runs "
    "driver-side (bounded by construction) mirroring the oracle's "
    "unrolled CTE steps term for term.",
)
def q278(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = ev.groupBy(
        "event_type", (F.col("user_id") % 2).alias("variant")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    rows = base.collect()
    cells = {(r["event_type"], r["variant"]): r["v"] for r in rows}
    n = sum(cells.values())
    types = sorted({k[0] for k in cells})
    variants = sorted({k[1] for k in cells})
    cur = dict(cells)
    for _ in range(_Q278_ITERS):
        for t in types:
            rs = sum(cur[(t, v)] for v in variants)
            for v in variants:
                cur[(t, v)] = cur[(t, v)] * (n / 5.0) / rs
        for v in variants:
            cs = sum(cur[(t, v)] for t in types)
            for t in types:
                cur[(t, v)] = cur[(t, v)] * (n / 2.0) / cs

    out = [
        (t, int(v), r6_py(cur[(t, v)]), r6_py(cur[(t, v)] / cells[(t, v)]))
        for t in types
        for v in variants
    ]
    return spark.createDataFrame(
        out,
        "event_type string, variant bigint, "
        "raked_weighted_count double, rake_factor double",
    ).orderBy("event_type", "variant")


# ---------------------------------------------------------------------------
# Q279 — Huber robust mean (3 unrolled IRLS steps)
# ---------------------------------------------------------------------------
# Robust per-series daily-revenue location: start at the mean,
# reweight w = min(1, c/|y - mu|) with c = 1.345 sigma, three
# IRLS rounds over the bounded daily relation (weights are
# continuous in mu, so float noise cannot flip them).
_Q279_C = 1.345

_Q279_STEP = """
    m{k} AS (
      SELECT z.event_type,
             SUM(z.y * LEAST(1.0, {c} * z.sig / (ABS(z.y - p.mu) + 1e-9)))
             / SUM(LEAST(1.0, {c} * z.sig / (ABS(z.y - p.mu) + 1e-9))) AS mu
      FROM z JOIN m{km1} p ON p.event_type = z.event_type
      GROUP BY z.event_type
    )"""

_Q279_STEPS = ",".join(
    _Q279_STEP.format(k=i, km1=i - 1, c=_Q279_C) for i in (1, 2, 3)
)

_Q279_ORACLE = f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS y
      FROM events GROUP BY event_type, day
    ), mom AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(y) AS sy, SUM(y * y) AS syy
      FROM mom_src GROUP BY event_type
    ), z AS MATERIALIZED (
      SELECT d.event_type, d.y,
             SQRT((CAST(m.n AS DOUBLE) * m.syy
                   - CAST(m.sy AS DOUBLE) * m.sy)
                  / (CAST(m.n AS DOUBLE) * (m.n - 1))) AS sig
      FROM daily d JOIN mom m ON m.event_type = d.event_type
    ), m0 AS (
      SELECT event_type, AVG(CAST(y AS DOUBLE)) AS mu FROM z
      GROUP BY event_type
    ),{_Q279_STEPS}
    SELECT z.event_type,
           {_R6.format(x='MAX(m.mu) / 100.0')} AS huber_mean,
           {_R6.format(x='AVG(CAST(z.y AS DOUBLE)) / 100.0')}
             AS plain_mean
    FROM z JOIN m3 m ON m.event_type = z.event_type
    GROUP BY z.event_type
    ORDER BY z.event_type
""".replace("FROM mom_src", "FROM daily")


@register(
    "q279_huber_mean",
    _Q279_ORACLE,
    doc="Huber M-estimator of per-series daily revenue: three "
    "unrolled IRLS rounds with w = min(1, 1.345 sigma/|y - mu|) "
    "over the bounded daily relation, vs the plain mean.  The "
    "outlier-resistant location estimate; weights are continuous "
    "so the rounds are engine-exact.",
)
def q279(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100, 0).cast("bigint").alias("y")
    )
    mom = daily.groupBy(F.col("event_type").alias("met")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sig = F.sqrt(
        (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
        / (nd * (F.col("n") - 1))
    )
    z = daily.join(
        F.broadcast(mom), F.col("event_type") == F.col("met")
    ).select("event_type", "y", sig.alias("sig")).localCheckpoint(
        eager=False
    )  # reused by every IRLS round
    mu = z.groupBy(F.col("event_type").alias("me")).agg(
        F.avg(F.col("y").cast("double")).alias("mu")
    )
    for _ in range(3):
        w = F.least(
            F.lit(1.0),
            _Q279_C * F.col("sig")
            / (F.abs(F.col("y") - F.col("mu")) + 1e-9),
        )
        mu = (
            z.join(F.broadcast(mu), F.col("event_type") == F.col("me"))
            .groupBy(F.col("event_type").alias("me"))
            .agg(
                (F.sum(F.col("y") * w) / F.sum(w)).alias("mu")
            )
        )
    return (
        z.join(F.broadcast(mu), F.col("event_type") == F.col("me"))
        .groupBy("event_type")
        .agg(
            r6(F.max("mu") / 100.0).alias("huber_mean"),
            r6(F.avg(F.col("y").cast("double")) / 100.0).alias(
                "plain_mean"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q280 — Split-conformal prediction interval (seasonal-naive model)
# ---------------------------------------------------------------------------
# Distribution-free interval for the lag-7 naive forecaster:
# calibration days (odd day-of-month) supply |residual| integer
# cents; q_hat = the ceil((n+1)*0.9)-th order statistic (exact
# rank); empirical coverage measured on the even-day test split.
_Q280_ALPHA = 0.1

_Q280_ORACLE = f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS y
      FROM events GROUP BY event_type, day
    ), resid AS MATERIALIZED (
      SELECT event_type, day,
             ABS(y - LAG(y, 7) OVER (PARTITION BY event_type
                                     ORDER BY day)) AS r,
             EXTRACT(day FROM day) % 2 = 1 AS is_cal
      FROM daily
    ), cal AS (
      SELECT event_type, r,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY r, day) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n_cal
      FROM resid WHERE r IS NOT NULL AND is_cal
    ), qhat AS (
      SELECT event_type, MAX(n_cal) AS n_cal,
             MAX(CASE WHEN rk = CAST(CEIL((n_cal + 1) * CAST(0.9 AS DOUBLE)) AS BIGINT)
                      THEN r END) AS q_c
      FROM cal GROUP BY event_type
    ), test AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN r <= q.q_c THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_covered
      FROM (SELECT * FROM resid WHERE r IS NOT NULL AND NOT is_cal) t
      JOIN qhat q USING (event_type)
      GROUP BY event_type, q.q_c
    )
    SELECT q.event_type, q.n_cal, t.n_test,
           ROUND(q.q_c / 100.0 + 5e-10, 2) AS q_hat,
           {_R6.format(x='CAST(t.n_covered AS DOUBLE) / t.n_test')}
             AS coverage
    FROM qhat q JOIN test t ON t.event_type = q.event_type
    ORDER BY q.event_type
"""


@register(
    "q280_conformal",
    _Q280_ORACLE,
    doc="Split-conformal interval for the lag-7 naive forecaster: "
    "odd days calibrate (|residual| integer cents, exact "
    "ceil((n+1)(1-alpha)) order statistic), even days measure "
    "empirical coverage.  Distribution-free uncertainty with "
    "everything exact to the cent.",
)
def q280(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100, 0).cast("bigint").alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    resid = daily.select(
        "event_type",
        "day",
        F.abs(F.col("y") - F.lag("y", 7).over(w)).alias("r"),
        (F.dayofmonth("day") % 2 == 1).alias("is_cal"),
    ).where(F.col("r").isNotNull()).localCheckpoint(
        eager=False
    )  # cal + test
    cal = resid.where(F.col("is_cal")).select(
        "event_type",
        "r",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("r", "day"))
        .alias("rk"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n_cal"),
    )
    qhat = cal.groupBy("event_type").agg(
        F.max("n_cal").alias("n_cal"),
        F.max(
            F.when(
                F.col("rk")
                == F.ceil((F.col("n_cal") + 1) * 0.9).cast("bigint"),
                F.col("r"),
            )
        ).alias("q_c"),
    )
    test = (
        resid.where(~F.col("is_cal"))
        .join(
            F.broadcast(
                qhat.select(
                    F.col("event_type").alias("qe"), "q_c"
                )
            ),
            F.col("event_type") == F.col("qe"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("r") <= F.col("q_c"), 1).otherwise(0)
            ).alias("n_covered"),
        )
    )
    return (
        qhat.join(test, "event_type")
        .select(
            "event_type",
            "n_cal",
            "n_test",
            F.round(F.col("q_c") / 100.0 + 5e-10, 2).alias("q_hat"),
            r6(
                F.col("n_covered").cast("double") / F.col("n_test")
            ).alias("coverage"),
        )
        .orderBy("event_type")
    )
