"""Conformance queries: statistical-testing family #2 (q146+) —
higher central moments, two-sample Kolmogorov-Smirnov, Gini/Lorenz
concentration, autocorrelation function, funnel latency quantiles,
and mutual information. Every statistic is computed from raw power
sums / counts with IDENTICAL formulas on both engines (no reliance
on built-in skewness/kurtosis/corr whose sample-vs-population
conventions differ across engines). Oracle conventions as
everywhere."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register

_R6 = R6_SQL
_r6 = r6


# ---------------------------------------------------------------------------
# Q146 — skewness / kurtosis from raw power sums
# ---------------------------------------------------------------------------
_Q146_ORACLE = f"""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(l_quantity) AS s1,
             SUM(l_quantity * l_quantity) AS s2,
             SUM(l_quantity * l_quantity * l_quantity) AS s3,
             SUM(l_quantity * l_quantity * l_quantity * l_quantity) AS s4
      FROM lineitem GROUP BY 1
    ), m AS (
      SELECT l_returnflag, n,
             s1 / n AS m1,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n)
                    + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                    - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM s
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           {_R6.format(x='m1')} AS mean,
           {_R6.format(x='m3 / pow(m2, 1.5)')} AS skewness_pop,
           {_R6.format(x='m4 / (m2 * m2) - 3.0')} AS excess_kurtosis_pop
    FROM m
"""


@register(
    "q146_moments",
    _Q146_ORACLE,
    doc="Population skewness and excess kurtosis per returnflag from "
    "raw power sums (one map-side-combinable aggregation; the "
    "central-moment algebra runs on the 3-row aggregate). Built-in "
    "skewness/kurtosis are avoided deliberately: engines disagree on "
    "sample-vs-population corrections, raw moments do not.",
)
def q146(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    m1 = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - m1 * m1
    m3 = F.col("s3") / F.col("n") - 3 * m1 * (F.col("s2") / F.col("n")) + 2 * m1 * m1 * m1
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * m1 * (F.col("s3") / F.col("n"))
        + 6 * m1 * m1 * (F.col("s2") / F.col("n"))
        - 3 * m1 * m1 * m1 * m1
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        _r6(m1).alias("mean"),
        _r6(m3 / F.pow(m2, 1.5)).alias("skewness_pop"),
        _r6(m4 / (m2 * m2) - F.lit(3.0)).alias("excess_kurtosis_pop"),
    )


# ---------------------------------------------------------------------------
# Q147 — two-sample Kolmogorov-Smirnov statistic (ECDF sweep)
# ---------------------------------------------------------------------------
_Q147_ORACLE = f"""
    WITH u AS (
      SELECT l_extendedprice AS v,
             SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS cb
      FROM lineitem
      WHERE l_returnflag IN ('R', 'A')
      GROUP BY 1
    ), na AS (SELECT CAST(SUM(ca) AS DOUBLE) AS n FROM u),
    nb AS (SELECT CAST(SUM(cb) AS DOUBLE) AS n FROM u),
    sweep AS (
      SELECT SUM(ca) OVER (ORDER BY v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / (SELECT n FROM na) AS f1,
             SUM(cb) OVER (ORDER BY v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / (SELECT n FROM nb) AS f2
      FROM u
    )
    SELECT CAST((SELECT n FROM na) AS BIGINT) AS n_a,
           CAST((SELECT n FROM nb) AS BIGINT) AS n_b,
           {_R6.format(x='MAX(ABS(f1 - f2))')} AS ks_d
    FROM sweep
"""


@register(
    "q147_ks_test",
    _Q147_ORACLE,
    doc="Two-sample Kolmogorov-Smirnov D between price distributions "
    "(R vs A): per-distinct-value tag counts FIRST (the group-by "
    "collapses cross-sample ties into one sweep point, so the ECDF "
    "is only ever evaluated at step boundaries — evaluating inside a "
    "tie block would make D depend on the engine's within-tie "
    "interleaving), then one ordered sweep of running ECDFs, max "
    "gap. Single-reducer global sort over the distinct values is "
    "documented — at scale, pre-bucket values and sweep bucket "
    "boundaries instead.",
)
def q147(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    u = (
        li.where(F.col("l_returnflag").isin("R", "A"))
        .groupBy(F.col("l_extendedprice").alias("v"))
        .agg(
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("ca"),
            F.sum(
                F.when(F.col("l_returnflag") == "A", 1).otherwise(0)
            ).alias("cb"),
        )
        .localCheckpoint(eager=False)
    )
    totals = u.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb")).first()
    if totals.na is None:  # no R/A rows: the oracle's one all-NULL row
        return spark.createDataFrame(
            [(None, None, None)], "n_a bigint, n_b bigint, ks_d double"
        )
    na, nb = int(totals.na), int(totals.nb)
    w = Window.orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    sweep = u.select(
        (F.sum("ca").over(w) / F.lit(float(na))).alias("f1"),
        (F.sum("cb").over(w) / F.lit(float(nb))).alias("f2"),
    )
    return sweep.agg(
        F.lit(na).cast("bigint").alias("n_a"),
        F.lit(nb).cast("bigint").alias("n_b"),
        _r6(F.max(F.abs(F.col("f1") - F.col("f2")))).alias("ks_d"),
    )


# ---------------------------------------------------------------------------
# Q148 — Gini coefficient / Lorenz concentration of customer spend
# ---------------------------------------------------------------------------
_Q148_ORACLE = f"""
    WITH spend AS (
      SELECT o_custkey, SUM(o_totalprice) AS x
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT x,
             CAST(ROW_NUMBER() OVER (ORDER BY x ASC, o_custkey ASC)
                  AS DOUBLE) AS i
      FROM spend
    ), agg AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(x) AS sx, SUM(i * x) AS six
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           {_R6.format(x='2.0 * six / (n * sx) - (n + 1.0) / n')} AS gini
    FROM agg
"""


@register(
    "q148_gini",
    _Q148_ORACLE,
    doc="Gini coefficient of per-customer spend via the sorted-index "
    "identity G = 2*sum(i*x_i)/(n*sum x) - (n+1)/n: one groupBy to "
    "per-customer totals, one ranked window, one scalar aggregate. "
    "Complements q127's top-share concentration with the full-curve "
    "metric.",
)
def q148(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("x"))
    w = Window.orderBy(F.col("x").asc(), F.col("o_custkey").asc())
    ranked = spend.select(
        "x", F.row_number().over(w).cast("double").alias("i")
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        _r6(
            F.lit(2.0)
            * F.sum(F.col("i") * F.col("x"))
            / (F.count(F.lit(1)) * F.sum("x"))
            - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1))
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Q149 — autocorrelation function of daily revenue, lags 1..7
# ---------------------------------------------------------------------------
_Q149_ORACLE = f"""
    WITH daily AS (
      SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS d,
             SUM(o_totalprice) AS rev
      FROM orders GROUP BY 1
    ), lags AS (SELECT UNNEST(range(1, 8)) AS lag), pairs AS (
      SELECT l.lag, a.rev AS x, b.rev AS y
      FROM daily a JOIN lags l ON TRUE
      JOIN daily b ON b.d = a.d + l.lag
    ), m AS (
      SELECT lag, CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           {_R6.format(x='(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))')}
             AS acf
    FROM m
"""


@register(
    "q149_autocorr",
    _Q149_ORACLE,
    doc="ACF of the daily-revenue series at lags 1..7: pre-aggregate "
    "to the daily series, explode 7 lags, self-equi-join on shifted "
    "day index, Pearson r from pair moments (identical closed form "
    "both engines; built-in corr conventions avoided). The lag join "
    "runs on the collapsed series, never the raw stream.",
)
def q149(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_timestamp("o_orderdate") / F.lit(86400))
        .cast("bigint")
        .alias("d")
    ).agg(F.sum("o_totalprice").alias("rev"))
    lags = F.explode(F.array(*[F.lit(i) for i in range(1, 8)])).alias("lag")
    a = daily.select("d", F.col("rev").alias("x")).select("*", lags)
    b = daily.select(F.col("d").alias("bd"), F.col("rev").alias("y"))
    pairs = a.join(b, a.d + a.lag == b.bd)
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        _r6(num / den).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Q150 — funnel step latency quantiles (signup -> purchase)
# ---------------------------------------------------------------------------
_Q150_ORACLE = f"""
    WITH s0 AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ), s1 AS (
      SELECT e.user_id,
             CAST(epoch_us(MIN(e.ts)) - epoch_us(s0.t0) AS DOUBLE)
               / 60000000.0 AS latency_min
      FROM events e JOIN s0 ON s0.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s0.t0
      GROUP BY e.user_id, s0.t0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           {_R6.format(x='quantile_cont(latency_min, 0.5)')} AS p50_min,
           {_R6.format(x='quantile_cont(latency_min, 0.9)')} AS p90_min,
           {_R6.format(x='AVG(latency_min)')} AS mean_min
    FROM s1
"""


@register(
    "q150_funnel_latency",
    _Q150_ORACLE,
    doc="Time-to-convert distribution for the signup->purchase "
    "funnel: earliest-anchor semantics shared with q118, then exact "
    "latency quantiles. One entity-keyed aggregation per step + one "
    "join — never a stream self-join.",
)
def q150(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s0 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    s1 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s0, "user_id")
        .where(F.col("ts") > F.col("t0"))
        .groupBy("user_id", "t0")
        .agg(F.min("ts").alias("t1"))
        .select(
            (
                (
                    F.unix_micros(F.col("t1").cast("timestamp"))
                    - F.unix_micros(F.col("t0").cast("timestamp"))
                ).cast("double")
                / F.lit(60e6)
            ).alias("latency_min")
        )
    )
    return s1.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        _r6(F.expr("percentile(latency_min, 0.5)")).alias("p50_min"),
        _r6(F.expr("percentile(latency_min, 0.9)")).alias("p90_min"),
        _r6(F.avg("latency_min")).alias("mean_min"),
    )


# ---------------------------------------------------------------------------
# Q151 — mutual information between event type and weekday
# ---------------------------------------------------------------------------
_Q151_ORACLE = f"""
    WITH joint AS (
      SELECT event_type AS x, dayofweek(ts) AS y,
             CAST(COUNT(*) AS DOUBLE) AS nxy
      FROM events GROUP BY 1, 2
    ), tot AS (SELECT SUM(nxy) AS n FROM joint),
    px AS (SELECT x, SUM(nxy) AS nx FROM joint GROUP BY x),
    py AS (SELECT y, SUM(nxy) AS ny FROM joint GROUP BY y)
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_events,
           {_R6.format(x='SUM((j.nxy / t.n) * ln((j.nxy * t.n) / (px.nx * py.ny)))')}
             AS mi_nats
    FROM joint j
    CROSS JOIN tot t
    JOIN px ON px.x = j.x
    JOIN py ON py.y = j.y
"""


@register(
    "q151_mutual_info",
    _Q151_ORACLE,
    doc="Mutual information I(event_type; weekday) in nats from the "
    "joint contingency counts: one groupBy to the (5 x 7) joint "
    "table, marginals broadcast back, one scalar sum. The "
    "feature-vs-target dependence screen (complements q95's "
    "pairwise-token PMI).",
)
def q151(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # joint is a ~35-row table referenced by tot/px/py/the final join
    # — materialize once instead of re-aggregating the stream 4x
    joint = (
        ev.groupBy(F.col("event_type").alias("x"), F.dayofweek("ts").alias("y"))
        .agg(F.count(F.lit(1)).cast("double").alias("nxy"))
        .localCheckpoint(eager=False)
    )
    tot = joint.agg(F.sum("nxy").alias("n"))
    px = joint.groupBy("x").agg(F.sum("nxy").alias("nx"))
    py = joint.groupBy("y").agg(F.sum("nxy").alias("ny"))
    j = (
        joint.crossJoin(F.broadcast(tot))
        .join(F.broadcast(px), "x")
        .join(F.broadcast(py), "y")
    )
    term = (F.col("nxy") / F.col("n")) * F.log(
        (F.col("nxy") * F.col("n")) / (F.col("nx") * F.col("ny"))
    )
    return j.agg(
        F.max("n").cast("bigint").alias("n_events"),
        _r6(F.sum(term)).alias("mi_nats"),
    )
