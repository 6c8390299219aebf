"""Conformance queries batch #41 (q399+) — sampling-based
approximate query processing with an error contract, MATCH_RECOGNIZE
-style pattern detection, a Bloom-filter membership audit, join-size
estimation, and the minimum-variance two-asset portfolio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, r6, register



# ---------------------------------------------------------------------------
# Q399 — sampling-based AQP with measured error
# ---------------------------------------------------------------------------
# The AQP contract beside q72's sketch contract: a 10% md5-hash
# sample (deterministic, growth-stable) scaled up, with the
# RELATIVE ERROR vs the exact aggregates measured in the same
# query — approximate answers are only useful with their error.
_Q399_ORACLE = """
    WITH base AS (
      SELECT event_type, CAST(ROUND(value*100) AS BIGINT) AS y,
             CAST(('0x' || substr(md5('aqp#' || CAST(event_id AS VARCHAR)),
                   1, 15)) AS BIGINT) / 1152921504606846976.0 AS u
      FROM events
    ), est AS (
      SELECT event_type, COUNT(*) * 10 AS n_est, SUM(y) * 10 AS sum_est
      FROM base WHERE u < 0.1 GROUP BY event_type
    ), exact AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact,
             CAST(SUM(y) AS BIGINT) AS sum_exact
      FROM base GROUP BY event_type
    )
    SELECT x.event_type, x.n_exact, CAST(e.n_est AS BIGINT) AS n_est,
           ROUND(abs(e.n_est - x.n_exact) * 1.0 / x.n_exact + 5e-12, 6)
             AS count_rel_err,
           ROUND(abs(e.sum_est - x.sum_exact) * 1.0 / x.sum_exact + 5e-12, 6)
             AS sum_rel_err
    FROM exact x JOIN est e ON e.event_type = x.event_type
    ORDER BY x.event_type
"""


@register(
    "q399_sampled_aggregates",
    _Q399_ORACLE,
    doc="Sampling-based AQP with the error measured in-query: 10% "
    "md5-hash sample (deterministic, growth-stable) scaled x10, "
    "relative count/sum error vs exact per group — the sampling "
    "sibling of q72's sketch error contract.  Errors land at the "
    "~1/sqrt(n) scale the method promises.",
)
def q399(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import H60_MAX, h60_sql

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("y"),
        (
            F.expr(h60_sql("concat('aqp#', CAST(event_id AS STRING))"))
            / F.lit(H60_MAX)
        ).alias("u"),
    )
    est = (
        base.filter(F.col("u") < 0.1)
        .groupBy(F.col("event_type").alias("e_type"))
        .agg(
            (F.count(F.lit(1)) * 10).alias("n_est"),
            (F.sum("y") * 10).alias("sum_est"),
        )
    )
    exact = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum("y").cast("bigint").alias("sum_exact"),
    )
    return (
        exact.join(F.broadcast(est), F.col("event_type") == F.col("e_type"))
        .select(
            "event_type",
            "n_exact",
            F.col("n_est").cast("bigint").alias("n_est"),
            r6(
                F.abs(F.col("n_est") - F.col("n_exact"))
                * 1.0
                / F.col("n_exact")
            ).alias("count_rel_err"),
            r6(
                F.abs(F.col("sum_est") - F.col("sum_exact"))
                * 1.0
                / F.col("sum_exact")
            ).alias("sum_rel_err"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q400 — MATCH_RECOGNIZE-style V-shape detection
# ---------------------------------------------------------------------------
# Row-pattern matching (two strict declines then two strict rises
# in daily revenue) emulated with a lag chain — the Spark
# restatement of MATCH_RECOGNIZE / sessionized pattern queries
# (Spark has no MATCH_RECOGNIZE; a k-row pattern is k-1 lags in ONE
# window pass).
_Q400_ORACLE = """
    WITH daily AS (
      SELECT o_orderpriority AS g, date_trunc('day', o_orderdate) AS d,
             CAST(ROUND(SUM(o_totalprice)*100) AS BIGINT) AS r
      FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
      GROUP BY 1, 2
    ), lagd AS (
      SELECT g, r,
             LAG(r, 1) OVER w AS r1, LAG(r, 2) OVER w AS r2,
             LAG(r, 3) OVER w AS r3, LAG(r, 4) OVER w AS r4
      FROM daily WINDOW w AS (PARTITION BY g ORDER BY d)
    )
    SELECT g,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN r4 > r3 AND r3 > r2 AND r2 < r1 AND r1 < r
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_vshapes
    FROM lagd GROUP BY g ORDER BY g
"""


@register(
    "q400_pattern_match",
    _Q400_ORACLE,
    doc="MATCH_RECOGNIZE emulation: V-shape (down,down,up,up) "
    "occurrences in daily revenue per priority via a 4-lag chain "
    "in one window pass — k-row patterns as k-1 lags, integer "
    "cents so the strict inequalities agree across engines.",
)
def q400(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "2001-01-01")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("g"),
        F.date_trunc("day", F.col("o_orderdate")).alias("d"),
    ).agg(F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("r"))
    w = Window.partitionBy("g").orderBy("d")
    lagd = daily.select(
        "g",
        "r",
        F.lag("r", 1).over(w).alias("r1"),
        F.lag("r", 2).over(w).alias("r2"),
        F.lag("r", 3).over(w).alias("r3"),
        F.lag("r", 4).over(w).alias("r4"),
    )
    v = (
        (F.col("r4") > F.col("r3"))
        & (F.col("r3") > F.col("r2"))
        & (F.col("r2") < F.col("r1"))
        & (F.col("r1") < F.col("r"))
    )
    return (
        lagd.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.when(v, 1).otherwise(0)).cast("bigint").alias("n_vshapes"),
        )
        .orderBy("g")
    )


# ---------------------------------------------------------------------------
# Q401 — Bloom-filter membership audit (planted blocklist)
# ---------------------------------------------------------------------------
# A 256-bit / 3-hash Bloom filter built in-plan over a 64-doc
# blocklist of content fingerprints, probed by the whole corpus:
# zero false negatives (the Bloom guarantee) and a MEASURED false-
# positive count that lands near the (bits_set/m)^k theory — the
# runnable companion of q300's sizing math, all md5 arithmetic so
# both engines build the identical filter.
_Q401_M = 256
_Q401_K = 3

_Q401_ORACLE = f"""
    WITH keys AS (
      SELECT DISTINCT substr(md5(text), 1, 16) AS k
      FROM documents WHERE doc_id < 64
    ), bits AS (
      SELECT DISTINCT
        (CAST(('0x' || substr(md5(k || '#' || CAST(h.i AS VARCHAR)), 1, 15))
              AS BIGINT) % {_Q401_M}) AS bit
      FROM keys CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) h
    ), probes AS (
      SELECT doc_id, substr(md5(text), 1, 16) AS k,
             CASE WHEN doc_id < 64 THEN 1 ELSE 0 END AS truth
      FROM documents
    ), tested AS (
      SELECT p.truth,
             CASE WHEN (
               SELECT COUNT(*)
               FROM (SELECT unnest([0, 1, 2]) AS i) h
               WHERE (CAST(('0x' || substr(md5(p.k || '#'
                        || CAST(h.i AS VARCHAR)), 1, 15)) AS BIGINT)
                      % {_Q401_M}) IN (SELECT bit FROM bits)
             ) = {_Q401_K} THEN 1 ELSE 0 END AS bloom_hit
      FROM probes p
    )
    SELECT CAST(SUM(truth) AS BIGINT) AS n_true_members,
           CAST(SUM(bloom_hit) AS BIGINT) AS n_bloom_hits,
           CAST(SUM(CASE WHEN bloom_hit = 1 AND truth = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN bloom_hit = 0 AND truth = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_neg,
           CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS bits_set
    FROM tested
"""


@register(
    "q401_bloom_audit",
    _Q401_ORACLE,
    doc=f"Bloom membership audit: {_Q401_M}-bit / {_Q401_K}-hash "
    "filter built in-plan over a 64-doc fingerprint blocklist "
    "(bit set broadcast), whole corpus probed — zero false "
    "negatives by construction, measured false positives near the "
    "(bits_set/m)^k theory.  The runnable twin of q300's Bloom "
    "sizing; the deliberately-undersized filter shows WHY sizing "
    "matters.",
)
def q401(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import h60_sql

    docs = _t(spark, sf_dir, "documents")
    fp = F.substring(F.md5(F.encode(F.col("text"), "UTF-8")), 1, 16)
    keys = docs.filter(F.col("doc_id") < 64).select(fp.alias("k")).distinct()
    hidx = spark.range(_Q401_K).select(F.col("id").alias("i"))
    bits = (
        keys.crossJoin(F.broadcast(hidx))
        .select(
            (
                F.expr(h60_sql("concat(k, '#', CAST(i AS STRING))")) % _Q401_M
            ).alias("bit")
        )
        .distinct()
    )
    probes = docs.select(
        "doc_id",
        fp.alias("k"),
        F.when(F.col("doc_id") < 64, 1).otherwise(0).alias("truth"),
    )
    probe_bits = probes.crossJoin(F.broadcast(hidx)).select(
        "doc_id",
        "truth",
        (
            F.expr(h60_sql("concat(k, '#', CAST(i AS STRING))")) % _Q401_M
        ).alias("pbit"),
    )
    # group per DOC (not per fingerprint): exact-duplicate texts share
    # a fingerprint but the oracle counts each probe row
    hit_counts = (
        probe_bits.join(F.broadcast(bits), F.col("pbit") == F.col("bit"), "left")
        .groupBy("doc_id", "truth")
        .agg(F.count(F.col("bit")).alias("n_set"))
    )
    tested = hit_counts.select(
        "truth",
        F.when(F.col("n_set") == _Q401_K, 1).otherwise(0).alias("bloom_hit"),
    )
    n_bits = bits.agg(F.count(F.lit(1)).alias("bits_set"))
    return (
        tested.crossJoin(F.broadcast(n_bits))
        .groupBy("bits_set")
        .agg(
            F.sum("truth").cast("bigint").alias("n_true_members"),
            F.sum("bloom_hit").cast("bigint").alias("n_bloom_hits"),
            F.sum(
                F.when((F.col("bloom_hit") == 1) & (F.col("truth") == 0), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_false_pos"),
            F.sum(
                F.when((F.col("bloom_hit") == 0) & (F.col("truth") == 1), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_false_neg"),
        )
        .select(
            "n_true_members",
            "n_bloom_hits",
            "n_false_pos",
            "n_false_neg",
            F.col("bits_set").cast("bigint").alias("bits_set"),
        )
    )


# ---------------------------------------------------------------------------
# Q402 — join-size estimation (CBO arithmetic, checked)
# ---------------------------------------------------------------------------
# Estimate |orders JOIN customer| two ways BEFORE joining: the
# per-key histogram product (exact for equi-joins) and the uniform
# containment assumption |A||B|/max(d_A, d_B) every cost-based
# optimizer starts from — then measure the actual join.  The
# histogram estimate must equal the actual count exactly.
_Q402_ORACLE = """
    WITH ka AS (SELECT o_custkey AS k, COUNT(*) AS na FROM orders GROUP BY 1),
    kb AS (SELECT c_custkey AS k, 1 AS nb FROM customer),
    hist AS (SELECT SUM(ka.na * kb.nb) AS est FROM ka JOIN kb ON kb.k = ka.k),
    uni AS (
      SELECT FLOOR(
        (SELECT COUNT(*) FROM orders) * 1.0
        * (SELECT COUNT(*) FROM customer)
        / GREATEST((SELECT COUNT(DISTINCT o_custkey) FROM orders),
                   (SELECT COUNT(DISTINCT c_custkey) FROM customer))
      ) AS est
    ), act AS (
      SELECT COUNT(*) AS n
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT CAST(a.n AS BIGINT) AS actual_rows,
           CAST(h.est AS BIGINT) AS histogram_estimate,
           CAST(u.est AS BIGINT) AS uniform_estimate
    FROM act a, hist h, uni u
"""


@register(
    "q402_join_size_estimate",
    _Q402_ORACLE,
    doc="Join cardinality estimation before joining: per-key count "
    "histograms joined on the key give the EXACT equi-join size "
    "(sum of count products — tiny relations); the uniform "
    "|A||B|/max(dA,dB) rule shows the CBO default's error.  "
    "Histogram estimate == actual by construction, verified.",
)
def q402(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    ka = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("na")
    )
    kb = c.select(F.col("c_custkey").alias("kk"), F.lit(1).alias("nb"))
    hist = ka.join(kb, F.col("k") == F.col("kk")).agg(
        F.sum(F.col("na") * F.col("nb")).alias("histogram_estimate")
    )
    counts = (
        o.agg(
            F.count(F.lit(1)).alias("n_o"),
            F.count_distinct(F.col("o_custkey")).alias("d_o"),
        )
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_c")))
        .crossJoin(c.agg(F.count_distinct(F.col("c_custkey")).alias("d_c")))
    )
    uni = counts.select(
        F.floor(
            F.col("n_o") * 1.0 * F.col("n_c") / F.greatest("d_o", "d_c")
        ).alias("uniform_estimate")
    )
    act = o.join(c, o.o_custkey == c.c_custkey).agg(
        F.count(F.lit(1)).alias("actual_rows")
    )
    return (
        act.crossJoin(F.broadcast(hist))
        .crossJoin(F.broadcast(uni))
        .select(
            "actual_rows",
            F.col("histogram_estimate").cast("bigint").alias(
                "histogram_estimate"
            ),
            F.col("uniform_estimate").cast("bigint").alias("uniform_estimate"),
        )
    )


# ---------------------------------------------------------------------------
# Q403 — minimum-variance two-asset portfolio
# ---------------------------------------------------------------------------
# Markowitz closed form for two assets: w1* = (s2^2 - cov) /
# (s1^2 + s2^2 - 2 cov), from the daily click/purchase count
# series' covariance moments — portfolio algebra on the q123
# covariance machinery, with the achieved portfolio variance
# beside the naive 50/50 mix.
_Q403_ORACLE = """
    WITH daily AS (
      SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1
    ), mom AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
      FROM daily
    ), cv AS (
      SELECT (sxx - sx*sx*1.0/n) / (n - 1) AS v1,
             (syy - sy*sy*1.0/n) / (n - 1) AS v2,
             (sxy - sx*sy*1.0/n) / (n - 1) AS c12
      FROM mom
    )
    SELECT ROUND((v2 - c12) / (v1 + v2 - 2*c12) + 5e-12, 6) AS w1,
           ROUND(1 - (v2 - c12) / (v1 + v2 - 2*c12) + 5e-12, 6) AS w2,
           ROUND((POW((v2 - c12) / (v1 + v2 - 2*c12), 2) * v1
                  + POW(1 - (v2 - c12) / (v1 + v2 - 2*c12), 2) * v2
                  + 2 * ((v2 - c12) / (v1 + v2 - 2*c12))
                      * (1 - (v2 - c12) / (v1 + v2 - 2*c12)) * c12)
                 + 5e-12, 6) AS min_variance,
           ROUND((0.25*v1 + 0.25*v2 + 0.5*c12) + 5e-12, 6)
             AS half_half_variance
    FROM cv
"""


@register(
    "q403_min_variance_portfolio",
    _Q403_ORACLE,
    doc="Markowitz minimum-variance weights for two series from one "
    "moment aggregation (sample covariance via raw power sums), "
    "achieved variance beside the naive 50/50 mix — portfolio "
    "algebra on the q123 covariance machinery.",
)
def q403(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.dayofmonth("ts").cast("bigint").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    mom = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    cv = mom.select(
        ((F.col("sxx") - F.col("sx") * F.col("sx") * 1.0 / n) / (n - 1)).alias(
            "v1"
        ),
        ((F.col("syy") - F.col("sy") * F.col("sy") * 1.0 / n) / (n - 1)).alias(
            "v2"
        ),
        ((F.col("sxy") - F.col("sx") * F.col("sy") * 1.0 / n) / (n - 1)).alias(
            "c12"
        ),
    )
    w1 = (F.col("v2") - F.col("c12")) / (
        F.col("v1") + F.col("v2") - 2 * F.col("c12")
    )
    return cv.select(
        r6(w1).alias("w1"),
        r6(1 - w1).alias("w2"),
        r6(
            w1 * w1 * F.col("v1")
            + (1 - w1) * (1 - w1) * F.col("v2")
            + 2 * w1 * (1 - w1) * F.col("c12")
        ).alias("min_variance"),
        r6(0.25 * F.col("v1") + 0.25 * F.col("v2") + 0.5 * F.col("c12")).alias(
            "half_half_variance"
        ),
    )
