"""Conformance queries: round-7 operator batch #20 (q311+) —
time-decayed customer value, generalized-Pareto tail fit,
Burrows' Delta stylometry, compression-dictionary candidates.

Parity: decay/exceedance inputs are exact integers (cents, micros);
z-profiles and GPD moments divide identical doubles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q311 — Exponentially time-decayed customer value
# ---------------------------------------------------------------------------
# Recency-weighted value per user: sum of v * exp(-age_days/14)
# against the fixed as-of instant 2024-01-31 — ages are exact
# integer microseconds, the decay a shared double expression.
# Top-10 users by decayed value with the undecayed total alongside.
_Q311_HL_DAYS = 14.0

_Q311_ORACLE = f"""
    WITH p AS (
      SELECT user_id,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             (epoch_us(TIMESTAMP '2024-01-31 00:00:00')
              - epoch_us(ts)) / 86400.0e6 AS age_days
      FROM events WHERE event_type = 'purchase'
    ), agg AS (
      SELECT user_id,
             SUM(cents / 100.0 * exp(-age_days / {_Q311_HL_DAYS}))
               AS decayed,
             CAST(SUM(cents) AS BIGINT) AS total_cents,
             CAST(COUNT(*) AS BIGINT) AS n_purchases
      FROM p GROUP BY user_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, n_purchases,
           ROUND(total_cents / 100.0 + 5e-10, 2) AS total_value,
           {_R6.format(x='decayed')} AS decayed_value
    FROM agg
    ORDER BY decayed_value DESC, user_id
    LIMIT 10
"""


@register(
    "q311_decayed_value",
    _Q311_ORACLE,
    doc="Recency-weighted customer value: purchase cents decayed "
    "by exp(-age/14d) against a fixed as-of instant (ages exact "
    "integer micros), top-10 vs undecayed totals.  The engagement "
    "scorer that recent activity should dominate.",
)
def q311(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    asof_us = F.unix_micros(
        F.lit("2024-01-31 00:00:00").cast("timestamp")
    )
    age_days = (
        asof_us - F.unix_micros(F.col("ts").cast("timestamp"))
    ) / 86400.0e6
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        age_days.alias("age_days"),
    )
    agg = p.groupBy("user_id").agg(
        F.sum(
            F.col("cents") / 100.0
            * F.exp(-F.col("age_days") / _Q311_HL_DAYS)
        ).alias("decayed"),
        F.sum("cents").alias("total_cents"),
        F.count(F.lit(1)).alias("n_purchases"),
    )
    return (
        agg.select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "n_purchases",
            F.round(F.col("total_cents") / 100.0 + 5e-10, 2).alias(
                "total_value"
            ),
            r6(F.col("decayed")).alias("decayed_value"),
        )
        .orderBy(F.col("decayed_value").desc(), "user_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q312 — Generalized-Pareto tail fit (peaks over threshold)
# ---------------------------------------------------------------------------
# Exceedances of event value over its p90 threshold, GPD fitted by
# method of moments: xi = (1 - mean^2/var)/2, beta = mean*(mean^2/
# var + 1)/2, plus the implied p99.9 quantile of the full
# distribution.  q238's block-maxima sibling — the
# peaks-over-threshold half of EVT.
_Q312_ORACLE = """
    WITH thr AS (
      SELECT quantile_cont(value, 0.9) AS u,
             CAST(COUNT(*) AS BIGINT) AS n_all
      FROM events
    ), exc AS (
      SELECT e.value - t.u AS x, t.u, t.n_all
      FROM events e CROSS JOIN thr t
      WHERE e.value > t.u
    ), mom AS (
      SELECT MAX(u) AS u, MAX(n_all) AS n_all,
             CAST(COUNT(*) AS BIGINT) AS n_exc,
             SUM(x) / COUNT(*) AS m,
             SUM(x * x) / COUNT(*)
               - (SUM(x) / COUNT(*)) * (SUM(x) / COUNT(*)) AS v
      FROM exc
    ), fit AS (
      SELECT u, n_all, n_exc, m, v,
             0.5 * (1.0 - m * m / v) AS xi,
             0.5 * m * (m * m / v + 1.0) AS beta
      FROM mom
    )
    SELECT CAST(n_exc AS BIGINT) AS n_exceedances,
           {U} AS threshold,
           {XI} AS gpd_xi,
           {BETA} AS gpd_beta,
           {Q999} AS implied_p999
    FROM fit
""".replace(
    "{U}", R6_SQL.format(x="u")
).replace(
    "{XI}", R6_SQL.format(x="xi")
).replace(
    "{BETA}", R6_SQL.format(x="beta")
).replace(
    "{Q999}",
    R6_SQL.format(
        x=(
            "u + beta / xi"
            " * (POWER(0.001 * n_all / CAST(n_exc AS DOUBLE), -xi)"
            " - 1.0)"
        )
    ),
)


@register(
    "q312_gpd_tail",
    _Q312_ORACLE,
    doc="Peaks-over-threshold GPD fit: exceedances above the p90 "
    "value threshold, method-of-moments xi/beta, and the implied "
    "p99.9 quantile u + beta/xi ((p n/N_u)^-xi - 1).  The "
    "q238 block-maxima companion — tail risk from the exceedance "
    "half of EVT.",
)
def q312(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    thr = ev.agg(
        F.percentile("value", F.lit(0.9)).alias("u"),
        F.count(F.lit(1)).alias("n_all"),
    )
    exc = (
        ev.crossJoin(F.broadcast(thr))
        .where(F.col("value") > F.col("u"))
        .select(
            (F.col("value") - F.col("u")).alias("x"), "u", "n_all"
        )
    )
    mom = exc.agg(
        F.max("u").alias("u"),
        F.max("n_all").alias("n_all"),
        F.count(F.lit(1)).alias("n_exc"),
        (F.sum("x") / F.count(F.lit(1))).alias("m"),
        (
            F.sum(F.col("x") * F.col("x")) / F.count(F.lit(1))
            - (F.sum("x") / F.count(F.lit(1)))
            * (F.sum("x") / F.count(F.lit(1)))
        ).alias("v"),
    )
    xi = 0.5 * (1.0 - F.col("m") * F.col("m") / F.col("v"))
    beta = 0.5 * F.col("m") * (
        F.col("m") * F.col("m") / F.col("v") + 1.0
    )
    fit = mom.select(
        "u", "n_all", "n_exc", xi.alias("xi"), beta.alias("beta")
    )
    q999 = F.col("u") + F.col("beta") / F.col("xi") * (
        F.pow(
            0.001 * F.col("n_all") / F.col("n_exc").cast("double"),
            -F.col("xi"),
        )
        - 1.0
    )
    return fit.select(
        F.col("n_exc").cast("bigint").alias("n_exceedances"),
        r6(F.col("u")).alias("threshold"),
        r6(F.col("xi")).alias("gpd_xi"),
        r6(F.col("beta")).alias("gpd_beta"),
        r6(q999).alias("implied_p999"),
    )


# ---------------------------------------------------------------------------
# Q313 — Burrows' Delta stylometry between sources
# ---------------------------------------------------------------------------
# Author-attribution distance: per-source relative frequencies of
# the corpus' most common words, z-scored across sources, Delta =
# mean |z_a - z_b| over the word panel.  Top-10 closest source
# pairs — the stylometric fingerprint matcher.
_Q313_TOPW = 20

_Q313_ORACLE = f"""
    WITH tok AS (
      SELECT source,
             UNNEST(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ), wc AS MATERIALIZED (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, w
    ), panel AS (
      SELECT w FROM (
        SELECT w, SUM(c) AS tot,
               ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, w) AS rk
        FROM wc GROUP BY w
      ) WHERE rk <= {_Q313_TOPW}
    ), stot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM wc
      GROUP BY source
    ), freq AS (
      SELECT s.source, p.w,
             CAST(COALESCE(x.c, 0) AS DOUBLE) / s.n AS f
      FROM stot s
      CROSS JOIN panel p
      LEFT JOIN wc x ON x.source = s.source AND x.w = p.w
    ), zstats AS (
      SELECT w,
             SUM(f) / COUNT(*) AS mu,
             SQRT((CAST(COUNT(*) AS DOUBLE) * SUM(f * f)
                   - SUM(f) * SUM(f))
                  / (CAST(COUNT(*) AS DOUBLE) * (COUNT(*) - 1))) AS sd
      FROM freq GROUP BY w
    ), z AS MATERIALIZED (
      SELECT f.source, f.w, (f.f - s.mu) / s.sd AS z
      FROM freq f JOIN zstats s ON s.w = f.w
    ), pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             SUM(ABS(a.z - b.z)) / COUNT(*) AS delta
      FROM z a JOIN z b ON b.w = a.w AND a.source < b.source
      GROUP BY src_a, src_b
    )
    SELECT src_a, src_b, {_R6.format(x='delta')} AS burrows_delta
    FROM pairs
    ORDER BY burrows_delta, src_a, src_b
    LIMIT 10
"""


@register(
    "q313_burrows_delta",
    _Q313_ORACLE,
    doc="Burrows' Delta stylometry: per-source relative frequencies "
    "of the top-20 corpus words, z-scored across sources, "
    "Delta = mean |z_a - z_b| per pair, 10 closest pairs.  The "
    "authorship-attribution distance over the function-word panel.",
)
def q313(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import tokens_sql

    docs = _t(spark, sf_dir, "documents")
    tok = docs.selectExpr(
        "source", f"explode_outer({tokens_sql('text')}) AS w"
    ).where(F.col("w").isNotNull())
    wc = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)  # panel + stot + freq
    panel = (
        wc.groupBy(F.col("w").alias("pw"))
        .agg(F.sum("c").alias("tot"))
        .select(
            "pw",
            F.row_number()
            .over(Window.orderBy(F.col("tot").desc(), "pw"))
            .alias("rk"),
        )
        .where(F.col("rk") <= _Q313_TOPW)
        .select("pw")
    )
    stot = wc.groupBy(F.col("source").alias("ss")).agg(
        F.sum("c").alias("n")
    )
    freq = (
        stot.crossJoin(F.broadcast(panel))
        .join(
            wc.select(
                F.col("source").alias("xs"),
                F.col("w").alias("xw"),
                F.col("c").alias("xc"),
            ),
            (F.col("ss") == F.col("xs")) & (F.col("pw") == F.col("xw")),
            "left",
        )
        .select(
            F.col("ss").alias("source"),
            F.col("pw").alias("w"),
            (
                F.coalesce("xc", F.lit(0)).cast("double") / F.col("n")
            ).alias("f"),
        )
    )
    nd = F.count(F.lit(1)).cast("double")
    zstats = freq.groupBy(F.col("w").alias("zw")).agg(
        (F.sum("f") / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            (nd * F.sum(F.col("f") * F.col("f")) - F.sum("f") * F.sum("f"))
            / (nd * (F.count(F.lit(1)) - 1))
        ).alias("sd"),
    )
    z = freq.join(
        F.broadcast(zstats), F.col("w") == F.col("zw")
    ).select(
        "source",
        "w",
        ((F.col("f") - F.col("mu")) / F.col("sd")).alias("z"),
    ).localCheckpoint(eager=False)  # both pair sides
    a = z.select(
        F.col("source").alias("src_a"),
        F.col("w").alias("wa"),
        F.col("z").alias("za"),
    )
    b = z.select(
        F.col("source").alias("src_b"),
        F.col("w").alias("wb"),
        F.col("z").alias("zb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("wb") == F.col("wa"))
            & (F.col("src_a") < F.col("src_b")),
        )
        .groupBy("src_a", "src_b")
        .agg(
            (
                F.sum(F.abs(F.col("za") - F.col("zb")))
                / F.count(F.lit(1))
            ).alias("delta")
        )
    )
    return (
        pairs.select(
            "src_a", "src_b", r6(F.col("delta")).alias("burrows_delta")
        )
        .orderBy("burrows_delta", "src_a", "src_b")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q314 — Compression-dictionary candidates (k-gram savings ranking)
# ---------------------------------------------------------------------------
# Rank character 6-grams by dictionary savings freq * (len - 2)
# (each occurrence collapses to a 2-byte code) — the greedy
# scoring pass of dictionary/zstd training, over the shingle
# relation the dedup stack already computes.  Exact integer
# counts and savings.
_Q314_K = 6
_Q314_TOP = 15

_Q314_ORACLE = f"""
    WITH sh AS (
      -- constant-bound series + position filter: DuckDB's
      -- generate_series cannot take lateral column parameters
      SELECT substring(lower(text), g.i, {_Q314_K}) AS gram
      FROM documents, generate_series(1, 1024) g(i)
      WHERE len(text) >= {_Q314_K}
        AND g.i <= len(lower(text)) - {_Q314_K} + 1
    ), cnt AS (
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS freq
      FROM sh GROUP BY gram
    )
    SELECT gram, freq,
           CAST(freq * ({_Q314_K} - 2) AS BIGINT) AS savings_bytes
    FROM cnt
    WHERE freq > 1
    ORDER BY savings_bytes DESC, gram
    LIMIT {_Q314_TOP}
"""


@register(
    "q314_dict_candidates",
    _Q314_ORACLE,
    doc="Compression-dictionary candidate ranking: character "
    "6-grams scored by savings freq*(len-2) bytes (occurrences "
    "collapse to a 2-byte code), top-15.  The greedy scoring pass "
    "of zstd-style dictionary training over the shingle relation.",
)
def q314(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import char_shingles_sql

    docs = _t(spark, sf_dir, "documents")
    low = docs.where(F.length("text") >= _Q314_K).select(
        F.lower(F.col("text")).alias("lt")
    )
    grams = low.select(
        F.explode_outer(
            F.expr(char_shingles_sql("lt", k=_Q314_K, distinct=False))
        ).alias("gram")
    ).where(F.col("gram").isNotNull())
    cnt = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("freq"))
    return (
        cnt.where(F.col("freq") > 1)
        .select(
            "gram",
            "freq",
            (F.col("freq") * (_Q314_K - 2))
            .cast("bigint")
            .alias("savings_bytes"),
        )
        .orderBy(F.col("savings_bytes").desc(), "gram")
        .limit(_Q314_TOP)
    )
