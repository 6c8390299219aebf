"""Conformance queries batch #43 (q409+) — probability-plot
normality check, token-sort fuzzy matching, mergeable-aggregate
associativity contract, seeded RANSAC robust fit, and multiclass
log loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, r6, register


# Standard-normal quantiles at i/20, i = 1..19 (plan literals)
_Z20 = [
    -1.644854, -1.281552, -1.036433, -0.841621, -0.67449, -0.524401,
    -0.38532, -0.253347, -0.125661, 0.0, 0.125661, 0.253347, 0.38532,
    0.524401, 0.67449, 0.841621, 1.036433, 1.281552, 1.644854,
]


# ---------------------------------------------------------------------------
# Q409 — probability-plot correlation (PPCC normality check)
# ---------------------------------------------------------------------------
# Empirical 5%-step quantiles of the cents values against the
# literal standard-normal quantiles: the probability-plot
# correlation coefficient — r near 1 means plausibly normal, and
# the value distribution here (uniform-ish) scores visibly below
# the log-transformed one.  One percentile aggregation + a 19-row
# literal spine.
_Q409_ZLIT = ", ".join(
    f"({i + 1}, {z!r})" for i, z in enumerate(_Z20)
)

_Q409_PCTS = ", ".join(str((i + 1) / 20.0) for i in range(19))

_Q409_ORACLE = f"""
    WITH z(i, z) AS (VALUES {_Q409_ZLIT}),
    ql AS (
      SELECT quantile_cont(CAST(ROUND(value * 100) AS BIGINT),
                           [{_Q409_PCTS}]) AS l
      FROM events
    ), q AS (
      SELECT z.i, z.z, ql.l[CAST(z.i AS INT)] AS qv
      FROM ql CROSS JOIN z
    ), mom AS (
      SELECT COUNT(*) AS n, SUM(z) AS sx, SUM(qv) AS sy,
             SUM(z*z) AS sxx, SUM(qv*qv) AS syy, SUM(z*qv) AS sxy
      FROM q
    )
    SELECT ROUND((n*sxy - sx*sy)
                 / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)) + 5e-12, 6)
             AS ppcc,
           CAST(n AS BIGINT) AS n_quantiles
    FROM mom
"""


@register(
    "q409_ppcc_normality",
    _Q409_ORACLE,
    doc="Probability-plot correlation coefficient: exact 5%-step "
    "empirical quantiles vs literal normal quantiles, Pearson r "
    "from the 19-point relation — the Q-Q-plot normality check as "
    "one aggregation (the distribution-shape sibling of KS q147 "
    "and AD q393, against a PARAMETRIC reference).",
)
def q409(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    zdf = spark.createDataFrame(
        [(i + 1, z) for i, z in enumerate(_Z20)], "i bigint, z double"
    )
    y = F.round(F.col("value") * 100).cast("bigint")
    # percentile() needs a foldable percentage: compute all 19 in one
    # aggregation as an array and posexplode back to rows
    pcts = F.array(*[F.lit((i + 1) / 20.0) for i in range(19)])
    qarr = ev.select(y.alias("y")).agg(
        F.percentile(F.col("y"), pcts).alias("qs")
    )
    q = (
        qarr.select(F.posexplode("qs").alias("pos", "qv"))
        .join(F.broadcast(zdf), F.col("pos") + 1 == F.col("i"))
        .select("i", "z", "qv")
    )
    mom = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("z").alias("sx"),
        F.sum("qv").alias("sy"),
        F.sum(F.col("z") * F.col("z")).alias("sxx"),
        F.sum(F.col("qv") * F.col("qv")).alias("syy"),
        F.sum(F.col("z") * F.col("qv")).alias("sxy"),
    )
    return mom.select(
        r6(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("ppcc"),
        F.col("n").cast("bigint").alias("n_quantiles"),
    )


# ---------------------------------------------------------------------------
# Q410 — token-sort fuzzy matching (word-order-invariant linkage)
# ---------------------------------------------------------------------------
# Registry names corrupted by REVERSING word order: raw levenshtein
# best-match collapses (25/100 here) while levenshtein on the
# SORTED token strings recovers every record — the fuzzywuzzy
# token_sort_ratio primitive, and the reason q86-style linkage
# needs a word-order-invariant pass.
_DD_TOKS = "list_filter(regexp_split_to_array(lower({t}), '\\s+'), x -> x <> '')"


_Q410_ORACLE = f"""
    WITH corrupted AS (
      SELECT s_suppkey AS true_key, s_nationkey,
             array_to_string(list_reverse(
               {_DD_TOKS.format(t="replace(s_name, '#', ' ')")}), ' ')
               AS rec_name
      FROM supplier
    ), cand AS (
      SELECT c.true_key, s.s_suppkey AS cand_key,
             levenshtein(c.rec_name, lower(replace(s.s_name, '#', ' ')))
               AS lev_raw,
             levenshtein(
               array_to_string(list_sort({_DD_TOKS.format(t='c.rec_name')}), ' '),
               array_to_string(list_sort(
                 {_DD_TOKS.format(t="replace(s.s_name, '#', ' ')")}), ' '))
               AS lev_sorted
      FROM corrupted c JOIN supplier s ON s.s_nationkey = c.s_nationkey
    ), best_raw AS (
      SELECT true_key, cand_key,
             ROW_NUMBER() OVER (PARTITION BY true_key
                                ORDER BY lev_raw, cand_key) AS rn
      FROM cand
    ), best_sorted AS (
      SELECT true_key, cand_key,
             ROW_NUMBER() OVER (PARTITION BY true_key
                                ORDER BY lev_sorted, cand_key) AS rn
      FROM cand
    )
    SELECT CAST(SUM(CASE WHEN r.cand_key = r.true_key THEN 1 ELSE 0 END)
                AS BIGINT) AS raw_correct,
           CAST(SUM(CASE WHEN s.cand_key = s.true_key THEN 1 ELSE 0 END)
                AS BIGINT) AS sorted_correct,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM best_raw r
    JOIN best_sorted s ON s.true_key = r.true_key AND s.rn = 1
    WHERE r.rn = 1
"""


@register(
    "q410_token_sort_match",
    _Q410_ORACLE,
    doc="Word-order-invariant fuzzy matching: registry names with "
    "reversed word order re-linked by raw levenshtein (fails on "
    "most) vs levenshtein over SORTED token strings (recovers "
    "all) — the token_sort primitive blocked/windowed exactly "
    "like q86, with both policies scored against the planted "
    "mapping.",
)
def q410(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions import text as T

    s = _t(spark, sf_dir, "supplier")
    spaced_sql = "replace(s_name, '#', ' ')"
    spaced = F.expr(spaced_sql)
    spaced_toks = F.expr(T.tokens_sql(spaced_sql))
    corrupted = s.select(
        F.col("s_suppkey").alias("true_key"),
        F.col("s_nationkey").alias("rec_nat"),
        F.array_join(F.reverse(spaced_toks), " ").alias("rec_name"),
    )
    cand = corrupted.join(
        F.broadcast(s), F.col("rec_nat") == F.col("s_nationkey")
    ).select(
        "true_key",
        F.col("s_suppkey").alias("cand_key"),
        F.levenshtein(F.col("rec_name"), F.lower(spaced)).alias("lev_raw"),
        F.levenshtein(
            F.array_join(F.array_sort(F.expr(T.tokens_sql("rec_name"))), " "),
            F.array_join(F.array_sort(spaced_toks), " "),
        ).alias("lev_sorted"),
    )
    wr = Window.partitionBy("true_key").orderBy("lev_raw", "cand_key")
    ws = Window.partitionBy("true_key").orderBy("lev_sorted", "cand_key")
    best_raw = (
        cand.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(F.col("true_key").alias("rk"), F.col("cand_key").alias("rc"))
    )
    best_sorted = (
        cand.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") == 1)
        .select(F.col("true_key").alias("sk"), F.col("cand_key").alias("sc"))
    )
    return (
        best_raw.join(best_sorted, F.col("rk") == F.col("sk"))
        .agg(
            F.sum(F.when(F.col("rc") == F.col("rk"), 1).otherwise(0))
            .cast("bigint")
            .alias("raw_correct"),
            F.sum(F.when(F.col("sc") == F.col("sk"), 1).otherwise(0))
            .cast("bigint")
            .alias("sorted_correct"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Q411 — mergeable-aggregate associativity contract
# ---------------------------------------------------------------------------
# The algebra distributed aggregation rests on: variance and
# correlation computed by MERGING per-partition power sums must
# equal the direct single-pass values EXACTLY (integer sums commute
# and associate).  Two hash partitions stand in for two executors;
# the query emits both routes and their 6dp-rounded agreement flags
# — the contract every map-side combine silently assumes.
_Q411_ORACLE = """
    WITH base AS (
      SELECT CAST(('0x' || substr(md5('mg#' || CAST(event_id AS VARCHAR)),
                   1, 15)) AS BIGINT) % 2 AS part,
             CAST(ROUND(value * 100) AS BIGINT) AS x,
             CAST(LENGTH(props) AS BIGINT) AS y
      FROM events
    ), per_part AS (
      SELECT part, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
      FROM base GROUP BY part
    ), merged AS (
      SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
             SUM(sxx) AS sxx, SUM(syy) AS syy, SUM(sxy) AS sxy
      FROM per_part
    ), direct AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
      FROM base
    )
    SELECT ROUND((m.sxx - m.sx*m.sx*1.0/m.n) / (m.n - 1) + 5e-12, 6)
             AS var_merged,
           ROUND((d.sxx - d.sx*d.sx*1.0/d.n) / (d.n - 1) + 5e-12, 6)
             AS var_direct,
           ROUND((m.n*m.sxy - m.sx*m.sy)
                 / sqrt((m.n*m.sxx - m.sx*m.sx) * (m.n*m.syy - m.sy*m.sy))
                 + 5e-12, 6) AS corr_merged,
           ROUND((d.n*d.sxy - d.sx*d.sy)
                 / sqrt((d.n*d.sxx - d.sx*d.sx) * (d.n*d.syy - d.sy*d.sy))
                 + 5e-12, 6) AS corr_direct
    FROM merged m CROSS JOIN direct d
"""


@register(
    "q411_merge_associativity",
    _Q411_ORACLE,
    doc="Mergeable-aggregate contract: variance and correlation from "
    "MERGED per-partition integer power sums equal the direct "
    "single-pass values exactly — the associativity every "
    "map-side combine and every two-level aggregation assumes, "
    "stated and checked (the algebra behind q72/q399's "
    "approximation contracts).",
)
def q411(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import h60_sql

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        (
            F.expr(h60_sql("concat('mg#', CAST(event_id AS STRING))")) % 2
        ).alias("part"),
        F.round(F.col("value") * 100).cast("bigint").alias("x"),
        F.length("props").cast("bigint").alias("y"),
    )

    def moments(df, keys):
        g = df.groupBy(*keys) if keys else df.groupBy()
        return g.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )

    per_part = moments(base, ["part"])
    merged = per_part.agg(
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"),
        F.sum("syy").alias("syy"),
        F.sum("sxy").alias("sxy"),
    )
    direct = moments(base, [])

    def var(p):
        return r6(
            (F.col(f"{p}sxx") - F.col(f"{p}sx") * F.col(f"{p}sx") * 1.0 / F.col(f"{p}n"))
            / (F.col(f"{p}n") - 1)
        )

    def corr(p):
        # each moment difference fits BIGINT; their PRODUCT does not —
        # cast to double before multiplying (DuckDB silently widens to
        # HUGEINT; the 1-ulp divergence vanishes under 6dp rounding)
        dxx = (
            F.col(f"{p}n") * F.col(f"{p}sxx")
            - F.col(f"{p}sx") * F.col(f"{p}sx")
        ).cast("double")
        dyy = (
            F.col(f"{p}n") * F.col(f"{p}syy")
            - F.col(f"{p}sy") * F.col(f"{p}sy")
        ).cast("double")
        return r6(
            (
                F.col(f"{p}n") * F.col(f"{p}sxy")
                - F.col(f"{p}sx") * F.col(f"{p}sy")
            )
            / F.sqrt(dxx * dyy)
        )

    m = merged.select(*[F.col(c).alias("m_" + c) for c in merged.columns])
    d = direct.select(*[F.col(c).alias("d_" + c) for c in direct.columns])
    return m.crossJoin(d).select(
        var("m_").alias("var_merged"),
        var("d_").alias("var_direct"),
        corr("m_").alias("corr_merged"),
        corr("d_").alias("corr_direct"),
    )


# ---------------------------------------------------------------------------
# Q412 — seeded RANSAC robust line fit
# ---------------------------------------------------------------------------
# Daily revenue with three 5x outliers planted in-plan: 16 seeded
# candidate lines (md5-picked point pairs), inliers counted within
# a fixed cents threshold, best-by-(inliers, seed) consensus fit —
# beside the OLS slope the outliers wreck.  RANSAC's randomness
# made deterministic the q162/q405 way, so the consensus is
# engine-identical.
_Q412_THRESH = 100000  # cents

_Q412_ORACLE = f"""
    WITH daily0 AS (
      SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS x,
             CAST(SUM(ROUND(value*100)) AS BIGINT) AS y0
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), daily AS (
      SELECT x, CASE WHEN x IN (5, 14, 23) THEN y0 * 5 ELSE y0 END AS y,
             ROW_NUMBER() OVER (ORDER BY x) AS rk, COUNT(*) OVER () AS n
      FROM daily0
    ), seeds AS (SELECT unnest(generate_series(0, 15)) AS s),
    picks AS (
      SELECT s.s,
             (CAST(('0x' || substr(md5('ra#' || CAST(s.s AS VARCHAR)), 1, 15))
                   AS BIGINT) % (SELECT MAX(n) FROM daily)) + 1 AS r1,
             (CAST(('0x' || substr(md5('rb#' || CAST(s.s AS VARCHAR)), 1, 15))
                   AS BIGINT) % (SELECT MAX(n) FROM daily)) + 1 AS r2
      FROM seeds s
    ), lines AS (
      SELECT p.s,
             ROUND((b.y - a.y) * 1.0 / (b.x - a.x) + 5e-12, 6) AS slope,
             ROUND(a.y - (b.y - a.y) * 1.0 / (b.x - a.x) * a.x + 5e-12, 6)
               AS icept
      FROM picks p JOIN daily a ON a.rk = p.r1 JOIN daily b ON b.rk = p.r2
      WHERE p.r1 <> p.r2
    ), scorel AS (
      SELECT l.s, l.slope, l.icept,
             CAST(SUM(CASE WHEN abs(d.y - (l.slope * d.x + l.icept))
                                <= {_Q412_THRESH} THEN 1 ELSE 0 END)
                  AS BIGINT) AS inliers
      FROM lines l CROSS JOIN daily d
      GROUP BY 1, 2, 3
    ), best AS (
      SELECT * FROM scorel ORDER BY inliers DESC, s LIMIT 1
    ), ols AS (
      SELECT ROUND((COUNT(*)*SUM(x*y) - SUM(x)*SUM(y)) * 1.0
                   / (COUNT(*)*SUM(x*x) - SUM(x)*SUM(x)) + 5e-12, 6)
               AS ols_slope
      FROM daily
    )
    SELECT b.slope AS ransac_slope, b.icept AS ransac_icept, b.inliers,
           o.ols_slope
    FROM best b CROSS JOIN ols o
"""


@register(
    "q412_ransac",
    _Q412_ORACLE,
    doc="Seeded RANSAC line fit on daily revenue with 3 planted 5x "
    "outliers: 16 md5-picked candidate point pairs, inlier count "
    "within a fixed cents threshold, deterministic consensus "
    "argmax — RANSAC recovers the true trend while the OLS slope "
    "beside it is wrecked by the outliers.  All candidate work on "
    "the collapsed 30-row daily relation.",
)
def q412(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import h60_sql

    ev = _t(spark, sf_dir, "events")
    daily0 = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.dayofmonth("ts").cast("bigint").alias("x"))
        .agg(F.sum(F.round(F.col("value") * 100)).cast("bigint").alias("y0"))
    )
    daily = daily0.select(
        "x",
        F.when(F.col("x").isin(5, 14, 23), F.col("y0") * 5)
        .otherwise(F.col("y0"))
        .alias("y"),
    ).select(
        "x",
        "y",
        F.row_number().over(Window.orderBy("x")).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    seeds = spark.range(16).select(F.col("id").alias("s"))
    nmax = daily.agg(F.max("n").alias("nn"))
    picks = seeds.crossJoin(F.broadcast(nmax)).select(
        "s",
        (
            F.expr(h60_sql("concat('ra#', CAST(s AS STRING))")) % F.col("nn")
            + 1
        ).alias("r1"),
        (
            F.expr(h60_sql("concat('rb#', CAST(s AS STRING))")) % F.col("nn")
            + 1
        ).alias("r2"),
    )
    a = daily.select(
        F.col("rk").alias("rka"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("rk").alias("rkb"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    slope = (F.col("yb") - F.col("ya")) * 1.0 / (F.col("xb") - F.col("xa"))
    lines = (
        picks.filter(F.col("r1") != F.col("r2"))
        .join(F.broadcast(a), F.col("rka") == F.col("r1"))
        .join(F.broadcast(b), F.col("rkb") == F.col("r2"))
        .select(
            "s",
            r6(slope).alias("slope"),
            r6(F.col("ya") - slope * F.col("xa")).alias("icept"),
        )
    )
    pts = daily.select(F.col("x").alias("px"), F.col("y").alias("py"))
    inl = F.when(
        F.abs(F.col("py") - (F.col("slope") * F.col("px") + F.col("icept")))
        <= _Q412_THRESH,
        1,
    ).otherwise(0)
    scorel = (
        lines.crossJoin(pts)
        .groupBy("s", "slope", "icept")
        .agg(F.sum(inl).cast("bigint").alias("inliers"))
    )
    best = scorel.orderBy(F.col("inliers").desc(), "s").limit(1)
    ols = daily.agg(
        r6(
            (
                F.count(F.lit(1)) * F.sum(F.col("x") * F.col("y"))
                - F.sum("x") * F.sum("y")
            )
            * 1.0
            / (
                F.count(F.lit(1)) * F.sum(F.col("x") * F.col("x"))
                - F.sum("x") * F.sum("x")
            )
        ).alias("ols_slope")
    )
    return best.crossJoin(F.broadcast(ols)).select(
        F.col("slope").alias("ransac_slope"),
        F.col("icept").alias("ransac_icept"),
        "inliers",
        "ols_slope",
    )


# ---------------------------------------------------------------------------
# Q413 — multiclass log loss (cross-entropy)
# ---------------------------------------------------------------------------
# NLL of a deterministic softmax pseudo-model over the 5 event
# types: per-class scores from the value digits, softmax
# normalization in-plan, -ln p(true class) averaged per class and
# overall — the proper-scoring-rule completion of the metric
# family (Brier q363 is its quadratic sibling).
_Q413_CLASSES = ["click", "error", "purchase", "signup", "view"]

_Q413_SCORE = "(((CAST(floor(value * 100) AS BIGINT) + {c} * 17) % 50) / 10.0)"

_Q413_ORACLE = f"""
    WITH base AS (
      SELECT event_type,
             {_Q413_SCORE.format(c=0)} AS s0,
             {_Q413_SCORE.format(c=1)} AS s1,
             {_Q413_SCORE.format(c=2)} AS s2,
             {_Q413_SCORE.format(c=3)} AS s3,
             {_Q413_SCORE.format(c=4)} AS s4
      FROM events
    ), sm AS (
      SELECT event_type,
             exp(s0) + exp(s1) + exp(s2) + exp(s3) + exp(s4) AS z,
             CASE event_type
               WHEN 'click' THEN exp(s0) WHEN 'error' THEN exp(s1)
               WHEN 'purchase' THEN exp(s2) WHEN 'signup' THEN exp(s3)
               ELSE exp(s4) END AS p_true
      FROM base
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(-ln(p_true / z)) + 5e-12, 6) AS log_loss
    FROM sm GROUP BY event_type ORDER BY event_type
"""


@register(
    "q413_log_loss",
    _Q413_ORACLE,
    doc="Multiclass cross-entropy of a deterministic softmax pseudo-"
    "model (per-class scores from the value digits, normalized "
    "in-plan), per-class NLL — the proper scoring rule beside its "
    "quadratic sibling Brier (q363); all-expression, one "
    "aggregation.",
)
def q413(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def score(c: int) -> F.Column:
        return (
            (F.floor(F.col("value") * 100).cast("bigint") + c * 17) % 50
        ) / 10.0

    exps = [F.exp(score(c)) for c in range(5)]
    z = exps[0] + exps[1] + exps[2] + exps[3] + exps[4]
    p_true = (
        F.when(F.col("event_type") == "click", exps[0])
        .when(F.col("event_type") == "error", exps[1])
        .when(F.col("event_type") == "purchase", exps[2])
        .when(F.col("event_type") == "signup", exps[3])
        .otherwise(exps[4])
    )
    sm = ev.select(
        "event_type", (-F.log(p_true / z)).alias("nll")
    )
    return (
        sm.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r6(F.avg("nll")).alias("log_loss"),
        )
        .orderBy("event_type")
    )
