"""Conformance queries: statistical testing family #3 (q164+) —
Mann-Whitney U (tie-corrected), temperature-scaled corpus mixing,
a batch replay of the Structured-Streaming watermark drop rule,
Spearman rank correlation, and Kendall tau-b. Oracle conventions as
everywhere (column-name parity, r6 rounding, integer-exact algebra
until the final division wherever possible)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q164 — Mann-Whitney U test (click vs view values per day, tie-corrected)
# ---------------------------------------------------------------------------
# Rank algebra on the per-distinct-value counts relation (never a
# per-row rank): avg_rank(v) = (#values below v) + (n_v + 1)/2, so
# R_A, U, the tie term and the normal-approximation z all fold into
# one groupBy over distinct values — integer-exact sums (halves are
# dyadic) until the final z division.
_Q164_ORACLE = f"""
    WITH ab AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, value,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE event_type IN ('click', 'view')
    ), pv AS (
      SELECT day, value,
             CAST(SUM(is_a) AS BIGINT) AS na,
             CAST(SUM(1 - is_a) AS BIGINT) AS nb,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ab GROUP BY day, value
    ), rk AS (
      SELECT day, na, nb, n,
             COALESCE(SUM(n) OVER (PARTITION BY day ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM pv
    ), agg AS (
      SELECT day,
             CAST(SUM(na) AS BIGINT) AS n_a,
             CAST(SUM(nb) AS BIGINT) AS n_b,
             SUM(na * (cum + (n + 1) / 2.0)) AS r_a,
             SUM(CAST(n AS DOUBLE) * n * n - n) AS tie_term
      FROM rk GROUP BY day
      HAVING SUM(na) > 0 AND SUM(nb) > 0
    )
    SELECT day, n_a, n_b,
           {_R6.format(x='r_a - n_a * (n_a + 1) / 2.0')} AS u_stat,
           {_R6.format(x='(r_a - n_a * (n_a + 1) / 2.0 '
                         '- CAST(n_a AS DOUBLE) * n_b / 2.0) '
                         '/ sqrt((CAST(n_a AS DOUBLE) * n_b / 12.0) '
                         '* ((n_a + n_b + 1) - tie_term '
                         '/ (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1))))')}
             AS z
    FROM agg
    ORDER BY day
"""


@register(
    "q164_mann_whitney",
    _Q164_ORACLE,
    doc="Two-sample Mann-Whitney U per day (click vs view values) "
    "with midrank ties and the tie-corrected normal z. Computed on "
    "the per-distinct-value counts relation — avg ranks via one "
    "running-count window, so the shuffle is on (day, value) counts, "
    "never per-row global ranks; the same counts-first discipline as "
    "the exact AUC (q75). Integer-exact sums until the final "
    "division.",
)
def q164(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.stats import mann_whitney_u

    ev = _t(spark, sf_dir, "events")
    ab = ev.where(F.col("event_type").isin("click", "view")).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "value",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_a"),
    )
    out = mann_whitney_u(ab, "value", "is_a", group_cols=["day"])
    return out.select(
        "day",
        "n_a",
        "n_b",
        r6(F.col("u_stat")).alias("u_stat"),
        r6(F.col("z")).alias("z"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Q165 — temperature-scaled corpus mixing weights (UNIMAX/multilingual)
# ---------------------------------------------------------------------------
_Q165_BUDGET = 1_000_000.0  # char budget

_Q165_P = "exp({a} * ln(CAST(s AS DOUBLE)))"

_Q165_ORACLE = f"""
    WITH sz AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS s
      FROM documents GROUP BY source
    ), p AS (
      SELECT source, s,
             {_Q165_P.format(a='0.3')} AS w03,
             {_Q165_P.format(a='0.7')} AS w07
      FROM sz
    )
    SELECT source, s AS n_chars,
           {_R6.format(x='w03 / SUM(w03) OVER ()')} AS p03,
           {_R6.format(x='w07 / SUM(w07) OVER ()')} AS p07,
           {_R6.format(x=f'{_Q165_BUDGET} * (w03 / SUM(w03) OVER ()) / s')}
             AS epochs03
    FROM p
    ORDER BY source
"""


@register(
    "q165_mix_temperature",
    _Q165_ORACLE,
    doc="Temperature-scaled sampling weights per source "
    "(p_i ~ size_i^alpha, the UNIMAX / multilingual-LM mixing rule) "
    "at alpha=0.3 and 0.7, plus effective epochs for a 1M-char "
    "budget — the low-resource-upsampling planner complementing "
    "q70's explicit-weight mix and q82's epoch schedule. One "
    "aggregation to #sources rows; the normalizing sum is a "
    "broadcast-size relation. pow written as exp(alpha*ln s) so both "
    "engines route through the same correctly-rounded primitives.",
)
def q165(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sz = docs.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("s")
    )
    p = sz.select(
        "source",
        "s",
        F.exp(0.3 * F.log(F.col("s").cast("double"))).alias("w03"),
        F.exp(0.7 * F.log(F.col("s").cast("double"))).alias("w07"),
    )
    tot = p.agg(
        F.sum("w03").alias("t03"), F.sum("w07").alias("t07")
    )
    return (
        p.join(F.broadcast(tot))
        .select(
            "source",
            F.col("s").alias("n_chars"),
            r6(F.col("w03") / F.col("t03")).alias("p03"),
            r6(F.col("w07") / F.col("t07")).alias("p07"),
            r6(
                F.lit(_Q165_BUDGET) * (F.col("w03") / F.col("t03")) / F.col("s")
            ).alias("epochs03"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q166 — watermark late-data audit (batch replay of streaming drop rule)
# ---------------------------------------------------------------------------
# Deterministic per-event arrival delay (md5 uniform, <= 1h); replay
# each day's stream in arrival order: the watermark before an event
# is max(arrival so far) - 10 min, and the event is DROPPED when its
# 5-min tumbling window already closed (window_end <= watermark) —
# exactly Structured Streaming's late-row rule run as a batch audit
# (streaming/pipeline.py windowed_counts carries the live form).
_Q166_DELAY_US = 600 * 1_000_000
_Q166_WIN_US = 300 * 1_000_000

_Q166_ARR = (
    "epoch_us(ts) + (CAST(('0x' || substr(md5('late#' "
    "|| CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 3600) * 1000000"
)

_Q166_ORACLE = f"""
    WITH arr AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, event_id,
             epoch_us(ts) AS ev_us,
             {_Q166_ARR} AS arr_us
      FROM events
    ), wm AS (
      SELECT day, event_id, ev_us, arr_us,
             MAX(arr_us) OVER (PARTITION BY day ORDER BY arr_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               - {_Q166_DELAY_US} AS watermark_us
      FROM arr
    ), flagged AS (
      SELECT day, arr_us - ev_us AS delay_us,
             CASE WHEN watermark_us IS NOT NULL
                       AND (CAST(floor(ev_us / {_Q166_WIN_US}.0) AS BIGINT)
                            + 1) * {_Q166_WIN_US} <= watermark_us
                  THEN 1 ELSE 0 END AS dropped
      FROM wm
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(dropped) AS BIGINT) AS n_dropped,
           CAST(MAX(delay_us) / 1000000 AS BIGINT) AS max_delay_s
    FROM flagged
    GROUP BY day
    ORDER BY day
"""


@register(
    "q166_watermark_audit",
    _Q166_ORACLE,
    doc="Batch replay of the Structured-Streaming watermark rule: "
    "per-day event streams in arrival order (arrival = event time + "
    "deterministic md5 delay <= 1h), running-max watermark with a "
    "10-min bound, an event is dropped when its 5-min tumbling "
    "window_end <= watermark. Counts dropped rows and max observed "
    "delay per day — the lateness-budget sizing audit for "
    "streaming/pipeline.py windowed_counts. Pure integer-microsecond "
    "algebra; the replay window partitions by day (per-partition "
    "watermark), not a global single reducer.",
)
def q166(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import h60_sql
    from model_presto_spark.operators.temporal import _epoch_us

    ev = _t(spark, sf_dir, "events")
    ev_us = _epoch_us("ts")
    arr_us = ev_us + (
        F.expr(h60_sql("concat('late#', CAST(event_id AS STRING))")) % 3600
    ) * F.lit(1_000_000).cast("bigint")
    arr = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_id",
        ev_us.alias("ev_us"),
        arr_us.alias("arr_us"),
    )
    w = (
        Window.partitionBy("day")
        .orderBy("arr_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wm = arr.withColumn(
        "watermark_us", F.max("arr_us").over(w) - F.lit(_Q166_DELAY_US)
    )
    win_end = (
        F.floor(F.col("ev_us") / float(_Q166_WIN_US)).cast("bigint") + 1
    ) * F.lit(_Q166_WIN_US)
    flagged = wm.select(
        "day",
        (F.col("arr_us") - F.col("ev_us")).alias("delay_us"),
        F.when(
            F.col("watermark_us").isNotNull()
            & (win_end <= F.col("watermark_us")),
            1,
        )
        .otherwise(0)
        .alias("dropped"),
    )
    return (
        flagged.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("dropped").cast("bigint").alias("n_dropped"),
            (F.max("delay_us") / 1_000_000).cast("bigint").alias("max_delay_s"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Q167 — Spearman rank correlation (weekly qty vs line count per flag)
# ---------------------------------------------------------------------------
# Both measures are integer-exact (SUM of integer-valued quantities,
# COUNT), so ranks are deterministic across engines; row_number with
# the week tie-break gives distinct ranks and the closed form
# rho = 1 - 6*sum(d^2)/(n(n^2-1)) stays integer until one division.
_Q167_ORACLE = f"""
    WITH wk AS (
      SELECT l_returnflag AS flag,
             strftime(date_trunc('week', l_shipdate), '%Y-%m-%d') AS week,
             SUM(l_quantity) AS qty,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1, 2
    ), rk AS (
      SELECT flag,
             ROW_NUMBER() OVER (PARTITION BY flag ORDER BY qty, week) AS rx,
             ROW_NUMBER() OVER (PARTITION BY flag ORDER BY n_lines, week) AS ry
      FROM wk
    ), agg AS (
      SELECT flag, CAST(COUNT(*) AS BIGINT) AS n_weeks,
             SUM(CAST((rx - ry) * (rx - ry) AS DOUBLE)) AS d2
      FROM rk GROUP BY flag
    )
    SELECT flag, n_weeks,
           {_R6.format(x='1.0 - 6.0 * d2 '
                         '/ (CAST(n_weeks AS DOUBLE) '
                         '* (CAST(n_weeks AS DOUBLE) * n_weeks - 1))')}
             AS rho
    FROM agg
    WHERE n_weeks >= 2
    ORDER BY flag
"""


@register(
    "q167_spearman",
    _Q167_ORACLE,
    doc="Spearman rank correlation between weekly shipped quantity "
    "and weekly line count per returnflag: rank windows on the "
    "pre-aggregated weekly relation (pre-aggregate-then-window "
    "discipline; both measures integer-exact so rank order is "
    "engine-stable), then the closed-form 1 - 6*sum(d^2)/(n(n^2-1)) "
    "— integer algebra until one final division. Robust complement "
    "to the Pearson-based ACF (q149) and covariance (q123).",
)
def q167(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    wk = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.date_format(F.date_trunc("week", "l_shipdate"), "yyyy-MM-dd").alias(
            "week"
        ),
    ).agg(
        F.sum("l_quantity").alias("qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    wx = Window.partitionBy("flag").orderBy("qty", "week")
    wy = Window.partitionBy("flag").orderBy("n_lines", "week")
    rk = wk.select(
        "flag",
        F.row_number().over(wx).alias("rx"),
        F.row_number().over(wy).alias("ry"),
    )
    agg = rk.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n_weeks"),
        F.sum(
            ((F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))).cast(
                "double"
            )
        ).alias("d2"),
    )
    n = F.col("n_weeks").cast("double")
    return (
        agg.where(F.col("n_weeks") >= 2)
        .select(
            "flag",
            "n_weeks",
            r6(1.0 - 6.0 * F.col("d2") / (n * (n * F.col("n_weeks") - 1))).alias(
                "rho"
            ),
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# Q168 — Kendall tau-b (weekly qty vs line count per flag)
# ---------------------------------------------------------------------------
_Q168_ORACLE = f"""
    WITH wk AS (
      SELECT l_returnflag AS flag,
             strftime(date_trunc('week', l_shipdate), '%Y-%m-%d') AS week,
             SUM(l_quantity) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM lineitem GROUP BY 1, 2
    ), pairs AS (
      SELECT a.flag,
             CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END AS c,
             CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END AS d,
             CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
             CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
      FROM wk a JOIN wk b ON a.flag = b.flag AND a.week < b.week
    ), agg AS (
      SELECT flag,
             CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(SUM(c) AS BIGINT) AS nc,
             CAST(SUM(d) AS BIGINT) AS nd,
             CAST(SUM(tx) AS BIGINT) AS ntx,
             CAST(SUM(ty) AS BIGINT) AS nty
      FROM pairs GROUP BY flag
    )
    SELECT flag, n0, nc, nd,
           {_R6.format(x='(nc - nd) / sqrt(CAST(n0 - ntx AS DOUBLE) '
                         '* (n0 - nty))')} AS tau_b
    FROM agg
    WHERE n0 - ntx > 0 AND n0 - nty > 0
    ORDER BY flag
"""


@register(
    "q168_kendall_tau",
    _Q168_ORACLE,
    doc="Kendall tau-b on the weekly (qty, line-count) series per "
    "returnflag: concordant/discordant/tied pair counts from a "
    "pairwise self-join CO-PARTITIONED on the flag — the O(n^2) is "
    "paid per group on the ~360-week collapsed series (Theil-Sen "
    "q145's contract), never on raw lineitem. Integer-exact counts; "
    "one final division. Completes the rank-statistics trio with "
    "q167 Spearman and q164 Mann-Whitney.",
)
def q168(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    wk = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.date_format(
                F.date_trunc("week", "l_shipdate"), "yyyy-MM-dd"
            ).alias("week"),
        )
        .agg(
            F.sum("l_quantity").alias("x"),
            F.count(F.lit(1)).alias("y"),
        )
        .localCheckpoint(eager=False)
    )
    a = wk.select(
        "flag",
        F.col("week").alias("wa"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
    )
    b = wk.select(
        "flag",
        F.col("week").alias("wb"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    prod = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    pairs = a.join(b, "flag").where(F.col("wa") < F.col("wb")).select(
        "flag",
        F.when(prod > 0, 1).otherwise(0).alias("c"),
        F.when(prod < 0, 1).otherwise(0).alias("d"),
        F.when(F.col("xa") == F.col("xb"), 1).otherwise(0).alias("tx"),
        F.when(F.col("ya") == F.col("yb"), 1).otherwise(0).alias("ty"),
    )
    agg = pairs.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("c").cast("bigint").alias("nc"),
        F.sum("d").cast("bigint").alias("nd"),
        F.sum("tx").cast("bigint").alias("ntx"),
        F.sum("ty").cast("bigint").alias("nty"),
    )
    return (
        agg.where((F.col("n0") - F.col("ntx") > 0) & (F.col("n0") - F.col("nty") > 0))
        .select(
            "flag",
            "n0",
            "nc",
            "nd",
            r6(
                (F.col("nc") - F.col("nd"))
                / F.sqrt(
                    (F.col("n0") - F.col("ntx")).cast("double")
                    * (F.col("n0") - F.col("nty"))
                )
            ).alias("tau_b"),
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# Q172 — Benjamini-Hochberg FDR over the daily Mann-Whitney screen
# ---------------------------------------------------------------------------
# Two-sided p-values from |z| via the logistic normal-CDF
# approximation (Bowling et al. 2009: Phi(x) ~ 1/(1+exp(-0.07056x^3
# -1.5976x))) — a fixed literal formula both engines evaluate
# identically, so the BH decision boundary is cross-engine exact.
# BH: rank p ascending, reject all ranks <= the largest k with
# p_k <= (k/m) * q.
_Q172_Q = 0.10

_Q172_PAPPROX = (
    "2.0 * (1.0 - 1.0 / (1.0 + exp(-0.07056 * abs_z * abs_z * abs_z "
    "- 1.5976 * abs_z)))"
)

_Q172_ORACLE = f"""
    WITH mw AS ({{mw_oracle}}),
    p AS (
      SELECT day, abs(z) AS abs_z FROM mw
    ), pv AS (
      SELECT day, {_Q172_PAPPROX} AS pval FROM p
    ), ranked AS (
      SELECT day, pval,
             ROW_NUMBER() OVER (ORDER BY pval, day) AS k,
             COUNT(*) OVER () AS m
      FROM pv
    ), cutoff AS (
      SELECT COALESCE(MAX(CASE WHEN pval <= {_Q172_Q} * k / m
                               THEN k END), 0) AS kmax
      FROM ranked
    )
    SELECT r.day, {_R6.format(x='r.pval')} AS pval, r.k,
           CASE WHEN r.k <= c.kmax THEN 1 ELSE 0 END AS rejected
    FROM ranked r CROSS JOIN cutoff c
    ORDER BY r.k
""".format(mw_oracle=_Q164_ORACLE.replace("ORDER BY day", ""))


@register(
    "q172_bh_fdr",
    _Q172_ORACLE,
    doc="Benjamini-Hochberg FDR control (q=0.10) over the per-day "
    "Mann-Whitney z screen (q164): two-sided p via the literal "
    "logistic normal-CDF approximation (engine-exact), p-rank window, "
    "reject ranks <= max{k : p_k <= qk/m} — the multiple-testing "
    "closer for the statistical-testing family. The ranked relation "
    "is #tests rows (one per day), so the global window is "
    "test-count-, not data-, sized.",
)
def q172(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = q164(spark, sf_dir)
    abs_z = F.abs(F.col("z"))
    pv = base.select(
        "day",
        (
            2.0
            * (
                1.0
                - 1.0
                / (
                    1.0
                    + F.exp(
                        -0.07056 * abs_z * abs_z * abs_z - 1.5976 * abs_z
                    )
                )
            )
        ).alias("pval"),
    )
    w = Window.orderBy("pval", "day")
    ranked = pv.select(
        "day",
        "pval",
        F.row_number().over(w).alias("k"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("m"),
    )
    kmax = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("pval") <= _Q172_Q * F.col("k") / F.col("m"),
                    F.col("k"),
                )
            ),
            F.lit(0),
        ).alias("kmax")
    )
    return (
        ranked.join(F.broadcast(kmax))
        .select(
            "day",
            r6(F.col("pval")).alias("pval"),
            "k",
            F.when(F.col("k") <= F.col("kmax"), 1).otherwise(0).alias("rejected"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Q187 — PSI distribution-drift alarm (profile.psi_drift as an oracle query)
# ---------------------------------------------------------------------------
# Reference window = pre-1998 orders, current = 1998+; equi-depth
# bucket edges come from EXACT reference deciles (percentile ==
# quantile_cont, the q17-proven parity), so both engines bucket with
# identical literals. Promotes the drift operator from
# unit-test-only to oracle-checked.
_Q187_PROBS = [i / 10 for i in range(1, 10)]

_Q187_QLIST = ", ".join(str(p) for p in _Q187_PROBS)
_Q187_BUCKET = "1 + " + " + ".join(
    f"CAST(v > q[{i}] AS INT)" for i in range(1, 10)
)

_Q187_ORACLE = f"""
    WITH ref AS (
      SELECT o_totalprice AS v FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01' AND o_totalprice IS NOT NULL
    ), cur AS (
      SELECT o_totalprice AS v FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_totalprice IS NOT NULL
    ), qs AS (
      SELECT quantile_cont(v, [{_Q187_QLIST}]) AS q FROM ref
    ), rb AS (
      SELECT {_Q187_BUCKET} AS bucket FROM ref, qs
    ), cb AS (
      SELECT {_Q187_BUCKET} AS bucket FROM cur, qs
    ), rs AS (
      SELECT bucket, CAST(COUNT(*) AS DOUBLE)
               / SUM(COUNT(*)) OVER () AS p_ref
      FROM rb GROUP BY bucket
    ), cs AS (
      SELECT bucket, CAST(COUNT(*) AS DOUBLE)
               / SUM(COUNT(*)) OVER () AS p_cur
      FROM cb GROUP BY bucket
    ), per AS (
      SELECT COALESCE(rs.bucket, cs.bucket) AS bucket,
             COALESCE(p_ref, 0.0) AS p_ref,
             COALESCE(p_cur, 0.0) AS p_cur
      FROM rs FULL JOIN cs ON rs.bucket = cs.bucket
    ), scored AS (
      SELECT bucket, p_ref, p_cur,
             (p_cur - p_ref) * ln((p_cur + 1e-6) / (p_ref + 1e-6)) AS contrib
      FROM per
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           {_R6.format(x='p_ref')} AS p_ref,
           {_R6.format(x='p_cur')} AS p_cur,
           {_R6.format(x='contrib')} AS contrib
    FROM scored
    UNION ALL
    SELECT CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           {_R6.format(x='SUM(contrib)')}
    FROM scored
    ORDER BY bucket NULLS FIRST
"""


@register(
    "q187_psi_drift",
    _Q187_ORACLE,
    doc="Population Stability Index between pre-1998 and 1998+ order "
    "values (operators/profile.psi_drift): equi-depth bucket edges "
    "from EXACT reference deciles collected as plan literals (an "
    "O(1) driver crossing — the model, not the data), one "
    "aggregation per side, a 10-row full join, PSI total row. The "
    "standard drift alarm for a continuously-ingesting pipeline, now "
    "oracle-checked.",
)
def q187(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.profile import psi_drift

    o = _t(spark, sf_dir, "orders")
    ref = o.filter(F.col("o_orderdate") < "1998-01-01").select(
        F.col("o_totalprice")
    )
    cur = o.filter(F.col("o_orderdate") >= "1998-01-01").select(
        F.col("o_totalprice")
    )
    out = psi_drift(ref, cur, "o_totalprice", n_buckets=10)
    return out.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        r6(F.col("p_ref")).alias("p_ref"),
        r6(F.col("p_cur")).alias("p_cur"),
        r6(F.col("contrib")).alias("contrib"),
    ).orderBy(F.col("bucket").asc_nulls_first())
