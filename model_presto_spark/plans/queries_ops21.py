"""Conformance queries: round-7 operator batch #15 (q286+) — SAX
symbolization, matrix-profile-lite motif/discord discovery,
l-diversity + t-closeness privacy audit, autocorrelation-adjusted
effective sample size, Fleiss' kappa.

Parity: subsequence distances and all privacy/agreement counts are
exact integers; SAX breakpoints compare identical z doubles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q286 — SAX symbolization (6-segment, 4-symbol words)
# ---------------------------------------------------------------------------
# Piecewise Aggregate Approximation of each daily-cents series into
# 6 five-day segments, z-scored against the series moments and
# quantized at the Gaussian quartile breakpoints {-0.6745, 0,
# 0.6745} into letters a-d.  The discretization that makes series
# joinable/indexable as strings.
_Q286_BP = 0.6744897501960817

_Q286_LETTER = (
    "CASE WHEN z < -{bp} THEN 'a' WHEN z < 0 THEN 'b' "
    "WHEN z < {bp} THEN 'c' ELSE 'd' END"
).format(bp=_Q286_BP)

_Q286_ORACLE = f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS y
      FROM events GROUP BY event_type, day
    ), idx AS (
      SELECT event_type, y,
             CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY event_type
                                            ORDER BY day) - 1) / 5)
                  AS BIGINT) AS seg
      FROM daily
    ), mom AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(y) AS sy, SUM(y * y) AS syy
      FROM idx GROUP BY event_type
    ), paa AS (
      SELECT i.event_type, i.seg,
             (AVG(CAST(i.y AS DOUBLE))
              - CAST(MAX(m.sy) AS DOUBLE) / MAX(m.n))
             / SQRT((CAST(MAX(m.n) AS DOUBLE) * MAX(m.syy)
                     - CAST(MAX(m.sy) AS DOUBLE) * MAX(m.sy))
                    / (CAST(MAX(m.n) AS DOUBLE) * (MAX(m.n) - 1)))
               AS z
      FROM idx i JOIN mom m ON m.event_type = i.event_type
      GROUP BY i.event_type, i.seg
    ), lettered AS (
      SELECT event_type, seg, {_Q286_LETTER} AS letter, z
      FROM paa
    )
    SELECT event_type,
           string_agg(letter, '' ORDER BY seg) AS sax_word,
           {_R6.format(x='MAX(z)')} AS max_segment_z,
           {_R6.format(x='MIN(z)')} AS min_segment_z
    FROM lettered GROUP BY event_type
    ORDER BY event_type
"""


@register(
    "q286_sax_word",
    _Q286_ORACLE,
    doc="SAX symbolization per series: 6-segment PAA of daily "
    "cents, z-scored on exact integer moments, quantized at "
    "Gaussian quartile breakpoints into a 6-letter a-d word.  "
    "Turns series into joinable strings for motif/similarity "
    "indexing.",
)
def q286(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100, 0).cast("bigint").alias("y")
    )
    idx = daily.select(
        "event_type",
        "y",
        F.floor(
            (
                F.row_number().over(
                    Window.partitionBy("event_type").orderBy("day")
                )
                - 1
            )
            / 5
        )
        .cast("bigint")
        .alias("seg"),
    )
    mom = idx.groupBy(F.col("event_type").alias("met")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.max("n").cast("double")
    z = (
        F.avg(F.col("y").cast("double"))
        - F.max("sy").cast("double") / F.max("n")
    ) / F.sqrt(
        (nd * F.max("syy") - F.max("sy").cast("double") * F.max("sy"))
        / (nd * (F.max("n") - 1))
    )
    paa = (
        idx.join(F.broadcast(mom), F.col("event_type") == F.col("met"))
        .groupBy("event_type", "seg")
        .agg(z.alias("z"))
    )
    letter = (
        F.when(F.col("z") < -_Q286_BP, "a")
        .when(F.col("z") < 0, "b")
        .when(F.col("z") < _Q286_BP, "c")
        .otherwise("d")
    )
    lettered = paa.select("event_type", "seg", letter.alias("letter"), "z")
    return (
        lettered.groupBy("event_type")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seg", "letter"))
                    ),
                    lambda s: s["letter"],
                ),
            ).alias("sax_word"),
            r6(F.max("z")).alias("max_segment_z"),
            r6(F.min("z")).alias("min_segment_z"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q287 — Matrix-profile-lite (motif + discord per series)
# ---------------------------------------------------------------------------
# For every length-5 subsequence of daily cents, the nearest
# neighbor distance over all non-overlapping starts (exclusion
# zone |i-j| >= 5): dist^2 is an EXACT integer sum of squared
# diffs via an offset-grid self-join of the bounded daily
# relation.  Motif = smallest profile value, discord = largest —
# the core of matrix-profile time-series mining.
_Q287_M = 5

_Q287_ORACLE = f"""
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY CAST(ts AS DATE))
                  AS BIGINT) AS t,
             y
      FROM (
        SELECT event_type, CAST(ts AS DATE) AS ts,
               CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)
      )
    ), nmax AS (
      SELECT event_type, MAX(t) AS n FROM daily GROUP BY event_type
    ), pairs AS (
      SELECT a.event_type, a.t AS i, b.t AS j,
             CAST(SUM((a2.y - b2.y) * (a2.y - b2.y)) AS BIGINT) AS d2
      FROM daily a
      JOIN nmax nm ON nm.event_type = a.event_type
      JOIN daily b ON b.event_type = a.event_type
                  AND ABS(b.t - a.t) >= {_Q287_M}
                  AND b.t <= nm.n - {_Q287_M} + 1
      JOIN daily a2 ON a2.event_type = a.event_type
                   AND a2.t BETWEEN a.t AND a.t + {_Q287_M} - 1
      JOIN daily b2 ON b2.event_type = a.event_type
                   AND b2.t = b.t + (a2.t - a.t)
      WHERE a.t <= nm.n - {_Q287_M} + 1
      GROUP BY a.event_type, a.t, b.t
    ), profile AS (
      SELECT event_type, i,
             MIN(d2) AS nn_d2
      FROM pairs GROUP BY event_type, i
    ), ranked AS (
      SELECT event_type, i, nn_d2,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY nn_d2, i) AS rk_motif,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY nn_d2 DESC, i) AS rk_discord
      FROM profile
    )
    SELECT event_type,
           MAX(CASE WHEN rk_motif = 1 THEN i END) AS motif_start,
           ROUND(SQRT(MAX(CASE WHEN rk_motif = 1 THEN nn_d2 END))
                 / 100.0 + 5e-10, 2) AS motif_dist,
           MAX(CASE WHEN rk_discord = 1 THEN i END) AS discord_start,
           ROUND(SQRT(MAX(CASE WHEN rk_discord = 1 THEN nn_d2 END))
                 / 100.0 + 5e-10, 2) AS discord_dist
    FROM ranked GROUP BY event_type
    ORDER BY event_type
"""


@register(
    "q287_matrix_profile",
    _Q287_ORACLE,
    doc="Matrix-profile-lite: nearest-neighbor distance of every "
    "length-5 subsequence (exclusion zone >= 5) via an offset-grid "
    "self-join on the bounded daily relation — squared distances "
    "are exact integer cents.  Motif (most repeated shape) and "
    "discord (anomaly) per series.",
)
def q287(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    m = _Q287_M
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value") * 100, 0).cast("bigint").alias("y"))
        .select(
            "event_type",
            F.row_number()
            .over(Window.partitionBy("event_type").orderBy("day"))
            .cast("bigint")
            .alias("t"),
            "y",
        )
        .localCheckpoint(eager=False)  # 4-way self-join reuse
    )
    nmax = daily.groupBy(F.col("event_type").alias("ne")).agg(
        F.max("t").alias("n")
    )
    a = daily.select(
        F.col("event_type").alias("et"), F.col("t").alias("i")
    )
    b = daily.select(
        F.col("event_type").alias("eb"), F.col("t").alias("j")
    )
    a2 = daily.select(
        F.col("event_type").alias("e2"),
        F.col("t").alias("ta"),
        F.col("y").alias("ya"),
    )
    b2 = daily.select(
        F.col("event_type").alias("e3"),
        F.col("t").alias("tb"),
        F.col("y").alias("yb"),
    )
    pairs = (
        a.join(F.broadcast(nmax), F.col("et") == F.col("ne"))
        .where(F.col("i") <= F.col("n") - m + 1)
        .join(
            b,
            (F.col("eb") == F.col("et"))
            & (F.abs(F.col("j") - F.col("i")) >= m)
            & (F.col("j") <= F.col("n") - m + 1),
        )
        .join(
            a2,
            (F.col("e2") == F.col("et"))
            & F.col("ta").between(F.col("i"), F.col("i") + m - 1),
        )
        .join(
            b2,
            (F.col("e3") == F.col("et"))
            & (F.col("tb") == F.col("j") + (F.col("ta") - F.col("i"))),
        )
        .groupBy(F.col("et").alias("event_type"), "i", "j")
        .agg(
            F.sum(
                (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            ).alias("d2")
        )
    )
    profile = pairs.groupBy("event_type", "i").agg(
        F.min("d2").alias("nn_d2")
    )
    ranked = profile.select(
        "event_type",
        "i",
        "nn_d2",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("nn_d2", "i"))
        .alias("rk_motif"),
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.col("nn_d2").desc(), "i"
            )
        )
        .alias("rk_discord"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max(F.when(F.col("rk_motif") == 1, F.col("i"))).alias(
                "motif_start"
            ),
            F.round(
                F.sqrt(
                    F.max(
                        F.when(F.col("rk_motif") == 1, F.col("nn_d2"))
                    )
                )
                / 100.0
                + 5e-10,
                2,
            ).alias("motif_dist"),
            F.max(F.when(F.col("rk_discord") == 1, F.col("i"))).alias(
                "discord_start"
            ),
            F.round(
                F.sqrt(
                    F.max(
                        F.when(F.col("rk_discord") == 1, F.col("nn_d2"))
                    )
                )
                / 100.0
                + 5e-10,
                2,
            ).alias("discord_dist"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q288 — l-diversity and t-closeness privacy audit
# ---------------------------------------------------------------------------
# Quasi-identifier groups (customer nation x market segment) over
# orders, sensitive attribute = order priority: per-group size,
# distinct-l diversity, and t-closeness as the total-variation
# distance between the group's priority distribution and the
# global one.  All from exact integer counts; the k-anonymity
# (q89) companion.
_Q288_ORACLE = """
    WITH rec AS (
      SELECT c.c_nationkey AS nation, c.c_mktsegment AS seg,
             o.o_orderpriority AS sens
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), cell AS MATERIALIZED (
      SELECT nation, seg, sens, CAST(COUNT(*) AS BIGINT) AS c
      FROM rec GROUP BY nation, seg, sens
    ), grp AS (
      SELECT nation, seg,
             CAST(SUM(c) AS BIGINT) AS n_g,
             CAST(COUNT(*) AS BIGINT) AS l_div
      FROM cell GROUP BY nation, seg
    ), gdist AS (
      SELECT sens, CAST(SUM(c) AS BIGINT) AS cg FROM cell GROUP BY sens
    ), gtot AS (
      SELECT CAST(SUM(cg) AS BIGINT) AS n FROM gdist
    ), tdist AS (
      SELECT g.nation, g.seg,
             SUM(ABS(CAST(COALESCE(x.c, 0) AS DOUBLE) / g.n_g
                     - CAST(gl.cg AS DOUBLE) / t.n)) / 2.0 AS t_close
      FROM grp g
      CROSS JOIN gtot t
      CROSS JOIN gdist gl
      LEFT JOIN cell x ON x.nation = g.nation AND x.seg = g.seg
                      AND x.sens = gl.sens
      GROUP BY g.nation, g.seg
    )
    SELECT CAST(g.nation AS BIGINT) AS nation, g.seg,
           g.n_g, g.l_div,
           {T_CLOSE} AS t_closeness
    FROM grp g JOIN tdist t ON t.nation = g.nation AND t.seg = g.seg
    ORDER BY t_closeness DESC, g.nation, g.seg
    LIMIT 20
""".replace("{T_CLOSE}", R6_SQL.format(x="t.t_close"))


@register(
    "q288_l_diversity",
    _Q288_ORACLE,
    doc="l-diversity + t-closeness audit of (nation x segment) "
    "quasi-identifier groups with order priority as the sensitive "
    "attribute: distinct-l per group and total-variation distance "
    "to the global sensitive distribution, worst 20 groups.  "
    "Exact integer counts; q89 k-anonymity's companion checks.",
)
def q288(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rec = o.join(F.broadcast(c), c.c_custkey == o.o_custkey).select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority").alias("sens"),
    )
    cell = rec.groupBy("nation", "seg", "sens").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)  # grp + glob + tdist
    grp = cell.groupBy("nation", "seg").agg(
        F.sum("c").alias("n_g"), F.count(F.lit(1)).alias("l_div")
    )
    glob = cell.groupBy(F.col("sens").alias("gsens")).agg(
        F.sum("c").alias("cg")
    )
    gtot = glob.agg(F.sum("cg").alias("n"))
    x = cell.select(
        F.col("nation").alias("xn"),
        F.col("seg").alias("xs"),
        F.col("sens").alias("xsens"),
        F.col("c").alias("xc"),
    )
    tdist = (
        grp.crossJoin(F.broadcast(gtot))
        .crossJoin(F.broadcast(glob))
        .join(
            x,
            (F.col("xn") == F.col("nation"))
            & (F.col("xs") == F.col("seg"))
            & (F.col("xsens") == F.col("gsens")),
            "left",
        )
        .groupBy("nation", "seg")
        .agg(
            (
                F.sum(
                    F.abs(
                        F.coalesce("xc", F.lit(0)).cast("double")
                        / F.col("n_g")
                        - F.col("cg").cast("double") / F.col("n")
                    )
                )
                / 2.0
            ).alias("t_close")
        )
    )
    return (
        grp.join(tdist, ["nation", "seg"])
        .select(
            F.col("nation").cast("bigint").alias("nation"),
            "seg",
            "n_g",
            "l_div",
            r6(F.col("t_close")).alias("t_closeness"),
        )
        .orderBy(F.col("t_closeness").desc(), "nation", "seg")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q289 — Autocorrelation-adjusted effective sample size
# ---------------------------------------------------------------------------
# ESS = n / (1 + 2 sum_{k=1..5} rho_k) per daily-cents series,
# with rho_k from common-mean autocovariances over exact integer
# moments — the "how many independent days do I really have"
# correction for any time-averaged metric.
_Q289_K = 5

_Q289_ORACLE = f"""
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY CAST(ts AS DATE))
                  AS BIGINT) AS t,
             y
      FROM (
        SELECT event_type, CAST(ts AS DATE) AS ts,
               CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)
      )
    ), mom AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(y) AS sy, SUM(y * y) AS syy
      FROM daily GROUP BY event_type
    ), lagsum AS (
      SELECT a.event_type, b.t - a.t AS k,
             SUM(a.y * b.y) AS sxy,
             SUM(a.y) AS sa, SUM(b.y) AS sb,
             CAST(COUNT(*) AS BIGINT) AS nk
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type
       AND b.t - a.t BETWEEN 1 AND {_Q289_K}
      GROUP BY a.event_type, k
    ), rho AS (
      SELECT l.event_type, l.k,
             (CAST(l.sxy AS DOUBLE)
              - CAST(m.sy AS DOUBLE) / m.n * (l.sa + l.sb)
              + l.nk * (CAST(m.sy AS DOUBLE) / m.n)
                     * (CAST(m.sy AS DOUBLE) / m.n))
             / (CAST(m.syy AS DOUBLE)
                - CAST(m.sy AS DOUBLE) * m.sy / m.n) AS rho_k
      FROM lagsum l JOIN mom m ON m.event_type = l.event_type
    )
    SELECT r.event_type, MAX(m.n) AS n,
           {_R6.format(x='MAX(CASE WHEN r.k = 1 THEN r.rho_k END)')}
             AS rho1,
           {_R6.format(x='MAX(m.n) / (1.0 + 2.0 * SUM(r.rho_k))')}
             AS ess
    FROM rho r JOIN mom m ON m.event_type = r.event_type
    GROUP BY r.event_type
    ORDER BY r.event_type
"""


@register(
    "q289_ess",
    _Q289_ORACLE,
    doc="Effective sample size n/(1 + 2 sum rho_k), k=1..5, per "
    "daily series: autocovariances from exact integer lag-pair "
    "moments against the common mean, variance from the global "
    "moments.  The independence-adjusted n for honest error bars "
    "on time-averaged metrics.",
)
def q289(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value") * 100, 0).cast("bigint").alias("y"))
        .select(
            "event_type",
            F.row_number()
            .over(Window.partitionBy("event_type").orderBy("day"))
            .cast("bigint")
            .alias("t"),
            "y",
        )
        .localCheckpoint(eager=False)  # mom + self-join
    )
    mom = daily.groupBy(F.col("event_type").alias("met")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    a = daily.select(
        F.col("event_type").alias("ea"),
        F.col("t").alias("ta"),
        F.col("y").alias("ya"),
    )
    b = daily.select(
        F.col("event_type").alias("eb"),
        F.col("t").alias("tb"),
        F.col("y").alias("yb"),
    )
    lagsum = (
        a.join(
            b,
            (F.col("eb") == F.col("ea"))
            & (F.col("tb") - F.col("ta")).between(1, _Q289_K),
        )
        .groupBy(
            F.col("ea").alias("event_type"),
            (F.col("tb") - F.col("ta")).alias("k"),
        )
        .agg(
            F.sum(F.col("ya") * F.col("yb")).alias("sxy"),
            F.sum("ya").alias("sa"),
            F.sum("yb").alias("sb"),
            F.count(F.lit(1)).alias("nk"),
        )
    )
    mu = F.col("sy").cast("double") / F.col("n")
    rho = lagsum.join(
        F.broadcast(mom), F.col("event_type") == F.col("met")
    ).select(
        "event_type",
        "k",
        (
            (
                F.col("sxy").cast("double")
                - mu * (F.col("sa") + F.col("sb"))
                + F.col("nk") * mu * mu
            )
            / (
                F.col("syy").cast("double")
                - F.col("sy").cast("double") * F.col("sy") / F.col("n")
            )
        ).alias("rho_k"),
        "n",
    )
    return (
        rho.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            r6(
                F.max(F.when(F.col("k") == 1, F.col("rho_k")))
            ).alias("rho1"),
            r6(
                F.max("n") / (1.0 + 2.0 * F.sum("rho_k"))
            ).alias("ess"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q290 — Fleiss' kappa (three rule-raters)
# ---------------------------------------------------------------------------
# Multi-rater chance-corrected agreement: three deterministic
# binary raters (char length, word count, contains-' the ') on
# every document; per-item pair agreement P_i = sum n_ij(n_ij-1) /
# (r(r-1)), Fleiss kappa from exact integer counts.
_Q290_ORACLE = """
    WITH r AS (
      SELECT doc_id,
             CASE WHEN n_chars > 600 THEN 1 ELSE 0 END
             + CASE WHEN len(list_filter(
                      regexp_split_to_array(lower(text), '\\s+'),
                      x -> x <> '')) > 95 THEN 1 ELSE 0 END
             + CASE WHEN lower(text) LIKE '% the %' THEN 1 ELSE 0 END
               AS n_pos
      FROM documents
    ), item AS (
      SELECT doc_id, n_pos, 3 - n_pos AS n_neg,
             (n_pos * (n_pos - 1) + (3 - n_pos) * (2 - n_pos))
               / 6.0 AS p_i
      FROM r
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(p_i) AS sp,
             CAST(SUM(n_pos) AS BIGINT) AS tot_pos
      FROM item
    )
    SELECT n,
           {PBAR} AS p_bar,
           {PE} AS p_e,
           {KAPPA} AS fleiss_kappa
    FROM agg
""".replace(
    "{PBAR}", R6_SQL.format(x="sp / n")
).replace(
    "{PE}",
    R6_SQL.format(
        x=(
            "(CAST(tot_pos AS DOUBLE) / (3 * n))"
            " * (CAST(tot_pos AS DOUBLE) / (3 * n))"
            " + (1.0 - CAST(tot_pos AS DOUBLE) / (3 * n))"
            " * (1.0 - CAST(tot_pos AS DOUBLE) / (3 * n))"
        )
    ),
).replace(
    "{KAPPA}",
    R6_SQL.format(
        x=(
            "(sp / n - ((CAST(tot_pos AS DOUBLE) / (3 * n))"
            " * (CAST(tot_pos AS DOUBLE) / (3 * n))"
            " + (1.0 - CAST(tot_pos AS DOUBLE) / (3 * n))"
            " * (1.0 - CAST(tot_pos AS DOUBLE) / (3 * n))))"
            " / (1.0 - ((CAST(tot_pos AS DOUBLE) / (3 * n))"
            " * (CAST(tot_pos AS DOUBLE) / (3 * n))"
            " + (1.0 - CAST(tot_pos AS DOUBLE) / (3 * n))"
            " * (1.0 - CAST(tot_pos AS DOUBLE) / (3 * n))))"
        )
    ),
)


@register(
    "q290_fleiss_kappa",
    _Q290_ORACLE,
    doc="Fleiss' kappa across three deterministic binary raters "
    "(char-length, word-count, contains-'the' rules) on every "
    "document: per-item pair agreement and category shares from "
    "exact integer counts, chance-corrected in closed form.  The "
    "multi-rater generalization of q229.",
)
def q290(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import tokens_sql

    docs = _t(spark, sf_dir, "documents")
    n_pos = (
        F.when(F.col("n_chars") > 600, 1).otherwise(0)
        + F.when(F.size(F.expr(tokens_sql("text"))) > 95, 1).otherwise(0)
        + F.when(F.lower(F.col("text")).like("% the %"), 1).otherwise(0)
    )
    item = docs.select(n_pos.alias("n_pos")).select(
        "n_pos",
        (
            (
                F.col("n_pos") * (F.col("n_pos") - 1)
                + (3 - F.col("n_pos")) * (2 - F.col("n_pos"))
            )
            / 6.0
        ).alias("p_i"),
    )
    agg = item.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p_i").alias("sp"),
        F.sum("n_pos").alias("tot_pos"),
    )
    share = F.col("tot_pos").cast("double") / (3 * F.col("n"))
    p_bar = F.col("sp") / F.col("n")
    p_e = share * share + (1.0 - share) * (1.0 - share)
    return agg.select(
        "n",
        r6(p_bar).alias("p_bar"),
        r6(p_e).alias("p_e"),
        r6((p_bar - p_e) / (1.0 - p_e)).alias("fleiss_kappa"),
    )
