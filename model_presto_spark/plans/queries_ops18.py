"""Conformance queries: round-7 operator batch #12 (q271+) —
DKW confidence bands, SPC control chart (Western Electric rules),
Laspeyres/Paasche/Fisher price indices, naive-Bayes source
classifier, Herfindahl concentration.

Parity: ECDF counts, control-chart sides (sign of y*n - sum), and
NB word counts are exact integers; scores that feed an argmax are
rounded to 6dp BEFORE ranking so group-sum order noise cannot flip
the winner between engines."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q271 — ECDF with DKW confidence bands
# ---------------------------------------------------------------------------
# Empirical CDF of event value at 9 fixed probes with the
# Dvoretzky-Kiefer-Wolfowitz 95% band: eps = sqrt(ln(2/a)/(2n)).
# ECDF counts are exact integers; one conditional aggregation.
_Q271_LN40 = 3.6888794541139363  # ln(2/0.05)

_Q271_LO = (
    f"GREATEST(0.0, CAST(c AS DOUBLE) / n"
    f" - SQRT({_Q271_LN40} / (2.0 * n)))"
)
_Q271_HI = (
    f"LEAST(1.0, CAST(c AS DOUBLE) / n"
    f" + SQRT({_Q271_LN40} / (2.0 * n)))"
)

_Q271_ORACLE = f"""
    WITH probes AS (
      SELECT UNNEST([20, 40, 60, 80, 100, 120, 140, 160, 180]) AS p
    ), agg AS (
      SELECT p.p,
             CAST(COUNT(CASE WHEN e.value <= p.p THEN 1 END) AS BIGINT)
               AS c,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events e CROSS JOIN probes p
      GROUP BY p.p
    )
    SELECT CAST(p AS BIGINT) AS probe, n,
           {_R6.format(x='CAST(c AS DOUBLE) / n')} AS ecdf,
           {_R6.format(x=_Q271_LO)} AS band_lo,
           {_R6.format(x=_Q271_HI)} AS band_hi
    FROM agg ORDER BY probe
"""


@register(
    "q271_dkw_bands",
    _Q271_ORACLE,
    doc="ECDF at 9 fixed probes with 95% DKW confidence bands "
    "(distribution-free, simultaneous): exact integer ECDF counts "
    "in one conditional aggregation, closed-form band width.  The "
    "honest uncertainty wrapper for any CDF dashboard.",
)
def q271(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    probes = ev.sparkSession.range(1, 10).select(
        (F.col("id") * 20).alias("p")
    )
    agg = (
        ev.crossJoin(F.broadcast(probes))
        .groupBy("p")
        .agg(
            F.count(F.when(F.col("value") <= F.col("p"), 1)).alias("c"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    ecdf = F.col("c").cast("double") / F.col("n")
    eps = F.sqrt(_Q271_LN40 / (2.0 * F.col("n")))
    return agg.select(
        F.col("p").cast("bigint").alias("probe"),
        "n",
        r6(ecdf).alias("ecdf"),
        r6(F.greatest(F.lit(0.0), ecdf - eps)).alias("band_lo"),
        r6(F.least(F.lit(1.0), ecdf + eps)).alias("band_hi"),
    ).orderBy("probe")


# ---------------------------------------------------------------------------
# Q272 — SPC control chart with Western Electric rules
# ---------------------------------------------------------------------------
# X-chart on daily revenue cents per series: center/sigma from
# exact integer moments; rule 1 = point beyond the 2-sigma action
# limit, rule 2 = >= 2 of the last 3 beyond 2 sigma on the same
# side, rule 3 = 5 consecutive points on one side (limits
# tightened from the classic 3-sigma/8-run so the stable synthetic
# series still produces alarms to verify).  Sides are exact
# integer signs (y*n vs sum); only flagged days are emitted.
_Q272_ORACLE = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS y
      FROM events GROUP BY event_type, day
    ), mom AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(y) AS sy, SUM(y * y) AS syy
      FROM daily GROUP BY event_type
    ), z AS (
      SELECT d.event_type, d.day, d.y,
             (d.y - CAST(m.sy AS DOUBLE) / m.n)
             / SQRT((CAST(m.n AS DOUBLE) * m.syy
                     - CAST(m.sy AS DOUBLE) * m.sy)
                    / (CAST(m.n AS DOUBLE) * (m.n - 1))) AS zscore,
             CASE WHEN d.y * m.n > m.sy THEN 1 ELSE 0 END AS above
      FROM daily d JOIN mom m ON m.event_type = d.event_type
    ), rules AS (
      SELECT event_type, day, zscore, above,
             ABS(zscore) > 2.0 AS rule1,
             COUNT(*) OVER w3 = 3
               AND (SUM(CASE WHEN zscore > 2.0 THEN 1 ELSE 0 END)
                      OVER w3 >= 2
                    OR SUM(CASE WHEN zscore < -2.0 THEN 1 ELSE 0 END)
                      OVER w3 >= 2) AS rule2,
             COUNT(*) OVER w8 = 5
               AND (SUM(above) OVER w8 = 5 OR SUM(above) OVER w8 = 0)
               AS rule3
      FROM z
      WINDOW w3 AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             w8 AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           ROUND(zscore + 5e-12, 6) AS zscore,
           rule1, rule2, rule3
    FROM rules WHERE rule1 OR rule2 OR rule3
    ORDER BY event_type, day
"""


@register(
    "q272_control_chart",
    _Q272_ORACLE,
    doc="Western Electric-style control chart on daily cents: "
    "2-sigma action-limit breaches, 2-of-3 beyond 2 sigma "
    "one-sided, 5-consecutive one-sided runs — sides decided by exact integer sign "
    "(y*n vs sum), z from integer moments, rolling windows per "
    "series.  Emits only the alarm days.",
)
def q272(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    sigma = F.sqrt(
        (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
        / (nd * (F.col("n") - 1))
    )
    z = daily.join(
        F.broadcast(mom), F.col("event_type") == F.col("met")
    ).select(
        "event_type",
        "day",
        (
            (F.col("y") - F.col("sy").cast("double") / F.col("n"))
            / sigma
        ).alias("zscore"),
        F.when(F.col("y") * F.col("n") > F.col("sy"), 1)
        .otherwise(0)
        .alias("above"),
    )
    w3 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-2, 0)
    )
    w8 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-4, 0)
    )
    rules = z.select(
        "event_type",
        "day",
        "zscore",
        (F.abs(F.col("zscore")) > 2.0).alias("rule1"),
        (
            (F.count(F.lit(1)).over(w3) == 3)
            & (
                (
                    F.sum(
                        F.when(F.col("zscore") > 2.0, 1).otherwise(0)
                    ).over(w3)
                    >= 2
                )
                | (
                    F.sum(
                        F.when(F.col("zscore") < -2.0, 1).otherwise(0)
                    ).over(w3)
                    >= 2
                )
            )
        ).alias("rule2"),
        (
            (F.count(F.lit(1)).over(w8) == 5)
            & (
                (F.sum("above").over(w8) == 5)
                | (F.sum("above").over(w8) == 0)
            )
        ).alias("rule3"),
    )
    return (
        rules.where(F.col("rule1") | F.col("rule2") | F.col("rule3"))
        .select(
            "event_type",
            "day",
            r6(F.col("zscore")).alias("zscore"),
            "rule1",
            "rule2",
            "rule3",
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Q273 — Laspeyres / Paasche / Fisher price indices
# ---------------------------------------------------------------------------
# Part-level price/quantity baskets for 1996 (base) vs 2000
# (current) from lineitem: unit price = revenue/quantity per
# period, indices over the parts present in both.  The inflation
# measurement classic; one aggregation per period + a part join.
_Q273_ORACLE = """
    WITH base AS (
      SELECT l_partkey AS pk,
             SUM(l_extendedprice) AS rev, SUM(l_quantity) AS qty
      FROM lineitem WHERE EXTRACT(year FROM l_shipdate) = 1996
      GROUP BY pk HAVING SUM(l_quantity) > 0
    ), cur AS (
      SELECT l_partkey AS pk,
             SUM(l_extendedprice) AS rev, SUM(l_quantity) AS qty
      FROM lineitem WHERE EXTRACT(year FROM l_shipdate) = 2000
      GROUP BY pk HAVING SUM(l_quantity) > 0
    ), j AS (
      SELECT b.pk,
             b.rev / b.qty AS p0, b.qty AS q0,
             c.rev / c.qty AS p1, c.qty AS q1
      FROM base b JOIN cur c ON c.pk = b.pk
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
             SUM(p1 * q0) AS l_num, SUM(p0 * q0) AS l_den,
             SUM(p1 * q1) AS p_num, SUM(p0 * q1) AS p_den
      FROM j
    )
    SELECT n_parts,
           ROUND(l_num / l_den + 5e-12, 6) AS laspeyres,
           ROUND(p_num / p_den + 5e-12, 6) AS paasche,
           ROUND(SQRT((l_num / l_den) * (p_num / p_den)) + 5e-12, 6)
             AS fisher
    FROM s
"""


@register(
    "q273_price_index",
    _Q273_ORACLE,
    doc="Laspeyres, Paasche, and Fisher price indices 1996 -> 2000 "
    "over part-level unit-price/quantity baskets (parts present in "
    "both periods): two period aggregations + one part join + a "
    "scalar reduce.  The canonical inflation/deflator computation.",
)
def q273(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")

    def period(year: int, pre: str):
        return (
            li.where(F.year("l_shipdate") == year)
            .groupBy(F.col("l_partkey").alias(f"{pre}pk"))
            .agg(
                F.sum("l_extendedprice").alias(f"{pre}rev"),
                F.sum("l_quantity").alias(f"{pre}qty"),
            )
            .where(F.col(f"{pre}qty") > 0)
        )

    base, cur = period(1996, "b"), period(2000, "c")
    j = base.join(cur, F.col("cpk") == F.col("bpk")).select(
        (F.col("brev") / F.col("bqty")).alias("p0"),
        F.col("bqty").alias("q0"),
        (F.col("crev") / F.col("cqty")).alias("p1"),
        F.col("cqty").alias("q1"),
    )
    s = j.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.col("p1") * F.col("q0")).alias("l_num"),
        F.sum(F.col("p0") * F.col("q0")).alias("l_den"),
        F.sum(F.col("p1") * F.col("q1")).alias("p_num"),
        F.sum(F.col("p0") * F.col("q1")).alias("p_den"),
    )
    lasp = F.col("l_num") / F.col("l_den")
    paas = F.col("p_num") / F.col("p_den")
    return s.select(
        "n_parts",
        r6(lasp).alias("laspeyres"),
        r6(paas).alias("paasche"),
        r6(F.sqrt(lasp * paas)).alias("fisher"),
    )


# ---------------------------------------------------------------------------
# Q274 — Naive-Bayes source classifier (in-sample confusion)
# ---------------------------------------------------------------------------
# Multinomial NB predicting each document's source from its words:
# Laplace-smoothed log-likelihood table (word x source) joined to
# doc-word counts, per-(doc, candidate) score = log prior +
# sum c_dw log P(w|s).  Scores are rounded to 6dp BEFORE the
# argmax so float-sum order cannot flip near-ties; per-source
# accuracy reported.
_Q274_ORACLE = """
    WITH tok AS (
      SELECT doc_id, source,
             UNNEST(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ), dw AS MATERIALIZED (
      SELECT doc_id, source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, source, w
    ), ws AS MATERIALIZED (
      SELECT source, w, CAST(SUM(c) AS BIGINT) AS cws
      FROM dw GROUP BY source, w
    ), stot AS MATERIALIZED (
      SELECT source, CAST(SUM(cws) AS BIGINT) AS cs FROM ws GROUP BY source
    ), vocab AS (
      SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM ws
    ), prior AS (
      SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
      FROM dw GROUP BY source
    ), ntot AS (
      SELECT CAST(SUM(nd) AS BIGINT) AS n FROM prior
    ), lik AS MATERIALIZED (
      SELECT s.source, t.w,
             ln((CAST(COALESCE(x.cws, 0) + 1 AS DOUBLE))
                / (s.cs + v.v)) AS logp
      FROM stot s
      CROSS JOIN vocab v
      CROSS JOIN (SELECT DISTINCT w FROM ws) t
      LEFT JOIN ws x ON x.source = s.source AND x.w = t.w
    ), score AS (
      SELECT d.doc_id, d.source AS true_src, l.source AS cand,
             SUM(d.c * l.logp) AS ll
      FROM dw d JOIN lik l ON l.w = d.w
      GROUP BY d.doc_id, d.source, l.source
    ), withprior AS (
      SELECT s.doc_id, s.true_src, s.cand,
             ROUND(s.ll + ln(CAST(p.nd AS DOUBLE) / t.n) + 5e-12, 6)
               AS score
      FROM score s
      JOIN prior p ON p.source = s.cand
      CROSS JOIN ntot t
    ), pred AS (
      SELECT doc_id, true_src, cand, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand) AS rk
      FROM withprior
    )
    SELECT true_src AS source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN cand = true_src THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM pred WHERE rk = 1
    GROUP BY true_src
    ORDER BY source
"""


@register(
    "q274_naive_bayes",
    _Q274_ORACLE,
    doc="Multinomial naive-Bayes source prediction: Laplace "
    "likelihood table (word x source) built once, joined to "
    "doc-word counts, 6dp-rounded scores before the argmax "
    "(float-sum order cannot flip near-ties), per-source "
    "in-sample accuracy counts.  The cheapest useful text "
    "classifier, Spark-shaped.",
)
def q274(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import tokens_sql

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.explode_outer(F.expr(tokens_sql("text"))).alias("w"),
    ).where(F.col("w").isNotNull())
    dw = tok.groupBy("doc_id", "source", "w").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)  # ws, prior, score
    ws = dw.groupBy(F.col("source").alias("lsrc"), "w").agg(
        F.sum("c").alias("cws")
    ).localCheckpoint(eager=False)  # stot, vocab, lik
    stot = ws.groupBy("lsrc").agg(F.sum("cws").alias("cs"))
    vocab = ws.agg(F.count_distinct("w").alias("v"))
    prior = dw.groupBy(F.col("source").alias("psrc")).agg(
        F.count_distinct("doc_id").alias("nd")
    )
    ntot = prior.agg(F.sum("nd").alias("n"))
    words = ws.select("w").distinct().withColumnRenamed("w", "tw")
    lik = (
        stot.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(words))
        .join(
            ws.select(
                F.col("lsrc").alias("xsrc"),
                F.col("w").alias("xw"),
                "cws",
            ),
            (F.col("lsrc") == F.col("xsrc"))
            & (F.col("tw") == F.col("xw")),
            "left",
        )
        .select(
            "lsrc",
            F.col("tw").alias("w"),
            F.log(
                (F.coalesce("cws", F.lit(0)) + 1).cast("double")
                / (F.col("cs") + F.col("v"))
            ).alias("logp"),
        )
    )
    score = (
        dw.join(F.broadcast(lik), "w")
        .groupBy(
            "doc_id",
            F.col("source").alias("true_src"),
            F.col("lsrc").alias("cand"),
        )
        .agg(F.sum(F.col("c") * F.col("logp")).alias("ll"))
    )
    withprior = (
        score.join(
            F.broadcast(prior), F.col("cand") == F.col("psrc")
        )
        .crossJoin(F.broadcast(ntot))
        .select(
            "doc_id",
            "true_src",
            "cand",
            F.round(
                F.col("ll")
                + F.log(F.col("nd").cast("double") / F.col("n"))
                + 5e-12,
                6,
            ).alias("score"),
        )
    )
    pred = withprior.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.col("score").desc(), "cand"
            )
        ),
    ).where(F.col("rk") == 1)
    return (
        pred.groupBy(F.col("true_src").alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("cand") == F.col("true_src"), 1).otherwise(
                    0
                )
            ).alias("n_correct"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q275 — Herfindahl-Hirschman market concentration per nation
# ---------------------------------------------------------------------------
# Supplier revenue shares within each nation, HHI = 10000 * sum of
# squared shares, plus the CR4 top-4 concentration ratio — one
# fact aggregation, windows over the tiny supplier-nation relation.
_Q275_ORACLE = """
    WITH rev AS (
      SELECT s.s_nationkey AS nation, s.s_suppkey AS supp,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS r
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY nation, supp
    ), shares AS (
      SELECT nation, supp,
             r / SUM(r) OVER (PARTITION BY nation) AS sh,
             ROW_NUMBER() OVER (PARTITION BY nation
                                ORDER BY r DESC, supp) AS rk
      FROM rev
    )
    SELECT CAST(nation AS BIGINT) AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(10000.0 * SUM(sh * sh) + 5e-12, 6) AS hhi,
           ROUND(SUM(CASE WHEN rk <= 4 THEN sh ELSE 0 END) + 5e-12, 6)
             AS cr4
    FROM shares GROUP BY nation
    ORDER BY nation
"""


@register(
    "q275_hhi",
    _Q275_ORACLE,
    doc="Herfindahl-Hirschman concentration + CR4 per nation over "
    "supplier revenue shares: one fact aggregation to "
    "(nation, supplier) revenue, share windows on the tiny "
    "dimension relation.  The market-power screen.",
)
def q275(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.join(F.broadcast(s), s.s_suppkey == li.l_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("nation"),
            F.col("s_suppkey").alias("supp"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("r")
        )
    )
    wn = Window.partitionBy("nation")
    shares = rev.select(
        "nation",
        (F.col("r") / F.sum("r").over(wn)).alias("sh"),
        F.row_number()
        .over(wn.orderBy(F.col("r").desc(), "supp"))
        .alias("rk"),
    )
    return (
        shares.groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            r6(10000.0 * F.sum(F.col("sh") * F.col("sh"))).alias("hhi"),
            r6(
                F.sum(
                    F.when(F.col("rk") <= 4, F.col("sh")).otherwise(0.0)
                )
            ).alias("cr4"),
        )
        .select(
            F.col("nation").cast("bigint").alias("nation"),
            "n_suppliers",
            "hhi",
            "cr4",
        )
        .orderBy("nation")
    )
