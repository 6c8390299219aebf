"""Conformance queries: round-7 operator batch #17 (q296+) —
Kneser-Ney smoothed bigram LM, T5-style span-corruption planning,
continuous-knapsack curation, group-sequential interim analysis,
Bloom-filter sizing.

Parity: LM counts, span arithmetic, knapsack prefix sums, and
interim z statistics are exact integers; only final probabilities
and ratios are doubles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q296 — Kneser-Ney smoothed bigram language model
# ---------------------------------------------------------------------------
# Interpolated KN with absolute discount d = 0.75:
# P(w2|w1) = max(c12 - d, 0)/c1 + d * N1+(w1,.)/c1 * Pcont(w2),
# Pcont(w2) = N1+(., w2) / N1+(., .) — the continuation-count idea
# that beats naive backoff.  Every count is an exact integer from
# the bigram relation; top-20 bigrams by KN probability.
_Q296_D = 0.75

_Q296_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS ts
      FROM documents
    ), big AS MATERIALIZED (
      SELECT ts[i] AS w1, ts[i + 1] AS w2
      FROM tok, UNNEST(range(1, len(ts))) AS u(i)
    ), bc AS MATERIALIZED (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM big GROUP BY w1, w2
    ), uni AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS fanout
      FROM bc GROUP BY w1
    ), cont AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_left
      FROM bc GROUP BY w2
    ), ntot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM bc
    ), kn AS (
      SELECT b.w1, b.w2, b.c12, u.c1,
             (GREATEST(CAST(b.c12 AS DOUBLE) - {_Q296_D}, 0.0) / u.c1)
             + {_Q296_D} * u.fanout / u.c1
               * (CAST(co.n_left AS DOUBLE) / t.n_types) AS p_kn,
             CAST(b.c12 AS DOUBLE) / u.c1 AS p_mle
      FROM bc b
      JOIN uni u ON u.w1 = b.w1
      JOIN cont co ON co.w2 = b.w2
      CROSS JOIN ntot t
    )
    SELECT w1, w2, c12,
           {_R6.format(x='p_kn')} AS p_kn,
           {_R6.format(x='p_mle')} AS p_mle
    FROM kn
    ORDER BY p_kn DESC, w1, w2
    LIMIT 20
"""


@register(
    "q296_kneser_ney",
    _Q296_ORACLE,
    doc="Interpolated Kneser-Ney bigram LM (d=0.75): discounted "
    "bigram mass redistributed by continuation counts "
    "N1+(., w2)/N1+(., .) — all exact integers from one bigram "
    "aggregation; top-20 by smoothed probability vs MLE.  The "
    "n-gram smoothing that actually works, as a relational plan.",
)
def q296(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import bigrams, tokens_sql

    docs = _t(spark, sf_dir, "documents")
    big = (
        docs.select(F.expr(tokens_sql("text")).alias("ts"))
        .select(F.explode_outer(bigrams(F.col("ts"))).alias("bg"))
        .where(F.col("bg").isNotNull())
        .select(
            F.split(F.col("bg"), " ")[0].alias("w1"),
            F.split(F.col("bg"), " ")[1].alias("w2"),
        )
    )
    bc = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    ).localCheckpoint(eager=False)  # uni + cont + ntot + kn
    uni = bc.groupBy(F.col("w1").alias("u1")).agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("fanout")
    )
    cont = bc.groupBy(F.col("w2").alias("c2")).agg(
        F.count(F.lit(1)).alias("n_left")
    )
    ntot = bc.agg(F.count(F.lit(1)).alias("n_types"))
    d = _Q296_D
    p_kn = (
        F.greatest(F.col("c12").cast("double") - d, F.lit(0.0))
        / F.col("c1")
    ) + d * F.col("fanout") / F.col("c1") * (
        F.col("n_left").cast("double") / F.col("n_types")
    )
    return (
        bc.join(F.broadcast(uni), F.col("w1") == F.col("u1"))
        .join(F.broadcast(cont), F.col("w2") == F.col("c2"))
        .crossJoin(F.broadcast(ntot))
        .select(
            "w1",
            "w2",
            "c12",
            r6(p_kn).alias("p_kn"),
            r6(F.col("c12").cast("double") / F.col("c1")).alias(
                "p_mle"
            ),
        )
        .orderBy(F.col("p_kn").desc(), "w1", "w2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q297 — T5-style span-corruption plan
# ---------------------------------------------------------------------------
# Deterministic span-masking arithmetic per document: spans of 3
# tokens anchored every 10 tokens -> number of spans, corrupted
# tokens, sentinel tokens, input/target lengths, realized
# corruption rate.  Pure integer arithmetic on token counts —
# the batch-shape planner for denoising pretraining.
_Q297_SPAN = 3
_Q297_STRIDE = 10

_Q297_ORACLE = f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(list_filter(
               regexp_split_to_array(lower(text), '\\s+'),
               x -> x <> '')) AS BIGINT) AS n_tok
      FROM documents
    ), plan AS (
      SELECT doc_id, n_tok,
             CAST(GREATEST((n_tok - {_Q297_SPAN})
                           // {_Q297_STRIDE} + 1, 0) AS BIGINT)
               AS n_spans
      FROM d WHERE n_tok >= {_Q297_SPAN}
    ), shaped AS (
      SELECT doc_id, n_tok, n_spans,
             n_spans * {_Q297_SPAN} AS corrupted,
             n_tok - n_spans * {_Q297_SPAN} + n_spans AS input_len,
             n_spans * {_Q297_SPAN} + n_spans AS target_len
      FROM plan
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_spans) AS BIGINT) AS total_spans,
           CAST(SUM(corrupted) AS BIGINT) AS total_corrupted,
           CAST(SUM(input_len) AS BIGINT) AS total_input_tokens,
           CAST(SUM(target_len) AS BIGINT) AS total_target_tokens,
           {_R6.format(
               x='CAST(SUM(corrupted) AS DOUBLE) / SUM(n_tok)'
           )} AS corruption_rate
    FROM shaped
"""


@register(
    "q297_span_corruption",
    _Q297_ORACLE,
    doc="T5-style span-corruption planning: spans of 3 anchored "
    "every 10 tokens per document, exact integer span/sentinel/"
    "input/target arithmetic, realized corruption rate.  The "
    "batch-shape calculator for denoising pretraining pipelines.",
)
def q297(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import tokens_sql

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        F.size(F.expr(tokens_sql("text"))).cast("bigint").alias("n_tok")
    ).where(F.col("n_tok") >= _Q297_SPAN)
    n_spans = F.greatest(
        F.expr(
            f"CAST((n_tok - {_Q297_SPAN}) DIV {_Q297_STRIDE} AS BIGINT)"
        )
        + 1,
        F.lit(0),
    )
    shaped = d.select(
        "n_tok",
        n_spans.alias("n_spans"),
    ).select(
        "n_tok",
        "n_spans",
        (F.col("n_spans") * _Q297_SPAN).alias("corrupted"),
        (
            F.col("n_tok")
            - F.col("n_spans") * _Q297_SPAN
            + F.col("n_spans")
        ).alias("input_len"),
        (F.col("n_spans") * _Q297_SPAN + F.col("n_spans")).alias(
            "target_len"
        ),
    )
    return shaped.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_spans").alias("total_spans"),
        F.sum("corrupted").alias("total_corrupted"),
        F.sum("input_len").alias("total_input_tokens"),
        F.sum("target_len").alias("total_target_tokens"),
        r6(
            F.sum("corrupted").cast("double") / F.sum("n_tok")
        ).alias("corruption_rate"),
    )


# ---------------------------------------------------------------------------
# Q298 — Continuous-knapsack corpus curation
# ---------------------------------------------------------------------------
# Select documents maximizing distinct-word "information" under a
# 30% token budget: rank by value density, take whole docs while
# the prefix fits, fractional credit for the boundary doc — the
# EXACT continuous-knapsack optimum, all from integer prefix sums.
_Q298_ORACLE = """
    WITH d AS (
      SELECT doc_id,
             CAST(len(list_distinct(list_filter(
               regexp_split_to_array(lower(text), '\\s+'),
               x -> x <> ''))) AS BIGINT) AS val,
             CAST(len(list_filter(
               regexp_split_to_array(lower(text), '\\s+'),
               x -> x <> '')) AS BIGINT) AS cost
      FROM documents
    ), tot AS (
      SELECT CAST(FLOOR(0.3 * SUM(cost)) AS BIGINT) AS budget FROM d
    ), ranked AS (
      SELECT d.doc_id, d.val, d.cost, t.budget,
             CAST(d.val AS DOUBLE) / d.cost AS density,
             SUM(d.cost) OVER (ORDER BY CAST(d.val AS DOUBLE) / d.cost
                                        DESC, d.doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_cost,
             SUM(d.val) OVER (ORDER BY CAST(d.val AS DOUBLE) / d.cost
                                       DESC, d.doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_val
      FROM d CROSS JOIN tot t
    ), taken AS (
      SELECT *,
             CASE WHEN cum_cost <= budget THEN 'full'
                  WHEN cum_cost - cost < budget THEN 'fractional'
                  ELSE 'excluded' END AS status
      FROM ranked
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(cost) AS BIGINT) AS tokens,
           CAST(SUM(val) AS BIGINT) AS value,
           {DENS} AS mean_density
    FROM taken
    GROUP BY status
    ORDER BY status
""".replace(
    "{DENS}", R6_SQL.format(x="AVG(density)")
)


@register(
    "q298_knapsack_curation",
    _Q298_ORACLE,
    doc="Continuous-knapsack curation to a 30% token budget: "
    "value = distinct words, cost = tokens, density-ranked prefix "
    "sums decide full/fractional/excluded status — the exact LP "
    "optimum of budgeted selection, one window pass.  Reports the "
    "value captured per tier.",
)
def q298(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import tokens_sql

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.array_distinct(F.expr(tokens_sql("text"))))
        .cast("bigint")
        .alias("val"),
        F.size(F.expr(tokens_sql("text"))).cast("bigint").alias("cost"),
    )
    tot = d.agg(
        F.floor(0.3 * F.sum("cost")).cast("bigint").alias("budget")
    )
    density = F.col("val").cast("double") / F.col("cost")
    w = Window.orderBy(
        (F.col("val").cast("double") / F.col("cost")).desc(), "doc_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    ranked = d.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "val",
        "cost",
        "budget",
        density.alias("density"),
        F.sum("cost").over(w).alias("cum_cost"),
        F.sum("val").over(w).alias("cum_val"),
    )
    status = (
        F.when(F.col("cum_cost") <= F.col("budget"), "full")
        .when(
            F.col("cum_cost") - F.col("cost") < F.col("budget"),
            "fractional",
        )
        .otherwise("excluded")
    )
    return (
        ranked.select("*", status.alias("status"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("cost").alias("tokens"),
            F.sum("val").alias("value"),
            r6(F.avg("density")).alias("mean_density"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Q299 — Group-sequential interim analysis (O'Brien-Fleming)
# ---------------------------------------------------------------------------
# Replay 4 interim looks (weeks 1-4) of the variant conversion
# test: cumulative two-proportion z at each look vs the
# O'Brien-Fleming spending boundary ~ 2.024 * sqrt(4/k).  Interim
# counts are exact integers; the would-we-have-stopped audit.
_Q299_C = 2.024

_Q299_Z = (
    "(CAST(k1 AS DOUBLE) / n1 - CAST(k0 AS DOUBLE) / n0)"
    " / SQRT(pb * (1.0 - pb) * (1.0 / n0 + 1.0 / n1))"
)

_Q299_ORACLE = f"""
    WITH looks AS (
      SELECT UNNEST([7, 14, 21, 28]) AS cutoff
    ), agg AS (
      SELECT lk.cutoff,
             CAST(COUNT(CASE WHEN e.user_id % 2 = 0 THEN 1 END)
                  AS BIGINT) AS n0,
             CAST(COUNT(CASE WHEN e.user_id % 2 = 1 THEN 1 END)
                  AS BIGINT) AS n1,
             CAST(COUNT(CASE WHEN e.user_id % 2 = 0
                              AND e.event_type = 'purchase'
                             THEN 1 END) AS BIGINT) AS k0,
             CAST(COUNT(CASE WHEN e.user_id % 2 = 1
                              AND e.event_type = 'purchase'
                             THEN 1 END) AS BIGINT) AS k1
      FROM events e CROSS JOIN looks lk
      WHERE CAST(e.ts AS DATE) < DATE '2024-01-01' + to_days(lk.cutoff)
      GROUP BY lk.cutoff
    ), z AS (
      SELECT cutoff, n0, n1, k0, k1,
             CAST(k0 + k1 AS DOUBLE) / (n0 + n1) AS pb
      FROM agg
    ), stat AS (
      SELECT cutoff, n0 + n1 AS n_obs,
             {_Q299_Z} AS z_stat,
             {_Q299_C} * SQRT(4.0 / (cutoff / 7)) AS boundary
      FROM z
    )
    SELECT CAST(cutoff AS BIGINT) AS cutoff_day,
           CAST(n_obs AS BIGINT) AS n_obs,
           {_R6.format(x='z_stat')} AS z_stat,
           {_R6.format(x='boundary')} AS obf_boundary,
           ABS(z_stat) > boundary AS would_stop
    FROM stat ORDER BY cutoff_day
"""


@register(
    "q299_group_sequential",
    _Q299_ORACLE,
    doc="Group-sequential replay: cumulative two-proportion z at 4 "
    "weekly interim looks vs the O'Brien-Fleming boundary "
    "2.024*sqrt(K/k) — integer interim counts, shared constants.  "
    "The would-we-have-stopped-early experiment audit.",
)
def q299(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    looks = ev.sparkSession.range(1, 5).select(
        (F.col("id") * 7).alias("cutoff")
    )
    v0 = F.col("user_id") % 2 == 0
    purch = F.col("event_type") == "purchase"
    agg = (
        ev.crossJoin(F.broadcast(looks))
        .where(
            F.to_date("ts")
            < F.date_add(F.lit("2024-01-01").cast("date"), F.col("cutoff").cast("int"))
        )
        .groupBy("cutoff")
        .agg(
            F.count(F.when(v0, 1)).alias("n0"),
            F.count(F.when(~v0, 1)).alias("n1"),
            F.count(F.when(v0 & purch, 1)).alias("k0"),
            F.count(F.when(~v0 & purch, 1)).alias("k1"),
        )
    )
    pb = (F.col("k0") + F.col("k1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    z = (
        F.col("k1").cast("double") / F.col("n1")
        - F.col("k0").cast("double") / F.col("n0")
    ) / F.sqrt(
        F.col("pb")
        * (1.0 - F.col("pb"))
        * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    )
    # match the oracle's operand order exactly (k1/n1 - k0/n0 is the
    # z numerator; the oracle writes k1 first too)
    stat = agg.withColumn("pb", pb).select(
        "cutoff",
        (F.col("n0") + F.col("n1")).alias("n_obs"),
        z.alias("z_stat"),
        (
            _Q299_C * F.sqrt(4.0 / (F.col("cutoff") / 7))
        ).alias("boundary"),
    )
    return stat.select(
        F.col("cutoff").cast("bigint").alias("cutoff_day"),
        F.col("n_obs").cast("bigint").alias("n_obs"),
        r6(F.col("z_stat")).alias("z_stat"),
        r6(F.col("boundary")).alias("obf_boundary"),
        (F.abs(F.col("z_stat")) > F.col("boundary")).alias(
            "would_stop"
        ),
    ).orderBy("cutoff_day")


# ---------------------------------------------------------------------------
# Q300 — Bloom-filter sizing planner
# ---------------------------------------------------------------------------
# Closed-form Bloom parameters for deduplicating each table's join
# key at target FPRs {1%, 0.1%}: m = -n ln p / (ln 2)^2 bits,
# k = (m/n) ln 2 hashes — from exact distinct counts.  The sizing
# table an engine needs before building runtime filters (q194).
_Q300_LN2 = 0.6931471805599453

_Q300_KIB = (
    f"(-ln(CAST(p AS DOUBLE)) / ({_Q300_LN2} * {_Q300_LN2}))"
    f" / 8192.0 * n / 128.0"
)

_Q300_ORACLE = f"""
    WITH ns AS (
      SELECT 'orders.o_custkey' AS keyname,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n
      FROM orders
      UNION ALL
      SELECT 'lineitem.l_partkey',
             CAST(COUNT(DISTINCT l_partkey) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'documents.doc_id',
             CAST(COUNT(DISTINCT doc_id) AS BIGINT)
      FROM documents
    ), grid AS (
      SELECT ns.keyname, ns.n, p.p
      FROM ns, (SELECT UNNEST([0.01, 0.001]) AS p) p
    )
    SELECT keyname, n, CAST(p AS DOUBLE) AS target_fpr,
           CAST(CEIL(-n * ln(CAST(p AS DOUBLE))
                     / ({_Q300_LN2} * {_Q300_LN2})) AS BIGINT)
             AS m_bits,
           CAST(CEIL((-n * ln(CAST(p AS DOUBLE))
                      / ({_Q300_LN2} * {_Q300_LN2}))
                     / n * {_Q300_LN2}) AS BIGINT) AS k_hashes,
           {_R6.format(x=_Q300_KIB)} AS kib_per_128
    FROM grid
    ORDER BY keyname, target_fpr
"""


@register(
    "q300_bloom_planner",
    _Q300_ORACLE,
    doc="Bloom-filter sizing: m = -n ln p/(ln 2)^2 bits and "
    "k = (m/n) ln 2 hashes for three join keys at 1% and 0.1% "
    "target FPR, from exact distinct counts.  The planning table "
    "behind runtime-filter joins like q194.",
)
def q300(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    docs = _t(spark, sf_dir, "documents")
    ns = (
        o.agg(
            F.lit("orders.o_custkey").alias("keyname"),
            F.count_distinct("o_custkey").alias("n"),
        )
        .unionAll(
            li.agg(
                F.lit("lineitem.l_partkey").alias("keyname"),
                F.count_distinct("l_partkey").alias("n"),
            )
        )
        .unionAll(
            docs.agg(
                F.lit("documents.doc_id").alias("keyname"),
                F.count_distinct("doc_id").alias("n"),
            )
        )
    )
    ps = ns.sparkSession.range(0, 2).select(
        F.element_at(
            F.array(F.lit(0.01), F.lit(0.001)), F.col("id").cast("int") + 1
        ).alias("p")
    )
    ln2 = _Q300_LN2
    bits_per_key = -F.log(F.col("p")) / (ln2 * ln2)
    m_bits = F.ceil(-F.col("n") * F.log(F.col("p")) / (ln2 * ln2))
    k_hashes = F.ceil(
        (-F.col("n") * F.log(F.col("p")) / (ln2 * ln2))
        / F.col("n")
        * ln2
    )
    return (
        ns.crossJoin(F.broadcast(ps))
        .select(
            "keyname",
            "n",
            F.col("p").cast("double").alias("target_fpr"),
            m_bits.cast("bigint").alias("m_bits"),
            k_hashes.cast("bigint").alias("k_hashes"),
            r6(bits_per_key / 8192.0 * F.col("n") / 128.0).alias(
                "kib_per_128"
            ),
        )
        .orderBy("keyname", "target_fpr")
    )
