"""Conformance queries batch #42 (q404+) — temporal contact tracing,
independent-cascade influence spread, SaaS revenue waterfall,
campaign lift/gains table, and B-cubed evaluation of the dedup
clustering against planted truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, r6, register
from model_presto_spark.plans.queries_docs import DD_TOKENS

_TOK = DD_TOKENS.format(t="text")


# ---------------------------------------------------------------------------
# Q404 — temporal contact tracing (time-respecting 2-hop)
# ---------------------------------------------------------------------------
# Contacts = co-presence in the same (16x16 md5 grid cell, 1-hour
# window); exposure spreads only FORWARD in time: hop-2 contacts
# must occur at or after their infector's first exposure.  The
# time-respecting-path constraint is what separates epidemic/
# information spread from plain reachability (q101).
_Q404_ORACLE = """
    WITH pts AS (
      SELECT user_id,
             (CAST(('0x' || substr(md5('lat#' || CAST(event_id AS VARCHAR)),
                    1, 15)) AS BIGINT) % 16) AS cx,
             (CAST(('0x' || substr(md5('lon#' || CAST(event_id AS VARCHAR)),
                    1, 15)) AS BIGINT) % 16) AS cy,
             CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS tw
      FROM events
    ), pres AS (SELECT DISTINCT user_id, cx, cy, tw FROM pts),
    contact AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v, a.tw
      FROM pres a JOIN pres b
        ON a.cx = b.cx AND a.cy = b.cy AND a.tw = b.tw
       AND a.user_id <> b.user_id
    ), hop1 AS (
      SELECT v AS user_id, MIN(tw) AS t1
      FROM contact WHERE u IN (0, 1) GROUP BY v
    ), hop2 AS (
      SELECT DISTINCT c.v AS user_id
      FROM contact c JOIN hop1 h ON h.user_id = c.u AND c.tw >= h.t1
    )
    SELECT CAST((SELECT COUNT(*) FROM hop1) AS BIGINT) AS n_hop1,
           CAST((SELECT COUNT(*) FROM hop2
                 WHERE user_id NOT IN (SELECT user_id FROM hop1)
                   AND user_id NOT IN (0, 1)) AS BIGINT) AS n_hop2_new
"""


@register(
    "q404_contact_tracing",
    _Q404_ORACLE,
    doc="Time-respecting contact tracing from two seed users: "
    "co-presence contacts via a (cell, hour) self-join (the q163 "
    "spatial-bucket shape + a time key), hop-2 exposure only at or "
    "after the infector's first exposure time — the forward-in-"
    "time path constraint plain reachability ignores.",
)
def q404(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import h60_sql

    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    pts = ev.select(
        "user_id",
        (F.expr(h60_sql("concat('lat#', CAST(event_id AS STRING))")) % 16)
        .alias("cx"),
        (F.expr(h60_sql("concat('lon#', CAST(event_id AS STRING))")) % 16)
        .alias("cy"),
        F.floor(us / 3600000000.0).cast("bigint").alias("tw"),
    )
    # lineage cut: presence feeds both contact sides; contact feeds
    # hop-1 and hop-2 (plan audit: 16 scans un-materialized)
    pres = pts.distinct().localCheckpoint(eager=False)
    a = pres.select(
        F.col("user_id").alias("u"),
        F.col("cx").alias("ax"),
        F.col("cy").alias("ay"),
        F.col("tw").alias("atw"),
    )
    b = pres.select(
        F.col("user_id").alias("v"),
        F.col("cx").alias("bx"),
        F.col("cy").alias("by"),
        F.col("tw").alias("btw"),
    )
    contact = (
        a.join(
            b,
            (F.col("ax") == F.col("bx"))
            & (F.col("ay") == F.col("by"))
            & (F.col("atw") == F.col("btw"))
            & (F.col("u") != F.col("v")),
        )
        .select("u", "v", F.col("atw").alias("tw"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hop1 = (
        contact.filter(F.col("u").isin(0, 1))
        .groupBy(F.col("v").alias("h_user"))
        .agg(F.min("tw").alias("t1"))
        .localCheckpoint(eager=False)
    )
    hop2 = (
        contact.join(
            F.broadcast(hop1),
            (F.col("u") == F.col("h_user")) & (F.col("tw") >= F.col("t1")),
        )
        .select(F.col("v").alias("user_id"))
        .distinct()
    )
    n1 = hop1.agg(F.count(F.lit(1)).alias("n_hop1"))
    h2_new = (
        hop2.join(
            hop1.select(F.col("h_user").alias("user_id")), "user_id", "left_anti"
        )
        .filter(~F.col("user_id").isin(0, 1))
        .agg(F.count(F.lit(1)).alias("n_hop2_new"))
    )
    return n1.crossJoin(h2_new)


# ---------------------------------------------------------------------------
# Q405 — independent-cascade influence spread (seeded coins)
# ---------------------------------------------------------------------------
# Kempe et al.'s IC model, two unrolled rounds: each newly-active
# node gets ONE md5-coin chance (p=0.3) per out-edge per round —
# the seeded-randomness discipline (q162/q351/q360) applied to
# diffusion, so both engines flip identical coins and activate
# identical sets.
_Q405_P = 0.3
_Q405_MOD = 200

_Q405_ORACLE = f"""
    WITH e AS (
      SELECT DISTINCT CAST(o_custkey % {_Q405_MOD} AS BIGINT) AS u,
                      CAST(o_orderkey % {_Q405_MOD} AS BIGINT) AS v
      FROM orders WHERE o_custkey % {_Q405_MOD} <> o_orderkey % {_Q405_MOD}
    ), seeds(node) AS (SELECT CAST(unnest([0, 7]) AS BIGINT)),
    r1 AS (
      SELECT DISTINCT e.v AS node
      FROM e JOIN seeds s ON s.node = e.u
      WHERE (CAST(('0x' || substr(md5('ic1#' || CAST(e.u AS VARCHAR) || '>'
               || CAST(e.v AS VARCHAR)), 1, 15)) AS BIGINT)
             / 1152921504606846976.0) < {_Q405_P}
        AND e.v NOT IN (SELECT node FROM seeds)
    ), r2 AS (
      SELECT DISTINCT e.v AS node
      FROM e JOIN r1 ON r1.node = e.u
      WHERE (CAST(('0x' || substr(md5('ic2#' || CAST(e.u AS VARCHAR) || '>'
               || CAST(e.v AS VARCHAR)), 1, 15)) AS BIGINT)
             / 1152921504606846976.0) < {_Q405_P}
        AND e.v NOT IN (SELECT node FROM seeds)
        AND e.v NOT IN (SELECT node FROM r1)
    )
    SELECT CAST((SELECT COUNT(*) FROM seeds) AS BIGINT) AS n_seeds,
           CAST((SELECT COUNT(*) FROM r1) AS BIGINT) AS n_round1,
           CAST((SELECT COUNT(*) FROM r2) AS BIGINT) AS n_round2
"""


@register(
    "q405_influence_cascade",
    _Q405_ORACLE,
    doc=f"Independent-cascade diffusion (p={_Q405_P}, 2 unrolled "
    "rounds) from 2 seeds: per-(edge, round) md5 coins — "
    "deterministic, engine-identical randomness — newly-active "
    "frontier joins the edge list each round with anti-joins "
    "against prior activations.  The influence-maximization "
    "primitive on the CC/BFS iterative shape.",
)
def q405(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import h60_sql

    o = _t(spark, sf_dir, "orders")
    e = (
        o.select(
            (F.col("o_custkey") % _Q405_MOD).cast("bigint").alias("u"),
            (F.col("o_orderkey") % _Q405_MOD).cast("bigint").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    seeds = spark.createDataFrame([(0,), (7,)], "node bigint")

    def coin(tag: str) -> F.Column:
        return (
            F.expr(
                h60_sql(f"concat('{tag}', CAST(u AS STRING), '>', CAST(v AS STRING))")
            )
            / F.lit(1152921504606846976.0)
        ) < _Q405_P

    r1 = (
        e.join(F.broadcast(seeds), e.u == F.col("node"))
        .filter(coin("ic1#"))
        .select(F.col("v").alias("node"))
        .distinct()
        .join(F.broadcast(seeds), "node", "left_anti")
    )
    r2 = (
        e.join(F.broadcast(r1.withColumnRenamed("node", "u")), "u")
        .filter(coin("ic2#"))
        .select(F.col("v").alias("node"))
        .distinct()
        .join(F.broadcast(seeds), "node", "left_anti")
        .join(F.broadcast(r1), "node", "left_anti")
    )
    return (
        seeds.agg(F.count(F.lit(1)).alias("n_seeds"))
        .crossJoin(r1.agg(F.count(F.lit(1)).alias("n_round1")))
        .crossJoin(r2.agg(F.count(F.lit(1)).alias("n_round2")))
    )


# ---------------------------------------------------------------------------
# Q406 — SaaS revenue waterfall (new/expansion/contraction/churned)
# ---------------------------------------------------------------------------
# The MRR bridge: per-user purchase revenue on day 3 vs day 27,
# each user classified into the standard four components, component
# deltas summing exactly to the total change.  One conditional
# aggregation per user + a 4-row rollup — the customer-level twin
# of q330's price/volume bridge.
_Q406_ORACLE = """
    WITH ru AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN EXTRACT(day FROM ts) = 3
                           THEN ROUND(value*100) ELSE 0 END) AS BIGINT) AS r1,
             CAST(SUM(CASE WHEN EXTRACT(day FROM ts) = 27
                           THEN ROUND(value*100) ELSE 0 END) AS BIGINT) AS r2
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ), cls AS (
      SELECT CASE WHEN r1 = 0 AND r2 > 0 THEN 'new'
                  WHEN r1 > 0 AND r2 = 0 THEN 'churned'
                  WHEN r2 > r1 THEN 'expansion'
                  WHEN r2 < r1 THEN 'contraction'
                  ELSE 'flat' END AS component,
             r2 - r1 AS delta_c
      FROM ru WHERE r1 > 0 OR r2 > 0
    )
    SELECT component, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(delta_c) AS BIGINT) AS delta_c
    FROM cls GROUP BY component ORDER BY component
"""


@register(
    "q406_revenue_waterfall",
    _Q406_ORACLE,
    doc="Revenue waterfall between two snapshots: per-user cents "
    "classified new/churned/expansion/contraction, component "
    "deltas summing exactly to the total change (cents-exact) — "
    "the customer-level MRR bridge beside q330's price/volume "
    "decomposition.",
)
def q406(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ru = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.dayofmonth("ts") == 3, F.round(F.col("value") * 100))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("r1"),
            F.sum(
                F.when(F.dayofmonth("ts") == 27, F.round(F.col("value") * 100))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("r2"),
        )
    )
    component = (
        F.when((F.col("r1") == 0) & (F.col("r2") > 0), "new")
        .when((F.col("r1") > 0) & (F.col("r2") == 0), "churned")
        .when(F.col("r2") > F.col("r1"), "expansion")
        .when(F.col("r2") < F.col("r1"), "contraction")
        .otherwise("flat")
    )
    return (
        ru.filter((F.col("r1") > 0) | (F.col("r2") > 0))
        .groupBy(component.alias("component"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.col("r2") - F.col("r1")).cast("bigint").alias("delta_c"),
        )
        .orderBy("component")
    )


# ---------------------------------------------------------------------------
# Q407 — lift / gains table
# ---------------------------------------------------------------------------
# Deciles of the score (value, id tiebreak), response rate per
# decile, cumulative response capture and lift — the campaign-
# targeting readout (gains chart) beside calibration (q92) and
# AUC (q75): same score, different operational question (whom to
# contact first).
_Q407_ORACLE = """
    WITH scored AS (
      SELECT NTILE(10) OVER (ORDER BY value DESC, event_id) AS decile,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), per AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS responders
      FROM scored GROUP BY decile
    ), cum AS (
      SELECT decile, n, responders,
             SUM(responders) OVER (ORDER BY decile
               ROWS UNBOUNDED PRECEDING) AS cum_resp,
             SUM(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_n,
             SUM(responders) OVER () AS tot_resp, SUM(n) OVER () AS tot_n
      FROM per
    )
    SELECT decile, n, responders,
           ROUND(responders * 1.0 / n + 5e-12, 6) AS response_rate,
           ROUND(cum_resp * 1.0 / tot_resp + 5e-12, 6) AS cum_capture,
           ROUND((cum_resp * 1.0 / cum_n) / (tot_resp * 1.0 / tot_n)
                 + 5e-12, 6) AS cum_lift
    FROM cum ORDER BY decile
"""


@register(
    "q407_lift_table",
    _Q407_ORACLE,
    doc="Gains/lift table: score deciles (deterministic ntile on "
    "(value desc, id)), per-decile response rate, cumulative "
    "capture and lift vs the base rate — the campaign-targeting "
    "readout completing the score-evaluation family (AUC q75, "
    "calibration q92, AP q352).",
)
def q407(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.orderBy(F.col("value").desc(), "event_id")
    scored = ev.select(
        F.ntile(10).over(w).alias("decile"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    per = scored.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").cast("bigint").alias("responders")
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = per.select(
        "decile",
        "n",
        "responders",
        F.sum("responders").over(wc).alias("cum_resp"),
        F.sum("n").over(wc).alias("cum_n"),
        F.sum("responders").over(wall).alias("tot_resp"),
        F.sum("n").over(wall).alias("tot_n"),
    )
    return cum.select(
        "decile",
        "n",
        "responders",
        r6(F.col("responders") * 1.0 / F.col("n")).alias("response_rate"),
        r6(F.col("cum_resp") * 1.0 / F.col("tot_resp")).alias("cum_capture"),
        r6(
            (F.col("cum_resp") * 1.0 / F.col("cum_n"))
            / (F.col("tot_resp") * 1.0 / F.col("tot_n"))
        ).alias("cum_lift"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# Q408 — B-cubed evaluation of dedup clustering vs planted truth
# ---------------------------------------------------------------------------
# The dedup stack's OWN quality metric: a corpus with planted
# duplicate families (every doc < 100 gets two in-plan copies; one
# in ten of the second copies is replaced by a SHARED boilerplate
# template that forges cross-family merges), clustered by the
# 12-token prefix fingerprint, scored with B-cubed precision/
# recall/F1 — all three computable from the (cluster, family)
# contingency alone: P = sum n_ct^2/n_c / N, R = sum n_ct^2/n_t / N.
_Q408_ORACLE = f"""
    WITH corpus AS (
      SELECT doc_id AS family, CAST(doc_id AS VARCHAR) || '#orig' AS item,
             text FROM documents WHERE doc_id < 100
      UNION ALL
      SELECT doc_id, CAST(doc_id AS VARCHAR) || '#copy1',
             text || ' extra tail one' FROM documents WHERE doc_id < 100
      UNION ALL
      SELECT doc_id, CAST(doc_id AS VARCHAR) || '#copy2',
             CASE WHEN doc_id % 10 = 0
                  THEN 'shared boilerplate template row variant '
                       || CAST(doc_id % 3 AS VARCHAR)
                  ELSE text || ' extra tail two' END
      FROM documents WHERE doc_id < 100
    ), clustered AS (
      SELECT family,
             CAST(('0x' || substr(md5(array_to_string(
               list_slice({_TOK}, 1, 12), ' ')), 1, 15)) AS BIGINT) AS cluster
      FROM corpus
    ), cont AS (
      SELECT cluster, family, CAST(COUNT(*) AS BIGINT) AS n_ct
      FROM clustered GROUP BY 1, 2
    ), cs AS (SELECT cluster, SUM(n_ct) AS n_c FROM cont GROUP BY 1),
    fs AS (SELECT family, SUM(n_ct) AS n_t FROM cont GROUP BY 1),
    tot AS (SELECT SUM(n_ct) AS n FROM cont)
    SELECT ROUND(SUM(c.n_ct * c.n_ct * 1.0 / s.n_c) / MAX(t.n) + 5e-12, 6)
             AS b3_precision,
           ROUND(SUM(c.n_ct * c.n_ct * 1.0 / f.n_t) / MAX(t.n) + 5e-12, 6)
             AS b3_recall
    FROM cont c JOIN cs s ON s.cluster = c.cluster
    JOIN fs f ON f.family = c.family CROSS JOIN tot t
"""


@register(
    "q408_bcubed_eval",
    _Q408_ORACLE,
    doc="B-cubed precision/recall of the prefix-fingerprint dedup "
    "clustering against planted duplicate families (with forged "
    "cross-family boilerplate merges so precision < 1): both "
    "metrics fall out of the (cluster, family) contingency counts "
    "— no per-item pair enumeration.  The evaluation loop for the "
    "dedup stack itself (sibling of q366's linkage eval).",
)
def q408(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    orig = docs.select(F.col("doc_id").alias("family"), F.col("text"))
    copy1 = docs.select(
        F.col("doc_id").alias("family"),
        F.concat(F.col("text"), F.lit(" extra tail one")).alias("text"),
    )
    copy2 = docs.select(
        F.col("doc_id").alias("family"),
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.lit("shared boilerplate template row variant "),
                (F.col("doc_id") % 3).cast("string"),
            ),
        )
        .otherwise(F.concat(F.col("text"), F.lit(" extra tail two")))
        .alias("text"),
    )
    corpus = orig.unionByName(copy1).unionByName(copy2)
    clustered = corpus.select(
        "family",
        F.expr(
            T.h60_sql(f"array_join(slice({T.tokens_sql('text')}, 1, 12), ' ')")
        ).alias("cluster"),
    )
    cont = clustered.groupBy("cluster", "family").agg(
        F.count(F.lit(1)).alias("n_ct")
        # lineage cut: contingency feeds cluster/family/total rollups +
        # the final join (plan audit: 24 scans un-materialized)
    ).localCheckpoint(eager=False)
    cs = cont.groupBy(F.col("cluster").alias("c_cl")).agg(
        F.sum("n_ct").alias("n_c")
    )
    fs = cont.groupBy(F.col("family").alias("f_fam")).agg(
        F.sum("n_ct").alias("n_t")
    )
    tot = cont.agg(F.sum("n_ct").alias("n"))
    return (
        cont.join(F.broadcast(cs), F.col("cluster") == F.col("c_cl"))
        .join(F.broadcast(fs), F.col("family") == F.col("f_fam"))
        .crossJoin(F.broadcast(tot))
        .agg(
            r6(
                F.sum(F.col("n_ct") * F.col("n_ct") * 1.0 / F.col("n_c"))
                / F.max("n")
            ).alias("b3_precision"),
            r6(
                F.sum(F.col("n_ct") * F.col("n_ct") * 1.0 / F.col("n_t"))
                / F.max("n")
            ).alias("b3_recall"),
        )
    )
