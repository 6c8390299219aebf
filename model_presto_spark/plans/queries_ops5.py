"""Conformance queries: scale-pattern operators #5 (q194+).

Three join/summary patterns a 100 TB deployment leans on daily:
Bloom-prefiltered joins (shuffle only the matching fraction),
count-min frequency sketches (constant-size mergeable counts), and
CIDR longest-prefix-match routing as a bounded-fan-out equi-join.
Oracle conventions as everywhere: identical column aliases, floats
rounded, deterministic orderings on unique keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, register

# ---------------------------------------------------------------------------
# Q194 — Bloom-prefiltered join (lossless): urgent-order revenue by month
# ---------------------------------------------------------------------------
# The Spark side routes lineitem through operators/bloom.py: the
# bitset is built from the filtered orders side (one bounded
# aggregation), embedded as a plan literal, and applied as a pure
# whole-stage-codegen predicate BEFORE lineitem's shuffle — at scale
# that prefilter is the difference between shuffling every lineitem
# row and shuffling the ~20% that can match. The result is provably
# identical to the plain join (no false negatives; false positives
# die in the real join), which is exactly what the oracle states.
_Q194_ORACLE = """
    SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m-01')
             AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)) + 5e-12, 4)
             AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY 1
    ORDER BY 1
"""


@register(
    "q194_bloom_join",
    _Q194_ORACLE,
    doc="Bloom-prefiltered equi-join (operators/bloom.py): revenue of "
    "lineitems belonging to 1-URGENT orders, by order month. The "
    "2^16-bit / 3-hash bitset built from the filtered orders keys "
    "drops non-matching lineitems inside codegen before any shuffle; "
    "the subsequent real join guarantees the result equals the plain "
    "join the oracle states. Lossless by construction.",
)
def q194(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.bloom import bloom_prefilter_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_extendedprice",
        "l_discount",
    )
    urgent = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderdate")
    )
    joined = bloom_prefilter_join(
        li, urgent, on="o_orderkey", num_bits=1 << 16, num_hashes=3
    )
    return (
        joined.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-01")
            .alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                + F.lit(5e-12),
                4,
            ).alias("revenue"),
        )
        .orderBy("order_month")
    )


# ---------------------------------------------------------------------------
# Q195 — count-min sketch error contract: heavy-hitter users (events)
# ---------------------------------------------------------------------------
# Sketch estimates are engine-specific, so (like q72's HLL/KLL
# contracts) the oracle adjudicates the documented guarantee instead:
# never undercounts, and overcounts by at most 4*N/width for every
# probed heavy hitter (Markov bound per row, min over depth=4 rows;
# asserted empirically at sf0.01 AND sf0.1). Exact counts keep the
# query a real correctness check.
_Q195_ORACLE = """
    WITH exact AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM events GROUP BY user_id
    ), top AS (
      SELECT user_id, exact_cnt,
             ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, user_id) AS rk
      FROM exact
    )
    SELECT user_id, exact_cnt, TRUE AS lower_ok, TRUE AS upper_ok
    FROM top WHERE rk <= 20
    ORDER BY user_id
"""

_Q195_DEPTH = 4
_Q195_WIDTH = 2048


@register(
    "q195_cms_heavy_hitters",
    _Q195_ORACLE,
    doc="Count-min sketch (operators/cms.py, depth 4 x width 2048) "
    "over the event stream, probed at the exact top-20 users. The "
    "sketch is one bounded map-side-combined aggregation (<= 8192 "
    "cells shuffled regardless of data size) and merges by cell-wise "
    "sum across shards. Contract columns assert the CMS guarantee: "
    "est >= exact always, est <= exact + 4N/width for the probes.",
)
def q195(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.cms import cms_build, cms_estimate

    ev = _t(spark, sf_dir, "events").select("user_id")
    sketch = cms_build(
        ev, "user_id", depth=_Q195_DEPTH, width=_Q195_WIDTH
    ).localCheckpoint(eager=False)

    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    from pyspark.sql import Window

    top = (
        exact.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("exact_cnt").desc(), F.col("user_id"))
            ),
        )
        .where(F.col("rk") <= 20)
        .drop("rk")
    )
    est = cms_estimate(
        top, sketch, "user_id", depth=_Q195_DEPTH, width=_Q195_WIDTH
    )
    # total stream size from the sketch itself (row j=0 sums to N)
    total = sketch.where(F.col("j") == 0).agg(
        F.sum("cnt").alias("__n")
    )
    margin = 4.0 / _Q195_WIDTH
    return (
        est.crossJoin(F.broadcast(total))
        .select(
            "user_id",
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            (F.col("cms_est") >= F.col("exact_cnt")).alias("lower_ok"),
            (
                F.col("cms_est")
                <= F.col("exact_cnt") + F.col("__n") * F.lit(margin)
            ).alias("upper_ok"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Q196 — CIDR longest-prefix-match routing (operators/net.py)
# ---------------------------------------------------------------------------
# Each user gets a deterministic synthetic IPv4 (md5-derived, the
# h60 convention both engines replay bit-for-bit). The block table
# mixes prefix lengths 2..20 with nested blocks so longest-prefix
# actually decides; the Spark plan expands each probe into one key
# per DISTINCT prefix length (x5, bounded) and equi-joins — never a
# range/cross join. The oracle states the naive range semantics.
_Q196_BLOCKS = [
    # (label, plen, prefix)  — prefix = ip >> (32 - plen)
    ("wide-a", 2, 0),
    ("wide-b", 2, 2),
    ("mid-a", 4, 1),
    ("mid-b", 5, 21),
    ("narrow-a", 8, 37),
    ("narrow-b", 12, 1234),
    ("tiny", 20, 777777),
]

_Q196_VALUES = ", ".join(
    f"('{lb}', {pl}, {pf})" for (lb, pl, pf) in _Q196_BLOCKS
)

_Q196_ORACLE = f"""
    WITH ips AS (
      SELECT event_id, user_id,
             CAST(('0x' || substr(md5('ip#' || CAST(user_id AS VARCHAR)),
                   1, 15)) AS BIGINT) % 4294967296 AS ip
      FROM events
    ), blocks AS (
      SELECT * FROM (VALUES {_Q196_VALUES}) AS t(label, plen, prefix)
    ), hits AS (
      SELECT i.event_id, i.user_id, b.label, b.plen,
             ROW_NUMBER() OVER (PARTITION BY i.event_id
                                ORDER BY b.plen DESC) AS rk
      FROM ips i JOIN blocks b ON (i.ip >> (32 - b.plen)) = b.prefix
    )
    SELECT COALESCE(h.label, 'unrouted') AS label,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT i.user_id) AS BIGINT) AS n_users
    FROM ips i LEFT JOIN hits h
      ON h.event_id = i.event_id AND h.rk = 1
    GROUP BY 1
    ORDER BY 1
"""


@register(
    "q196_cidr_routing",
    _Q196_ORACLE,
    doc="CIDR longest-prefix-match enrichment: events routed to a "
    "7-block table (nested prefixes, lengths 2-20) via "
    "operators/net.lpm_join — bounded x5 prefix expansion + "
    "broadcast equi-join + one max_by, replacing the O(n*m) "
    "range-join plan the oracle states. Per-block event and "
    "distinct-user counts, unrouted kept.",
)
def q196(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import h60_sql
    from model_presto_spark.operators.net import lpm_join

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.pmod(
            F.expr(h60_sql("concat('ip#', CAST(user_id AS STRING))")),
            F.lit(4294967296),
        ).alias("ip"),
    )
    blocks = spark.createDataFrame(
        _Q196_BLOCKS, schema="label string, plen int, prefix long"
    )
    routed = lpm_join(
        ev,
        blocks,
        ip_col="ip",
        id_cols=["event_id", "user_id"],
        label_cols=["label"],
    )
    return (
        routed.groupBy(
            F.coalesce(F.col("label"), F.lit("unrouted")).alias("label")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Q197 — CDC apply / MERGE semantics (operators/cdc.py)
# ---------------------------------------------------------------------------
# A change batch with competing ops per key: updates keyed by
# o_orderkey sequence (latest order wins), deletes that either beat
# (seq 10^15) or lose to (seq -1) the updates depending on key
# parity, and supplier-derived inserts. One max_by collapse + one
# full-outer join; the oracle restates it with a window.
_Q197_ORACLE = """
    WITH changes AS (
      SELECT o_custkey AS c_custkey, CAST(o_orderkey AS BIGINT) AS seq,
             'U' AS op, ROUND(o_totalprice / 100.0, 2) AS c_acctbal,
             'UPDATED' AS c_mktsegment
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-06-30'
      UNION ALL
      SELECT c_custkey,
             CASE WHEN c_custkey % 2 = 0 THEN CAST(1000000000000000 AS BIGINT)
                  ELSE CAST(-1 AS BIGINT) END AS seq,
             'D' AS op, CAST(NULL AS DOUBLE) AS c_acctbal,
             CAST(NULL AS VARCHAR) AS c_mktsegment
      FROM customer WHERE c_custkey % 97 = 0
      UNION ALL
      SELECT 1000000 + s_suppkey AS c_custkey, CAST(1 AS BIGINT) AS seq,
             'U' AS op, CAST(s_acctbal AS DOUBLE) AS c_acctbal,
             'NEW' AS c_mktsegment
      FROM supplier
    ), latest AS (
      SELECT c_custkey, op, c_acctbal, c_mktsegment,
             ROW_NUMBER() OVER (PARTITION BY c_custkey
                                ORDER BY seq DESC) AS rk
      FROM changes
    ), applied AS (
      SELECT COALESCE(s.c_custkey, l.c_custkey) AS c_custkey,
             CASE WHEN l.c_custkey IS NOT NULL THEN l.c_acctbal
                  ELSE s.c_acctbal END AS c_acctbal,
             CASE WHEN l.c_custkey IS NOT NULL THEN l.c_mktsegment
                  ELSE s.c_mktsegment END AS c_mktsegment
      FROM customer s
      FULL OUTER JOIN (SELECT * FROM latest WHERE rk = 1) l
        ON s.c_custkey = l.c_custkey
      WHERE l.c_custkey IS NULL OR l.op <> 'D'
    )
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(c_acctbal) + 5e-12, 4) AS total_balance
    FROM applied GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


@register(
    "q197_cdc_apply",
    _Q197_ORACLE,
    doc="CDC/MERGE apply (operators/cdc.py): a change batch mixing "
    "per-key competing updates (latest o_orderkey wins), deletes "
    "that beat or lose to the updates by sequence, and inserts of "
    "unseen keys, applied to the customer snapshot with one max_by "
    "collapse and one full-outer join — no iteration, no driver "
    "state. Post-image summarized per segment.",
)
def q197(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.cdc import apply_changes

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        "c_mktsegment",
    )
    orders = _t(spark, sf_dir, "orders")
    upd = orders.where(
        F.col("o_orderdate").between("1995-01-01", "1995-06-30")
    ).select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderkey").cast("bigint").alias("seq"),
        F.lit("U").alias("op"),
        F.round(F.col("o_totalprice") / 100.0, 2).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    dels = cust.where(F.col("c_custkey") % 97 == 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 2 == 0, F.lit(1000000000000000))
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("c_acctbal"),
        F.lit(None).cast("string").alias("c_mktsegment"),
    )
    ins = _t(spark, sf_dir, "supplier").select(
        (F.lit(1000000) + F.col("s_suppkey")).alias("c_custkey"),
        F.lit(1).cast("bigint").alias("seq"),
        F.lit("U").alias("op"),
        F.col("s_acctbal").cast("double").alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    changes = upd.unionByName(dels).unionByName(ins)
    applied = apply_changes(
        cust,
        changes,
        key_cols=["c_custkey"],
        value_cols=["c_acctbal", "c_mktsegment"],
    )
    return (
        applied.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal") + F.lit(5e-12), 4).alias(
                "total_balance"
            ),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Q198 — feature hashing / the hashing trick (functions/features.py)
# ---------------------------------------------------------------------------
_Q198_DIM = 64

_Q198_H = "CAST(('0x' || substr(md5('{s}' || tok), 1, 15)) AS BIGINT)"

_Q198_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id,
             UNNEST(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents WHERE doc_id % 50 = 0
    ), hashed AS (
      SELECT doc_id,
             CAST({_Q198_H.format(s='fh#')} % {_Q198_DIM} AS INT) AS bucket,
             CASE WHEN {_Q198_H.format(s='fhs#')} % 2 = 0
                  THEN 1 ELSE -1 END AS sign
      FROM tok
    )
    SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS weight
    FROM hashed GROUP BY doc_id, bucket
    HAVING SUM(sign) <> 0
    ORDER BY doc_id, bucket
"""


@register(
    "q198_feature_hashing",
    _Q198_ORACLE,
    doc="Hashing-trick vectorization (functions/features.py): signed "
    "64-bucket hashed bag-of-words in sparse (doc, bucket, weight) "
    "form — no vocabulary fit, no dictionary broadcast, one explode "
    "+ one groupBy; stateless and mergeable across shards, which is "
    "why it is the 100 TB vectorizer. md5 hashes replayed exactly "
    "by the oracle.",
)
def q198(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.features import hashed_features

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 50 == 0)
    return hashed_features(docs, "doc_id", "text", dim=_Q198_DIM).orderBy(
        "doc_id", "bucket"
    )


# ---------------------------------------------------------------------------
# Q199 — deterministic negative sampling (operators/pairs.py)
# ---------------------------------------------------------------------------
_Q199_H = (
    "CAST(('0x' || substr(md5('neg#' || CAST(a.doc_id AS VARCHAR) || '#' "
    "|| CAST(j AS VARCHAR)), 1, 15)) AS BIGINT)"
)

_Q199_ORACLE = f"""
    WITH indexed AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (ORDER BY doc_id) AS idx
      FROM documents
    ), n AS (SELECT COUNT(*) AS n FROM documents),
    cand AS (
      SELECT a.doc_id AS anchor_id, a.source AS a_src, a.idx, j,
             {_Q199_H} % n.n + 1 AS raw, n.n
      FROM indexed a
      CROSS JOIN n
      CROSS JOIN (SELECT UNNEST(generate_series(1, 4)) AS j)
      WHERE a.doc_id % 37 = 0
    ), picked AS (
      SELECT anchor_id, a_src, j,
             CASE WHEN raw = idx THEN raw % n + 1 ELSE raw END AS neg_idx
      FROM cand
    )
    SELECT p.anchor_id, p.j, i.doc_id AS neg_id,
           (i.source = p.a_src) AS same_source
    FROM picked p JOIN indexed i ON i.idx = p.neg_idx
    ORDER BY p.anchor_id, p.j
"""


@register(
    "q199_negative_sampling",
    _Q199_ORACLE,
    doc="Deterministic contrastive negative sampling "
    "(operators/pairs.py): 4 uniform negatives per anchor via "
    "hash-derived dense-index candidates resolved with ONE equi-join "
    "— no crossJoin, no RNG state, identical pairs on any cluster "
    "size or retry. Self-collisions shift cyclically so every anchor "
    "gets exactly k negatives; same-source flag joined on.",
)
def q199(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.pairs import negative_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = negative_pairs(
        docs, "doc_id", k=4, anchor_filter=F.col("doc_id") % 37 == 0
    )
    src = docs.select("doc_id", "source")
    return (
        pairs.join(
            src.select(
                F.col("doc_id").alias("anchor_id"),
                F.col("source").alias("__a_src"),
            ),
            "anchor_id",
        )
        .join(
            src.select(
                F.col("doc_id").alias("neg_id"),
                F.col("source").alias("__n_src"),
            ),
            "neg_id",
        )
        .select(
            "anchor_id",
            "j",
            "neg_id",
            (F.col("__n_src") == F.col("__a_src")).alias("same_source"),
        )
        .orderBy("anchor_id", "j")
    )
