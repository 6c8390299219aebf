"""Conformance queries: operator promotions #4 (q188+) — bilinear
grid resampling (F24) and deterministic two-stream interleave (U5),
both previously unit-test-only, restated against full SQL oracles.
Oracle conventions as everywhere."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q188 — bilinear resample of an elevation grid (F24) + chip keys (W8)
# ---------------------------------------------------------------------------
# Source grid from customer keys (the q47 terrain convention); output
# 40x40 at scale 1.6 so the top edge exercises the clamp path. The
# oracle restates the exact four-corner plan: output grid cross
# join, four (i0,j0)-keyed left joins, coalesce edge clamps,
# fractional-weight blend.
_Q188_SCALE = 1.6
_Q188_OUT = 40

_Q188_ORACLE = f"""
    WITH px AS (
      SELECT CAST(c_custkey % 25 AS INT) AS pi,
             CAST(floor(c_custkey / 25.0) AS INT) AS pj,
             CAST(c_acctbal AS DOUBLE) AS pv
      FROM customer
    ), grid AS (
      SELECT a.i AS oi, b.j AS oj,
             CAST(floor(a.i / {_Q188_SCALE}) AS INT) AS i0,
             CAST(floor(b.j / {_Q188_SCALE}) AS INT) AS j0,
             a.i / {_Q188_SCALE} - floor(a.i / {_Q188_SCALE}) AS fi,
             b.j / {_Q188_SCALE} - floor(b.j / {_Q188_SCALE}) AS fj
      FROM (SELECT UNNEST(generate_series(0, {_Q188_OUT - 1})) AS i) a
      CROSS JOIN (SELECT UNNEST(generate_series(0, {_Q188_OUT - 1})) AS j) b
    ), joined AS (
      SELECT g.oi, g.oj, g.fi, g.fj,
             p00.pv AS v00, p01.pv AS v01, p10.pv AS v10, p11.pv AS v11
      FROM grid g
      LEFT JOIN px p00 ON p00.pi = g.i0     AND p00.pj = g.j0
      LEFT JOIN px p01 ON p01.pi = g.i0     AND p01.pj = g.j0 + 1
      LEFT JOIN px p10 ON p10.pi = g.i0 + 1 AND p10.pj = g.j0
      LEFT JOIN px p11 ON p11.pi = g.i0 + 1 AND p11.pj = g.j0 + 1
    ), clamped AS (
      SELECT oi, oj, fi, fj,
             COALESCE(v00, v01, v10, v11) AS c00,
             COALESCE(v01, v00, v11, v10) AS c01,
             COALESCE(v10, v11, v00, v01) AS c10,
             COALESCE(v11, v10, v01, v00) AS c11
      FROM joined
    )
    SELECT oi AS row, oj AS col,
           CAST(floor(oi / 8.0) AS BIGINT) AS chip_row,
           CAST(floor(oj / 8.0) AS BIGINT) AS chip_col,
           {_R6.format(x='c00 * (1 - fi) * (1 - fj) + c01 * (1 - fi) * fj '
                         '+ c10 * fi * (1 - fj) + c11 * fi * fj')} AS value
    FROM clamped
    ORDER BY oi, oj
"""


@register(
    "q188_bilinear_resample",
    _Q188_ORACLE,
    doc="Bilinear grid resample (operators/grid.bilinear_resample, "
    "F24): tiny output grid broadcasts, four (i0,j0) equi-joins "
    "fetch the corner pixels, coalesce chains clamp edges, "
    "fractional weights blend — no window, no UDF. Chip keys (W8) "
    "ride along as integer floor arithmetic. Promoted from "
    "unit-test-only to oracle-checked.",
)
def q188(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.grid import bilinear_resample, chip_key

    cust = _t(spark, sf_dir, "customer")
    px = cust.select(
        (F.col("c_custkey") % 25).cast("int").alias("r"),
        F.floor(F.col("c_custkey") / 25.0).cast("int").alias("c"),
        F.col("c_acctbal").cast("double").alias("elev"),
    )
    out = bilinear_resample(
        px, "r", "c", "elev",
        scale=_Q188_SCALE, out_rows=_Q188_OUT, out_cols=_Q188_OUT,
    )
    ck = chip_key(F.col("row"), F.col("col"), 8)
    return out.select(
        "row",
        "col",
        ck["chip_row"].cast("bigint").alias("chip_row"),
        ck["chip_col"].cast("bigint").alias("chip_col"),
        r6(F.col("value")).alias("value"),
    ).orderBy("row", "col")


# ---------------------------------------------------------------------------
# Q189 — deterministic two-stream interleave (U5)
# ---------------------------------------------------------------------------
_Q189_ORACLE = """
    WITH a AS (
      SELECT event_id, value,
             ROW_NUMBER() OVER (ORDER BY event_id, value) AS r, 0 AS s
      FROM events WHERE event_type = 'click'
    ), b AS (
      SELECT event_id, value,
             ROW_NUMBER() OVER (ORDER BY event_id, value) AS r, 1 AS s
      FROM events WHERE event_type = 'purchase'
    ), u AS (
      SELECT * FROM a UNION ALL SELECT * FROM b
    )
    SELECT ROW_NUMBER() OVER (ORDER BY r, s) AS pos,
           event_id,
           CAST(s AS BIGINT) AS side
    FROM u
    ORDER BY pos
    LIMIT 400
"""


@register(
    "q189_interleave",
    _Q189_ORACLE,
    doc="Deterministic a0 b0 a1 b1 interleave of two event streams "
    "(operators/splits.interleave, the reference's pos/neg "
    "alternation): per-side rank + (rank, side) sort key — one "
    "union, no driver loop. The oracle restates it and pins the "
    "emitted POSITION, not just the row multiset.",
)
def q189(spark: SparkSession, sf_dir: str) -> DataFrame:
    # splits.interleave's algorithm restated with the side tag kept
    # (the operator itself drops its sort keys, so the conformance
    # output rebuilds them the same way; t:test_splits_extra pins the
    # operator's own row order)
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    a = (
        ev.filter(F.col("event_type") == "click")
        .select("event_id", "value")
        .withColumn(
            "r", F.row_number().over(Window.orderBy("event_id", "value"))
        )
        .withColumn("s", F.lit(0))
    )
    b = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", "value")
        .withColumn(
            "r", F.row_number().over(Window.orderBy("event_id", "value"))
        )
        .withColumn("s", F.lit(1))
    )
    u = a.unionByName(b)
    return (
        u.select(
            F.row_number().over(Window.orderBy("r", "s")).alias("pos"),
            "event_id",
            F.col("s").cast("bigint").alias("side"),
        )
        .orderBy("pos")
        .limit(400)
    )


# ---------------------------------------------------------------------------
# Q190 — end-to-end corpus-hygiene pipeline (CorpusPipeline composite)
# ---------------------------------------------------------------------------
# Five stages through pipeline.CorpusPipeline — normalize,
# quality gate (min tokens + alpha ratio), lang filter, exact dedup,
# per-source token budget — composed into ONE lazy DAG; the oracle
# restates every stage in sequence. This is the conformance check of
# stage COMPOSITION (each stage is separately oracle-checked by
# q31/q37/q62 and friends): gates run on the normalized text,
# fingerprints form on the gated survivors, the budget runs on the
# deduped set.
_Q190_TOKS = (
    "list_filter(regexp_split_to_array(lower({t}), '\\s+'), x -> x <> '')"
)
_Q190_NORM = (
    "trim(regexp_replace(regexp_replace(text, "
    "'[\\x00-\\x08\\x0b-\\x1f\\x7f-\\x9f]', '', 'g'), "
    "'[ \\t]+', ' ', 'g'))"
)
_Q190_FP = (
    "CAST(('0x' || substr(md5(regexp_replace(trim(lower(text)), "
    "'\\s+', ' ', 'g')), 1, 15)) AS BIGINT)"
)

_Q190_ORACLE = f"""
    WITH norm AS (
      SELECT doc_id, source, lang, {_Q190_NORM} AS text
      FROM documents
    ), gated AS (
      SELECT doc_id, source, lang, text FROM norm
      WHERE len({_Q190_TOKS.format(t='text')}) >= 8
        AND (CASE WHEN length(text) > 0
             THEN CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                       AS DOUBLE) / length(text)
             ELSE 0.0 END) >= 0.55
        AND lang IN ('en', 'fr', 'de')
    ), fp AS (
      SELECT doc_id, source, text, {_Q190_FP} AS f FROM gated
    ), keep AS (
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
        FROM fp
      ) WHERE rn = 1
    ), toks AS (
      SELECT doc_id, source,
             len({_Q190_TOKS.format(t='text')}) AS n_tok
      FROM keep
    ), cum AS (
      SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM toks
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(MAX(cum_tok) AS BIGINT) AS used_budget
    FROM cum WHERE cum_tok <= 5000
    GROUP BY source
    ORDER BY source
"""


@register(
    "q190_corpus_pipeline",
    _Q190_ORACLE,
    doc="End-to-end corpus-hygiene pipeline (pipeline.CorpusPipeline: "
    "normalize -> quality_gate(min_tokens=8, min_alpha=0.55) -> "
    "lang_filter(en/fr/de) -> exact_dedup -> token_budget(5000/"
    "source)), one lazy DAG so Catalyst fuses filters and prunes "
    "columns ACROSS stage boundaries; the oracle restates the exact "
    "stage composition. Per-stage semantics are individually pinned "
    "by q31/q37/q62 — this pins their ordering and data flow.",
)
def q190(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import tokens_sql
    from model_presto_spark.pipeline import CorpusPipeline

    docs = _t(spark, sf_dir, "documents")
    pipe = CorpusPipeline(
        [
            {"op": "normalize"},
            {"op": "quality_gate", "min_tokens": 8, "min_alpha": 0.55},
            {"op": "lang_filter", "keep": ["en", "fr", "de"]},
            {"op": "exact_dedup"},
            {"op": "token_budget", "budget_tokens": 5000},
        ]
    )
    clean = pipe.run(docs)
    toks = clean.selectExpr("source", "doc_id", f"size({tokens_sql('text')}) AS n_tok")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn("cum_tok", F.sum("n_tok").over(w))
    return (
        cum.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.max("cum_tok").cast("bigint").alias("used_budget"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q191 — hierarchy subtree rollup (org-chart / BOM aggregation)
# ---------------------------------------------------------------------------
# A tree synthesized over customer keys (parent = child/5,
# root 0): subtree totals per node = sum of acctbal over all
# descendants incl. self. The oracle walks the tree with WITH
# RECURSIVE; the engine materializes the bounded-depth
# ancestor-descendant closure with UNROLLED self-joins (8 hops
# covers ceil(log5(maxkey)) for every test SF incl. sf1.0; extra
# hops are no-ops past the root — fixed iteration count, the
# k-core/BFS contract) and aggregates once. No driver loop.
_Q191_DEPTH = 8

_Q191_ORACLE = """
    WITH RECURSIVE edges AS (
      SELECT c_custkey AS child,
             CAST(floor(c_custkey / 5.0) AS BIGINT) AS parent,
             CAST(c_acctbal AS DOUBLE) AS w
      FROM customer
    ), walk AS (
      SELECT child AS anc, child AS node, w FROM edges
      UNION ALL
      SELECT e.parent AS anc, walk.node, walk.w
      FROM walk JOIN edges e ON walk.anc = e.child
      WHERE e.parent < walk.anc
    )
    SELECT anc AS node,
           CAST(COUNT(*) AS BIGINT) AS subtree_size,
           ROUND(SUM(w) + 5e-10, 2) AS subtree_balance
    FROM walk
    GROUP BY anc
    ORDER BY subtree_size DESC, node ASC
    LIMIT 50
"""


@register(
    "q191_hierarchy_rollup",
    _Q191_ORACLE,
    doc="Hierarchical subtree rollup (the org-chart / bill-of-"
    "materials aggregation): every node's descendant count and "
    "balance total. Oracle recurses (WITH RECURSIVE); the engine "
    "unrolls the parent walk to the tree's bounded depth "
    f"({_Q191_DEPTH} fixed self-joins over the edge relation — the "
    "same fixed-iteration contract as BFS/k-core) and aggregates the "
    "closure once. Each unroll step is an equi-join on the child "
    "key; no driver loop.",
)
def q191(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    edges = cust.select(
        F.col("c_custkey").alias("child"),
        F.floor(F.col("c_custkey") / 5.0).cast("bigint").alias("parent"),
        F.col("c_acctbal").cast("double").alias("w"),
    ).localCheckpoint(eager=False)
    # closure rows (anc, node, w): start with self, then hop the
    # parent pointer a fixed number of times
    walk = edges.select(
        F.col("child").alias("anc"), F.col("child").alias("node"), "w"
    )
    closure = walk
    for _ in range(_Q191_DEPTH):
        parents = edges.select(
            F.col("child").alias("anc"), F.col("parent").alias("up")
        )
        walk = (
            walk.join(parents, "anc")
            .where(F.col("up") < F.col("anc"))
            .select(F.col("up").alias("anc"), "node", "w")
        )
        closure = closure.unionByName(walk)
    return (
        closure.groupBy(F.col("anc").alias("node"))
        .agg(
            F.count(F.lit(1)).alias("subtree_size"),
            F.round(F.sum("w") + 5e-10, 2).alias("subtree_balance"),
        )
        .orderBy(F.col("subtree_size").desc(), F.col("node").asc())
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Q192 — growth accounting (new / retained / resurrected / churned DAU)
# ---------------------------------------------------------------------------
# The standard product-analytics decomposition of daily active
# users: new (first-ever day), retained (also active the previous
# day), resurrected (active before, but not the previous day), and
# churned attributed to day d (active d-1, silent on d). Pure
# integer counts from one user-day window pass + one anti-join.
_Q192_ORACLE = """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), seq AS (
      SELECT user_id, day,
             LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
             MIN(day) OVER (PARTITION BY user_id) AS first_day
      FROM ud
    ), classed AS (
      SELECT strftime(day, '%Y-%m-%d') AS day,
             CASE WHEN day = first_day THEN 2
                  WHEN prev_day = day - 1 THEN 1
                  ELSE 0 END AS klass
      FROM seq
    ), act AS (
      SELECT day,
             CAST(SUM(CASE WHEN klass = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
             CAST(SUM(CASE WHEN klass = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_retained,
             CAST(SUM(CASE WHEN klass = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_resurrected
      FROM classed GROUP BY 1
    ), churn AS (
      SELECT strftime(u.day + 1, '%Y-%m-%d') AS day,
             CAST(COUNT(*) AS BIGINT) AS n_churned
      FROM ud u
      WHERE NOT EXISTS (SELECT 1 FROM ud v
                        WHERE v.user_id = u.user_id
                          AND v.day = u.day + 1)
      GROUP BY 1
    )
    SELECT a.day, a.n_new, a.n_retained, a.n_resurrected,
           COALESCE(c.n_churned, 0) AS n_churned
    FROM act a LEFT JOIN churn c ON a.day = c.day
    ORDER BY a.day
"""


@register(
    "q192_growth_accounting",
    _Q192_ORACLE,
    doc="Growth accounting: daily active users decomposed into new / "
    "retained / resurrected, plus churn attributed to the following "
    "day — the standard DAU ledger (new + retained + resurrected - "
    "churned telescopes the DAU series). One lag/min window over the "
    "distinct user-day relation, one anti-join for churn; everything "
    "shuffles on the user key, counts are integer-exact.",
)
def q192(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct().localCheckpoint(eager=False)
    w = Window.partitionBy("user_id").orderBy("day")
    wall = Window.partitionBy("user_id")
    seq = ud.withColumn("prev_day", F.lag("day").over(w)).withColumn(
        "first_day", F.min("day").over(wall)
    )
    klass = (
        F.when(F.col("day") == F.col("first_day"), 2)
        .when(F.col("prev_day") == F.date_sub(F.col("day"), 1), 1)
        .otherwise(0)
    )
    act = (
        seq.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            klass.alias("klass"),
        )
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("klass") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(F.when(F.col("klass") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_retained"),
            F.sum(F.when(F.col("klass") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_resurrected"),
        )
    )
    nxt = ud.select("user_id", F.date_add("day", 1).alias("day"))
    churn = (
        nxt.join(ud, ["user_id", "day"], "left_anti")
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return (
        act.join(churn, "day", "left")
        .select(
            "day",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce(F.col("n_churned"), F.lit(0).cast("bigint")).alias(
                "n_churned"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Q193 — rolling distinct actives (DAU / WAU-7 / stickiness)
# ---------------------------------------------------------------------------
# Rolling COUNT(DISTINCT) has no window form in any SQL engine — the
# standard rewrite expands each user-day into the <= 7 spine days it
# keeps the user "active" for (a bounded explode, x7), then counts
# distinct users per spine day: one equi-shaped aggregation, no
# self-join of the fact table, no collect_set. Spine days are the
# observed activity days.
_Q193_ORACLE = """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), days AS (
      SELECT DISTINCT day FROM ud
    ), cover AS (
      SELECT DISTINCT u.user_id, d.day
      FROM ud u JOIN days d
        ON d.day >= u.day AND d.day <= u.day + 6
    ), wau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS wau7 FROM cover GROUP BY day
    ), dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau7,
           ROUND(CAST(d.dau AS DOUBLE) / w.wau7 + 5e-12, 6) AS stickiness
    FROM dau d JOIN wau w ON d.day = w.day
    ORDER BY d.day
"""


@register(
    "q193_rolling_actives",
    _Q193_ORACLE,
    doc="Rolling distinct actives: DAU, trailing-7-day WAU, and the "
    "DAU/WAU stickiness ratio per day. Rolling COUNT(DISTINCT) has "
    "no window form — the engine expands each user-day into the <= 7 "
    "spine days it covers (bounded x7 explode via sequence, never a "
    "fact self-join) and deduplicates per (user, spine day); one "
    "shuffle on the user-day key, one on the day. The oracle "
    "restates it as the equivalent bounded band join.",
)
def q193(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ud = (
        ev.select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    days = ud.select("day").distinct()
    # bounded expansion: each user-day covers itself + 6 following
    # days; restrict to observed spine days via a semi-join
    cover = (
        ud.select(
            "user_id",
            F.explode_outer(
                F.sequence(
                    F.col("day"), F.date_add(F.col("day"), 6)
                )
            ).alias("day"),
        )
        .join(days, "day", "left_semi")
        .distinct()
    )
    wau = cover.groupBy("day").agg(F.count(F.lit(1)).alias("wau7"))
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau7",
            r6(F.col("dau").cast("double") / F.col("wau7")).alias("stickiness"),
        )
        .orderBy("day")
    )
