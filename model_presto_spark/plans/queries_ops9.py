"""Conformance queries: round-7 operator batch #3 (q225+) — Heaps'
vocabulary-growth curve, WOE/IV predictive binning, Cochran-Mantel-
Haenszel stratified odds ratio, hexagonal binning, Cohen's kappa.

Parity discipline as in queries_ops8: every statistic is derived
from exact integer counts (or identical double expressions written
operation-for-operation the same in both engines) so the final
doubles are bit-identical before the r6 round."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q225 — Heaps'-law vocabulary growth curve (decile checkpoints)
# ---------------------------------------------------------------------------
# Vocabulary size vs tokens seen at 10 corpus-position checkpoints,
# in doc_id ingest order.  The scalable shape: one pass computes
# per-doc (token count, NEW-type count via global first occurrence);
# the checkpoint fan-out is a 10x explode of the already-reduced
# per-doc relation, not of the token stream.  Bigram types (the
# unigram vocab saturates in the first docs — see q212).
_Q225_ORACLE = """
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS ts
      FROM documents
    ), big AS (
      SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS t
      FROM tok, UNNEST(range(1, len(ts))) AS u(i)
    ), per_doc_tok AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM big GROUP BY doc_id
    ), first_occ AS (
      SELECT t, MIN(doc_id) AS fdoc FROM big GROUP BY t
    ), per_doc_new AS (
      SELECT fdoc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM first_occ GROUP BY fdoc
    ), per_doc AS (
      SELECT p.doc_id, p.n_tok, COALESCE(n.n_new, 0) AS n_new
      FROM per_doc_tok p LEFT JOIN per_doc_new n USING (doc_id)
    ), nn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM per_doc
    ), ks AS (
      SELECT UNNEST(range(1, 11)) AS k
    )
    SELECT k.k,
           CAST(SUM(CASE WHEN d.doc_id < n.n_docs * k.k / 10
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_seen,
           CAST(SUM(CASE WHEN d.doc_id < n.n_docs * k.k / 10
                         THEN d.n_tok ELSE 0 END) AS BIGINT) AS tokens_seen,
           CAST(SUM(CASE WHEN d.doc_id < n.n_docs * k.k / 10
                         THEN d.n_new ELSE 0 END) AS BIGINT) AS vocab_size
    FROM per_doc d CROSS JOIN nn n CROSS JOIN ks k
    GROUP BY k.k
    ORDER BY k.k
"""


@register(
    "q225_heaps_law",
    _Q225_ORACLE,
    doc="Heaps'-law curve: bigram vocabulary size vs tokens seen at "
    "10 ingest-order checkpoints.  Token stream is reduced to "
    "per-doc (n_tok, n_new-types) in one pass (first-occurrence = "
    "min doc_id per type); the 10x checkpoint fan-out replicates "
    "only the per-doc relation.  Integer counts end to end.",
)
def q225(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import bigrams, tokens_sql

    docs = _t(spark, sf_dir, "documents")
    big = (
        docs.select("doc_id", F.expr(tokens_sql("text")).alias("ts"))
        .select("doc_id", F.explode_outer(bigrams(F.col("ts"))).alias("t"))
        .where(F.col("t").isNotNull())
    )
    big = big.localCheckpoint(eager=False)  # feeds n_tok AND first_occ
    per_doc_tok = big.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok")
    )
    per_doc_new = (
        big.groupBy("t")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    per_doc = per_doc_tok.join(per_doc_new, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    nn = per_doc.agg(F.count(F.lit(1)).alias("n_docs"))
    ks = F.explode(F.sequence(F.lit(1), F.lit(10))).alias("k")
    seen = F.col("doc_id") < F.col("n_docs") * F.col("k") / 10
    return (
        per_doc.crossJoin(F.broadcast(nn))
        .select("doc_id", "n_tok", "n_new", "n_docs", ks)
        .groupBy("k")
        .agg(
            F.sum(F.when(seen, 1).otherwise(0)).alias("docs_seen"),
            F.sum(F.when(seen, F.col("n_tok")).otherwise(0)).alias(
                "tokens_seen"
            ),
            F.sum(F.when(seen, F.col("n_new")).otherwise(0)).alias(
                "vocab_size"
            ),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Q226 — Weight-of-Evidence / Information-Value binning
# ---------------------------------------------------------------------------
# Decile-bin o_totalprice and score each bin's separation of the
# binary outcome (order fully shipped, o_orderstatus = 'F'):
# WOE_i = ln((good_i/G)/(bad_i/B)), IV = sum (good_i/G - bad_i/B) * WOE_i.
# NTILE over a TOTAL order (price, orderkey) so tied prices cannot
# land in engine-dependent bins.
_Q226_WOE = (
    "ln((CAST(n_good AS DOUBLE) / g_tot) / "
    "(CAST(n_bad AS DOUBLE) / b_tot))"
)
_Q226_IV_TERM = (
    "(CAST(n_good AS DOUBLE) / g_tot - CAST(n_bad AS DOUBLE) / b_tot)"
)

_Q226_ORACLE = f"""
    WITH scored AS (
      SELECT NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ), b AS (
      SELECT bin,
             CAST(SUM(y) AS BIGINT) AS n_good,
             CAST(SUM(1 - y) AS BIGINT) AS n_bad
      FROM scored GROUP BY bin
    ), t AS (
      SELECT bin, n_good, n_bad,
             SUM(n_good) OVER () AS g_tot,
             SUM(n_bad) OVER () AS b_tot
      FROM b
    )
    SELECT bin, n_good, n_bad,
           {_R6.format(x=_Q226_WOE)} AS woe,
           {_R6.format(x=f'{_Q226_IV_TERM} * ({_Q226_WOE})')} AS iv_term
    FROM t ORDER BY bin
"""


@register(
    "q226_woe_iv",
    _Q226_ORACLE,
    doc="Weight-of-Evidence / Information-Value profile of "
    "o_totalprice deciles against the fully-shipped outcome.  "
    "NTILE over a total order (price, orderkey) for deterministic "
    "bins; WOE/IV from exact integer bin counts.  The standard "
    "credit-scoring feature screen.",
)
def q226(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    scored = o.select(
        F.ntile(10)
        .over(Window.orderBy("o_totalprice", "o_orderkey"))
        .alias("bin"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    b = scored.groupBy("bin").agg(
        F.sum("y").alias("n_good"),
        F.sum(1 - F.col("y")).alias("n_bad"),
    )
    wall = Window.partitionBy()
    t = b.select(
        "bin",
        "n_good",
        "n_bad",
        F.sum("n_good").over(wall).alias("g_tot"),
        F.sum("n_bad").over(wall).alias("b_tot"),
    )
    woe = F.log(
        (F.col("n_good").cast("double") / F.col("g_tot"))
        / (F.col("n_bad").cast("double") / F.col("b_tot"))
    )
    iv_term = (
        F.col("n_good").cast("double") / F.col("g_tot")
        - F.col("n_bad").cast("double") / F.col("b_tot")
    )
    return t.select(
        "bin",
        "n_good",
        "n_bad",
        r6(woe).alias("woe"),
        r6(iv_term * woe).alias("iv_term"),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# Q227 — Cochran-Mantel-Haenszel stratified odds ratio
# ---------------------------------------------------------------------------
# Does high order priority associate with full shipment, after
# controlling for order year?  Per-stratum 2x2 tables from one
# aggregation; OR_MH = sum(a_s d_s / n_s) / sum(b_s c_s / n_s)
# replicated onto every stratum row (7 rows — window over all).
_Q227_ORACLE = f"""
    WITH s AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS stratum,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS x,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ), tab AS (
      SELECT stratum,
             CAST(SUM(x * y) AS BIGINT) AS a,
             CAST(SUM(x * (1 - y)) AS BIGINT) AS b,
             CAST(SUM((1 - x) * y) AS BIGINT) AS c,
             CAST(SUM((1 - x) * (1 - y)) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM s GROUP BY stratum
    ), mh AS (
      SELECT *,
             SUM(CAST(a AS DOUBLE) * d / n) OVER () AS num,
             SUM(CAST(b AS DOUBLE) * c / n) OVER () AS den
      FROM tab
    )
    SELECT stratum, a, b, c, d,
           {_R6.format(
               x='CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c)'
           )} AS or_stratum,
           {_R6.format(x='num / den')} AS or_mh
    FROM mh ORDER BY stratum
"""


@register(
    "q227_cmh_odds",
    _Q227_ORACLE,
    doc="Cochran-Mantel-Haenszel common odds ratio of priority vs "
    "full shipment stratified by order year: per-stratum 2x2 "
    "integer tables in one aggregation, MH pooling as a window "
    "over the tiny strata relation.  The confounder-adjusted "
    "association test.",
)
def q227(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    x = (
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0)
    )
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    s = o.select(
        F.year("o_orderdate").cast("bigint").alias("stratum"),
        x.alias("x"),
        y.alias("y"),
    )
    tab = s.groupBy("stratum").agg(
        F.sum(F.col("x") * F.col("y")).alias("a"),
        F.sum(F.col("x") * (1 - F.col("y"))).alias("b"),
        F.sum((1 - F.col("x")) * F.col("y")).alias("c"),
        F.sum((1 - F.col("x")) * (1 - F.col("y"))).alias("d"),
        F.count(F.lit(1)).alias("n"),
    )
    wall = Window.partitionBy()
    mh = tab.select(
        "*",
        F.sum(F.col("a").cast("double") * F.col("d") / F.col("n"))
        .over(wall)
        .alias("num"),
        F.sum(F.col("b").cast("double") * F.col("c") / F.col("n"))
        .over(wall)
        .alias("den"),
    )
    return mh.select(
        "stratum",
        "a",
        "b",
        "c",
        "d",
        r6(
            F.col("a").cast("double")
            * F.col("d")
            / (F.col("b").cast("double") * F.col("c"))
        ).alias("or_stratum"),
        r6(F.col("num") / F.col("den")).alias("or_mh"),
    ).orderBy("stratum")


# ---------------------------------------------------------------------------
# Q228 — Hexagonal binning (axial coords + cube rounding)
# ---------------------------------------------------------------------------
# Pointy-top hex grid over derived continuous coordinates: pixel ->
# fractional axial (q, r), cube-round to the nearest hex center.
# The rounding is the standard max-delta correction, written
# operation-for-operation identically in both engines (inputs are
# exact integer-derived doubles, so every branch decision agrees).
_Q228_SIZE = 7.0

_Q228_COORDS = """
      SELECT ((user_id * 7919 + event_id) % 1000) / 10.0 AS px,
             ((event_id * 104729 + user_id) % 1000) / 10.0 AS py,
             value
      FROM events
"""

_Q228_ORACLE = f"""
    WITH pts AS ({_Q228_COORDS}),
    frac AS (
      SELECT (SQRT(3.0) / 3.0 * px - py / 3.0) / {_Q228_SIZE} AS qf,
             (2.0 / 3.0 * py) / {_Q228_SIZE} AS rf,
             value
      FROM pts
    ), rounded AS (
      SELECT qf, rf, -qf - rf AS sf,
             ROUND(qf) AS rq, ROUND(rf) AS rr, ROUND(-qf - rf) AS rs,
             value
      FROM frac
    ), fixed AS (
      SELECT CAST(CASE
               WHEN ABS(rq - qf) > ABS(rr - rf)
                AND ABS(rq - qf) > ABS(rs - sf) THEN -rr - rs
               ELSE rq END AS BIGINT) AS hex_q,
             CAST(CASE
               WHEN NOT (ABS(rq - qf) > ABS(rr - rf)
                         AND ABS(rq - qf) > ABS(rs - sf))
                AND ABS(rr - rf) > ABS(rs - sf)
               THEN -rq - rs
               ELSE rr END AS BIGINT) AS hex_r,
             value
      FROM rounded
    )
    SELECT hex_q, hex_r,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value) + 5e-10, 2) AS total_value
    FROM fixed
    GROUP BY hex_q, hex_r
    ORDER BY n DESC, hex_q, hex_r
    LIMIT 20
"""


@register(
    "q228_hexbin",
    _Q228_ORACLE,
    doc="Hexagonal-bin density (pointy-top axial grid, cube "
    "rounding with the max-delta correction), hot-cell top-20.  "
    "Pure column arithmetic — the hex id is computed in the scan "
    "stage, one shuffle for the cell aggregation; the hex lattice "
    "beats square grids for radius-ish neighborhood queries.",
)
def q228(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    px = ((F.col("user_id") * 7919 + F.col("event_id")) % 1000) / 10.0
    py = ((F.col("event_id") * 104729 + F.col("user_id")) % 1000) / 10.0
    pts = ev.select(px.alias("px"), py.alias("py"), "value")
    qf = (F.sqrt(F.lit(3.0)) / 3.0 * F.col("px") - F.col("py") / 3.0) / _Q228_SIZE
    rf = (2.0 / 3.0 * F.col("py")) / _Q228_SIZE
    frac = pts.select(qf.alias("qf"), rf.alias("rf"), "value")
    rounded = frac.select(
        "qf",
        "rf",
        (-F.col("qf") - F.col("rf")).alias("sf"),
        F.round(F.col("qf"), 0).alias("rq"),
        F.round(F.col("rf"), 0).alias("rr"),
        F.round(-F.col("qf") - F.col("rf"), 0).alias("rs"),
        "value",
    )
    dq = F.abs(F.col("rq") - F.col("qf"))
    dr = F.abs(F.col("rr") - F.col("rf"))
    ds = F.abs(F.col("rs") - F.col("sf"))
    q_is_max = (dq > dr) & (dq > ds)
    fixed = rounded.select(
        F.when(q_is_max, -F.col("rr") - F.col("rs"))
        .otherwise(F.col("rq"))
        .cast("bigint")
        .alias("hex_q"),
        F.when(~q_is_max & (dr > ds), -F.col("rq") - F.col("rs"))
        .otherwise(F.col("rr"))
        .cast("bigint")
        .alias("hex_r"),
        "value",
    )
    return (
        fixed.groupBy("hex_q", "hex_r")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value") + 5e-10, 2).alias("total_value"),
        )
        .orderBy(F.col("n").desc(), "hex_q", "hex_r")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q229 — Cohen's kappa (rule-rater agreement)
# ---------------------------------------------------------------------------
# Chance-corrected agreement between two document quality raters
# (char-length rule vs word-count rule): kappa = (po - pe)/(1 - pe)
# from the 2x2 integer confusion table.  One aggregation to four
# counts; the estimate of whether two filters are redundant.
_Q229_CHARS = 600
_Q229_WORDS = 95

_Q229_PE = (
    "((CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n) + "
    "(CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n))"
)

_Q229_ORACLE = f"""
    WITH r AS (
      SELECT CASE WHEN n_chars > {_Q229_CHARS} THEN 1 ELSE 0 END AS ra,
             CASE WHEN len(list_filter(
                    regexp_split_to_array(lower(text), '\\s+'),
                    x -> x <> '')) > {_Q229_WORDS}
                  THEN 1 ELSE 0 END AS rb
      FROM documents
    ), tab AS (
      SELECT CAST(SUM(ra * rb) AS BIGINT) AS n11,
             CAST(SUM(ra * (1 - rb)) AS BIGINT) AS n10,
             CAST(SUM((1 - ra) * rb) AS BIGINT) AS n01,
             CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS n00,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM r
    )
    SELECT n11, n10, n01, n00,
           {_R6.format(x='CAST(n11 + n00 AS DOUBLE) / n')} AS po,
           {_R6.format(x=_Q229_PE)} AS pe,
           {_R6.format(
               x=f'(CAST(n11 + n00 AS DOUBLE) / n - {_Q229_PE}) '
                 f'/ (1.0 - {_Q229_PE})'
           )} AS kappa
    FROM tab
"""


@register(
    "q229_cohens_kappa",
    _Q229_ORACLE,
    doc="Cohen's kappa between two quality raters (char-length vs "
    "word-count rules) on documents: 2x2 confusion table in one "
    "aggregation, chance-corrected agreement from exact integer "
    "counts.  The filter-redundancy check for curation rules.",
)
def q229(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import tokens_sql

    docs = _t(spark, sf_dir, "documents")
    ra = F.when(F.col("n_chars") > _Q229_CHARS, 1).otherwise(0)
    rb = F.when(
        F.size(F.expr(tokens_sql("text"))) > _Q229_WORDS, 1
    ).otherwise(0)
    r = docs.select(ra.alias("ra"), rb.alias("rb"))
    tab = r.agg(
        F.sum(F.col("ra") * F.col("rb")).alias("n11"),
        F.sum(F.col("ra") * (1 - F.col("rb"))).alias("n10"),
        F.sum((1 - F.col("ra")) * F.col("rb")).alias("n01"),
        F.sum((1 - F.col("ra")) * (1 - F.col("rb"))).alias("n00"),
        F.count(F.lit(1)).alias("n"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / nd
    pe = ((F.col("n11") + F.col("n10")).cast("double") / nd) * (
        (F.col("n11") + F.col("n01")).cast("double") / nd
    ) + ((F.col("n01") + F.col("n00")).cast("double") / nd) * (
        (F.col("n10") + F.col("n00")).cast("double") / nd
    )
    return tab.select(
        "n11",
        "n10",
        "n01",
        "n00",
        r6(po).alias("po"),
        r6(pe).alias("pe"),
        r6((po - pe) / (1.0 - pe)).alias("kappa"),
    )
