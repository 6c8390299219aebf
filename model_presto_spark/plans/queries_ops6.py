"""Conformance queries: scale-pattern operators #6 (q200+).

Holt linear-trend smoothing (sequential recurrence as a bounded
per-series HOF fold), mutual-nearest-neighbor pairing, and PII
redaction over the corpus. Oracle conventions as everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register
from model_presto_spark.plans.queries_docs import _DD_DOT, _DD_NORM

_R6 = R6_SQL

# ---------------------------------------------------------------------------
# Q200 — Holt linear-trend (double exponential smoothing) per priority
# ---------------------------------------------------------------------------
# The recurrence l_t = a*y_t + (1-a)*(l+b); b_t = g*(l_t-l) + (1-g)*b
# is inherently sequential IN t — but t is the bounded month axis
# (<= ~90 values), so the scale shape is: one distributed monthly
# aggregation (the 100 TB part), then a per-series fold over the
# bounded month array via F.aggregate — never a cross-row recursion
# on the fact table. Monthly sums are rounded to cents BEFORE the
# recurrence so both engines fold bit-identical doubles (double
# summation order differs across engines; the true cent-grid value
# does not). The oracle replays the identical recurrence with
# WITH RECURSIVE.
_Q200_A = 0.5   # level smoothing
_Q200_G = 0.3   # trend smoothing

_Q200_ORACLE = f"""
    WITH RECURSIVE series AS (
      SELECT o_orderpriority AS priority,
             strftime(date_trunc('month', o_orderdate), '%Y-%m-01') AS m,
             ROUND(SUM(o_totalprice), 2) AS y
      FROM orders GROUP BY 1, 2
    ), pts AS (
      SELECT priority, y,
             ROW_NUMBER() OVER (PARTITION BY priority ORDER BY m) AS t,
             COUNT(*) OVER (PARTITION BY priority) AS tmax
      FROM series
    ), state AS (
      SELECT p1.priority, 1 AS t, p1.tmax,
             p1.y AS l, p2.y - p1.y AS b, CAST(0.0 AS DOUBLE) AS sse
      FROM pts p1 JOIN pts p2
        ON p2.priority = p1.priority AND p2.t = 2
      WHERE p1.t = 1
      UNION ALL
      SELECT s.priority, s.t + 1, s.tmax,
             {_Q200_A} * p.y + (1 - {_Q200_A}) * (s.l + s.b) AS l,
             {_Q200_G} * (({_Q200_A} * p.y + (1 - {_Q200_A}) * (s.l + s.b))
                          - s.l) + (1 - {_Q200_G}) * s.b AS b,
             s.sse + (p.y - (s.l + s.b)) * (p.y - (s.l + s.b)) AS sse
      FROM state s JOIN pts p
        ON p.priority = s.priority AND p.t = s.t + 1
      WHERE s.t < s.tmax
    )
    SELECT priority, CAST(tmax AS BIGINT) AS n_months,
           {_R6.format(x='l')} AS level,
           {_R6.format(x='b')} AS trend,
           {_R6.format(x='l + b')} AS forecast_next,
           {_R6.format(x='sqrt(sse / (tmax - 1))')} AS rmse
    FROM state WHERE t = tmax
    ORDER BY priority
"""


@register(
    "q200_holt_trend",
    _Q200_ORACLE,
    doc="Holt double-exponential smoothing of monthly order revenue "
    "per priority: distributed monthly aggregation, then the "
    "sequential level/trend recurrence as an F.aggregate fold over "
    "the bounded month array (cent-rounded inputs keep the fold "
    "bit-identical across engines). Final level/trend, one-step "
    "forecast, and in-sample RMSE; oracle = WITH RECURSIVE replay.",
)
def q200(spark: SparkSession, sf_dir: str) -> DataFrame:
    series = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-01")
            .alias("m"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("y"))
    )
    pts = series.groupBy("priority").agg(
        F.array_sort(F.collect_list(F.struct("m", "y"))).alias("pts")
    )
    ys = F.transform(F.col("pts"), lambda p: p["y"])
    a, g = F.lit(_Q200_A), F.lit(_Q200_G)
    init = F.struct(
        F.element_at(ys, 1).alias("l"),
        (F.element_at(ys, 2) - F.element_at(ys, 1)).alias("b"),
        F.lit(0.0).alias("sse"),
    )
    folded = F.aggregate(
        F.slice(ys, 2, F.size(ys) - 1),
        init,
        lambda acc, y: F.struct(
            (a * y + (F.lit(1.0) - a) * (acc["l"] + acc["b"])).alias("l"),
            (
                g
                * (
                    (a * y + (F.lit(1.0) - a) * (acc["l"] + acc["b"]))
                    - acc["l"]
                )
                + (F.lit(1.0) - g) * acc["b"]
            ).alias("b"),
            (
                acc["sse"]
                + (y - (acc["l"] + acc["b"])) * (y - (acc["l"] + acc["b"]))
            ).alias("sse"),
        ),
    )
    return (
        pts.select(
            "priority",
            F.size("pts").cast("bigint").alias("n_months"),
            folded.alias("st"),
        )
        .select(
            "priority",
            "n_months",
            r6(F.col("st.l")).alias("level"),
            r6(F.col("st.b")).alias("trend"),
            r6(F.col("st.l") + F.col("st.b")).alias("forecast_next"),
            r6(
                F.sqrt(F.col("st.sse") / (F.col("n_months") - 1).cast("double"))
            ).alias("rmse"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Q201 — mutual nearest neighbors (embedding alignment pairs)
# ---------------------------------------------------------------------------
# MNN = pairs where each vector is the other's cosine top-1 — the
# standard high-precision pairing rule (batch-effect alignment,
# bilingual lexicon induction). Built entirely from the existing
# knn_join operator run in both directions on the bounded subset;
# the mutual check is one self-join on the (a, b) edge.
_Q201_ORACLE = f"""
    WITH sub AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 250
    ), scored AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             1.0 - {_DD_DOT.format(a='a.embedding', b='b.embedding')}
                   / ({_DD_NORM.format(a='a.embedding')}
                      * {_DD_NORM.format(a='b.embedding')}) AS dist
      FROM sub a CROSS JOIN sub b
      WHERE a.vec_id <> b.vec_id
    ), nn AS (
      SELECT src, dst, dist,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY dist ASC, dst ASC) AS rk
      FROM scored
    )
    SELECT x.src AS a_id, x.dst AS b_id,
           {_R6.format(x='x.dist')} AS dist
    FROM nn x JOIN nn y
      ON y.src = x.dst AND y.dst = x.src AND y.rk = 1
    WHERE x.rk = 1 AND x.src < x.dst
    ORDER BY a_id
"""


@register(
    "q201_mutual_nn",
    _Q201_ORACLE,
    doc="Mutual-nearest-neighbor pairs (cosine top-1 in BOTH "
    "directions) over a bounded embedding subset: two knn_join "
    "passes + one edge self-join. The high-precision pairing rule "
    "for embedding alignment; at corpus scale the same composition "
    "runs on the LSH/IVF knn operators instead of brute force.",
)
def q201(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.knn import knn_join

    sub = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 250)
        # double-cast BEFORE the fold: float32 products differ from
        # the oracle's CAST-to-DOUBLE products by ~1e-8 — enough to
        # straddle a 6dp rounding boundary at 250 probes (hit at
        # sf0.1); double products are bit-identical
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    nn = knn_join(
        sub.withColumnRenamed("vec_id", "src"),
        sub.withColumnRenamed("vec_id", "dst"),
        probe_id="src",
        cand_id="dst",
        probe_vec="embedding",
        cand_vec="embedding",
        k=1,
        metric="cosine",
        exclude_self=True,
    ).select("src", "dst", "dist")
    rev = nn.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return (
        nn.join(rev, ["src", "dst"], "left_semi")
        .where(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("a_id"),
            F.col("dst").alias("b_id"),
            r6(F.col("dist")).alias("dist"),
        )
        .orderBy("a_id")
    )


# ---------------------------------------------------------------------------
# Q202 — PII redaction audit (C4/Gopher-style scrubbing)
# ---------------------------------------------------------------------------
# Deterministic synthetic PII is planted in-plan (doc_id-keyed email
# / phone suffixes both engines construct identically), then the
# scrub pass counts and strips it — pure regexp expressions, single
# pass, no UDFs. Patterns stay in the RE2-and-Java-common subset.
_PAT_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PAT_PHONE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

_Q202_ORACLE = (
    """
    WITH aug AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com now'
                  WHEN doc_id % 7 = 3
                  THEN text || ' call 555-'
                       || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                       || '-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE text END AS t
      FROM documents
    ), scrubbed AS (
      SELECT doc_id, source, t,
             len(regexp_extract_all(t, '"""
    + _PAT_EMAIL
    + """')) AS n_email,
             len(regexp_extract_all(t, '"""
    + _PAT_PHONE
    + """')) AS n_phone,
             regexp_replace(regexp_replace(t, '"""
    + _PAT_EMAIL
    + """', '<EMAIL>', 'g'), '"""
    + _PAT_PHONE
    + """', '<PHONE>', 'g') AS red
      FROM aug
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN n_email + n_phone > 0 THEN 1 END) AS BIGINT)
             AS n_docs_with_pii,
           CAST(SUM(n_email) AS BIGINT) AS n_emails,
           CAST(SUM(n_phone) AS BIGINT) AS n_phones,
           CAST(SUM(len(t) - len(red)) AS BIGINT) AS chars_removed
    FROM scrubbed GROUP BY source ORDER BY source
"""
)


@register(
    "q202_pii_redaction",
    _Q202_ORACLE,
    doc="PII scrub pass (C4/Gopher-style): email + phone patterns "
    "counted and replaced with placeholder tags in one "
    "regexp-expression pass — no UDFs, stateless, mergeable per "
    "shard. Synthetic PII planted deterministically in-plan so the "
    "audit is non-vacuous and both engines replay it exactly.",
)
def q202(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    aug = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ),
    ).when(
        F.col("doc_id") % 7 == 3,
        F.concat(
            F.col("text"),
            F.lit(" call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    t = docs.select("doc_id", "source", aug.alias("t"))
    red = F.regexp_replace(
        F.regexp_replace(F.col("t"), _PAT_EMAIL, "<EMAIL>"),
        _PAT_PHONE,
        "<PHONE>",
    )
    scrubbed = t.select(
        "source",
        F.regexp_count(F.col("t"), F.lit(_PAT_EMAIL)).alias("n_email"),
        F.regexp_count(F.col("t"), F.lit(_PAT_PHONE)).alias("n_phone"),
        (F.length("t") - F.length(red)).alias("delta"),
    )
    return (
        scrubbed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(
                F.when(F.col("n_email") + F.col("n_phone") > 0, 1)
            ).alias("n_docs_with_pii"),
            F.sum("n_email").cast("bigint").alias("n_emails"),
            F.sum("n_phone").cast("bigint").alias("n_phones"),
            F.sum("delta").cast("bigint").alias("chars_removed"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q203 — 2-D skyline (Pareto-optimal frontier)
# ---------------------------------------------------------------------------
# Skyline = parts not dominated on (retailprice, size), both
# minimized. The naive plan is the O(n^2) NOT EXISTS the oracle
# states; the Spark plan is the sort-prune rewrite: collapse to one
# min-size per distinct price level (one aggregation), running min
# over strictly-preceding levels (one window over the TINY level
# relation), then one broadcast join back — a point survives iff it
# beats every cheaper point's size and matches its own level's min.
_Q203_ORACLE = """
    SELECT p.p_partkey,
           ROUND(p.p_retailprice, 2) AS price,
           CAST(p.p_size AS INT) AS size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part o
      WHERE o.p_retailprice <= p.p_retailprice AND o.p_size <= p.p_size
        AND (o.p_retailprice < p.p_retailprice OR o.p_size < p.p_size)
    )
    ORDER BY p.p_partkey
"""


@register(
    "q203_skyline",
    _Q203_ORACLE,
    doc="2-D skyline (Pareto frontier) of parts minimizing "
    "(retailprice, size): the sort-prune plan — per-price-level min "
    "size, running min over cheaper levels, broadcast join back — "
    "replaces the O(n^2) NOT EXISTS the oracle states. Dominance "
    "ties (equal on both dims) are kept, per skyline semantics.",
)
def q203(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").cast("int").alias("size"),
    )
    levels = part.groupBy("price").agg(F.min("size").alias("lvl_min"))
    w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    pruned = levels.withColumn("prev_min", F.min("lvl_min").over(w))
    sky = (
        part.join(F.broadcast(pruned), "price")
        .where(
            (F.col("prev_min").isNull() | (F.col("size") < F.col("prev_min")))
            & (F.col("size") == F.col("lvl_min"))
        )
        .select(
            "p_partkey",
            F.round("price", 2).alias("price"),
            "size",
        )
        .orderBy("p_partkey")
    )
    return sky


# ---------------------------------------------------------------------------
# Q204 — consistent-hashing ring assignment + resize movement
# ---------------------------------------------------------------------------
# The op behind minimal-movement shard routing: 16 virtual nodes per
# shard on a 60-bit md5 ring; a doc routes to the first vnode
# clockwise from its hash. The ring is a PARAMETER (128/144 vnodes),
# so it ships as two sorted plan-literal arrays and the lookup is a
# pure codegen fold (count vnodes below the hash, index, wrap) — the
# bloom-filter trick again: constant-size state as literals, zero
# joins on the big side. Resizing 8 -> 9 shards must move only ~1/9
# of docs; the query reports per-shard volumes and moved counts.
import hashlib as _hashlib


def _ring(n_shards: int, vnodes: int = 16):
    pts = []
    for s in range(n_shards):
        for v in range(vnodes):
            h = int(
                _hashlib.md5(f"ring#shard{s}#{v}".encode()).hexdigest()[:15],
                16,
            )
            pts.append((h, f"shard{s}"))
    pts.sort()
    return [p[0] for p in pts], [p[1] for p in pts]

_Q204_VH8, _Q204_SH8 = _ring(8)
_Q204_VH9, _Q204_SH9 = _ring(9)


def _dd_ring_pick(vhs: list[int], shards: list[str], h: str) -> str:
    vh_lit = "[" + ", ".join(str(v) for v in vhs) + "]"
    sh_lit = "[" + ", ".join(f"'{s}'" for s in shards) + "]"
    idx = (
        f"(len(list_filter({vh_lit}, v -> v < {h})) % {len(vhs)}) + 1"
    )
    return f"{sh_lit}[{idx}]"


_Q204_H = "CAST(('0x' || substr(md5('doc#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"

_Q204_ORACLE = f"""
    WITH hashed AS (
      SELECT doc_id, {_Q204_H} AS h FROM documents
    ), assigned AS (
      SELECT doc_id,
             {_dd_ring_pick(_Q204_VH8, _Q204_SH8, 'h')} AS shard8,
             {_dd_ring_pick(_Q204_VH9, _Q204_SH9, 'h')} AS shard9
      FROM hashed
    )
    SELECT shard9 AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN shard8 <> shard9 THEN 1 END) AS BIGINT)
             AS n_moved
    FROM assigned GROUP BY shard9 ORDER BY shard9
"""


def _spark_ring_pick(vhs: list[int], shards: list[str], h):
    below = F.aggregate(
        F.lit(vhs),
        F.lit(0),
        lambda acc, v: acc + F.when(v < h, F.lit(1)).otherwise(F.lit(0)),
    )
    idx = F.pmod(below, F.lit(len(vhs))) + F.lit(1)
    return F.element_at(F.lit(shards), idx)


@register(
    "q204_consistent_hashing",
    _Q204_ORACLE,
    doc="Consistent-hashing ring routing (16 md5 vnodes/shard as "
    "sorted plan-literal arrays; lookup = pure codegen fold + index "
    "+ wrap, no join on the doc side) and the 8->9 shard resize "
    "audit: per-shard volume and moved-doc counts (~1/9 total moves "
    "— the property the ring exists for).",
)
def q204(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import h60_sql

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    h = F.expr(h60_sql("concat('doc#', CAST(doc_id AS STRING))"))
    assigned = docs.select(
        _spark_ring_pick(_Q204_VH8, _Q204_SH8, h).alias("shard8"),
        _spark_ring_pick(_Q204_VH9, _Q204_SH9, h).alias("shard9"),
    )
    return (
        assigned.groupBy(F.col("shard9").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(
                F.when(F.col("shard8") != F.col("shard9"), 1)
            ).alias("n_moved"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Q205 — Neyman-allocation stratified sampling
# ---------------------------------------------------------------------------
# Optimal stratified design: sample budget n allocated across strata
# proportional to N_h * S_h. The variance comes from EXACT integer
# moments (BIGINT sums of n_chars and its square), so both engines
# derive bit-identical doubles — stddev_samp's float summation order
# would not be cross-engine stable. Selection inside each stratum is
# the deterministic md5-rank sample (the R-series convention), so
# the chosen rows — not just their counts — are engine-identical,
# proven by hashing the sampled char mass.
_Q205_BUDGET = 600

_Q205_H = "CAST(('0x' || substr(md5('ney#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"

_Q205_ORACLE = f"""
    WITH stats AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(n_chars) AS BIGINT) AS sx,
             CAST(SUM(CAST(n_chars AS BIGINT) * n_chars) AS BIGINT) AS sx2
      FROM documents GROUP BY source
    ), wgt AS (
      SELECT source, n_h,
             n_h * sqrt((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n_h)
                        / (n_h - 1)) AS w
      FROM stats
    ), alloc AS (
      SELECT source, n_h, w,
             least(CAST(floor({_Q205_BUDGET} * w / SUM(w) OVER ()
                              + 0.5 + 1e-9) AS BIGINT), n_h) AS k
      FROM wgt
    ), ranked AS (
      SELECT d.source, d.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY d.source
                                ORDER BY {_Q205_H}, d.doc_id) AS rk
      FROM documents d
    )
    SELECT a.source, a.n_h, a.k AS alloc,
           CAST(COUNT(r.doc_id) AS BIGINT) AS n_sampled,
           CAST(SUM(r.n_chars) AS BIGINT) AS sampled_chars
    FROM alloc a LEFT JOIN ranked r
      ON r.source = a.source AND r.rk <= a.k
    GROUP BY a.source, a.n_h, a.k
    ORDER BY a.source
"""


@register(
    "q205_neyman_sampling",
    _Q205_ORACLE,
    doc="Neyman-allocation stratified sampling: budget split across "
    "strata proportional to N_h*S_h with S from exact integer "
    "moments (cross-engine-stable doubles), then the deterministic "
    "md5-rank sample inside each stratum. Per-stratum allocation, "
    "realized sample size, and sampled char mass (pins the exact "
    "row selection, not just counts).",
)
def q205(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from model_presto_spark.functions.text import h60_sql

    docs = _t(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum("n_chars").cast("bigint").alias("sx"),
        F.sum(F.col("n_chars").cast("bigint") * F.col("n_chars"))
        .cast("bigint")
        .alias("sx2"),
    )
    w = (
        F.col("n_h")
        * F.sqrt(
            (
                F.col("sx2").cast("double")
                - F.col("sx").cast("double") * F.col("sx") / F.col("n_h")
            )
            / (F.col("n_h") - 1)
        )
    ).alias("w")
    wgt = stats.select("source", "n_h", w)
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    alloc = wgt.select(
        "source",
        "n_h",
        F.least(
            F.floor(
                F.lit(_Q205_BUDGET) * F.col("w") / F.sum("w").over(tot)
                + F.lit(0.5)
                + F.lit(1e-9)
            ).cast("bigint"),
            F.col("n_h"),
        ).alias("k"),
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.expr(h60_sql("concat('ney#', CAST(doc_id AS STRING))")),
            F.col("doc_id"),
        )
    )
    ranked = docs.select("source", "doc_id", "n_chars", rk.alias("rk"))
    return (
        alloc.join(
            ranked,
            (ranked["source"] == alloc["source"])
            & (F.col("rk") <= F.col("k")),
            "left",
        )
        .groupBy(alloc["source"].alias("source"), "n_h", F.col("k").alias("alloc"))
        .agg(
            F.count("doc_id").cast("bigint").alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("sampled_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q206 — time travel: as-of snapshot reconstruction from SCD2 intervals
# ---------------------------------------------------------------------------
# The read side of the q115 SCD2 build: reconstruct "what did the
# dimension look like on date T" for three instants at once. A
# version is in force at T iff it is the user's latest valid_from
# <= T — one banded join against the (tiny, bounded) instants list
# and one max_by per (user, instant); never a per-instant rescan.
_Q206_INSTANTS = ("2024-01-05", "2024-01-15", "2024-01-25")

_Q206_VALUES = ", ".join(f"DATE '{d}'" for d in _Q206_INSTANTS)

_Q206_ORACLE = f"""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d, event_type, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2, 3
    ), st AS (
      SELECT user_id, d, event_type AS state FROM daily
      QUALIFY row_number() OVER (
        PARTITION BY user_id, d ORDER BY cnt DESC, event_type ASC) = 1
    ), mk AS (
      SELECT user_id, d, state,
             CASE WHEN lag(state) OVER w IS NULL
                       OR lag(state) OVER w <> state
                  THEN 1 ELSE 0 END AS chg
      FROM st WINDOW w AS (PARTITION BY user_id ORDER BY d)
    ), isl AS (
      SELECT user_id, d, state,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM mk
    ), versions AS (
      SELECT user_id, state, MIN(d) AS valid_from
      FROM isl GROUP BY user_id, state, island
    ), instants AS (
      SELECT UNNEST([{_Q206_VALUES}]) AS as_of
    ), inforce AS (
      SELECT i.as_of, v.user_id, v.state,
             ROW_NUMBER() OVER (PARTITION BY i.as_of, v.user_id
                                ORDER BY v.valid_from DESC) AS rk
      FROM versions v JOIN instants i ON v.valid_from <= i.as_of
    )
    SELECT strftime(as_of, '%Y-%m-%d') AS as_of, state,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM inforce WHERE rk = 1
    GROUP BY 1, 2 ORDER BY 1, 2
"""


@register(
    "q206_time_travel",
    _Q206_ORACLE,
    doc="As-of snapshot reconstruction over the q115 SCD2 intervals: "
    "per instant, each user's version in force is their latest "
    "valid_from <= T — one banded join against the bounded instants "
    "list + one max_by, so N instants never mean N rescans of the "
    "history. State census per instant.",
)
def q206(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.temporal import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    st = daily.groupBy("user_id", "d").agg(
        F.min_by(
            "event_type", F.struct(-F.col("cnt"), F.col("event_type"))
        ).alias("state")
    )
    versions = scd2_intervals(st, "user_id", "d", "state").select(
        "user_id", "state", "valid_from"
    )
    instants = F.explode(
        F.array(*[F.lit(d).cast("date") for d in _Q206_INSTANTS])
    ).alias("as_of")
    crossed = versions.select("user_id", "state", "valid_from", instants)
    inforce = (
        crossed.where(F.col("valid_from") <= F.col("as_of"))
        .groupBy("as_of", "user_id")
        .agg(F.max_by("state", "valid_from").alias("state"))
    )
    return (
        inforce.groupBy(
            F.date_format("as_of", "yyyy-MM-dd").alias("as_of"), "state"
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("as_of", "state")
    )


# ---------------------------------------------------------------------------
# Q207 — leave-one-out target encoding (ML feature op)
# ---------------------------------------------------------------------------
# Mean target encoding leaks the row's own label; the standard fix
# is leave-one-out: enc_i = (sum_y(cat) - y_i) / (n(cat) - 1). One
# category aggregation + one broadcast join back — no window over
# the fact table. The query pins per-category LOO extremes and the
# (distinct-value) cardinality, which fully determine the per-row
# encodings for a binary target.
_Q207_ORACLE = """
    WITH y AS (
      SELECT p.p_brand AS cat,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), agg AS (
      SELECT cat, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS sum_y
      FROM y GROUP BY cat
    ), loo AS (
      SELECT y.cat, y.y,
             CAST(a.sum_y - y.y AS DOUBLE) / (a.n - 1) AS enc
      FROM y JOIN agg a ON a.cat = y.cat
    )
    SELECT cat, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(enc) + 5e-12, 6) AS enc_min,
           ROUND(MAX(enc) + 5e-12, 6) AS enc_max,
           ROUND(AVG(enc) + 5e-12, 6) AS enc_mean,
           CAST(COUNT(DISTINCT enc) AS BIGINT) AS n_distinct
    FROM loo GROUP BY cat ORDER BY cat
"""


@register(
    "q207_target_encoding",
    _Q207_ORACLE,
    doc="Leave-one-out target encoding of p_brand against the "
    "return flag: category sums once, LOO formula "
    "(sum_y - y_i)/(n-1) per row via one broadcast join — no "
    "window over the fact table, no leakage. Per-category encoding "
    "extremes, mean, and cardinality pin the full encoding.",
)
def q207(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_returnflag")
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .select(
            F.col("p_brand").alias("cat"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        )
    )
    agg = li.groupBy("cat").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sum_y"),
    )
    loo = li.join(F.broadcast(agg), "cat").select(
        "cat",
        "n",
        (
            (F.col("sum_y") - F.col("y")).cast("double")
            / (F.col("n") - 1)
        ).alias("enc"),
    )
    return (
        loo.groupBy("cat")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            r6(F.min("enc")).alias("enc_min"),
            r6(F.max("enc")).alias("enc_max"),
            r6(F.avg("enc")).alias("enc_mean"),
            F.count_distinct(F.col("enc")).alias("n_distinct"),
        )
        .orderBy("cat")
    )


# ---------------------------------------------------------------------------
# Q208 — Merkle-style table checksums (replication / migration audit)
# ---------------------------------------------------------------------------
# Verifying that two copies of a 100 TB table agree cannot ship rows
# — it ships per-bucket ORDER-INDEPENDENT digests: xor (and a
# truncated modular sum) of a per-row hash over canonicalized
# columns. Digests compose (xor of bucket digests = table digest),
# so mismatched buckets localize the diff — the Merkle/anti-entropy
# pattern every replicated store uses. One map-side-combined
# aggregation; nothing but 16 digest rows ever moves.
_Q208_ROW = (
    "md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)"
    " || '|' || o_orderstatus || '|' || o_orderpriority || '|' ||"
    " strftime(o_orderdate, '%Y-%m-%d'))"
)

_Q208_ORACLE = f"""
    WITH h AS (
      SELECT o_orderkey % 16 AS bucket,
             CAST(('0x' || substr({_Q208_ROW}, 1, 15)) AS BIGINT) AS rh
      FROM orders
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(rh) AS BIGINT) AS xor_digest,
           CAST(SUM(rh % 1099511627776) AS BIGINT) AS sum_digest
    FROM h GROUP BY bucket ORDER BY bucket
"""


@register(
    "q208_table_checksums",
    _Q208_ORACLE,
    doc="Anti-entropy table checksums: per-bucket order-independent "
    "xor + truncated-sum digests of canonicalized order rows (md5 "
    "row hash). Digests are mergeable (xor composes), so replica "
    "comparison ships 16 rows, never data; mismatches localize to "
    "buckets. One map-side-combined aggregation.",
)
def q208(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
    )
    rh = F.conv(F.substring(F.md5(F.encode(row_str, "UTF-8")), 1, 15), 16, 10).cast(
        "bigint"
    )
    return (
        o.select(
            (F.col("o_orderkey") % 16).cast("bigint").alias("bucket"),
            rh.alias("rh"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.expr("bit_xor(rh)").cast("bigint").alias("xor_digest"),
            F.sum(F.col("rh") % F.lit(1099511627776))
            .cast("bigint")
            .alias("sum_digest"),
        )
        .orderBy("bucket")
    )
