"""Conformance queries: analytics family #5 (q160+) — URL
canonicalization with per-domain caps (the Common-Crawl-style web
pipeline stage), cross-source quantile normalization, seeded Poisson
bootstrap confidence intervals, and the cell-bucketed radius join.
Oracle conventions as everywhere (column-name parity, r6 rounding)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q160 — URL canonicalization + per-domain dedup/caps (web-corpus stage)
# ---------------------------------------------------------------------------
# URLs are synthesized deterministically from document attributes (the
# corpus tables carry no URL column), then PARSED back with the same
# regex on both engines — the parse/normalize/cap pipeline is the
# operator under test, exactly the RefinedWeb/FineWeb web-pipeline
# stage: scheme upgrade, www-strip, tracking-param removal, canonical
# dedup, and a per-registered-domain document cap.
_URL_RE = "^([a-z]+)://([^/?#]+)([^?#]*)\\??(.*)$"
_ID_RE = "(?:^|&)(id=[0-9]+)"

_Q160_CAP = 15

_Q160_ORACLE = f"""
    WITH raw AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 3 = 0 THEN 'http' ELSE 'https' END)
             || '://'
             || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
             || source || '.example.com/' || lang || '/p'
             || CAST(doc_id % 37 AS VARCHAR)
             || (CASE WHEN doc_id % 2 = 0
                      THEN '?utm_source=feed&utm_campaign=x&id='
                           || CAST(doc_id % 13 AS VARCHAR)
                      WHEN doc_id % 5 = 0
                      THEN '?id=' || CAST(doc_id % 13 AS VARCHAR)
                      ELSE '' END) AS url
      FROM documents
    ), parsed AS (
      SELECT doc_id,
             regexp_extract(url, '{_URL_RE}', 2) AS host,
             regexp_extract(url, '{_URL_RE}', 3) AS path,
             regexp_extract(url, '{_URL_RE}', 4) AS qs
      FROM raw
    ), canon AS (
      SELECT doc_id,
             regexp_replace(host, '^www\\.', '') AS domain,
             'https://' || regexp_replace(host, '^www\\.', '') || path
             || (CASE WHEN regexp_extract(qs, '{_ID_RE}', 1) <> ''
                      THEN '?' || regexp_extract(qs, '{_ID_RE}', 1)
                      ELSE '' END) AS curl
      FROM parsed
    ), dedup AS (
      SELECT domain, curl, doc_id,
             ROW_NUMBER() OVER (PARTITION BY curl ORDER BY doc_id) AS urn
      FROM canon
    ), capped AS (
      SELECT domain, curl, doc_id,
             ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) AS drn
      FROM dedup WHERE urn = 1
    )
    SELECT c.domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT c.curl) AS BIGINT) AS n_canonical,
           CAST(SUM(CASE WHEN k.drn <= {_Q160_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM canon c
    LEFT JOIN capped k ON c.doc_id = k.doc_id
    GROUP BY c.domain
    ORDER BY c.domain
"""


@register(
    "q160_url_canonical",
    _Q160_ORACLE,
    doc="Web-pipeline URL stage: parse scheme/host/path/query with one "
    "regex, canonicalize (https upgrade, www-strip, tracking-param "
    "removal keeping only the id param), dedup on the canonical URL "
    "(first doc_id wins), then cap each registered domain at "
    f"{_Q160_CAP} docs — the RefinedWeb per-domain quota. All string "
    "ops are JVM-side regexp expressions; the two ROW_NUMBER windows "
    "shuffle once on curl and once on domain (both low-cardinality "
    "keys vs the corpus). No Python in the path.",
)
def q160(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("http")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/p"),
        (F.col("doc_id") % 37).cast("string"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("?utm_source=feed&utm_campaign=x&id="),
                (F.col("doc_id") % 13).cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("?id="), (F.col("doc_id") % 13).cast("string")),
        )
        .otherwise(F.lit("")),
    )
    raw = docs.select("doc_id", url.alias("url"))
    host = F.regexp_extract(F.col("url"), _URL_RE, 2)
    path = F.regexp_extract(F.col("url"), _URL_RE, 3)
    qs = F.regexp_extract(F.col("url"), _URL_RE, 4)
    domain = F.regexp_replace(host, "^www\\.", "")
    idp = F.regexp_extract(qs, _ID_RE, 1)
    curl = F.concat(
        F.lit("https://"),
        domain,
        path,
        F.when(idp != "", F.concat(F.lit("?"), idp)).otherwise(F.lit("")),
    )
    canon = raw.select(
        "doc_id", domain.alias("domain"), curl.alias("curl")
    ).localCheckpoint(eager=False)
    w_url = Window.partitionBy("curl").orderBy("doc_id")
    dedup = canon.withColumn("urn", F.row_number().over(w_url)).where(
        F.col("urn") == 1
    )
    w_dom = Window.partitionBy("domain").orderBy("doc_id")
    capped = dedup.withColumn("drn", F.row_number().over(w_dom)).select(
        "doc_id", "drn"
    )
    return (
        canon.join(capped, "doc_id", "left")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("curl").alias("n_canonical"),
            F.sum(
                F.when(F.col("drn") <= _Q160_CAP, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_kept"),
        )
        .orderBy("domain")
    )


# ---------------------------------------------------------------------------
# Q161 — cross-source quantile normalization (rank → mean-at-rank)
# ---------------------------------------------------------------------------
_Q161_ORACLE = """
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rn
      FROM documents
    ), m AS (
      SELECT MIN(cnt) AS mmin FROM (
        SELECT COUNT(*) AS cnt FROM documents GROUP BY source
      )
    ), trimmed AS (
      SELECT r.source, r.doc_id, r.n_chars, r.rn
      FROM ranked r, m WHERE r.rn <= m.mmin
    ), target AS (
      SELECT rn, SUM(n_chars) AS s, COUNT(*) AS c
      FROM trimmed GROUP BY rn
    )
    SELECT t.source, t.rn, t.n_chars,
           ROUND(CAST(g.s AS DOUBLE) / g.c + 5e-12, 6) AS norm_value
    FROM trimmed t JOIN target g ON t.rn = g.rn
    ORDER BY t.source, t.rn
"""


@register(
    "q161_quantile_normalize",
    _Q161_ORACLE,
    doc="Quantile normalization across sources (the genomics / "
    "feature-preprocessing operator): rank each doc's n_chars within "
    "its source, trim every source to the smallest source's size so "
    "ranks align, then replace each value with the cross-source mean "
    "at its rank. Integer sums keep the rank-mean exact in double "
    "regardless of summation order, so the oracle compares bit-for-"
    "bit under r6. Two shuffles (rank window on source, groupBy rn); "
    "the rank-mean relation broadcasts back.",
)
def q161(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source", "doc_id", "n_chars", F.row_number().over(w).alias("rn")
    )
    mmin = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").alias("mmin"))
    )
    trimmed = (
        ranked.join(F.broadcast(mmin))
        .where(F.col("rn") <= F.col("mmin"))
        .drop("mmin")
        .localCheckpoint(eager=False)
    )
    target = trimmed.groupBy("rn").agg(
        F.sum("n_chars").alias("s"), F.count(F.lit(1)).alias("c")
    )
    return (
        trimmed.join(F.broadcast(target), "rn")
        .select(
            "source",
            "rn",
            "n_chars",
            r6(F.col("s").cast("double") / F.col("c")).alias("norm_value"),
        )
        .orderBy("source", "rn")
    )


# ---------------------------------------------------------------------------
# Q162 — seeded Poisson bootstrap CI for the mean order value
# ---------------------------------------------------------------------------
# Poisson(1) resampling weights from a deterministic md5-derived
# uniform: the classic single-pass distributed bootstrap (each row
# draws an independent Poisson(1) multiplicity per replicate — no
# global resample-with-replacement shuffle). Inverse-CDF thresholds
# are 16-digit literals, so both engines binary-compare identical
# doubles.
_Q162_REPS = 24
_P = (
    "0.3678794411714423",  # P(X=0)
    "0.7357588823428846",  # + P(1)
    "0.9196986029286058",  # + P(2)
    "0.9810118431238462",  # + P(3)
    "0.9963401531726563",  # + P(4)
    "0.9994058151824183",  # + P(5)
)
# ONE md5 per ROW (not per replicate): the 60-bit digest reduces mod
# the Mersenne prime P=2^31-1, and replicate r's uniform is the
# multiplicative remix ((hx*(2r+1) + r) mod P)/P — (P-1)*47+23 < 2^37,
# so the arithmetic never overflows BIGINT in any engine (the same
# overflow-safety contract as functions/text.py HASH_P). This is the
# "fold replicates into one pass" scale shape: hashing cost is
# per-row, the per-(row, replicate) work is two integer ops.
_Q162_MP = 2_147_483_647

_Q162_HX = (
    "CAST(('0x' || substr(md5('boot#' || CAST(o_orderkey AS VARCHAR)), "
    f"1, 15)) AS BIGINT) % {_Q162_MP}"
)

_Q162_ORACLE = f"""
    WITH hashed AS (
      SELECT o_totalprice, {_Q162_HX} AS hx FROM orders
    ), drawn AS (
      SELECT t.rep, o_totalprice,
             CAST((hx * (2 * t.rep + 1) + t.rep) % {_Q162_MP} AS DOUBLE)
               / {_Q162_MP}.0 AS u
      FROM hashed CROSS JOIN (SELECT CAST(range AS INT) AS rep
                              FROM range(0, {_Q162_REPS})) t
    ), weighted AS (
      SELECT rep, o_totalprice,
             CASE WHEN u < {_P[0]} THEN 0
                  WHEN u < {_P[1]} THEN 1
                  WHEN u < {_P[2]} THEN 2
                  WHEN u < {_P[3]} THEN 3
                  WHEN u < {_P[4]} THEN 4
                  WHEN u < {_P[5]} THEN 5
                  ELSE 6 END AS w
      FROM drawn
    )
    SELECT rep,
           CAST(SUM(w) AS BIGINT) AS n_eff,
           {_R6.format(x='SUM(w * o_totalprice) / SUM(w)')} AS boot_mean
    FROM weighted
    GROUP BY rep
    ORDER BY rep
"""


@register(
    "q162_poisson_bootstrap",
    _Q162_ORACLE,
    doc=f"Poisson bootstrap: {_Q162_REPS} replicates of the mean order "
    "value, each row drawing a Poisson(1) multiplicity from a "
    "deterministic uniform via literal inverse-CDF thresholds. The "
    "distributed-bootstrap standard: one map-side explode + one "
    "aggregation, no resampling shuffle, RNG-free and cluster-size-"
    "invariant. Hashing is folded to ONE md5 per row — replicate r "
    "remixes the row digest as ((hx*(2r+1)+r) mod P)/P over the "
    "Mersenne prime, so per-(row, replicate) cost is two integer ops "
    "(3x faster than per-replicate digests at sf0.1). Replicate "
    "means feed the percentile CI driver-side (24 scalars).",
)
def q162(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import h60_sql

    orders = _t(spark, sf_dir, "orders")
    hashed = orders.select(
        "o_totalprice",
        (
            F.expr(h60_sql("concat('boot#', CAST(o_orderkey AS STRING))"))
            % F.lit(_Q162_MP).cast("bigint")
        ).alias("hx"),
    )
    drawn = hashed.select(
        "o_totalprice",
        "hx",
        F.explode(F.sequence(F.lit(0), F.lit(_Q162_REPS - 1))).alias("rep"),
    )
    u = (
        (F.col("hx") * (2 * F.col("rep") + 1) + F.col("rep"))
        % F.lit(_Q162_MP).cast("bigint")
    ).cast("double") / float(_Q162_MP)
    w = (
        F.when(u < float(_P[0]), 0)
        .when(u < float(_P[1]), 1)
        .when(u < float(_P[2]), 2)
        .when(u < float(_P[3]), 3)
        .when(u < float(_P[4]), 4)
        .when(u < float(_P[5]), 5)
        .otherwise(6)
    )
    weighted = drawn.select("rep", "o_totalprice", w.alias("w"))
    return (
        weighted.groupBy("rep")
        .agg(
            F.sum("w").cast("bigint").alias("n_eff"),
            r6(
                F.sum(F.col("w") * F.col("o_totalprice")) / F.sum("w")
            ).alias("boot_mean"),
        )
        .orderBy("rep")
    )


# ---------------------------------------------------------------------------
# Q163 — cell-bucketed radius join (ST_DWithin at scale)
# ---------------------------------------------------------------------------
_Q163_RADIUS_M = 100_000.0
_Q163_CELL_DEG = 2.0

_Q163_COORDS_C = """
      SELECT c_custkey,
             (c_custkey % 120) - 60 + 0.37 AS clat,
             (c_custkey % 340) - 170 + 0.73 AS clon
      FROM customer
"""
_Q163_COORDS_S = """
      SELECT s_suppkey,
             ((s_suppkey * 7) % 120) - 60 + 0.11 AS slat,
             ((s_suppkey * 13) % 340) - 170 + 0.29 AS slon
      FROM supplier
"""

_Q163_HAV = (
    "2.0 * 6378137.0 * asin(sqrt("
    "sin(radians(clat - slat) / 2) * sin(radians(clat - slat) / 2)"
    " + cos(radians(slat)) * cos(radians(clat))"
    " * sin(radians(clon - slon) / 2) * sin(radians(clon - slon) / 2)))"
)

_Q163_ORACLE = f"""
    WITH c AS ({_Q163_COORDS_C}), s AS ({_Q163_COORDS_S}),
    cc AS (
      SELECT c_custkey, clat, clon,
             CAST(floor(clat / {_Q163_CELL_DEG}) AS BIGINT) AS cl,
             CAST(floor(clon / {_Q163_CELL_DEG}) AS BIGINT) AS cn
      FROM c
    ), sc AS (
      SELECT s_suppkey, slat, slon,
             CAST(floor(slat / {_Q163_CELL_DEG}) AS BIGINT) AS cl,
             CAST(floor(slon / {_Q163_CELL_DEG}) AS BIGINT) AS cn
      FROM s
    ), pairs AS (
      SELECT sc.s_suppkey, {_Q163_HAV} AS dist_m
      FROM sc JOIN cc
        ON cc.cl BETWEEN sc.cl - 1 AND sc.cl + 1
       AND cc.cn BETWEEN sc.cn - 1 AND sc.cn + 1
      WHERE {_Q163_HAV} <= {_Q163_RADIUS_M}
    )
    SELECT s_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_close,
           ROUND(MIN(dist_m) / 1000.0 + 5e-7, 1) AS min_km
    FROM pairs
    GROUP BY s_suppkey
    ORDER BY s_suppkey
"""


@register(
    "q163_radius_join",
    _Q163_ORACLE,
    doc=f"Radius join (suppliers x customers within "
    f"{_Q163_RADIUS_M/1000:.0f} km): operators/grid.py radius_join — "
    "2-degree lat/lon cell bucketing, the small side explodes its 3x3 "
    "neighbor cells (x9) and candidates form by cell EQUI-join (one "
    "shuffle per side, no theta-join / no cross product), exact "
    "haversine verifies candidates. The cell size covers the radius "
    "in longitude at the max synthesized |lat| (59.4 deg), so no "
    "boundary pair is missed. The oracle runs the same cells as a "
    "band join — feasible for DuckDB at sf, while the Spark plan is "
    "the 100 TB shape.",
)
def q163(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.grid import radius_join

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") % 120) - 60 + 0.37).alias("clat"),
        ((F.col("c_custkey") % 340) - 170 + 0.73).alias("clon"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (((F.col("s_suppkey") * 7) % 120) - 60 + 0.11).alias("slat"),
        (((F.col("s_suppkey") * 13) % 340) - 170 + 0.29).alias("slon"),
    )
    pairs = radius_join(
        supp,
        cust,
        "slat",
        "slon",
        "clat",
        "clon",
        radius_m=_Q163_RADIUS_M,
        cell_deg=_Q163_CELL_DEG,
    )
    return (
        pairs.groupBy("s_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_close"),
            F.round(F.min("dist_m") / 1000.0 + 5e-7, 1).alias("min_km"),
        )
        .orderBy("s_suppkey")
    )
