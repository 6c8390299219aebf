"""Conformance queries batch #36 (q374+) — trajectory mobility
metrics, Hodges-Lehmann pseudomedian, Kendall tau-b, rank-biased
overlap between two rankings, and weighted (Ruzicka) Jaccard
between sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, r6, register
from model_presto_spark.plans.queries_docs import DD_TOKENS

_TOK = DD_TOKENS.format(t="text")


# ---------------------------------------------------------------------------
# Q374 — trajectory mobility metrics (path length + radius of gyration)
# ---------------------------------------------------------------------------
# Human-mobility analytics over per-user point sequences: total
# haversine path length (lag window per user) and radius of
# gyration (RMS haversine distance to the user's centroid — the
# standard mobility-range statistic).  Coordinates are a
# deterministic md5 function of the event id (a 10x10-degree box),
# so both engines walk identical trajectories.
_Q374_ORACLE = """
    WITH pts AS (
      SELECT user_id, ts, event_id,
             (CAST(('0x' || substr(md5('lat#' || CAST(event_id AS VARCHAR)),
                    1, 15)) AS BIGINT) / 1152921504606846976.0) * 10 + 40
               AS lat,
             (CAST(('0x' || substr(md5('lon#' || CAST(event_id AS VARCHAR)),
                    1, 15)) AS BIGINT) / 1152921504606846976.0) * 10 - 5
               AS lon
      FROM events
    ), steps AS (
      SELECT user_id, lat, lon,
             LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), seg AS (
      SELECT user_id, lat, lon,
             CASE WHEN plat IS NULL THEN 0 ELSE
               2 * 6371.0 * asin(sqrt(
                 pow(sin(radians(lat - plat) / 2), 2)
                 + cos(radians(plat)) * cos(radians(lat))
                   * pow(sin(radians(lon - plon) / 2), 2)))
             END AS d_km
      FROM steps
    ), cent AS (
      SELECT user_id, AVG(lat) AS clat, AVG(lon) AS clon,
             SUM(d_km) AS path_km, COUNT(*) AS n
      FROM seg GROUP BY user_id
    ), rog AS (
      SELECT s.user_id,
             sqrt(AVG(
               pow(2 * 6371.0 * asin(sqrt(
                 pow(sin(radians(s.lat - c.clat) / 2), 2)
                 + cos(radians(c.clat)) * cos(radians(s.lat))
                   * pow(sin(radians(s.lon - c.clon) / 2), 2))), 2)
             )) AS rog_km
      FROM seg s JOIN cent c ON c.user_id = s.user_id
      GROUP BY s.user_id
    )
    SELECT c.user_id, CAST(c.n AS BIGINT) AS n_points,
           ROUND(c.path_km + 5e-10, 4) AS path_km,
           ROUND(r.rog_km + 5e-10, 4) AS rog_km
    FROM cent c JOIN rog r ON r.user_id = c.user_id
    ORDER BY c.user_id LIMIT 50
"""


def _hav_km(lat1, lon1, lat2, lon2):
    return (
        2
        * 6371.0
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(lat2 - lat1) / 2), 2)
                + F.cos(F.radians(lat1))
                * F.cos(F.radians(lat2))
                * F.pow(F.sin(F.radians(lon2 - lon1) / 2), 2)
            )
        )
    )


@register(
    "q374_trajectory_metrics",
    _Q374_ORACLE,
    doc="Mobility metrics per user: haversine path length (one lag "
    "window per entity) and radius of gyration (RMS distance to "
    "the per-user centroid — centroid broadcast back, q84's "
    "join-back shape).  Deterministic md5 coordinates make the "
    "trajectories engine-identical.",
)
def q374(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import H60_MAX, h60_sql

    ev = _t(spark, sf_dir, "events")
    lat = (
        F.expr(h60_sql("concat('lat#', CAST(event_id AS STRING))"))
        / F.lit(H60_MAX)
    ) * 10 + 40
    lon = (
        F.expr(h60_sql("concat('lon#', CAST(event_id AS STRING))"))
        / F.lit(H60_MAX)
    ) * 10 - 5
    pts = ev.select(
        "user_id", "ts", "event_id", lat.alias("lat"), lon.alias("lon")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = pts.select(
        "user_id",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    )
    seg = steps.withColumn(
        "d_km",
        F.when(F.col("plat").isNull(), 0.0).otherwise(
            _hav_km(F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon"))
        ),
    )
    cent = seg.groupBy(F.col("user_id").alias("c_user")).agg(
        F.avg("lat").alias("clat"),
        F.avg("lon").alias("clon"),
        F.sum("d_km").alias("path_km"),
        F.count(F.lit(1)).alias("n"),
    )
    rog = (
        seg.join(F.broadcast(cent), F.col("user_id") == F.col("c_user"))
        .groupBy("user_id")
        .agg(
            F.sqrt(
                F.avg(
                    F.pow(
                        _hav_km(
                            F.col("clat"),
                            F.col("clon"),
                            F.col("lat"),
                            F.col("lon"),
                        ),
                        2,
                    )
                )
            ).alias("rog_km")
        )
    )
    return (
        cent.join(rog, F.col("c_user") == F.col("user_id"))
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n_points"),
            F.round(F.col("path_km") + 5e-10, 4).alias("path_km"),
            F.round(F.col("rog_km") + 5e-10, 4).alias("rog_km"),
        )
        .orderBy("user_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Q375 — Hodges-Lehmann pseudomedian
# ---------------------------------------------------------------------------
# Median of all pairwise means (Walsh averages, i <= j) of the
# daily event count per type: the rank-based location estimator
# (the point estimate behind the Wilcoxon signed-rank test) —
# robust like the median, ~96% efficient like the mean.  The O(n^2)
# pair join is paid on the 30-row DAILY relation per group (the
# q145 Theil-Sen discipline), never on events.
_Q375_ORACLE = """
    WITH daily AS (
      SELECT event_type, CAST(EXTRACT(day FROM ts) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type, (a.y + b.y) / 2.0 AS w
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d <= b.d
    )
    SELECT event_type,
           ROUND(median(w) + 5e-12, 6) AS hodges_lehmann,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY event_type ORDER BY event_type
"""


@register(
    "q375_hodges_lehmann",
    _Q375_ORACLE,
    doc="Hodges-Lehmann pseudomedian (median of Walsh averages) of "
    "daily counts per event type: collapse to the 30-row daily "
    "relation FIRST, pay the pairwise join there (q145's Theil-Sen "
    "discipline), exact percentile on half-integer means.",
)
def q375(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.dayofmonth("ts").cast("bigint").alias("d")
    ).agg(F.count(F.lit(1)).alias("y"))
    a = daily.select(
        F.col("event_type").alias("et"),
        F.col("d").alias("da"),
        F.col("y").alias("ya"),
    )
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("d").alias("db"),
        F.col("y").alias("yb"),
    )
    pairs = a.join(
        b, (F.col("et") == F.col("et_b")) & (F.col("da") <= F.col("db"))
    ).select("et", ((F.col("ya") + F.col("yb")) / 2.0).alias("w"))
    return (
        pairs.groupBy(F.col("et").alias("event_type"))
        .agg(
            r6(F.percentile(F.col("w"), F.lit(0.5))).alias("hodges_lehmann"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q376 — Kendall tau-b rank correlation
# ---------------------------------------------------------------------------
# Concordant-vs-discordant pairs of (daily clicks, daily purchases)
# with the tau-b tie correction — the pairwise sibling of Spearman
# (q149 family) and of Kendall's W (q319, multi-rater).  All-pair
# signs on the 30-row daily relation; every term is an integer
# until the final ratio.
_Q376_ORACLE = """
    WITH daily AS (
      SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1
    ), pairs AS (
      SELECT sign(CAST(b.x - a.x AS DOUBLE)) AS sx,
             sign(CAST(b.y - a.y AS DOUBLE)) AS sy
      FROM daily a JOIN daily b ON a.d < b.d
    )
    SELECT ROUND(SUM(sx * sy)
                 / sqrt(SUM(CASE WHEN sx <> 0 THEN 1.0 ELSE 0 END)
                        * SUM(CASE WHEN sy <> 0 THEN 1.0 ELSE 0 END))
                 + 5e-12, 6) AS tau_b,
           CAST(SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS concordant,
           CAST(SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS discordant
    FROM pairs
"""


@register(
    "q376_kendall_tau",
    _Q376_ORACLE,
    doc="Kendall tau-b between daily click and purchase counts: "
    "all-pair concordance signs on the collapsed 30-row daily "
    "relation, tie-corrected denominator — integer arithmetic "
    "until the final rounded ratio.",
)
def q376(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.dayofmonth("ts").cast("bigint").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    a = daily.select(
        F.col("d").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("d").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pairs = a.join(b, F.col("da") < F.col("db")).select(
        F.signum((F.col("xb") - F.col("xa")).cast("double")).alias("sx"),
        F.signum((F.col("yb") - F.col("ya")).cast("double")).alias("sy"),
    )
    return pairs.agg(
        r6(
            F.sum(F.col("sx") * F.col("sy"))
            / F.sqrt(
                F.sum(F.when(F.col("sx") != 0, 1.0).otherwise(0.0))
                * F.sum(F.when(F.col("sy") != 0, 1.0).otherwise(0.0))
            )
        ).alias("tau_b"),
        F.sum(F.when(F.col("sx") * F.col("sy") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("concordant"),
        F.sum(F.when(F.col("sx") * F.col("sy") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("discordant"),
    )


# ---------------------------------------------------------------------------
# Q377 — rank-biased overlap between two top-k rankings
# ---------------------------------------------------------------------------
# RBO (Webber et al. 2010) at p = 0.9, depth 20, between the
# revenue-ranked and quantity-ranked part lists: per-depth
# intersection sizes from the matched-pair (max rank) relation
# crossed with a literal depth spine — top-k lists are tiny, so the
# whole comparison is O(k^2) AFTER two fact aggregations.
_Q377_P = 0.9
_Q377_K = 20

_Q377_ORACLE = f"""
    WITH byrev AS (
      SELECT l_partkey,
             ROW_NUMBER() OVER (
               ORDER BY ROUND(SUM(l_extendedprice * (1 - l_discount))
                              + 5e-10, 2) DESC, l_partkey) AS ra
      FROM lineitem GROUP BY l_partkey
    ), byqty AS (
      SELECT l_partkey,
             ROW_NUMBER() OVER (
               ORDER BY SUM(l_quantity) DESC, l_partkey) AS rb
      FROM lineitem GROUP BY l_partkey
    ), both_in AS (
      SELECT GREATEST(a.ra, b.rb) AS first_depth
      FROM byrev a JOIN byqty b ON b.l_partkey = a.l_partkey
      WHERE a.ra <= {_Q377_K} AND b.rb <= {_Q377_K}
    ), depths AS (SELECT unnest(generate_series(1, {_Q377_K})) AS d),
    ov_curve AS (
      SELECT dd.d,
             CAST((SELECT COUNT(*) FROM both_in bi
                   WHERE bi.first_depth <= dd.d) AS BIGINT) AS ov
      FROM depths dd
    )
    SELECT ROUND(SUM((1 - {_Q377_P}) * POW({_Q377_P}, d - 1) * ov * 1.0 / d)
                 + 5e-12, 6) AS rbo_min,
           CAST(MAX(CASE WHEN d = {_Q377_K} THEN ov END) AS BIGINT)
             AS overlap_at_k
    FROM ov_curve
"""


@register(
    "q377_rbo",
    _Q377_ORACLE,
    doc=f"Rank-biased overlap (p={_Q377_P}, depth {_Q377_K}) between "
    "the revenue-ranked and quantity-ranked part lists: two fact "
    "rollups produce the rankings (rounded-score, id-tiebreak "
    "order), then the per-depth intersection curve comes from the "
    "matched pairs' max-rank vs a literal depth spine — the "
    "top-weighted list-similarity metric of ranking regression "
    "tests.",
)
def q377(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 5e-10,
            2,
        ).alias("rev")
    )
    qty = li.groupBy(F.col("l_partkey").alias("q_part")).agg(
        F.sum("l_quantity").alias("qty")
    )
    ra = rev.select(
        "l_partkey",
        F.row_number()
        .over(Window.orderBy(F.col("rev").desc(), "l_partkey"))
        .alias("ra"),
    ).filter(F.col("ra") <= _Q377_K)
    rb = qty.select(
        "q_part",
        F.row_number()
        .over(Window.orderBy(F.col("qty").desc(), "q_part"))
        .alias("rb"),
    ).filter(F.col("rb") <= _Q377_K)
    both = ra.join(rb, F.col("l_partkey") == F.col("q_part")).select(
        F.greatest(F.col("ra"), F.col("rb")).alias("first_depth")
    )
    depths = spark.range(1, _Q377_K + 1).select(F.col("id").alias("d"))
    overlaps = (
        depths.join(
            F.broadcast(both), F.col("first_depth") <= F.col("d"), "left"
        )
        .groupBy("d")
        .agg(F.count("first_depth").alias("ov"))
    )
    return overlaps.agg(
        r6(
            F.sum(
                (1 - _Q377_P)
                * F.pow(F.lit(_Q377_P), F.col("d") - 1)
                * F.col("ov")
                * 1.0
                / F.col("d")
            )
        ).alias("rbo_min"),
        F.max(F.when(F.col("d") == _Q377_K, F.col("ov")))
        .cast("bigint")
        .alias("overlap_at_k"),
    )


# ---------------------------------------------------------------------------
# Q378 — weighted (Ruzicka) Jaccard between sources
# ---------------------------------------------------------------------------
# sum min(tf_a, tf_b) / sum max(tf_a, tf_b) over term frequencies —
# the frequency-weighted set similarity (the Jaccard that sees HOW
# MUCH sources share, not just whether).  Shared-term min sums come
# from one token-keyed pair join; the max denominator needs only
# the broadcast totals: sum max = total_a + total_b - sum min.
_Q378_ORACLE = f"""
    WITH tf AS (
      SELECT source, unnest({_TOK}) AS tok FROM documents
    ), cnt AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM tf GROUP BY 1, 2
    ), tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
    shared AS (
      SELECT a.source AS sa, b.source AS sb,
             SUM(LEAST(a.c, b.c)) AS smin
      FROM cnt a JOIN cnt b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT s.sa, s.sb,
           ROUND(s.smin * 1.0 / (ta.t + tb.t - s.smin) + 5e-12, 6)
             AS weighted_jaccard
    FROM shared s
    JOIN tot ta ON ta.source = s.sa
    JOIN tot tb ON tb.source = s.sb
    ORDER BY weighted_jaccard DESC, s.sa, s.sb LIMIT 30
"""


@register(
    "q378_weighted_jaccard",
    _Q378_ORACLE,
    doc="Weighted (Ruzicka) Jaccard between source term-frequency "
    "vectors: min-sums via one token-keyed pair join (vocabulary-"
    "sized, the q241-JSD shape), max denominator reconstructed "
    "from broadcast totals (sum max = t_a + t_b - sum min) — no "
    "second pair pass.  The frequency-aware member of the corpus-"
    "similarity family (JSD q241, cosine q157, lead-shingle "
    "overlap q132).",
)
def q378(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    tf = docs.selectExpr(
        "source", f"explode_outer({T.tokens_sql('text')}) AS tok"
    ).filter(F.col("tok").isNotNull())
    cnt = tf.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy(F.col("source").alias("t_src")).agg(
        F.sum("c").cast("bigint").alias("t")
    )
    a = cnt.select(
        F.col("source").alias("sa"), F.col("tok").alias("ta_tok"), F.col("c").alias("ca")
    )
    b = cnt.select(
        F.col("source").alias("sb"), F.col("tok").alias("tb_tok"), F.col("c").alias("cb")
    )
    shared = (
        a.join(
            b,
            (F.col("ta_tok") == F.col("tb_tok")) & (F.col("sa") < F.col("sb")),
        )
        .groupBy("sa", "sb")
        .agg(F.sum(F.least(F.col("ca"), F.col("cb"))).alias("smin"))
    )
    ta = tot.select(F.col("t_src").alias("sa_t"), F.col("t").alias("t_a"))
    tb = tot.select(F.col("t_src").alias("sb_t"), F.col("t").alias("t_b"))
    return (
        shared.join(F.broadcast(ta), F.col("sa") == F.col("sa_t"))
        .join(F.broadcast(tb), F.col("sb") == F.col("sb_t"))
        .select(
            "sa",
            "sb",
            r6(
                F.col("smin")
                * 1.0
                / (F.col("t_a") + F.col("t_b") - F.col("smin"))
            ).alias("weighted_jaccard"),
        )
        .orderBy(F.col("weighted_jaccard").desc(), "sa", "sb")
        .limit(30)
    )
