"""Conformance queries batch #32 (q349+) — hierarchy ratio-to-parent
rollup, weighted shortest paths (bounded Bellman-Ford), seeded
differential-privacy noisy counts, average precision (PR-AUC), and
Jaccard-coefficient link prediction.

Oracle conventions as everywhere: 6dp-rounded (+5e-12) scores before
any compare/argmax, money ROUND(+5e-10, 2), counts CAST BIGINT,
md5-derived 60-bit uniforms for anything "random" so both engines
draw the same values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, r6, register



# ---------------------------------------------------------------------------
# Q349 — ratio-to-parent hierarchy rollup
# ---------------------------------------------------------------------------
# Top customers by revenue with their share of the nation, the
# nation's share of the region, and the region's share of the total
# — the drill-path "percent of parent" report.  One fact aggregation;
# every parent level re-aggregates the child relation (tiny after
# the first), then broadcasts back.
_Q349_ORACLE = """
    WITH cust AS (
      SELECT c.c_custkey, n.n_name, r.r_name,
             SUM(o.o_totalprice) AS rev
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2, 3
    ), nat AS (SELECT n_name, SUM(rev) AS nrev FROM cust GROUP BY 1),
    reg AS (SELECT r_name, SUM(rev) AS rrev FROM cust GROUP BY 1),
    tot AS (SELECT SUM(rev) AS trev FROM cust)
    SELECT c.c_custkey, c.n_name, c.r_name,
           ROUND(c.rev + 5e-10, 2) AS rev,
           ROUND(c.rev / n.nrev + 5e-12, 6) AS pct_of_nation,
           ROUND(n.nrev / r.rrev + 5e-12, 6) AS nation_pct_of_region,
           ROUND(r.rrev / t.trev + 5e-12, 6) AS region_pct_of_total
    FROM cust c JOIN nat n ON n.n_name = c.n_name
    JOIN reg r ON r.r_name = c.r_name CROSS JOIN tot t
    ORDER BY rev DESC, c.c_custkey LIMIT 20
"""


@register(
    "q349_pct_of_parent",
    _Q349_ORACLE,
    doc="Percent-of-parent drill path (customer -> nation -> region "
    "-> total): one fact aggregation on custkey, then each parent "
    "level re-aggregates the already-tiny child relation and "
    "broadcasts back — never a second pass over orders.  The "
    "OLAP-cube companion to ROLLUP(q51)/CUBE(q77), stated as "
    "ratios.",
)
def q349(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("c_custkey", "n_name", "r_name")
        .agg(F.sum("o_totalprice").alias("rev"))
        # lineage cut: cust feeds nation/region/total rollups plus the
        # final join (plan audit: 32 scans un-materialized)
        .localCheckpoint(eager=False)
    )
    nat = cust.groupBy(F.col("n_name").alias("nn")).agg(F.sum("rev").alias("nrev"))
    reg = cust.groupBy(F.col("r_name").alias("rr")).agg(F.sum("rev").alias("rrev"))
    tot = cust.agg(F.sum("rev").alias("trev"))
    return (
        cust.join(F.broadcast(nat), F.col("n_name") == F.col("nn"))
        .join(F.broadcast(reg), F.col("r_name") == F.col("rr"))
        .crossJoin(F.broadcast(tot))
        .select(
            "c_custkey",
            "n_name",
            "r_name",
            F.round(F.col("rev") + 5e-10, 2).alias("rev"),
            r6(F.col("rev") / F.col("nrev")).alias("pct_of_nation"),
            r6(F.col("nrev") / F.col("rrev")).alias("nation_pct_of_region"),
            r6(F.col("rrev") / F.col("trev")).alias("region_pct_of_total"),
        )
        .orderBy(F.col("rev").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q350 — weighted shortest paths (bounded Bellman-Ford)
# ---------------------------------------------------------------------------
_SSSP_MOD = 200
_SSSP_SOURCES = [0, 7]
_SSSP_ROUNDS = 4


def _sssp_oracle() -> str:
    srcs = ", ".join(f"({s})" for s in _SSSP_SOURCES)
    head = f"""
    WITH base AS (
      SELECT CAST(o_custkey % {_SSSP_MOD} AS BIGINT) AS u,
             CAST(o_orderkey % {_SSSP_MOD} AS BIGINT) AS v,
             CAST(o_orderkey % 7 + 1 AS BIGINT) AS w
      FROM orders WHERE o_custkey % {_SSSP_MOD} <> o_orderkey % {_SSSP_MOD}
    ), e AS (
      SELECT u, v, MIN(w) AS w FROM (
        SELECT u, v, w FROM base
        UNION ALL
        SELECT v AS u, u AS v, w FROM base
      ) GROUP BY u, v
    ), d0(node, dist) AS (
      SELECT CAST(s.n AS BIGINT), CAST(0 AS BIGINT) FROM (VALUES {srcs}) s(n)
    )"""
    steps = "".join(
        f""", d{i + 1} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{i}
        UNION ALL
        SELECT e.v AS node, d{i}.dist + e.w AS dist
        FROM e JOIN d{i} ON e.u = d{i}.node
      ) GROUP BY 1
    )"""
        for i in range(_SSSP_ROUNDS)
    )
    return head + steps + f"\n    SELECT node, dist FROM d{_SSSP_ROUNDS} ORDER BY node"


@register(
    "q350_weighted_sssp",
    _sssp_oracle(),
    doc=f"Weighted single-source shortest paths from {_SSSP_SOURCES} "
    f"({_SSSP_ROUNDS} Bellman-Ford rounds, integer weights): one "
    "edge-relaxation join + min-groupBy per round with eager "
    "checkpoint lineage truncation — the weighted sibling of "
    "q101's BFS, exact for all paths of <= 4 edges.  Parallel "
    "edges collapse to MIN weight before iteration.",
)
def q350(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.graph import weighted_sssp

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        (F.col("o_custkey") % _SSSP_MOD).cast("bigint").alias("src"),
        (F.col("o_orderkey") % _SSSP_MOD).cast("bigint").alias("dst"),
        (F.col("o_orderkey") % 7 + 1).cast("bigint").alias("w"),
    ).filter(F.col("src") != F.col("dst"))
    sym = base.unionByName(
        base.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w")
        )
    )
    return weighted_sssp(
        sym, _SSSP_SOURCES, n_rounds=_SSSP_ROUNDS
    ).orderBy("node")


# ---------------------------------------------------------------------------
# Q351 — seeded differential-privacy noisy counts
# ---------------------------------------------------------------------------
# Per-source document counts with Laplace(1/eps) noise, eps = 1.
# The noise draw inverts the Laplace CDF on the md5-derived 60-bit
# uniform of the source name — deterministic, engine-independent,
# and exactly the mechanism a reproducible DP release pipeline
# needs (a seeded draw per released cell; the true count column
# here exists for conformance and would be dropped in a release).
_Q351_ORACLE = """
    WITH cnt AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY source
    ), u AS (
      SELECT source, n,
             (CAST(('0x' || substr(md5(source || '#dp1'), 1, 15)) AS BIGINT)
              + 0.5) / 1152921504606846976.0 AS uu
      FROM cnt
    )
    SELECT source, n,
           ROUND(n - 1.0 * sign(uu - 0.5) * ln(1 - 2 * abs(uu - 0.5))
                 + 5e-12, 6) AS noisy_n
    FROM u ORDER BY source
"""


@register(
    "q351_dp_noisy_counts",
    _Q351_ORACLE,
    doc="Differentially-private per-source counts (Laplace 1/eps, "
    "eps=1) with the noise drawn by inverse-CDF on the md5 60-bit "
    "uniform of the cell key — seeded, cluster-size-invariant, "
    "cross-engine identical (the q162 Poisson-bootstrap "
    "discipline applied to privacy release).  One aggregation; "
    "noise is O(1) per released cell, never per row.",
)
def q351(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import H60_MAX, h60_sql

    docs = _t(spark, sf_dir, "documents")
    cnt = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    uu = (F.expr(h60_sql("concat(source, '#dp1')")) + 0.5) / F.lit(H60_MAX)
    noise = -1.0 * F.signum(uu - 0.5) * F.log(1 - 2 * F.abs(uu - 0.5))
    return cnt.select(
        "source",
        "n",
        F.round(F.col("n") + noise + 5e-12, 6).alias("noisy_n"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Q352 — average precision (PR-AUC) per user
# ---------------------------------------------------------------------------
# AP = mean over positives of precision-at-their-rank, ranking each
# user's events by score (value) with a deterministic id tiebreak.
# The PR-space companion of q75's ROC-AUC: same one-window shape,
# but precision weights early ranks — integer rank/cum-pos counts
# keep everything exact until the final rounded division.
_Q352_ORACLE = """
    WITH ranked AS (
      SELECT user_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
             ROW_NUMBER() OVER w AS rk,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY value DESC, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_pos
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
    ), peru AS (
      SELECT user_id,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CASE WHEN pos = 1 THEN cum_pos * 1.0 / rk ELSE 0 END) AS ap_sum
      FROM ranked GROUP BY user_id
    )
    SELECT user_id, n_pos, n,
           ROUND(ap_sum / n_pos + 5e-12, 6) AS avg_precision
    FROM peru WHERE n_pos > 0 ORDER BY user_id
"""


@register(
    "q352_average_precision",
    _Q352_ORACLE,
    doc="Per-user average precision (the PR-AUC point estimate): one "
    "user-keyed window ranks events by (score desc, id), integer "
    "cum-pos/rank accumulate precision-at-positive, one groupBy "
    "finishes.  Complements q75 ROC-AUC and q92 calibration — PR "
    "space is what matters under class imbalance.",
)
def q352(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pos = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ranked = ev.select(
        "user_id",
        pos.alias("pos"),
        F.row_number().over(w).alias("rk"),
        F.sum(pos).over(wcum).alias("cum_pos"),
    )
    return (
        ranked.groupBy("user_id")
        .agg(
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.col("pos") == 1, F.col("cum_pos") * 1.0 / F.col("rk")
                ).otherwise(0.0)
            ).alias("ap_sum"),
        )
        .filter(F.col("n_pos") > 0)
        .select(
            "user_id",
            "n_pos",
            "n",
            r6(F.col("ap_sum") / F.col("n_pos")).alias("avg_precision"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Q353 — Jaccard-coefficient link prediction
# ---------------------------------------------------------------------------
# |N(a) & N(b)| / |N(a) | N(b)| for non-adjacent pairs — the
# set-overlap companion of q99's Adamic-Adar (same wedge join, but
# the union denominator needs only broadcast degrees: |union| =
# da + db - common).
_Q353_ORACLE = """
    WITH e AS (
      SELECT DISTINCT
             CAST(least(o_custkey % 200, o_orderkey % 200) AS BIGINT) AS a,
             CAST(greatest(o_custkey % 200, o_orderkey % 200) AS BIGINT) AS b
      FROM orders WHERE o_custkey % 200 <> o_orderkey % 200
    ), sym AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
    common AS (
      SELECT s1.u AS a, s2.u AS b, CAST(COUNT(*) AS BIGINT) AS cn
      FROM sym s1 JOIN sym s2 ON s1.v = s2.v AND s1.u < s2.u
      GROUP BY 1, 2
    ), cand AS (
      SELECT c.a, c.b, c.cn, d1.d AS da, d2.d AS db
      FROM common c JOIN deg d1 ON d1.u = c.a JOIN deg d2 ON d2.u = c.b
      WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = c.a AND e.b = c.b)
    )
    SELECT a, b, cn,
           ROUND(cn * 1.0 / (da + db - cn) + 5e-12, 6) AS jaccard
    FROM cand
    ORDER BY jaccard DESC, a, b LIMIT 50
"""


@register(
    "q353_jaccard_links",
    _Q353_ORACLE,
    doc="Jaccard link prediction on the shared-neighbor wedge join "
    "(q99's inverted-index shape); the union denominator is "
    "da + db - common with degrees broadcast, existing edges "
    "removed by anti-join; ranking on the 6dp-rounded score.",
)
def q353(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    e = (
        o.select(
            F.least(F.col("o_custkey") % 200, F.col("o_orderkey") % 200)
            .cast("bigint")
            .alias("a"),
            F.greatest(F.col("o_custkey") % 200, F.col("o_orderkey") % 200)
            .cast("bigint")
            .alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # lineage cut: e feeds symmetrization + the final anti-join
        # (plan audit: 18 scans un-materialized)
        .localCheckpoint(eager=False)
    )
    sym = (
        e.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(e.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    s1 = sym.select(F.col("u").alias("a"), F.col("v").alias("nbr"))
    s2 = sym.select(F.col("u").alias("b"), F.col("v").alias("nbr"))
    common = (
        s1.join(s2, (s1.nbr == s2.nbr) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    d1 = deg.select(F.col("u").alias("da_u"), F.col("d").alias("da"))
    d2 = deg.select(F.col("u").alias("db_u"), F.col("d").alias("db"))
    return (
        common.join(e, ["a", "b"], "left_anti")
        .join(F.broadcast(d1), F.col("a") == F.col("da_u"))
        .join(F.broadcast(d2), F.col("b") == F.col("db_u"))
        .select(
            "a",
            "b",
            "cn",
            r6(F.col("cn") * 1.0 / (F.col("da") + F.col("db") - F.col("cn"))).alias(
                "jaccard"
            ),
        )
        .orderBy(F.col("jaccard").desc(), "a", "b")
        .limit(50)
    )
