"""Conformance queries batch #60 (q494+) — LSH band/row tuning sweep,
coupon-collector audit, Myerson reserve pricing, welfare/fairness
indices, and the mean-excess POT threshold diagnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, r6, register
from model_presto_spark.plans.queries_docs import _DD_SH, dd_hash_array, dd_minhash


# ---------------------------------------------------------------------------
# Q494 — LSH band/row tuning sweep (measured vs theoretical s-curve)
# ---------------------------------------------------------------------------
# One 16-hash MinHash signature, three bandings (2x8, 4x4, 8x2):
# candidate count, precision at Jaccard >= 0.5, and recall against
# the union of all configs' true pairs, beside the theoretical
# collision probability 1 - (1 - 0.5^r)^b at the threshold — the
# tuning table that picks q32's production parameters.
def _q494_oracle() -> str:
    sig = dd_minhash("hs", 16)
    blocks = []
    for b, r in ((2, 8), (4, 4), (8, 2)):
        blocks.append(f"""
    , banded_{b} AS MATERIALIZED (
      SELECT id, bb.band,
             md5(array_to_string(
               list_transform(sig[bb.band * {r} + 1 : bb.band * {r} + {r}],
                              x -> CAST(x AS VARCHAR)), ',')) AS bucket
      FROM sig, (SELECT UNNEST(generate_series(0, {b - 1})) AS band) bb
    ), cand_{b} AS MATERIALIZED (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded_{b} a JOIN banded_{b} b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    )""")
    return f"""
    WITH sh AS MATERIALIZED (
      SELECT doc_id AS id, {dd_hash_array(_DD_SH)} AS hs FROM documents
      WHERE doc_id % 2 = 0
    ), sig AS MATERIALIZED (
      SELECT id, hs, {sig} AS sig FROM sh
    ){''.join(blocks)}
    , allp AS MATERIALIZED (
      SELECT p.id_a, p.id_b,
             CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
               / (len(sa.hs) + len(sb.hs)
                  - len(list_intersect(sa.hs, sb.hs))) AS j
      FROM (SELECT DISTINCT id_a, id_b FROM (
              SELECT * FROM cand_2
              UNION ALL SELECT * FROM cand_4
              UNION ALL SELECT * FROM cand_8)) p
      JOIN sh sa ON sa.id = p.id_a
      JOIN sh sb ON sb.id = p.id_b
    ), truth AS (
      SELECT COUNT(*) AS nt FROM allp WHERE j >= 0.5
    ), stats AS (
      SELECT 2 AS bands, 8 AS rows_per_band,
             (SELECT COUNT(*) FROM cand_2) AS n_cand,
             (SELECT COUNT(*) FROM cand_2 c JOIN allp a
               ON a.id_a = c.id_a AND a.id_b = c.id_b AND a.j >= 0.5)
               AS n_true
      UNION ALL
      SELECT 4, 4, (SELECT COUNT(*) FROM cand_4),
             (SELECT COUNT(*) FROM cand_4 c JOIN allp a
               ON a.id_a = c.id_a AND a.id_b = c.id_b AND a.j >= 0.5)
      UNION ALL
      SELECT 8, 2, (SELECT COUNT(*) FROM cand_8),
             (SELECT COUNT(*) FROM cand_8 c JOIN allp a
               ON a.id_a = c.id_a AND a.id_b = c.id_b AND a.j >= 0.5)
    )
    SELECT bands, rows_per_band,
           CAST(n_cand AS BIGINT) AS n_candidates,
           CAST(n_true AS BIGINT) AS n_true_pairs,
           ROUND(n_true * 1.0 / NULLIF(n_cand, 0) + 5e-12, 6) AS precision,
           ROUND(n_true * 1.0 / NULLIF((SELECT nt FROM truth), 0)
                 + 5e-12, 6) AS recall_vs_union,
           ROUND(1 - POW(1 - POW(0.5, rows_per_band), bands) + 5e-12, 6)
             AS theory_collision_at_half
    FROM stats ORDER BY bands
"""


@register(
    "q494_lsh_tuning",
    _q494_oracle(),
    doc="MinHash LSH band/row sweep on one 16-hash signature "
    "(2x8 / 4x4 / 8x2): measured candidate volume, precision and "
    "recall at Jaccard 0.5 vs the theoretical s-curve collision "
    "1-(1-s^r)^b — the parameter-tuning table behind the "
    "production near-dup pass (q32).",
)
def q494(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from model_presto_spark.functions.text import (
        char_shingles_sql,
        hash_array_sql,
        lsh_band_keys_sql,
        minhash_signature_sql,
    )
    from model_presto_spark.io import spread

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    # hash the shingles ONCE; the three band configs reuse the same
    # signature relation (the whole point of the sweep being cheap).
    # lower(text) is projected first: the shingle lambda references
    # it per position, and an inline lower() would be recomputed there
    sh = (
        spread(docs)
        .selectExpr("doc_id AS id", "lower(text) AS lc")
        .selectExpr("id", f"{hash_array_sql(char_shingles_sql('lc', 5))} AS hs")
        # lineage cut: the shingle relation feeds the signature plus
        # both verify sides across three band configs (plan audit: 25
        # scans with persist-only lineage)
        .localCheckpoint(eager=False)
    )
    sig = sh.selectExpr("id", f"{minhash_signature_sql('hs', 16)} AS sig").localCheckpoint(eager=False)
    hs_a = sh.select(F.col("id").alias("id_a"), F.col("hs").alias("ha"))
    hs_b = sh.select(F.col("id").alias("id_b"), F.col("hs").alias("hb"))
    # All three band configs ride ONE banded relation keyed by the
    # config (bands) column: one candidate equi-join on (bands, band,
    # bucket) and one exact-verify pass over DISTINCT pairs, instead
    # of a per-config trio of joins + checkpoints (fewer jobs, ~10%
    # fewer intersects). Measured floor at sf0.1 with the pre-fix
    # seed family (small related multipliers; see
    # functions.text.minhash_coefficients), ~3.5-4 s steady after the
    # round-7 spread fix below: the md5 shingle pass (~2.2 s, oracle
    # parity) plus exactly-verifying the b=8 config's candidate flood
    # (412k pairs = 13% of all pairs at 2.5k docs, r=2 rows/band) —
    # which is the sweep's point: it MEASURES the over-loose config's
    # cost. Steady stage bisect: sh 2.2s / cand 0.5s / verify 0.8s /
    # stats 1.2s.
    banded = None
    for b in (2, 4, 8):
        r = 16 // b
        bb = sig.select(
            F.lit(b).alias("bands"),
            "id",
            F.explode_outer(F.expr(lsh_band_keys_sql("sig", b, r))).alias("bk"),
        ).select(
            "bands",
            F.col("bk.band").alias("band"),
            F.col("bk.bucket").alias("bucket"),
            "id",
        )
        banded = bb if banded is None else banded.unionAll(bb)
    a = banded.select("bands", "band", "bucket", F.col("id").alias("id_a"))
    bbn = banded.select("bands", "band", "bucket", F.col("id").alias("id_b"))
    cand = (
        a.join(bbn, ["bands", "band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("bands", "id_a", "id_b")
        .distinct()
    )
    cand = cand.localCheckpoint(eager=False)
    inter = F.size(F.array_intersect(F.col("ha"), F.col("hb")))
    jac = inter * 1.0 / (F.size("ha") + F.size("hb") - inter)
    # BROADCAST the hash-set relation into the verify join: shipping
    # the ~300-element shingle arrays through a shuffle once per pair
    # is GBs, while the per-doc relation itself is a few MB — the
    # candidate stream never moves its array payloads at all.
    # spread() the distinct pair stream first: its shuffle output is
    # small in BYTES (two ids/row), so AQE coalesces it to ~3
    # partitions — and the 412k array-intersects downstream would run
    # on 3 cores (measured 4.8 s; spread makes it 0.8 s). Same
    # CPU-vs-bytes mismatch as the scan-inheritance case in
    # io.spread's docstring, shuffle-side.
    scored = (
        spread(cand.select("id_a", "id_b").distinct())
        .join(F.broadcast(hs_a), "id_a")
        .join(F.broadcast(hs_b), "id_b")
        .select("id_a", "id_b", jac.alias("j"))
        .localCheckpoint(eager=False)
    )
    stats_agg = (
        cand.join(scored, ["id_a", "id_b"])
        .groupBy("bands")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cand"),
            F.sum(F.when(F.col("j") >= 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_true"),
        )
    )
    # A band config with ZERO candidates must still emit its row
    # (the oracle's UNION ALL always yields all three configs):
    # left-join the measured stats onto the literal config spine and
    # zero-fill, instead of letting groupBy drop the empty group.
    configs = spark.createDataFrame([(2,), (4,), (8,)], "bands int")
    stats = configs.join(F.broadcast(stats_agg), "bands", "left").select(
        "bands",
        F.coalesce(F.col("n_cand"), F.lit(0).cast("bigint")).alias("n_cand"),
        F.coalesce(F.col("n_true"), F.lit(0).cast("bigint")).alias("n_true"),
    )
    n_truth = scored.filter(F.col("j") >= 0.5).agg(
        F.count(F.lit(1)).alias("nt")
    )
    out = stats.select(
        "bands",
        (F.lit(16) / F.col("bands")).cast("int").alias("rows_per_band"),
        "n_cand",
        "n_true",
    )
    return (
        out.crossJoin(F.broadcast(n_truth))
        .select(
            "bands",
            "rows_per_band",
            F.col("n_cand").alias("n_candidates"),
            F.col("n_true").alias("n_true_pairs"),
            r6(F.col("n_true") * 1.0 / F.nullif(F.col("n_cand"), F.lit(0))).alias(
                "precision"
            ),
            r6(F.col("n_true") * 1.0 / F.nullif(F.col("nt"), F.lit(0))).alias(
                "recall_vs_union"
            ),
            r6(
                1
                - F.pow(
                    1 - F.pow(F.lit(0.5), F.col("rows_per_band")), F.col("bands")
                )
            ).alias("theory_collision_at_half"),
        )
        .orderBy("bands")
    )


# ---------------------------------------------------------------------------
# Q495 — coupon collector audit
# ---------------------------------------------------------------------------
# Scanning documents in id order, how many draws until every source
# has appeared?  The measured completion draw is exactly the max of
# the per-source first-appearance positions; theory says n*H_n draws
# in expectation for uniform sources.  One window + one max vs the
# harmonic-number closed form.
_Q495_ORACLE = """
    WITH seq AS (
      SELECT source, ROW_NUMBER() OVER (ORDER BY doc_id) AS pos
      FROM documents
    ), firsts AS (
      SELECT source, MIN(pos) AS first_pos FROM seq GROUP BY source
    ), th AS (
      SELECT COUNT(*) AS n,
             COUNT(*) * list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, CAST(COUNT(*) AS BIGINT)),
                              k -> 1.0 / k)), (a, b) -> a + b) AS expect
      FROM firsts
    )
    SELECT CAST(th.n AS BIGINT) AS n_sources,
           CAST((SELECT MAX(first_pos) FROM firsts) AS BIGINT)
             AS draws_to_complete,
           ROUND(th.expect + 5e-10, 4) AS theory_n_times_hn,
           ROUND((SELECT MAX(first_pos) FROM firsts) / th.expect + 5e-12, 6)
             AS measured_over_theory,
           CAST((SELECT MAX(first_pos) FROM firsts
                 WHERE first_pos < (SELECT MAX(first_pos) FROM firsts))
                AS BIGINT) AS second_last_first
    FROM th
"""


@register(
    "q495_coupon_collector",
    _Q495_ORACLE,
    doc="Coupon collector on document sources: draws until all "
    "sources appear (max of first-appearance positions under the "
    "id-order scan) vs the n*H_n expectation — the tail cost of "
    "'have we seen every shard/source yet' completeness checks.",
)
def q495(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.layout import ordered_positions

    docs = _t(spark, sf_dir, "documents")
    # draw positions via layout.ordered_positions (bucketed global
    # row_number — no single-task window over the raw doc stream)
    seq = ordered_positions(
        docs.select("source", "doc_id"),
        ["doc_id"],
        F.floor(F.col("doc_id") / 1000),
        pos_col="pos",
    ).select("source", "pos")
    firsts = seq.groupBy("source").agg(F.min("pos").alias("first_pos")).localCheckpoint(eager=False)
    th = firsts.agg(F.count(F.lit(1)).alias("n"))
    harm = th.select(
        "n",
        (
            F.col("n")
            * F.aggregate(
                F.transform(
                    F.sequence(F.lit(1), F.col("n")), lambda k: 1.0 / k
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            )
        ).alias("expect"),
    )
    mx = firsts.agg(F.max("first_pos").alias("mfp"))
    second = (
        firsts.crossJoin(F.broadcast(mx))
        .filter(F.col("first_pos") < F.col("mfp"))
        .agg(F.max("first_pos").alias("slf"))
    )
    return (
        harm.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(second))
        .select(
            F.col("n").cast("bigint").alias("n_sources"),
            F.col("mfp").cast("bigint").alias("draws_to_complete"),
            F.round(F.col("expect") + F.lit(5e-10), 4).alias(
                "theory_n_times_hn"
            ),
            r6(F.col("mfp") / F.col("expect")).alias("measured_over_theory"),
            F.col("slf").cast("bigint").alias("second_last_first"),
        )
    )


# ---------------------------------------------------------------------------
# Q496 — optimal reserve price (Myerson knob on empirical bids)
# ---------------------------------------------------------------------------
# Orders grouped into 2-bidder auctions (q416's setup); a reserve r
# changes revenue to 0 if top1 < r, r if top2 < r <= top1, else
# top2.  Sweeping r over the bid deciles finds the empirical Myerson
# reserve — the sweep shows revenue rising above the no-reserve
# second-price baseline before collapsing.
_Q496_ORACLE = """
    WITH bids AS (
      SELECT o_custkey % 500 AS auction,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS bid,
             ROW_NUMBER() OVER (PARTITION BY o_custkey % 500
                                ORDER BY o_totalprice DESC,
                                         o_orderkey) AS rk
      FROM orders
    ), top2 AS (
      SELECT auction,
             MAX(CASE WHEN rk = 1 THEN bid END) AS b1,
             MAX(CASE WHEN rk = 2 THEN bid END) AS b2
      FROM bids WHERE rk <= 2 GROUP BY auction
      HAVING MAX(CASE WHEN rk = 2 THEN bid END) IS NOT NULL
    ), qarr AS (
      SELECT quantile_cont(bid, list_transform(generate_series(0, 9),
                                               i -> i / 10.0)) AS qa
      FROM bids
    ), grid AS (
      SELECT g.i AS decile, qarr.qa[g.i + 1] AS r
      FROM generate_series(0, 9) g(i), qarr
    ), rev AS (
      SELECT gr.decile, gr.r,
             SUM(CASE WHEN t.b1 < gr.r THEN 0
                      WHEN t.b2 < gr.r THEN gr.r
                      ELSE t.b2 END) AS revenue,
             SUM(CASE WHEN t.b1 < gr.r THEN 1 ELSE 0 END) AS n_unsold
      FROM grid gr, top2 t
      GROUP BY gr.decile, gr.r
    )
    SELECT CAST(decile AS BIGINT) AS reserve_decile,
           ROUND(r / 100.0 + 5e-8, 2) AS reserve_usd,
           ROUND(revenue / 100.0 + 5e-8, 2) AS revenue_usd,
           CAST(n_unsold AS BIGINT) AS n_unsold,
           revenue = (SELECT MAX(revenue) FROM rev) AS is_optimal
    FROM rev ORDER BY reserve_decile
"""


@register(
    "q496_optimal_reserve",
    _Q496_ORACLE,
    doc="Empirical Myerson reserve: sweep the reserve over bid "
    "deciles in the 2-bidder second-price auctions (q416's setup), "
    "revenue = 0 / r / second-bid by case, optimal decile flagged "
    "with the unsold count — the reserve-price knob on real bid "
    "data.",
)
def q496(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    bids = o.select(
        (F.col("o_custkey") % 500).alias("auction"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("bid"),
        F.row_number()
        .over(
            Window.partitionBy(F.col("o_custkey") % 500).orderBy(
                F.desc("o_totalprice"), "o_orderkey"
            )
        )
        .alias("rk"),
    ).localCheckpoint(eager=False)
    top2 = (
        bids.filter(F.col("rk") <= 2)
        .groupBy("auction")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("bid"))).alias("b1"),
            F.max(F.when(F.col("rk") == 2, F.col("bid"))).alias("b2"),
        )
        .filter(F.col("b2").isNotNull())
    )
    qs = bids.agg(
        F.percentile(
            "bid", F.array(*[F.lit(i / 10.0) for i in range(10)])
        ).alias("qarr")
    )
    grid = (
        spark.range(0, 10)
        .select(F.col("id").cast("int").alias("decile"))
        .crossJoin(F.broadcast(qs))
        .select(
            "decile", F.element_at("qarr", F.col("decile") + 1).alias("r")
        )
    )
    rev = (
        grid.crossJoin(top2)
        .groupBy("decile", "r")
        .agg(
            F.sum(
                F.when(F.col("b1") < F.col("r"), 0)
                .when(F.col("b2") < F.col("r"), F.col("r"))
                .otherwise(F.col("b2"))
            ).alias("revenue"),
            F.sum(F.when(F.col("b1") < F.col("r"), 1).otherwise(0)).alias(
                "n_unsold"
            ),
        )
    )
    best = rev.agg(F.max("revenue").alias("br"))
    return (
        rev.crossJoin(F.broadcast(best))
        .select(
            F.col("decile").cast("bigint").alias("reserve_decile"),
            F.round(F.col("r") / 100.0 + F.lit(5e-8), 2).alias("reserve_usd"),
            F.round(F.col("revenue") / 100.0 + F.lit(5e-8), 2).alias(
                "revenue_usd"
            ),
            F.col("n_unsold").cast("bigint").alias("n_unsold"),
            (F.col("revenue") == F.col("br")).alias("is_optimal"),
        )
        .orderBy("reserve_decile")
    )


# ---------------------------------------------------------------------------
# Q497 — welfare and fairness indices (Atkinson, Palma, Jain)
# ---------------------------------------------------------------------------
# Three inequality lenses Gini (q148) and Theil (q420) don't give:
# Atkinson indices at inequality-aversion 0.5 and 2 (how much total
# income society would sacrifice for equality), the Palma ratio
# (top-10% share over bottom-40% share), and Jain's fairness index
# from networking — all on customer lifetime spend.
_Q497_ORACLE = """
    WITH inc AS (
      SELECT CAST(SUM(ROUND(o_totalprice * 100)) AS DOUBLE) AS x
      FROM orders GROUP BY o_custkey
    ), r AS (
      SELECT x, PERCENT_RANK() OVER (ORDER BY x) AS pr FROM inc
    ), agg AS (
      SELECT COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS s2,
             AVG(SQRT(x)) AS m_half, AVG(1.0 / x) AS m_neg1, AVG(x) AS mu,
             SUM(CASE WHEN pr >= 0.9 THEN x ELSE 0 END) AS top10,
             SUM(CASE WHEN pr < 0.4 THEN x ELSE 0 END) AS bot40
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           ROUND(1 - (m_half * m_half) / mu + 5e-12, 6) AS atkinson_05,
           ROUND(1 - (1.0 / m_neg1) / mu + 5e-12, 6) AS atkinson_2,
           ROUND(top10 / NULLIF(bot40, 0) + 5e-12, 6) AS palma_ratio,
           ROUND(s * s / (n * s2) + 5e-12, 6) AS jain_fairness
    FROM agg
"""


@register(
    "q497_welfare_indices",
    _Q497_ORACLE,
    doc="Welfare/fairness index suite on customer spend: Atkinson at "
    "aversion 0.5 and 2 (generalized-mean shortfalls), the Palma "
    "top-10%/bottom-40% ratio, and Jain's fairness index — the "
    "policy-facing lenses beside Gini (q148) and the Theil "
    "decomposition (q420).",
)
def q497(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    inc = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100)).cast("double").alias("x")
    )
    r = inc.select("x", F.percent_rank().over(Window.orderBy("x")).alias("pr"))
    agg = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
        F.avg(F.sqrt("x")).alias("m_half"),
        F.avg(1.0 / F.col("x")).alias("m_neg1"),
        F.avg("x").alias("mu"),
        F.sum(F.when(F.col("pr") >= 0.9, F.col("x")).otherwise(0.0)).alias(
            "top10"
        ),
        F.sum(F.when(F.col("pr") < 0.4, F.col("x")).otherwise(0.0)).alias(
            "bot40"
        ),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_customers"),
        r6(1 - (F.col("m_half") * F.col("m_half")) / F.col("mu")).alias(
            "atkinson_05"
        ),
        r6(1 - (1.0 / F.col("m_neg1")) / F.col("mu")).alias("atkinson_2"),
        r6(F.col("top10") / F.nullif(F.col("bot40"), F.lit(0.0))).alias(
            "palma_ratio"
        ),
        r6(F.col("s") * F.col("s") / (F.col("n") * F.col("s2"))).alias(
            "jain_fairness"
        ),
    )


# ---------------------------------------------------------------------------
# Q498 — mean-excess plot (POT threshold diagnostic)
# ---------------------------------------------------------------------------
# Picking the peaks-over-threshold cutoff for a GPD tail fit (q312
# fits at a fixed threshold): the mean excess E[X - u | X > u] at
# each decile threshold — linear-in-u above the right cutoff for a
# GPD tail, with the implied shape from the local slope
# xi = slope / (1 + slope) between consecutive thresholds.
_Q498_ORACLE = """
    WITH x AS (
      SELECT o_totalprice AS v FROM orders
    ), qarr AS (
      SELECT quantile_cont(v, list_transform(generate_series(0, 8),
                                             i -> 0.5 + i * 0.05)) AS qa
      FROM x
    ), grid AS (
      SELECT g.i, qarr.qa[g.i + 1] AS u
      FROM generate_series(0, 8) g(i), qarr
    ), me AS (
      SELECT grid.i, grid.u,
             AVG(CASE WHEN x.v > grid.u THEN x.v - grid.u END) AS mean_excess,
             SUM(CASE WHEN x.v > grid.u THEN 1 ELSE 0 END) AS n_exceed
      FROM grid, x GROUP BY grid.i, grid.u
    ), sl AS (
      SELECT i, u, mean_excess, n_exceed,
             (mean_excess - LAG(mean_excess) OVER (ORDER BY i))
               / NULLIF(u - LAG(u) OVER (ORDER BY i), 0) AS slope
      FROM me
    )
    SELECT CAST(i AS BIGINT) AS grid_idx,
           ROUND(u + 5e-8, 2) AS threshold_usd,
           CAST(n_exceed AS BIGINT) AS n_exceedances,
           ROUND(mean_excess + 5e-8, 2) AS mean_excess_usd,
           ROUND(slope + 5e-12, 6) AS me_slope,
           ROUND(slope / (1 + slope) + 5e-12, 6) AS implied_xi
    FROM sl ORDER BY grid_idx
"""


@register(
    "q498_mean_excess",
    _Q498_ORACLE,
    doc="Mean-excess (POT threshold) diagnostic: E[X-u | X>u] at "
    "quantile thresholds 0.50-0.90, consecutive slopes and the "
    "implied GPD shape xi = slope/(1+slope) — the threshold-"
    "selection plot that must precede the GPD tail fit (q312) and "
    "Hill estimator (q211).",
)
def q498(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    x = o.select(F.col("o_totalprice").alias("v")).localCheckpoint(eager=False)
    qs = x.agg(
        F.percentile(
            "v", F.array(*[F.lit(0.5 + i * 0.05) for i in range(9)])
        ).alias("qarr")
    )
    grid = (
        spark.range(0, 9)
        .select(F.col("id").cast("int").alias("i"))
        .crossJoin(F.broadcast(qs))
        .select("i", F.element_at("qarr", F.col("i") + 1).alias("u"))
    )
    me = (
        grid.crossJoin(x)
        .groupBy("i", "u")
        .agg(
            F.avg(
                F.when(F.col("v") > F.col("u"), F.col("v") - F.col("u"))
            ).alias("mean_excess"),
            F.sum(F.when(F.col("v") > F.col("u"), 1).otherwise(0)).alias(
                "n_exceed"
            ),
        )
    )
    w = Window.orderBy("i")
    sl = me.select(
        "i",
        "u",
        "mean_excess",
        "n_exceed",
        (
            (F.col("mean_excess") - F.lag("mean_excess").over(w))
            / F.nullif(F.col("u") - F.lag("u").over(w), F.lit(0.0))
        ).alias("slope"),
    )
    return sl.select(
        F.col("i").cast("bigint").alias("grid_idx"),
        F.round(F.col("u") + F.lit(5e-8), 2).alias("threshold_usd"),
        F.col("n_exceed").cast("bigint").alias("n_exceedances"),
        F.round(F.col("mean_excess") + F.lit(5e-8), 2).alias("mean_excess_usd"),
        r6(F.col("slope")).alias("me_slope"),
        r6(F.col("slope") / (1 + F.col("slope"))).alias("implied_xi"),
    ).orderBy("grid_idx")
