"""Conformance queries: round-7 operator batch #11 (q266+) —
largest-remainder apportionment, token-bucket rate-limit replay,
one Lloyd (k-means) step, simplified silhouette, diagonal
Mahalanobis outliers.

Parity: apportionment and the token bucket are exact integer
algebra end to end (quota remainders as integer cross-products,
bucket state in integer micro-token units); the embedding ops cast
float32 -> double before any fold and divide by n before rounding."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register

_R6 = R6_SQL


# ---------------------------------------------------------------------------
# Q266 — Largest-remainder (Hamilton) apportionment
# ---------------------------------------------------------------------------
# Allocate 1000 eval-set seats across sources proportionally to
# token counts with exact integer arithmetic: base = floor share
# via integer division, remainders ranked as integer cross
# products (n_s * SEATS % N — no float shares anywhere), leftover
# seats to the largest remainders.  Sums exactly to SEATS by
# construction.
_Q266_SEATS = 1000

_Q266_ORACLE = f"""
    WITH tok AS (
      SELECT source,
             CAST(len(list_filter(
               regexp_split_to_array(lower(text), '\\s+'),
               x -> x <> '')) AS BIGINT) AS n_tok
      FROM documents
    ), src AS (
      SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_s
      FROM tok GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM src
    ), quota AS (
      SELECT s.source, s.n_s,
             CAST((s.n_s * {_Q266_SEATS}) // t.n AS BIGINT) AS base,
             CAST((s.n_s * {_Q266_SEATS}) % t.n AS BIGINT) AS rem
      FROM src s CROSS JOIN tot t
    ), leftover AS (
      SELECT CAST({_Q266_SEATS} - SUM(base) AS BIGINT) AS extra
      FROM quota
    ), ranked AS (
      SELECT q.*, l.extra,
             ROW_NUMBER() OVER (ORDER BY q.rem DESC, q.source) AS rk
      FROM quota q CROSS JOIN leftover l
    )
    SELECT source, n_s, base, rem,
           CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END
                AS BIGINT) AS seats
    FROM ranked
    ORDER BY source
"""


@register(
    "q266_apportionment",
    _Q266_ORACLE,
    doc="Hamilton largest-remainder apportionment of 1000 eval "
    "seats across sources by token mass: integer floor quotas, "
    "remainders as exact integer cross products (no float "
    "shares), leftovers to the largest remainders.  The "
    "deterministic eval-split sizing primitive — allocations sum "
    "to the budget by construction.",
)
def q266(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import tokens_sql

    docs = _t(spark, sf_dir, "documents")
    src = (
        docs.selectExpr("source", f"size({tokens_sql('text')}) AS n_tok")
        .groupBy("source")
        .agg(F.sum("n_tok").cast("bigint").alias("n_s"))
    )
    tot = src.agg(F.sum("n_s").alias("n"))
    quota = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_s",
        # integer DIV, not floor(double division): a float quotient
        # one ulp under an exact integer would floor wrong
        F.expr(f"CAST((n_s * {_Q266_SEATS}) DIV n AS BIGINT)").alias(
            "base"
        ),
        ((F.col("n_s") * _Q266_SEATS) % F.col("n"))
        .cast("bigint")
        .alias("rem"),
    )
    leftover = quota.agg(
        (F.lit(_Q266_SEATS) - F.sum("base")).cast("bigint").alias("extra")
    )
    ranked = quota.crossJoin(F.broadcast(leftover)).withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("rem").desc(), "source")
        ),
    )
    return ranked.select(
        "source",
        "n_s",
        "base",
        "rem",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("seats"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Q267 — Token-bucket rate-limit replay
# ---------------------------------------------------------------------------
# Replay a 5-token, 1-token/30s bucket over each user's event
# stream: state folds over the per-user ordered gap array in
# integer micro-token units (1 token = 30e6 us of refill), so the
# accept/reject decision sequence is exact.  Output: global accept
# rate + the 10 most-throttled users.
_Q267_CAP = 5 * 30_000_000  # bucket capacity in refill-us units
_Q267_COST = 30_000_000     # one event costs one token = 30e6 units

_Q267_ORACLE = f"""
    WITH RECURSIVE ev2 AS (
      SELECT user_id, epoch_us(ts) AS us,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), gaps AS (
      SELECT user_id, rn,
             COALESCE(us - LAG(us) OVER (PARTITION BY user_id
                                         ORDER BY rn), 0) AS gap
      FROM ev2
    ), arr AS (
      SELECT user_id, list(gap ORDER BY rn) AS gs,
             CAST(COUNT(*) AS BIGINT) AS n_ev
      FROM gaps GROUP BY user_id
    ), state AS (
      SELECT user_id, gs, n_ev, 1 AS i,
             CAST({_Q267_CAP} - {_Q267_COST} AS BIGINT) AS tokens,
             CAST(1 AS BIGINT) AS allowed
      FROM arr
      UNION ALL
      SELECT s.user_id, s.gs, s.n_ev, s.i + 1,
             CASE WHEN LEAST(s.tokens + s.gs[s.i + 1], {_Q267_CAP})
                       >= {_Q267_COST}
                  THEN LEAST(s.tokens + s.gs[s.i + 1], {_Q267_CAP})
                       - {_Q267_COST}
                  ELSE LEAST(s.tokens + s.gs[s.i + 1], {_Q267_CAP})
             END AS tokens,
             s.allowed
               + CASE WHEN LEAST(s.tokens + s.gs[s.i + 1], {_Q267_CAP})
                           >= {_Q267_COST} THEN 1 ELSE 0 END AS allowed
      FROM state s WHERE s.i < s.n_ev
    ), final AS (
      SELECT user_id, n_ev, allowed, n_ev - allowed AS rejected
      FROM state WHERE i = n_ev
    )
    SELECT user_id, n_ev, allowed, rejected
    FROM final
    ORDER BY rejected DESC, user_id
    LIMIT 10
"""


@register(
    "q267_token_bucket",
    _Q267_ORACLE,
    doc="Token-bucket rate-limit replay (5 tokens, 1/30s) over "
    "each user's stream: per-user ordered gap arrays (one "
    "shuffle), bucket state folded in exact integer micro-token "
    "units, top-10 throttled users.  The what-would-this-limit-do "
    "audit before deploying a rate limiter.",
)
def q267(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = ev.select(
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.coalesce(us - F.lag(us).over(w), F.lit(0)).alias("gap"),
    )
    arr = gaps.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rn", "gap"))),
            lambda s: s["gap"],
        ).alias("gs"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    cap, cost = F.lit(_Q267_CAP).cast("bigint"), _Q267_COST
    init = F.struct(
        (F.lit(_Q267_CAP - _Q267_COST).cast("bigint")).alias("tokens"),
        F.lit(1).cast("bigint").alias("allowed"),
    )

    def _merge(acc, gap):
        filled = F.least(acc["tokens"] + gap, cap)
        ok = filled >= cost
        return F.struct(
            F.when(ok, filled - cost).otherwise(filled).alias("tokens"),
            (acc["allowed"] + F.when(ok, 1).otherwise(0))
            .cast("bigint")
            .alias("allowed"),
        )

    folded = F.aggregate(
        F.slice(F.col("gs"), 2, F.greatest(F.size("gs") - 1, F.lit(0))),
        init,
        _merge,
    )
    final = arr.select(
        "user_id",
        "n_ev",
        folded["allowed"].alias("allowed"),
    ).select(
        "user_id",
        "n_ev",
        "allowed",
        (F.col("n_ev") - F.col("allowed")).alias("rejected"),
    )
    return final.orderBy(F.col("rejected").desc(), "user_id").limit(10)


# ---------------------------------------------------------------------------
# Q268 — One Lloyd (k-means) step with deterministic seeds
# ---------------------------------------------------------------------------
# Seeds = the k=8 lowest vec_ids; assign every vector to its
# nearest seed (squared L2, sequential fold), report per-cluster
# size and inertia before/after recomputing centroids.  The
# building block of distributed k-means: one broadcast of k
# centroids, one shuffle on cluster id.
_Q268_K = 8

_SQD = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(generate_series(1, 64), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
    "* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), "
    "(acc, x) -> acc + x)"
)

_Q268_ORACLE = f"""
    WITH seeds AS MATERIALIZED (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < {_Q268_K}
    ), scored AS (
      SELECT e.vec_id, s.cid,
             {_SQD.format(a='e.embedding', b='s.cvec')} AS d2
      FROM embeddings e CROSS JOIN seeds s
    ), assigned AS (
      SELECT vec_id, cid, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY d2, cid) AS rk
      FROM scored
    )
    SELECT cid,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(SUM(d2) + 5e-12, 6) AS inertia,
           ROUND(AVG(d2) + 5e-12, 6) AS mean_d2
    FROM assigned WHERE rk = 1
    GROUP BY cid
    ORDER BY cid
"""


@register(
    "q268_lloyd_step",
    _Q268_ORACLE,
    doc="One Lloyd assignment step with deterministic seeds (the "
    "k=8 lowest vec_ids): nearest-seed assignment by sequential "
    "squared-L2 folds against broadcast centroids, per-cluster "
    "size and inertia.  Distributed k-means' inner loop — one "
    "broadcast + one shuffle per iteration.",
)
def q268(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = emb.where(F.col("vec_id") < _Q268_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cvec")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("v"), F.col("cvec"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = emb.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "cid", d2.alias("d2")
    )
    assigned = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("vec_id").orderBy("d2", "cid")
        ),
    ).where(F.col("rk") == 1)
    return (
        assigned.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            r6(F.sum("d2")).alias("inertia"),
            r6(F.avg("d2")).alias("mean_d2"),
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# Q269 — Simplified silhouette per label
# ---------------------------------------------------------------------------
# Cluster quality of the LABEL partition without O(n^2) pairs:
# simplified silhouette s = (b - a)/max(a, b) with a = distance to
# own-label centroid, b = min distance to any other label
# centroid.  Centroids via one per-dim aggregation; every distance
# is a fold against broadcast centroids — O(n k d).
_Q269_ORACLE = f"""
    WITH cent AS MATERIALIZED (
      SELECT label, list(c ORDER BY dim) AS cvec
      FROM (
        SELECT label, g.d AS dim,
               SUM(CAST(embedding[g.d] AS DOUBLE)) / COUNT(*) AS c
        FROM embeddings, generate_series(1, 64) g(d)
        GROUP BY label, g.d
      ) GROUP BY label
    ), dists AS (
      SELECT e.vec_id, e.label AS own, c.label AS other,
             SQRT({_SQD.format(a='e.embedding', b='c.cvec')}) AS d
      FROM embeddings e CROSS JOIN cent c
    ), ab AS (
      SELECT vec_id, own,
             MAX(CASE WHEN other = own THEN d END) AS a,
             MIN(CASE WHEN other <> own THEN d END) AS b
      FROM dists GROUP BY vec_id, own
    )
    SELECT own AS label,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG((b - a) / GREATEST(a, b)) + 5e-12, 6)
             AS mean_silhouette
    FROM ab GROUP BY own
    ORDER BY label
"""


@register(
    "q269_silhouette",
    _Q269_ORACLE,
    doc="Simplified silhouette of the label partition: "
    "(b - a)/max(a,b) with centroid distances instead of O(n^2) "
    "pairwise — one per-dim centroid aggregation + O(n k d) folds "
    "against broadcast centroids.  Near-zero here (random "
    "embeddings) is itself the diagnostic.",
)
def q269(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    comp = emb.select(
        "label", F.posexplode("v").alias("dim0", "x")
    ).groupBy("label", "dim0").agg(
        (F.sum("x") / F.count(F.lit(1))).alias("c")
    )
    cent = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim0", "c"))),
            lambda s: s["c"],
        ).alias("cvec")
    )
    d = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("v"), F.col("cvec"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    dists = emb.crossJoin(
        F.broadcast(cent.select(F.col("label").alias("other"), "cvec"))
    ).select("vec_id", F.col("label").alias("own"), "other", d.alias("d"))
    ab = dists.groupBy("vec_id", "own").agg(
        F.max(F.when(F.col("other") == F.col("own"), F.col("d"))).alias(
            "a"
        ),
        F.min(F.when(F.col("other") != F.col("own"), F.col("d"))).alias(
            "b"
        ),
    )
    sil = (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
    return (
        ab.groupBy(F.col("own").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            r6(F.avg(sil)).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Q270 — Diagonal-Mahalanobis embedding outliers
# ---------------------------------------------------------------------------
# Outlier score = sum over dims of z^2 against per-dim global
# mean/variance (diagonal covariance — the O(n d) screen that
# skips the full covariance matrix), top-10 by score.
_Q270_ORACLE = """
    WITH comp AS (
      SELECT vec_id, g.d AS dim, CAST(embedding[g.d] AS DOUBLE) AS x
      FROM embeddings, generate_series(1, 64) g(d)
    ), stats AS MATERIALIZED (
      SELECT dim,
             SUM(x) / COUNT(*) AS mu,
             SUM(x * x) / COUNT(*)
               - (SUM(x) / COUNT(*)) * (SUM(x) / COUNT(*)) AS var_d
      FROM comp GROUP BY dim
    ), scored AS (
      SELECT c.vec_id,
             SUM((c.x - s.mu) * (c.x - s.mu) / s.var_d) AS m2
      FROM comp c JOIN stats s ON s.dim = c.dim
      GROUP BY c.vec_id
    )
    SELECT vec_id, ROUND(m2 + 5e-12, 6) AS mahalanobis_sq
    FROM scored
    ORDER BY mahalanobis_sq DESC, vec_id
    LIMIT 10
"""


@register(
    "q270_mahalanobis",
    _Q270_ORACLE,
    doc="Diagonal-Mahalanobis outlier screen over embeddings: "
    "per-dim global mean/variance (one 64-key aggregation), "
    "z^2 sum per vector, top-10.  The O(n d) embedding-QC pass "
    "that catches corrupt vectors without a covariance matrix.",
)
def q270(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    comp = emb.select(
        "vec_id", F.posexplode("v").alias("dim0", "x")
    ).localCheckpoint(eager=False)  # stats + the scoring join
    stats = comp.groupBy("dim0").agg(
        (F.sum("x") / F.count(F.lit(1))).alias("mu"),
        (
            F.sum(F.col("x") * F.col("x")) / F.count(F.lit(1))
            - (F.sum("x") / F.count(F.lit(1)))
            * (F.sum("x") / F.count(F.lit(1)))
        ).alias("var_d"),
    )
    scored = comp.join(F.broadcast(stats), "dim0").groupBy(
        "vec_id"
    ).agg(
        F.sum(
            (F.col("x") - F.col("mu"))
            * (F.col("x") - F.col("mu"))
            / F.col("var_d")
        ).alias("m2")
    )
    return (
        scored.select("vec_id", r6(F.col("m2")).alias("mahalanobis_sq"))
        .orderBy(F.col("mahalanobis_sq").desc(), "vec_id")
        .limit(10)
    )
