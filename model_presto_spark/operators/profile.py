"""Data profiling + declarative quality constraints (the Deequ-style
hygiene layer a production table pipeline runs before/after every
load).

``profile_columns`` computes the standard per-column profile in ONE
aggregation pass over the table (count / nulls / min / max / mean /
stddev, plus a mergeable HLL distinct estimate — deliberately the
sketch, never ``count_distinct``: one exact-distinct column turns
the whole multi-metric agg into an Expand plan that multiplies the
input) and unpivots to the long ``(column, metric, value)`` shape
with ``stack``.

``check_constraints`` (long output keyed by ``col_name`` — `column`
is reserved in some engines) evaluates declarative rules — ``not_null``,
``unique``, ``min``/``max`` bounds, ``accepted_values`` — as one
conditional-aggregation pass each over at most two jobs total
(row-level rules share a single pass; ``unique`` needs its own
groupBy). Output is data, not exceptions: one row per rule with the
violation count, so the gate composes with any alerting sink.

At 100 TB both are single-scan, map-side-combinable aggregations —
the profile is exactly as expensive as one groupBy().agg() over the
table, independent of the number of metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NUM_METRICS = ("n", "n_null", "min", "max", "mean", "stddev")


def profile_columns(
    df: DataFrame, cols: list[str], approx_distinct: bool = True
) -> DataFrame:
    """Long-format numeric profile: one row per (column, metric).
    Metrics: n, n_null, min, max, mean, stddev (+ approx_distinct
    when enabled). Single aggregation pass + stack unpivot."""
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(col.isNull().cast("bigint")).alias(f"{c}__n_null"),
            F.min(col).cast("double").alias(f"{c}__min"),
            F.max(col).cast("double").alias(f"{c}__max"),
            F.avg(col).alias(f"{c}__mean"),
            F.stddev_samp(col).alias(f"{c}__stddev"),
        ]
        if approx_distinct:
            aggs.append(
                F.expr(f"approx_count_distinct({c}, 0.02)").alias(
                    f"{c}__approx_distinct"
                )
            )
    wide = df.agg(*aggs)
    metrics = list(_NUM_METRICS) + (
        ["approx_distinct"] if approx_distinct else []
    )
    pairs = ", ".join(
        f"'{c}', '{m}', CAST(`{c}__{m}` AS DOUBLE)"
        for c in cols
        for m in metrics
    )
    n = len(cols) * len(metrics)
    return wide.select(
        F.expr(f"stack({n}, {pairs}) AS (col_name, metric, value)")
    )


def check_constraints(
    df: DataFrame, rules: list[dict]
) -> DataFrame:
    """Evaluate declarative rules -> one row per rule:
    (rule, column, violations bigint, passed boolean).

    Rule dicts: {"type": "not_null", "column": c}
                {"type": "min", "column": c, "value": v}
                {"type": "max", "column": c, "value": v}
                {"type": "accepted_values", "column": c, "values": [...]}
                {"type": "unique", "column": c}
    Row-level rules evaluate in one shared conditional-aggregation
    pass; each ``unique`` rule adds one groupBy job."""
    spark = df.sparkSession
    row_aggs, row_meta = [], []
    uniq_rules = []
    for i, r in enumerate(rules):
        c, t = r["column"], r["type"]
        col = F.col(c)
        if t == "not_null":
            bad = col.isNull()
        elif t == "min":
            bad = col.isNull() | (col < F.lit(r["value"]))
        elif t == "max":
            bad = col.isNull() | (col > F.lit(r["value"]))
        elif t == "accepted_values":
            bad = ~col.isin(*r["values"]) | col.isNull()
        elif t == "unique":
            uniq_rules.append(r)
            continue
        else:
            raise ValueError(f"unknown rule type {t!r}")
        row_aggs.append(
            F.sum(bad.cast("bigint")).alias(f"__v{i}")
        )
        row_meta.append((t, c, f"__v{i}"))
    out = []
    if row_aggs:
        wide = df.agg(*row_aggs)
        pairs = ", ".join(
            f"'{t}', '{c}', CAST(`{a}` AS BIGINT)" for t, c, a in row_meta
        )
        out.append(
            wide.select(
                F.expr(
                    f"stack({len(row_meta)}, {pairs}) "
                    "AS (rule, col_name, violations)"
                )
            )
        )
    for r in uniq_rules:
        c = r["column"]
        dup = (
            df.groupBy(c)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .agg(F.coalesce(F.sum("__n"), F.lit(0)).alias("violations"))
            .select(
                F.lit("unique").alias("rule"),
                F.lit(c).alias("col_name"),
                F.col("violations").cast("bigint"),
            )
        )
        out.append(dup)
    if not out:
        return spark.createDataFrame(
            [], "rule string, col_name string, violations bigint, passed boolean"
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res.withColumn("passed", F.col("violations") == 0)


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    n_buckets: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a reference snapshot and a
    current one for a numeric column — the standard drift alarm for
    a continuously-ingesting pipeline (PSI < 0.1 stable, 0.1-0.25
    moderate shift, > 0.25 action).

    Bucket boundaries come from the REFERENCE quantiles (equi-depth
    on ref, so every ref bucket holds ~1/n of mass and the statistic
    is well-conditioned), then both sides bucket with the same
    literal boundaries — two single-pass aggregations + a ~n_buckets
    row join. Returns one row per bucket plus the total:
    (bucket, p_ref, p_cur, contrib) with bucket NULL on the total
    row carrying psi."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    qs = ref.agg(
        F.expr(
            f"percentile({col}, array({', '.join(f'{p}D' for p in probs)}))"
        ).alias("qs")
    ).collect()[0]["qs"]

    def bucket(c):
        if qs is None:
            # no reference values, so no boundaries: like the SQL
            # spelling's NULL quantiles, no value lands in a bucket
            return F.lit(None).cast("int")
        b = F.lit(1)
        for q in qs:
            b = b + (c > F.lit(float(q))).cast("int")
        return b

    def shares(df, name):
        c = F.col(col)
        return (
            df.where(c.isNotNull())
            .groupBy(bucket(c).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("__n"))
            .withColumn(
                name,
                F.col("__n")
                / F.sum("__n").over(Window.partitionBy()),
            )
            .drop("__n")
        )

    from pyspark.sql import Window

    r = shares(ref, "p_ref")
    m = shares(cur, "p_cur")
    per = (
        r.join(m, "bucket", "full")
        .select(
            "bucket",
            F.coalesce(F.col("p_ref"), F.lit(0.0)).alias("p_ref"),
            F.coalesce(F.col("p_cur"), F.lit(0.0)).alias("p_cur"),
        )
        .withColumn(
            "contrib",
            (F.col("p_cur") - F.col("p_ref"))
            * F.log(
                (F.col("p_cur") + eps) / (F.col("p_ref") + eps)
            ),
        )
    )
    total = per.agg(
        F.lit(None).cast("int").alias("bucket"),
        F.lit(None).cast("double").alias("p_ref"),
        F.lit(None).cast("double").alias("p_cur"),
        F.sum("contrib").alias("contrib"),
    )
    return per.unionByName(total)


def token_divergence(
    docs: DataFrame,
    group_col: str,
    text_col: str = "text",
    alpha: float = 1.0,
) -> DataFrame:
    """Per-group token-distribution divergence from the corpus.

    For each group g (a source / domain / snapshot label), compares
    the group's unigram distribution P_g against the whole-corpus
    distribution Q with add-``alpha`` smoothing over the CORPUS
    vocabulary V (every group smooths over the same support, so
    KL is finite and groups are comparable):

        P_g[t] = (c_g[t] + alpha) / (N_g + alpha*|V|)
        KL(P_g || Q) = sum_t P_g[t] * ln(P_g[t] / Q[t])
        H(P_g, Q)    = -sum_t P_g[t] * ln(Q[t])   (cross-entropy, nats)

    The corpus-mixture comparison that tells a data-mixing pipeline
    which domain is the outlier (pairs with psi_drift, which buckets
    one numeric column; this diverges whole token distributions).

    Plan: one explode into (group, token) with map-side combine, one
    corpus-level aggregate over the same counts, a token-keyed join
    (8-byte-ish token keys; vocabulary-sized, not corpus-sized), and
    a groupBy(group). The |V|-sized relations are the only shuffles.
    Returns (group, n_tokens, n_types, kl_nats, cross_entropy_nats).
    """
    from model_presto_spark.functions.text import tokens_sql

    # explode_outer: plain explode gets an inferred size>0 pre-filter
    # that re-tokenizes every document a second time; outer emits one
    # NULL token for empty/null docs instead, dropped right after
    # (cheap column-ref filter, not a re-tokenize).
    from model_presto_spark.io import spread

    # spread: tokenize+explode is pre-shuffle CPU (1-partition scans)
    tok = spread(docs).select(
        F.col(group_col).alias("grp"),
        F.explode_outer(F.expr(tokens_sql(text_col))).alias("t"),
    ).filter(F.col("t").isNotNull())
    gc = tok.groupBy("grp", "t").agg(F.count(F.lit(1)).alias("c_g"))
    from pyspark import StorageLevel

    gc = gc.persist(StorageLevel.MEMORY_AND_DISK)
    corpus = gc.groupBy("t").agg(F.sum("c_g").alias("c_q"))
    vocab = corpus.agg(
        F.count(F.lit(1)).alias("v"), F.sum("c_q").alias("n_q")
    )
    totals = gc.groupBy("grp").agg(F.sum("c_g").alias("n_g"))
    # group x vocab support: every group must score EVERY corpus
    # token (c_g = 0 where absent) so the smoothed sum runs over all
    # of V — the absent-token tail cannot collapse in closed form
    # because Q[t] varies per token. |groups| x |V| is vocabulary-,
    # not corpus-sized, and the group dimension is tiny (broadcast).
    grp_dim = totals.crossJoin(F.broadcast(vocab))
    # group dim on the BROADCAST side (one row per group value) —
    # the vocabulary relation is the unbounded one and must stay on
    # the probe side of the nested-loop cross (audit-caught: the
    # previous order built on the vocab side)
    full = corpus.select("t", "c_q").crossJoin(F.broadcast(grp_dim)).join(
        gc, ["grp", "t"], "left"
    )
    p = (F.coalesce(F.col("c_g"), F.lit(0)) + F.lit(alpha)) / (
        F.col("n_g") + F.lit(alpha) * F.col("v")
    )
    q = F.col("c_q").cast("double") / F.col("n_q").cast("double")
    return (
        full.groupBy("grp")
        .agg(
            F.max("n_g").cast("bigint").alias("n_tokens"),
            F.sum(
                F.when(F.col("c_g").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_types"),
            F.sum(p * F.log(p / q)).alias("kl_nats"),
            F.sum(-p * F.log(q)).alias("cross_entropy_nats"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "n_types",
            "kl_nats",
            "cross_entropy_nats",
        )
    )
