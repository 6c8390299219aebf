"""Conformance queries: round-4 additions (q103+).

Corpus-curation operators a 100 TB training-data pipeline runs that
were still missing from the declared surface: line-level boilerplate
removal (CCNet / RefinedWeb), shingle-containment dedup (Broder's
second measure — the doc-inside-doc detector), DSIR importance
resampling (Xie et al. 2023), per-domain token-distribution KL,
label-propagation communities, and Kaplan-Meier survival over the
event stream. Oracle conventions as everywhere: md5-derived 60-bit
hashes replay bit-identically in DuckDB; floats that cross an
accumulation-order boundary are rounded 6dp with the +5e-12 nudge;
every aggregate aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, register
from model_presto_spark.plans.queries_docs import DD_TOKENS, dd_h60

_TOK = DD_TOKENS.format(t="text")

# ---------------------------------------------------------------------------
# Q103 — line-level boilerplate statistics (CCNet / RefinedWeb)
# ---------------------------------------------------------------------------
# The driver's synthetic documents have no newlines, so segmentation
# uses the operator's fixed-width mode (non-overlapping 3-token
# windows as pseudo-lines; the delimiter mode is exercised in
# tests/test_llm_ops.py on multi-line fixtures). min_doc_freq=3 on
# this corpus marks 231 of 7460 distinct lines as boilerplate
# (max doc-freq 10) — a non-trivial, non-saturated signal.
_LW = 3
_LDF = 3

_NORM_LINE = "regexp_replace(trim(lower(line)), '\\s+', ' ', 'g')"
_LHASH = dd_h60(_NORM_LINE)

_Q103_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {_TOK} AS toks FROM documents
    ), seg AS (
      SELECT doc_id,
             array_to_string(
               list_slice(toks, i * {_LW} + 1, i * {_LW} + {_LW}), ' ') AS line
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(
                 0, CAST(floor((len(toks) - 1) / {_LW}) AS BIGINT))) AS i
        FROM t WHERE len(toks) > 0
      )
    ), pd AS (
      SELECT doc_id,
             {_LHASH} AS lhash,
             COUNT(*) AS cnt
      FROM seg GROUP BY 1, 2
    ), dfq AS (
      SELECT lhash, COUNT(*) AS doc_freq FROM pd GROUP BY 1
    ), st AS (
      SELECT pd.doc_id,
             SUM(pd.cnt) AS n_lines,
             SUM(CASE WHEN dfq.doc_freq >= {_LDF} THEN pd.cnt ELSE 0 END)
               AS boiler_lines
      FROM pd JOIN dfq USING (lhash) GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(st.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(COALESCE(st.boiler_lines, 0) AS BIGINT) AS boiler_lines,
           CASE WHEN COALESCE(st.n_lines, 0) > 0
                THEN CAST(st.boiler_lines AS DOUBLE)
                     / CAST(st.n_lines AS DOUBLE)
                ELSE 0.0 END AS boiler_fraction
    FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
"""


@register(
    "q103_line_boilerplate",
    _Q103_ORACLE,
    doc="Line-level boilerplate stats (CCNet/RefinedWeb recipe): a "
    f"line ({_LW}-token segment) is boilerplate iff its normalized "
    f"form appears in >= {_LDF} distinct documents. Posting-list "
    "shape: line hashes shuffle as 8-byte keys with map-side "
    "combine; doc frequency is two cascaded aggregations, never "
    "countDistinct over raw rows; hot lines aggregate, never "
    "join-explode.",
)
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.lines import line_dedup_stats

    docs = _t(spark, sf_dir, "documents")
    return line_dedup_stats(
        docs, min_doc_freq=_LDF, delimiter=None, width=_LW
    )


# ---------------------------------------------------------------------------
# Q104 — shingle-containment near-dup pairs (doc-inside-doc)
# ---------------------------------------------------------------------------
_CN = 3
_CTH = 0.25
_CMAXDF = 1000

_Q104_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {_TOK} AS toks FROM documents
    ), g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               list_distinct(list_transform(
                 generate_series(1, greatest(len(toks) - {_CN - 1}, 1)),
                 i -> array_to_string(list_slice(toks, i, i + {_CN - 1}), ' '))),
               s -> {dd_h60("s")})) AS grams
      FROM t
    ), sizes AS (
      SELECT doc_id, len(grams) AS n FROM g
    ), post AS (
      SELECT doc_id, unnest(grams) AS gram FROM g
    ), b AS (
      SELECT gram, list_sort(list(doc_id)) AS ids
      FROM post GROUP BY 1
      HAVING COUNT(*) > 1 AND COUNT(*) <= {_CMAXDF}
    ), e AS (
      SELECT unnest(ids) AS id_a, ids FROM b
    ), pairs AS (
      SELECT id_a, unnest(ids) AS id_b FROM e
    ), common AS (
      SELECT id_a, id_b, COUNT(*) AS n_common
      FROM pairs WHERE id_a < id_b GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b,
           CAST(c.n_common AS BIGINT) AS n_common,
           CAST(c.n_common AS DOUBLE)
             / CAST(least(sa.n, sb.n) AS DOUBLE) AS containment
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    WHERE CAST(c.n_common AS DOUBLE)
            / CAST(least(sa.n, sb.n) AS DOUBLE) >= {_CTH}
"""


@register(
    "q104_containment",
    _Q104_ORACLE,
    doc="Shingle-containment pairs C=|A∩B|/min(|A|,|B|) — catches the "
    "doc-inside-doc duplicates Jaccard resemblance (q34) structurally "
    "misses. Prefix-filtered inverted index (asymmetric PPJoin lemma "
    "+ positional suffix filter), doc-frequency stop-gram cutoff "
    f"({_CMAXDF}), exact array_intersect verify — result set identical "
    "to the naive per-bucket pair expansion it replaced.",
)
def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.dedup import ngram_containment_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        docs, "doc_id", "text", n=_CN, threshold=_CTH, max_doc_freq=_CMAXDF,
        # oracle contract: exact-recall inverted-index candidates
        # (the operator default is size-aware auto -> lsh at scale)
        candidates="index",
    )


# ---------------------------------------------------------------------------
# Q105 — DSIR importance resampling toward a target domain
# ---------------------------------------------------------------------------
_DB = 1024
_DK = 50
_DSEED = 42
_TWO60P1 = "1152921504606846977.0"

_FEATS = (
    "list_concat(toks, list_transform("
    "generate_series(1, greatest(len(toks) - 1, 1)), "
    "i -> array_to_string(list_slice(toks, i, i + 1), ' ')))"
)

_Q105_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, source, {_TOK} AS toks FROM documents
    ), f AS (
      SELECT doc_id, source, unnest({_FEATS}) AS feat FROM t
    ), fb AS (
      SELECT doc_id, source, {dd_h60("feat")} % {_DB} AS bucket FROM f
    ), raw_b AS (
      SELECT doc_id, bucket, COUNT(*) AS cnt
      FROM fb WHERE source <> 'src0' GROUP BY 1, 2
    ), tgt_c AS (
      SELECT bucket, COUNT(*) AS c
      FROM fb WHERE source = 'src0' GROUP BY 1
    ), raw_c AS (
      SELECT bucket, SUM(cnt) AS c FROM raw_b GROUP BY 1
    ), g AS (
      SELECT (SELECT SUM(c) FROM raw_c) AS g_raw,
             (SELECT SUM(c) FROM tgt_c) AS g_tgt
    ), ratio AS (
      SELECT r.bucket,
             (COALESCE(ln(CAST(tc.c + 1 AS DOUBLE))
                         - ln(CAST(g.g_tgt + {_DB} AS DOUBLE)),
                       -ln(CAST(g.g_tgt + {_DB} AS DOUBLE)))
              - (ln(CAST(r.c + 1 AS DOUBLE))
                 - ln(CAST(g.g_raw + {_DB} AS DOUBLE)))) AS llr
      FROM raw_c r CROSS JOIN g LEFT JOIN tgt_c tc ON tc.bucket = r.bucket
    ), scored AS (
      SELECT rb.doc_id,
             CAST(SUM(rb.cnt) AS BIGINT) AS n_feats,
             SUM(rb.cnt * ratio.llr) AS lw
      FROM raw_b rb JOIN ratio ON ratio.bucket = rb.bucket
      GROUP BY 1
    ), keyed AS (
      SELECT doc_id, n_feats, lw,
             lw + (-ln(-ln(
               CAST({dd_h60("CAST(doc_id AS VARCHAR) || '#gumbel' || '" + str(_DSEED) + "'")} + 1 AS DOUBLE)
               / {_TWO60P1}))) AS key
      FROM scored
    )
    SELECT doc_id, n_feats, ROUND(lw + 5e-12, 6) AS log_weight
    FROM keyed
    ORDER BY key DESC, doc_id
    LIMIT {_DK}
"""


@register(
    "q105_dsir",
    _Q105_ORACLE,
    doc="DSIR (Xie et al. 2023): hashed unigram+bigram bucket "
    f"profiles ({_DB} buckets), add-1-smoothed target/raw "
    "log-likelihood-ratio weights, deterministic Gumbel-top-k "
    f"resample of k={_DK} docs toward source='src0'. Raw corpus "
    "shuffles only (id, bucket, cnt) with map-side combine; the "
    "log-ratio table is <= n_buckets rows, broadcast; top-k is "
    "TakeOrderedAndProject, never a full sort.",
)
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.dsir import dsir_sample

    docs = _t(spark, sf_dir, "documents")
    raw = docs.where(F.col("source") != "src0")
    target = docs.where(F.col("source") == "src0")
    out = dsir_sample(
        raw, target, k=_DK, n_buckets=_DB, seed=_DSEED
    )
    return out.select(
        "doc_id",
        "n_feats",
        F.round(F.col("log_weight") + F.lit(5e-12), 6).alias("log_weight"),
    )


# ---------------------------------------------------------------------------
# Q106 — per-domain token-distribution divergence (KL / cross-entropy)
# ---------------------------------------------------------------------------
_Q106_ORACLE = f"""
    WITH tok AS (
      SELECT source AS grp, unnest({_TOK}) AS t FROM documents
    ), gc AS (
      SELECT grp, t, COUNT(*) AS c_g FROM tok GROUP BY 1, 2
    ), corpus AS (
      SELECT t, SUM(c_g) AS c_q FROM gc GROUP BY 1
    ), vocab AS (
      SELECT COUNT(*) AS v, SUM(c_q) AS n_q FROM corpus
    ), totals AS (
      SELECT grp, SUM(c_g) AS n_g FROM gc GROUP BY 1
    ), full_sup AS (
      SELECT totals.grp, totals.n_g, vocab.v, vocab.n_q,
             corpus.t, corpus.c_q, gc.c_g
      FROM totals CROSS JOIN vocab CROSS JOIN corpus
      LEFT JOIN gc ON gc.grp = totals.grp AND gc.t = corpus.t
    )
    SELECT grp AS source,
           CAST(MAX(n_g) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN c_g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_types,
           ROUND(SUM(
             ((COALESCE(c_g, 0) + 1.0) / (n_g + 1.0 * v))
             * ln(((COALESCE(c_g, 0) + 1.0) / (n_g + 1.0 * v))
                  / (CAST(c_q AS DOUBLE) / CAST(n_q AS DOUBLE)))
           ) + 5e-12, 6) AS kl_nats,
           ROUND(SUM(
             -((COALESCE(c_g, 0) + 1.0) / (n_g + 1.0 * v))
             * ln(CAST(c_q AS DOUBLE) / CAST(n_q AS DOUBLE))
           ) + 5e-12, 6) AS cross_entropy_nats
    FROM full_sup
    GROUP BY grp
"""


@register(
    "q106_corpus_kl",
    _Q106_ORACLE,
    doc="Per-source unigram-distribution divergence from the corpus "
    "mixture: add-1-smoothed KL(P_source || Q_corpus) and "
    "cross-entropy in nats — the domain-outlier detector for data "
    "mixing. One token explode with map-side combine; the scoring "
    "join is vocabulary-sized, never corpus-sized.",
)
def q106(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.profile import token_divergence

    docs = _t(spark, sf_dir, "documents")
    out = token_divergence(docs, "source")
    return out.select(
        "source",
        "n_tokens",
        "n_types",
        F.round(F.col("kl_nats") + F.lit(5e-12), 6).alias("kl_nats"),
        F.round(F.col("cross_entropy_nats") + F.lit(5e-12), 6).alias(
            "cross_entropy_nats"
        ),
    )


# ---------------------------------------------------------------------------
# Q107 — label-propagation communities (fixed-iteration, deterministic)
# ---------------------------------------------------------------------------
_LP_MOD = 40
_LP_ITER = 3


def _lp_oracle() -> str:
    head = f"""
    WITH e0 AS (
      SELECT DISTINCT
        least(o_custkey % {_LP_MOD}, o_orderkey % {_LP_MOD}) AS a,
        greatest(o_custkey % {_LP_MOD}, o_orderkey % {_LP_MOD}) AS b
      FROM orders
      WHERE o_custkey % {_LP_MOD} <> o_orderkey % {_LP_MOD}
    ), sym AS (
      SELECT a AS u, b AS v FROM e0
      UNION ALL
      SELECT b AS u, a AS v FROM e0
    ), l0 AS (
      SELECT DISTINCT u AS node, u AS label FROM sym
    )"""
    steps = []
    for i in range(_LP_ITER):
        steps.append(f""", v{i} AS (
      SELECT s.u AS node, l.label, COUNT(*) AS cnt
      FROM sym s JOIN l{i} l ON l.node = s.v
      GROUP BY 1, 2
    ), l{i + 1} AS (
      SELECT node, label FROM v{i}
      QUALIFY row_number() OVER (
        PARTITION BY node ORDER BY cnt DESC, label ASC) = 1
    )""")
    tail = f"""
    SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
    FROM l{_LP_ITER}"""
    return head + "".join(steps) + tail


@register(
    "q107_label_prop",
    _lp_oracle(),
    doc=f"Synchronous label propagation, {_LP_ITER} rounds, min-label "
    "tie-break (deterministic LPA) over the derived orders graph "
    f"(mod {_LP_MOD}). Per round: one edges join + one (node,label) "
    "groupBy + one per-node argmax via max_by over an orderable "
    "struct — no windows over the graph; eager localCheckpoint per "
    "round.",
)
def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.graph import label_propagation

    orders = _t(spark, sf_dir, "orders")
    e = orders.select(
        (F.col("o_custkey") % _LP_MOD).cast("bigint").alias("src"),
        (F.col("o_orderkey") % _LP_MOD).cast("bigint").alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    lp = label_propagation(e, n_iter=_LP_ITER)
    return lp.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("label").cast("bigint").alias("label"),
    )


# ---------------------------------------------------------------------------
# Q108 — Kaplan-Meier survival over the event stream
# ---------------------------------------------------------------------------
# Subjects = users; duration = days from a user's first event to
# their first high-value purchase (value > 150 — the "conversion");
# users who never convert are right-censored at the global corpus
# horizon. 67/150 users convert at sf0.01 over 27 distinct
# durations — a real mixed events/censoring curve. Fully
# deterministic from the events table.
_KM_VALUE_TH = 150

_Q108_ORACLE = f"""
    WITH first_e AS (
      SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY 1
    ), conv AS (
      SELECT user_id, MIN(ts) AS conv_ts
      FROM events
      WHERE event_type = 'purchase' AND value > {_KM_VALUE_TH}
      GROUP BY 1
    ), horizon AS (
      SELECT MAX(ts) AS m FROM events
    ), subj AS (
      SELECT fe.user_id,
             CASE WHEN cv.conv_ts IS NOT NULL
                  THEN datediff('day', CAST(fe.first_ts AS DATE),
                                CAST(cv.conv_ts AS DATE))
                  ELSE datediff('day', CAST(fe.first_ts AS DATE),
                                CAST((SELECT m FROM horizon) AS DATE))
                  END AS dur,
             CASE WHEN cv.conv_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM first_e fe LEFT JOIN conv cv ON cv.user_id = fe.user_id
    ), per_t AS (
      SELECT dur AS t, SUM(ev) AS d, SUM(1 - ev) AS c
      FROM subj GROUP BY 1
    ), staged AS (
      SELECT t, d, c,
             SUM(d + c) OVER ()
               - COALESCE(SUM(d + c) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS n_risk
      FROM per_t
    ), s2 AS (
      SELECT t, d, c, n_risk,
             SUM(CASE WHEN CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) < 1.0
                      THEN ln(1.0 - CAST(d AS DOUBLE)
                                    / CAST(n_risk AS DOUBLE))
                      ELSE 0.0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS log_surv,
             SUM(CASE WHEN CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) >= 1.0
                      THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS dead_end
      FROM staged
    )
    SELECT CAST(t AS BIGINT) AS t,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events,
           CAST(c AS BIGINT) AS n_censored,
           ROUND(CASE WHEN dead_end > 0 THEN 0.0 ELSE exp(log_surv) END
                 + 5e-12, 6) AS survival
    FROM s2
    WHERE d > 0
"""


@register(
    "q108_survival",
    _Q108_ORACLE,
    doc="Kaplan-Meier product-limit survival with right-censoring: "
    "time from a user's first event to first high-value conversion "
    f"(purchase value > {_KM_VALUE_TH}), censored at the corpus "
    "horizon. The subject table collapses to one row per distinct "
    "duration in a single groupBy; the cumulative risk-set/survival "
    "windows run over that tiny collapsed relation — the heavy "
    "input is touched once.",
)
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.temporal import kaplan_meier

    events = _t(spark, sf_dir, "events")
    first_e = events.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    conv = (
        events.where(
            (F.col("event_type") == "purchase")
            & (F.col("value") > _KM_VALUE_TH)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    horizon = events.agg(F.max("ts").alias("m"))
    subj = (
        first_e.join(conv, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            F.when(
                F.col("conv_ts").isNotNull(),
                F.datediff(F.to_date("conv_ts"), F.to_date("first_ts")),
            )
            .otherwise(F.datediff(F.to_date("m"), F.to_date("first_ts")))
            .alias("dur"),
            F.when(F.col("conv_ts").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    km = kaplan_meier(subj, "dur", "ev")
    return km.select(
        F.col("t").cast("bigint").alias("t"),
        "n_risk",
        "n_events",
        "n_censored",
        F.round(F.col("survival") + F.lit(5e-12), 6).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Q109 — reciprocal-rank fusion of two retrievers (hybrid retrieval)
# ---------------------------------------------------------------------------
# Fuses the q91 BM25 ranking with a term-coverage ranking (distinct
# query terms matched, then total occurrences) — the standard hybrid
# pattern where score scales are incomparable and only ranks fuse.
# Both component rankings are integer-deterministic or ranked on the
# repo's rounded-score convention; the RRF score is a sum of exact
# reciprocals of small integers, bit-identical in any engine.
_RRF_K = 60
_RRF_INPUT_TOPK = 20
_RRF_TOPK = 10


def _q109_oracle() -> str:
    from model_presto_spark.plans.queries_llm4 import (
        _BM25_B,
        _BM25_K1,
        _BM25_QUERIES,
    )

    return f"""
    WITH q(query_id, qtext) AS (VALUES
      {", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)}
    ), t AS (
      SELECT doc_id, {_TOK} AS toks FROM documents
    ), dtc AS (
      SELECT doc_id, token, COUNT(*) AS cnt
      FROM (SELECT doc_id, unnest(toks) AS token FROM t)
      GROUP BY 1, 2
    ), dlen AS (
      SELECT doc_id, SUM(cnt) AS dl FROM dtc GROUP BY 1
    ), dfreq AS (
      SELECT token, COUNT(*) AS dfq FROM dtc GROUP BY 1
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dlen
    ), qt AS (
      SELECT DISTINCT query_id, token FROM (
        SELECT query_id, unnest({DD_TOKENS.format(t="qtext")}) AS token
        FROM q)
    ), per_term AS (
      SELECT qt.query_id, dtc.doc_id, dtc.cnt,
             ln(1 + (stats.n_docs - dfreq.dfq + 0.5) / (dfreq.dfq + 0.5))
             * (CAST(dtc.cnt AS DOUBLE) * ({_BM25_K1} + 1.0))
             / (CAST(dtc.cnt AS DOUBLE)
                + {_BM25_K1} * (1.0 - {_BM25_B}
                   + {_BM25_B} * CAST(dlen.dl AS DOUBLE) / stats.avgdl))
               AS s
      FROM qt
      JOIN dtc USING (token)
      JOIN dlen ON dlen.doc_id = dtc.doc_id
      CROSS JOIN stats
      JOIN dfreq ON dfreq.token = qt.token
    ), bm_ranked AS (
      SELECT query_id, doc_id,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY ROUND(SUM(s) + 5e-12, 6) DESC, doc_id) AS rank
      FROM per_term GROUP BY 1, 2
      QUALIFY rank <= {_RRF_INPUT_TOPK}
    ), cov_ranked AS (
      SELECT query_id, doc_id,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY COUNT(*) DESC, SUM(cnt) DESC, doc_id) AS rank
      FROM per_term GROUP BY 1, 2
      QUALIFY rank <= {_RRF_INPUT_TOPK}
    ), fused AS (
      SELECT query_id, doc_id,
             SUM(1.0 / ({_RRF_K} + rank)) AS rrf_score,
             CAST(COUNT(*) AS BIGINT) AS n_rankers
      FROM (SELECT * FROM bm_ranked UNION ALL SELECT * FROM cov_ranked)
      GROUP BY 1, 2
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           ROUND(rrf_score + 5e-12, 6) AS rrf_score, n_rankers,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY rrf_score DESC, doc_id)
             AS BIGINT) AS rank
    FROM fused
    QUALIFY rank <= {_RRF_TOPK}
"""


@register(
    "q109_rrf_fusion",
    _q109_oracle(),
    doc="Reciprocal-rank fusion (Cormack et al. 2009, k=60) of BM25 "
    "and term-coverage rankings — hybrid retrieval without score "
    "calibration. Fusion operates on per-query top-20 relations "
    "(already tiny); the corpus-scale work happened once in the "
    "shared posting list.",
)
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from model_presto_spark.functions import text as T
    from model_presto_spark.operators.lm import (
        bm25_scores,
        doc_token_counts,
        rrf_fuse,
    )
    from model_presto_spark.plans.queries_llm4 import (
        _BM25_B,
        _BM25_K1,
        _BM25_QUERIES,
    )

    docs = _t(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id bigint, qtext string")
    bm = bm25_scores(
        docs, qdf, k1=_BM25_K1, b=_BM25_B, top_k=_RRF_INPUT_TOPK
    ).select("query_id", "doc_id", "rank")
    dtc = doc_token_counts(docs)
    qt = (
        qdf.select(
            "query_id", F.explode(F.expr(T.tokens_sql("qtext"))).alias("token")
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_hit"), F.desc("occ"), F.col("doc_id")
    )
    cov = (
        qt.join(dtc, "token")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"), F.sum("cnt").alias("occ"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _RRF_INPUT_TOPK)
        .select("query_id", "doc_id", "rank")
    )
    fused = rrf_fuse([bm, cov], k=_RRF_K, top_k=_RRF_TOPK)
    return fused.select(
        "query_id",
        "doc_id",
        F.round(F.col("rrf_score") + F.lit(5e-12), 6).alias("rrf_score"),
        "n_rankers",
        F.col("rank").cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Q110 — SemDeDup: cluster-then-prune semantic near-dup flags
# ---------------------------------------------------------------------------
_SD_PLANES = 6
_SD_TH = 0.6


def _q110_oracle() -> str:
    from model_presto_spark.operators.knn import hyperplane_weights

    rows = hyperplane_weights(dim=64, planes=_SD_PLANES)
    w_lit = "[" + ", ".join(
        "[" + ", ".join(repr(x) for x in r) + "]" for r in rows
    ) + "]"
    # The weights bind ONCE as a column (wt CTE) — referencing the
    # nested-list literal inside the lambda makes DuckDB rebuild it
    # per element (~30 s for 500 rows); the column reference is
    # instant. The per-plane dot product stays the same sequential
    # list_reduce fold as the Spark-side aggregate() expression, so
    # buckets are bit-identical.
    return f"""
    WITH wt AS MATERIALIZED (SELECT {w_lit} AS w),
    b AS MATERIALIZED (
      SELECT vec_id,
             CAST(list_sum(list_transform(
               generate_series(0, {_SD_PLANES - 1}), j ->
               CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(generate_series(1, 64), d ->
                        CAST(embedding[d] AS DOUBLE) * wt.w[j + 1][d])),
                      (acc, x) -> acc + x) > 0
               THEN (1 << j) ELSE 0 END)) AS INT) AS bucket,
             embedding
      FROM embeddings CROSS JOIN wt
    ), long AS MATERIALIZED (
      SELECT vec_id, bucket, d, CAST(embedding[d] AS DOUBLE) AS x
      FROM b, generate_series(1, 64) g(d)
    ), cent AS MATERIALIZED (
      SELECT bucket, d, AVG(x) AS c FROM long GROUP BY 1, 2
    ), cn AS (
      SELECT bucket, sqrt(SUM(c * c)) AS nc FROM cent GROUP BY 1
    ), pv AS (
      SELECT vec_id, l.bucket,
             SUM(x * c) AS dot, sqrt(SUM(x * x)) AS nx
      FROM long l JOIN cent USING (bucket, d) GROUP BY 1, 2
    ), sc AS (
      SELECT vec_id, bucket,
             ROUND(dot / (nx * nc) + 5e-12, 6) AS cos_centroid
      FROM pv JOIN cn USING (bucket)
    )
    SELECT vec_id, bucket, cos_centroid,
           (cos_centroid >= {_SD_TH}
            AND row_number() OVER (
              PARTITION BY bucket
              ORDER BY cos_centroid DESC, vec_id) > 1) AS is_semantic_dup
    FROM sc
"""


@register(
    "q110_semantic_dedup",
    _q110_oracle(),
    doc="SemDeDup (Abbas et al. 2023), deterministic-clusterer form: "
    f"{_SD_PLANES}-plane LSH buckets, per-bucket centroid, flag every "
    f"core member (cosine-to-centroid >= {_SD_TH}) except the best "
    "(rounded-cosine rank, id tie-break). Long-form O(n·dim) — "
    "centroids via groupBy(bucket, dim) with map-side combine, a "
    "co-partitioned join back, NO pairwise generation anywhere; the "
    "kmeans-assignment production path shares the same operator via "
    "the assignments param.",
)
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb,
        "vec_id",
        "embedding",
        threshold=_SD_TH,
        dim=64,
        planes=_SD_PLANES,
    )


# ---------------------------------------------------------------------------
# Q111 — winnowing fingerprints (MOSS) + cross-doc sharing stats
# ---------------------------------------------------------------------------
_WK = 8
_WW = 4

_Q111_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {_TOK} AS toks FROM documents
    ), w AS (
      SELECT doc_id, i,
             {dd_h60("array_to_string(list_slice(toks, i, i + " + str(_WK - 1) + "), ' ')")}
               AS whash
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {_WK} + 1)) AS i
        FROM t WHERE len(toks) >= {_WK}
      )
    ), nw AS (
      SELECT doc_id, MAX(i) AS n_starts FROM w GROUP BY 1
    ), expd AS (
      SELECT w.doc_id, w.i, w.whash,
             unnest(generate_series(
               greatest(w.i - {_WW - 1}, 1),
               least(w.i, greatest(nw.n_starts - {_WW - 1}, 1)))) AS s
      FROM w JOIN nw USING (doc_id)
    ), sel AS (
      SELECT DISTINCT doc_id, i, whash FROM (
        SELECT doc_id, s, i, whash,
               row_number() OVER (
                 PARTITION BY doc_id, s ORDER BY whash ASC, i DESC) AS rn
        FROM expd) WHERE rn = 1
    ), pc AS (
      SELECT doc_id, whash, COUNT(*) AS cnt FROM sel GROUP BY 1, 2
    ), g AS (
      SELECT whash, COUNT(*) AS n_docs FROM pc GROUP BY 1
    ), d AS (
      SELECT pc.doc_id, SUM(cnt) AS n_fp,
             SUM(CASE WHEN g.n_docs > 1 THEN cnt ELSE 0 END) AS shared_fp
      FROM pc JOIN g USING (whash) GROUP BY 1
    )
    SELECT docs.doc_id,
           CAST(COALESCE(d.n_fp, 0) AS BIGINT) AS n_fp,
           CAST(COALESCE(d.shared_fp, 0) AS BIGINT) AS shared_fp,
           CASE WHEN COALESCE(d.n_fp, 0) > 0
                THEN CAST(d.shared_fp AS DOUBLE) / CAST(d.n_fp AS DOUBLE)
                ELSE 0.0 END AS shared_fraction
    FROM documents docs LEFT JOIN d ON docs.doc_id = d.doc_id
"""


@register(
    "q111_winnowing",
    _Q111_ORACLE,
    doc=f"Winnowing (Schleimer et al. 2003 / MOSS): per sliding "
    f"window of {_WW} consecutive {_WK}-token window hashes keep the "
    "minimal hash (rightmost tie) — guaranteed detection of shared "
    f"substrings >= {_WW + _WK - 1} tokens at ~2/(w+1) storage "
    "density. Selection is doc-local (n·w rows, partitioned by doc); "
    "cross-doc sharing is the usual (8-byte hash, id) aggregation.",
)
def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.dedup import winnow_shared_stats

    docs = _t(spark, sf_dir, "documents")
    return winnow_shared_stats(docs, k=_WK, w=_WW)


# ---------------------------------------------------------------------------
# Q112 — interpolated bigram LM perplexity (Jelinek-Mercer)
# ---------------------------------------------------------------------------
_JM_LAM = 0.7
_JM_MIN = 2


def _q112_oracle() -> str:
    lam = repr(_JM_LAM)
    one_m = repr(1.0 - _JM_LAM)  # the exact Python double the plan embeds
    return f"""
    WITH t AS (
      SELECT doc_id, {_TOK} AS toks FROM documents
    ), bp AS (
      SELECT doc_id, toks[i - 1] AS prev, toks[i] AS token,
             COUNT(*) AS cnt
      FROM (
        SELECT doc_id, toks, unnest(generate_series(2, len(toks))) AS i
        FROM t WHERE len(toks) >= 2
      ) GROUP BY 1, 2, 3
    ), dtc AS (
      SELECT doc_id, token, COUNT(*) AS cnt
      FROM (SELECT doc_id, unnest(toks) AS token FROM t)
      GROUP BY 1, 2
    ), vocab AS (
      SELECT token, SUM(cnt) AS tf FROM dtc GROUP BY 1
      HAVING SUM(cnt) >= {_JM_MIN}
    ), denom AS (
      SELECT (SELECT SUM(cnt) FROM dtc) AS n_corpus,
             (SELECT COUNT(*) FROM vocab) AS v_vocab
    ), big AS (
      SELECT prev, token, SUM(cnt) AS c_bi FROM bp GROUP BY 1, 2
    ), ctx AS (
      SELECT prev, SUM(c_bi) AS c_prev FROM big GROUP BY 1
    )
    SELECT bp.doc_id,
           CAST(SUM(bp.cnt) AS BIGINT) AS n_bigrams,
           ROUND(
             -SUM(bp.cnt * ln(
                {lam} * CAST(big.c_bi AS DOUBLE) / CAST(ctx.c_prev AS DOUBLE)
                + {one_m} * ((COALESCE(vocab.tf, 0) + 1.0)
                             / (denom.n_corpus + denom.v_vocab + 1.0))))
             / SUM(bp.cnt) / ln(2) + 5e-12, 6) AS bits_per_token
    FROM bp
    JOIN big USING (prev, token)
    JOIN ctx USING (prev)
    LEFT JOIN vocab USING (token)
    CROSS JOIN denom
    GROUP BY 1
"""


@register(
    "q112_bigram_lm",
    _q112_oracle(),
    doc="Jelinek-Mercer interpolated bigram LM perplexity "
    f"(lambda={_JM_LAM}, unigram backoff with min_count={_JM_MIN}): "
    "the sharper quality gate vs the unigram LM — plausible unigrams "
    "with impossible transitions score high. Bigram relation "
    "shuffles once keyed (prev, token); probability tables are "
    "observed-bigram-bounded aggregations joined back by the same "
    "keys.",
)
def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.lm import bigram_perplexity_scores

    docs = _t(spark, sf_dir, "documents")
    out = bigram_perplexity_scores(docs, lam=_JM_LAM, min_count=_JM_MIN)
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("bits_per_token") + F.lit(5e-12), 6).alias(
            "bits_per_token"
        ),
    )


# ---------------------------------------------------------------------------
# Q113 — Gopher quality-rule bundle (Rae et al. 2021)
# ---------------------------------------------------------------------------
def _q113_oracle() -> str:
    from model_presto_spark.functions.text import LANG_STOPWORDS

    stops = "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"]) + "]"
    return f"""
    WITH t AS (
      SELECT doc_id, text, {_TOK} AS toks FROM documents
    ), g2 AS (
      SELECT doc_id, gram, COUNT(*) AS c
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(toks) - 1, 1)),
                 i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS gram
        FROM t)
      GROUP BY 1, 2
    ), r2 AS (
      SELECT doc_id, MAX(c) AS top_c, SUM(c) AS total FROM g2 GROUP BY 1
    ), g3 AS (
      SELECT doc_id, gram, COUNT(*) AS c
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(toks) - 2, 1)),
                 i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS gram
        FROM t)
      GROUP BY 1, 2
    ), r3 AS (
      SELECT doc_id, COUNT(*) AS n_distinct, SUM(c) AS total
      FROM g3 GROUP BY 1
    ), m AS (
      SELECT t.doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             ROUND(CASE WHEN len(toks) > 0
                   THEN CAST(list_sum(list_transform(toks, x -> length(x)))
                        AS DOUBLE) / len(toks) ELSE 0.0 END + 5e-12, 6)
               AS mean_word_len,
             ROUND(CASE WHEN len(toks) > 0 THEN
                   (CAST(length(text) - length(replace(text, '#', ''))
                         AS DOUBLE)
                    + (length(text)
                       - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3)
                   / len(toks) ELSE 0.0 END + 5e-12, 6) AS symbol_ratio,
             ROUND(CASE WHEN len(toks) > 0
                   THEN CAST(len(list_filter(toks,
                        x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                        / len(toks) ELSE 0.0 END + 5e-12, 6)
               AS alpha_word_frac,
             CAST(len(list_intersect(list_distinct(toks), {stops}))
                  AS BIGINT) AS stop_hits,
             ROUND(CAST(r2.top_c AS DOUBLE) / r2.total + 5e-12, 6)
               AS top_2gram_frac,
             ROUND(1.0 - CAST(r3.n_distinct AS DOUBLE) / r3.total + 5e-12, 6)
               AS dup_3gram_frac
      FROM t JOIN r2 ON r2.doc_id = t.doc_id
             JOIN r3 ON r3.doc_id = t.doc_id
    )
    SELECT *,
           (r_word_count AND r_mean_word_len AND r_symbol AND r_alpha
            AND r_stop AND r_top_2gram AND r_dup_3gram) AS gopher_pass
    FROM (
      SELECT m.*,
             (n_words >= 50 AND n_words <= 100000) AS r_word_count,
             (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
               AS r_mean_word_len,
             (symbol_ratio <= 0.1) AS r_symbol,
             (alpha_word_frac >= 0.8) AS r_alpha,
             (stop_hits >= 2) AS r_stop,
             (top_2gram_frac <= 0.20) AS r_top_2gram,
             (dup_3gram_frac <= 0.30) AS r_dup_3gram
      FROM m
    )
"""


@register(
    "q113_gopher_rules",
    _q113_oracle(),
    doc="Gopher quality-rule bundle (Rae et al. 2021 Table A1, "
    "token-multiset analogs for the repetition caps): 7 per-document "
    "flags + overall pass, every metric a closed-form codegen "
    "expression over one tokens materialization — no explode, no "
    "shuffle, no Python; flags compare ROUNDED metrics so both "
    "engines agree at boundaries.",
)
def q113(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.quality import gopher_quality_flags

    docs = _t(spark, sf_dir, "documents")
    return gopher_quality_flags(docs)


# ---------------------------------------------------------------------------
# Q114 — C4 quality-rule bundle (Raffel et al. 2020)
# ---------------------------------------------------------------------------
# The synthetic documents have no punctuation or newlines, so the
# query derives a structured corpus IN-PLAN (same precedent as q86's
# derived dirty registry): tokens regroup into 12-token lines, full
# lines gain a terminal period, the trailing partial line stays bare.
# That makes every C4 signal vary with document length: sentence
# count = number of full lines, terminal/short-line fractions move
# with the remainder.
_C4_LW = 12


def _q114_oracle() -> str:
    lw = _C4_LW
    return f"""
    WITH t AS (
      SELECT doc_id, {_TOK} AS toks FROM documents
    ), built AS (
      SELECT doc_id,
             array_to_string(
               list_transform(
                 generate_series(0, CAST(ceil(len(toks) / {lw}.0) AS BIGINT) - 1),
                 j -> array_to_string(
                        list_slice(toks, j * {lw} + 1, j * {lw} + {lw}), ' ')
                      || CASE WHEN j < CAST(floor(len(toks) / {lw}.0) AS BIGINT)
                              THEN '.' ELSE '' END),
               chr(10)) AS text
      FROM t WHERE len(toks) > 0
    ), lines AS (
      SELECT doc_id,
             list_filter(string_split(text, chr(10)),
                         x -> trim(x) <> '') AS ls,
             text
      FROM built
    ), m AS (
      SELECT doc_id,
             CAST(len(ls) AS BIGINT) AS n_lines,
             CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
               AS n_sentences,
             ROUND(CASE WHEN len(ls) > 0
               THEN CAST(len(list_filter(ls,
                    x -> regexp_matches(trim(x), '[.!?]$'))) AS DOUBLE)
                    / len(ls) ELSE 0.0 END + 5e-12, 6) AS terminal_line_frac,
             ROUND(CASE WHEN len(ls) > 0
               THEN CAST(len(list_filter(ls,
                    x -> len(list_filter(regexp_split_to_array(trim(x), '\\s+'),
                                         y -> y <> '')) < 5)) AS DOUBLE)
                    / len(ls) ELSE 0.0 END + 5e-12, 6) AS short_line_frac,
             contains(lower(text), 'lorem ipsum') AS has_lorem,
             contains(text, '{{') AS has_brace
      FROM lines
    )
    SELECT *,
           (r_sentences AND r_terminal AND r_short_lines AND r_lorem
            AND r_brace) AS c4_pass
    FROM (
      SELECT m.*,
             (n_sentences >= 3) AS r_sentences,
             (terminal_line_frac >= 0.5) AS r_terminal,
             (short_line_frac <= 0.5) AS r_short_lines,
             (NOT has_lorem) AS r_lorem,
             (NOT has_brace) AS r_brace
      FROM m
    )
"""


@register(
    "q114_c4_rules",
    _q114_oracle(),
    doc="C4 quality-rule bundle (Raffel et al. 2020): line terminal "
    "punctuation, sentence minimum, short-line fraction, "
    "lorem-ipsum/brace rejects over an in-plan sentence-ified "
    "corpus. Closed-form line/regexp expressions; fractions rounded "
    "before flag comparison.",
)
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import tokens_sql
    from model_presto_spark.operators.quality import c4_quality_flags

    docs = _t(spark, sf_dir, "documents")
    lw = _C4_LW
    toksed = docs.select("doc_id", F.expr(tokens_sql("text")).alias("toks"))
    n = F.size("toks")
    built = toksed.where(n > 0).select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0).cast("bigint"),
                    F.ceil(n / F.lit(float(lw))).cast("bigint") - 1,
                ),
                lambda j: F.concat(
                    F.array_join(
                        F.slice(
                            F.col("toks"), (j * lw + 1).cast("int"), lw
                        ),
                        " ",
                    ),
                    F.when(
                        j < F.floor(n / F.lit(float(lw))).cast("bigint"),
                        F.lit("."),
                    ).otherwise(F.lit("")),
                ),
            ),
            "\n",
        ).alias("text"),
    )
    return c4_quality_flags(built)


# ---------------------------------------------------------------------------
# Q115 — SCD Type-2 validity intervals (gaps-and-islands build)
# ---------------------------------------------------------------------------
# State stream: each user's daily dominant event type (deterministic
# mode: count desc, name asc). Consecutive equal states collapse
# into version rows — the history-preserving dimension build that
# complements io.merge_upsert's Type-1 overwrite.
_Q115_ORACLE = """
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
    )
    SELECT user_id, state,
           MIN(d) AS valid_from, MAX(d) AS valid_to,
           CAST(COUNT(*) AS BIGINT) AS n_observations,
           CAST(island AS BIGINT) AS version
    FROM isl GROUP BY user_id, state, island
"""


@register(
    "q115_scd2",
    _Q115_ORACLE,
    doc="SCD Type-2 interval build over each user's daily dominant "
    "event type: lag marks changes, a running sum numbers the "
    "islands, one groupBy collapses versions — two windows + one "
    "agg, all partitioned by the key; no self-joins.",
)
def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    return scd2_intervals(st, "user_id", "d", "state")


# ---------------------------------------------------------------------------
# Q116 — consecutive-day activity streaks (gaps and islands)
# ---------------------------------------------------------------------------
_Q116_ORACLE = """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), anchored AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY d) AS INTEGER) AS anchor
      FROM days
    ), islands AS (
      SELECT user_id, anchor, COUNT(*) AS len
      FROM anchored GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(SUM(len) AS BIGINT) AS active_days
    FROM islands GROUP BY 1
"""


@register(
    "q116_streaks",
    _Q116_ORACLE,
    doc="Gaps-and-islands on the calendar: day - rank is constant "
    "within a consecutive run, so one groupBy isolates streaks with "
    "no self-join. One shuffle on the user key.",
)
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.temporal import day_streaks

    ev = _t(spark, sf_dir, "events")
    return day_streaks(
        ev.select("user_id", F.to_date("ts").alias("d")), "user_id", "d"
    )


# ---------------------------------------------------------------------------
# Q117 — length-3 sequential patterns over per-user event streams
# ---------------------------------------------------------------------------
_SEQ_MIN = 25

_Q117_ORACLE = f"""
    WITH seq AS (
      SELECT event_type AS step1,
             lead(event_type, 1) OVER w AS step2,
             lead(event_type, 2) OVER w AS step3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT step1, step2, step3,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM seq
    WHERE step2 IS NOT NULL AND step3 IS NOT NULL
    GROUP BY 1, 2, 3
    HAVING COUNT(*) >= {_SEQ_MIN}
"""


@register(
    "q117_sequences",
    _Q117_ORACLE,
    doc="Length-3 sequential patterns (ordered event-type windows "
    f"per user, corpus support >= {_SEQ_MIN}): lead windows over "
    "the entity-partitioned stream — one shuffle on the key, then "
    "one groupBy on the sequence tuple. transition_matrix's n=2 "
    "generalized.",
)
def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.temporal import sequence_counts

    ev = _t(spark, sf_dir, "events")
    return sequence_counts(
        ev, "user_id", ["ts", "event_id"], "event_type",
        n=3, min_count=_SEQ_MIN,
    )
