"""Training-data pipeline queries: dedup, similarity search, text
analysis over the ``documents`` and ``embeddings`` tables.

These extend the reference's operator surface with the corpus
operations a 100 TB training-data pipeline needs (dedup families,
ANN, language ID, quality scoring). Every query has a DuckDB oracle:
hashing is md5-derived (identical across engines) and float folds
are sequential left-to-right in both Spark (``aggregate``) and
DuckDB (``list_reduce``/``list_sum``), so even cosine similarities
compare bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from model_presto_spark.functions import text as T
from model_presto_spark.plans.queries import _t, register

# --- shared DuckDB SQL fragments (oracle side) -----------------------------

DD_H60 = "CAST(('0x' || substr(md5({s}), 1, 15)) AS BIGINT)"


def dd_h60(s: str) -> str:
    return DD_H60.format(s=s)


DD_TOKENS = (
    "list_filter(regexp_split_to_array(lower({t}), '\\s+'), x -> x <> '')"
)


def dd_tokens(t: str) -> str:
    return DD_TOKENS.format(t=t)


def dd_shingles(t: str, k: int = 5) -> str:
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(length(lower({t})) - {k - 1}, 1)), "
        f"i -> substr(lower({t}), CAST(i AS INT), {k})))"
    )


def dd_hash_array(strings: str) -> str:
    """One md5-derived 60-bit hash per list element (mirrors
    functions.text.hash_array_sql)."""
    return f"list_transform({strings}, s -> {dd_h60('s')})"


def dd_minhash(hashes: str, num_hashes: int = 16) -> str:
    """Arithmetic per-seed minima over pre-hashed elements (mirrors
    functions.text.minhash_signature_sql: the same seed coefficients,
    from functions.text.minhash_coefficients)."""
    p = T.HASH_P
    coeffs = ", ".join(f"[{a}, {b}]" for a, b in T.minhash_coefficients(num_hashes))
    return (
        f"list_transform(CAST([{coeffs}] AS BIGINT[][]), "
        f"c -> list_min(list_transform({hashes}, "
        f"h -> ((h % {p}) * c[1] + c[2]) % {p})))"
    )


# ---------------------------------------------------------------------------
# Q31 — exact dedup via normalized fingerprint  (hash-groupBy)
# ---------------------------------------------------------------------------
_DD_FP = dd_h60("regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')")


@register(
    "q31_exact_dedup",
    f"""
    SELECT {_DD_FP} AS fingerprint,
           MIN(doc_id) AS doc_id,
           COUNT(*) AS dup_count
    FROM documents
    GROUP BY 1
    """,
    doc="Exact dedup: min-id representative per normalized-text 60-bit "
    "fingerprint; shuffles keys, never bodies.",
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Q32 — MinHash + LSH near-dup pairs, exact-Jaccard verified
# ---------------------------------------------------------------------------
_DD_SH = dd_shingles("text", 5)
_DD_SIG = dd_minhash("hs", 16)

_Q32_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id AS id, {dd_hash_array(_DD_SH)} AS hs FROM documents
    ), sig AS (
      SELECT id, hs, {_DD_SIG} AS sig FROM sh
    ), banded AS (
      SELECT id, hs, b.band,
             md5(array_to_string(
               list_transform(sig[b.band * 4 + 1 : b.band * 4 + 4],
                              x -> CAST(x AS VARCHAR)), ',')) AS bucket
      FROM sig, (SELECT UNNEST(generate_series(0, 3)) AS band) b
    ), cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.hs AS sh_a, b.hs AS sh_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    )
    SELECT id_a, id_b,
           ROUND(
             CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
             / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))
             + 5e-12, 6) AS jaccard_sim
    FROM cand
    WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
          / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) >= 0.5
"""


@register(
    "q32_minhash_lsh",
    _Q32_ORACLE,
    doc="MinHash(16)/LSH(4 bands) candidate pairs verified with exact "
    "shingle Jaccard >= 0.5; bucket equi-join replaces O(n^2) pairs.",
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", shingle_k=5, num_hashes=16, bands=4,
        threshold=0.5,
        # the oracle's candidate set is the exact unscreened LSH
        # semantics — pin it (the operator default is size-aware auto)
        signature_screen=None,
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard_sim") + 5e-12, 6).alias("jaccard_sim")
    )


# ---------------------------------------------------------------------------
# Q33 — SimHash signatures
# ---------------------------------------------------------------------------
_DD_SIMHASH = f"""
    CAST(list_sum(list_transform(generate_series(0, 59), b ->
      CASE WHEN list_sum(list_transform({dd_tokens('text')},
             t -> (({dd_h60('t')} >> b) & 1) * 2 - 1)) > 0
      THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
"""


@register(
    "q33_simhash",
    f"""
    SELECT doc_id, {_DD_SIMHASH} AS simhash
    FROM documents
    """,
    doc="60-bit SimHash per document (token-hash bit-vote), JVM-side HOFs.",
)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.dedup import simhash_signatures

    docs = _t(spark, sf_dir, "documents")
    return simhash_signatures(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Q34 — n-gram Jaccard pairs via inverted-index join
# ---------------------------------------------------------------------------
_DD_GRAMS = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len({toks}) - 2, 1)), "
    "i -> array_to_string({toks}[i:i+2], ' ')))"
).format(toks=dd_tokens("text"))

_Q34_ORACLE = f"""
    WITH g AS (
      SELECT doc_id AS id,
             list_distinct({dd_hash_array(_DD_GRAMS)}) AS grams
      FROM documents
    ), sizes AS (
      SELECT id, len(grams) AS n_grams FROM g
    ), posting AS (
      SELECT id, UNNEST(grams) AS gram FROM g
    ), keep AS (
      SELECT gram FROM posting GROUP BY gram HAVING COUNT(*) <= 1000
    ), p2 AS (
      SELECT p.* FROM posting p JOIN keep USING (gram)
    ), common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM p2 a JOIN p2 b ON a.gram = b.gram AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common)
                 + 5e-12, 6) AS jaccard_sim
    FROM common
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common) >= 0.3
"""


@register(
    "q34_ngram_jaccard",
    _Q34_ORACLE,
    doc="Word-3-gram Jaccard >= 0.3 via exploded inverted index with "
    "stop-gram df-cutoff (the skew guard at corpus scale).",
)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.3, max_doc_freq=1000
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard_sim") + 5e-12, 6).alias("jaccard_sim")
    )


# ---------------------------------------------------------------------------
# Q35 — brute-force cosine top-k similarity search
# ---------------------------------------------------------------------------
_DD_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(generate_series(1, 64), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
    "(acc, x) -> acc + x)"
)
_DD_NORM = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
    "(acc, x) -> acc + x))"
)

_Q35_ORACLE = f"""
    WITH p AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             1.0 - {_DD_DOT.format(a='p.embedding', b='c.embedding')}
                   / ({_DD_NORM.format(a='p.embedding')} * {_DD_NORM.format(a='c.embedding')})
             AS dist
      FROM p CROSS JOIN embeddings c
      WHERE p.vec_id <> c.vec_id
    ), ranked AS (
      SELECT probe_id, neighbor_id, dist,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY dist ASC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT probe_id, neighbor_id, ROUND(dist + 5e-12, 6) AS dist, rank
    FROM ranked WHERE rank <= 5
"""


@register(
    "q35_cosine_topk",
    _Q35_ORACLE,
    doc="Brute-force cosine top-5 ANN baseline over 64-d embeddings; "
    "sequential folds keep floats bit-identical to the oracle.",
)
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.knn import knn_join

    # NOTE on float parity: the functions/vectors folds promote every
    # element to double inside the fold lambda,
    # matching the oracle's CAST(x AS DOUBLE) products bit-for-bit, so
    # no upfront array<double> cast is needed. An upfront withColumn
    # cast is also a 3x per-row slowdown: CollapseProject inlines the
    # single-use cast array into the HOF lambdas and re-casts the
    # whole vector per element (measured on the q40 bucket fold).
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    out = knn_join(
        probes.withColumnRenamed("vec_id", "probe_id"),
        emb.withColumnRenamed("vec_id", "neighbor_id"),
        probe_id="probe_id",
        cand_id="neighbor_id",
        probe_vec="embedding",
        cand_vec="embedding",
        k=5,
        metric="cosine",
        exclude_self=True,
    )
    return out.select(
        "probe_id", "neighbor_id", F.round(F.col("dist") + 5e-12, 6).alias("dist"), "rank"
    )


# ---------------------------------------------------------------------------
# Q36 — language ID heuristic (stopword argmax)
# ---------------------------------------------------------------------------
def _dd_lang_score(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS[lang])
    return (
        f"len(list_filter({dd_tokens('text')}, t -> t IN ({words})))"
    )


_Q36_ORACLE = f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_dd_lang_score('de')} AS s_de,
             {_dd_lang_score('en')} AS s_en,
             {_dd_lang_score('es')} AS s_es,
             {_dd_lang_score('fr')} AS s_fr
      FROM documents
    ), pred AS (
      SELECT lang,
             CASE
               WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
               WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
               WHEN s_es >= s_fr THEN 'es'
               ELSE 'fr' END AS predicted
      FROM scored
    )
    SELECT lang, predicted, COUNT(*) AS n
    FROM pred GROUP BY lang, predicted
"""


@register(
    "q36_lang_id",
    _Q36_ORACLE,
    doc="Stopword-hit language ID (argmax, lexicographic tie-break) "
    "cross-tabbed against the labeled lang column.",
)
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.io import spread

    docs = _t(spark, sf_dir, "documents")
    # tokenize + 4x stopword scoring is the heavy per-row work and the
    # documents scan is one file (1 task) — spread first, like every
    # other CPU-bound text pass (io.spread docstring; q46 precedent).
    # String-expression build (guide §7.3; was ~610 py4j round-trips):
    # the nested when-chain is rendered as the same nested CASE tree.
    toksed = spread(docs.select("lang", "text")).selectExpr(
        "lang", f"{T.tokens_sql('text')} AS toks"
    )
    scores = {
        lang: T.lang_score_sql("toks", lang) for lang in T.LANG_STOPWORDS
    }
    ordered = sorted(scores)  # lexicographic => deterministic argmax tie-break
    pred = None
    for lang in reversed(ordered):
        if pred is None:
            pred = f"'{lang}'"
        else:
            cond = " AND ".join(
                f"{scores[lang]} >= {scores[other]}"
                for other in ordered
                if other > lang
            )
            pred = f"CASE WHEN {cond} THEN '{lang}' ELSE {pred} END"
    return (
        toksed.selectExpr("lang", f"{pred} AS predicted")
        .groupBy("lang", "predicted")
        .agg(F.expr("count(1) AS n"))
    )


# ---------------------------------------------------------------------------
# Q37 — quality scoring features
# ---------------------------------------------------------------------------
_DD_TOKS = dd_tokens("text")
_Q37_ORACLE = f"""
    WITH f AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len({_DD_TOKS}) AS DOUBLE) AS n_tokens,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS alpha,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
             CAST(len(list_filter({_DD_TOKS},
               t -> t IN ('the','and','of','to','a','in','is','it','that','for'))) AS DOUBLE) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(CASE WHEN n_chars > 0 THEN alpha / n_chars ELSE 0.0 END + 5e-12, 6) AS alpha_ratio,
           ROUND(CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END + 5e-12, 6) AS punct_ratio,
           ROUND(CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END + 5e-12, 6) AS stopword_ratio,
           ROUND(CASE WHEN n_tokens > 0 THEN alpha / n_tokens ELSE 0.0 END + 5e-12, 6) AS mean_word_len
    FROM f
"""


@register(
    "q37_quality",
    _Q37_ORACLE,
    doc="Per-doc quality features: token count, alpha/punct/stopword "
    "ratios, mean word length (reference-style normalization exprs).",
)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.io import spread

    docs = _t(spark, sf_dir, "documents")
    # same single-file-scan serialization fix as q36 (io.spread)
    # String-expression build (guide §7.3; was ~590 py4j round-trips):
    # quality_features_sql's trees, incl. the double-then-bigint
    # n_tokens cast and the 0.0D else branches.
    toksed = spread(docs.select("doc_id", "text")).selectExpr(
        "doc_id", "text", f"{T.tokens_sql('text')} AS toks"
    )
    f = T.quality_features_sql("text", "toks")
    return toksed.selectExpr(
        "doc_id",
        f"CAST({f['n_tokens']} AS BIGINT) AS n_tokens",
        f"ROUND({f['alpha_ratio']} + 5e-12, 6) AS alpha_ratio",
        f"ROUND({f['punct_ratio']} + 5e-12, 6) AS punct_ratio",
        f"ROUND({f['stopword_ratio']} + 5e-12, 6) AS stopword_ratio",
        f"ROUND({f['mean_word_len']} + 5e-12, 6) AS mean_word_len",
    )


# ---------------------------------------------------------------------------
# Q38 — token counting (whitespace + BPE-ish) per language
# ---------------------------------------------------------------------------
_Q38_ORACLE = f"""
    WITH f AS (
      SELECT lang,
             len({_DD_TOKS}) AS n_ws,
             CAST(list_sum(list_transform({_DD_TOKS},
               t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT) AS n_bpe
      FROM documents
    )
    SELECT lang,
           CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
           ROUND(AVG(n_ws) + 5e-10, 4) AS avg_ws_tokens
    FROM f GROUP BY lang
"""


@register(
    "q38_token_stats",
    _Q38_ORACLE,
    doc="Whitespace + BPE-ish (ceil(len/4) pieces) token counts per lang.",
)
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            F.size(F.expr(T.tokens_sql("text"))).alias("n_ws"),
            F.expr(T.bpe_ish_token_count_sql("text")).alias("n_bpe"),
        )
        .groupBy("lang")
        .agg(
            F.sum("n_ws").alias("total_ws_tokens"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            F.round(F.avg("n_ws") + 5e-10, 4).alias("avg_ws_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Q39 — document fingerprints: dup stats per source
# ---------------------------------------------------------------------------
@register(
    "q39_fingerprint_stats",
    f"""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT {_DD_FP}) AS n_unique,
           COUNT(*) - COUNT(DISTINCT {_DD_FP}) AS n_dups
    FROM documents
    GROUP BY source
    """,
    doc="Rolling-hash fingerprint dedup stats per source shard.",
)
def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fp = F.expr(T.fingerprint60_sql("text"))
    return docs.select("source", fp.alias("fp")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_dups"),
    )


# ---------------------------------------------------------------------------
# Q40 — LSH-bucketed approximate NN (the scale path for Q35)
# ---------------------------------------------------------------------------
def _dd_weights_literal() -> str:
    """Same md5-derived hyperplane weights as the Spark side, embedded
    as a DuckDB nested-list literal (hashing happens in Python once)."""
    from model_presto_spark.operators.knn import hyperplane_weights

    rows = hyperplane_weights(dim=64, planes=8)
    return "[" + ", ".join(
        "[" + ", ".join(repr(x) for x in row) + "]" for row in rows
    ) + "]"


# Weights bind ONCE as a column (wt CTE): referencing the nested-list
# literal inside the lambda makes DuckDB rebuild the 8x64 list per
# element (~60 s over 500 rows at sf0.01); the column reference is
# instant. Same sequential fold as the Spark aggregate() expression,
# so buckets stay bit-identical.
_DD_BUCKET = """
    CAST(list_sum(list_transform(generate_series(0, 7), j ->
      CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(generate_series(1, 64), d ->
               CAST({vec}[d] AS DOUBLE) * wt.w[j + 1][d])),
             (acc, x) -> acc + x) > 0
      THEN (1 << j) ELSE 0 END)) AS INT)
"""

_Q40_ORACLE = f"""
    WITH wt AS MATERIALIZED (SELECT {_dd_weights_literal()} AS w),
    b AS MATERIALIZED (
      SELECT vec_id, embedding, {_DD_BUCKET.format(vec='embedding')} AS bucket
      FROM embeddings CROSS JOIN wt
    ), p AS (SELECT * FROM b WHERE vec_id < 10),
    scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             {_DD_DOT.format(a='p.embedding', b='c.embedding')}
               / ({_DD_NORM.format(a='p.embedding')} * {_DD_NORM.format(a='c.embedding')})
             AS cosine_sim
      FROM p JOIN b c ON p.bucket = c.bucket AND p.vec_id <> c.vec_id
    ), ranked AS (
      SELECT probe_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT probe_id, neighbor_id, ROUND(cosine_sim + 5e-12, 6) AS cosine_sim, rank
    FROM ranked WHERE rank <= 5
"""


@register(
    "q40_ann_lsh",
    _Q40_ORACLE,
    doc="Random-hyperplane LSH (8 planes, md5-derived weights) bucket "
    "equi-join + exact cosine rerank — crossJoin becomes a hash join.",
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.knn import ann_lsh_join

    # raw float input: the bucket fold and the cosine rerank both
    # cast per element (see the q35 parity note; upfront array casts
    # get inlined into the HOFs and re-evaluated per element)
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    out = ann_lsh_join(
        probes.withColumnRenamed("vec_id", "probe_id"),
        emb.withColumnRenamed("vec_id", "neighbor_id"),
        probe_id="probe_id",
        cand_id="neighbor_id",
        probe_vec="embedding",
        cand_vec="embedding",
        k=5,
        dim=64,
        planes=8,
    )
    return out.select(
        "probe_id",
        "neighbor_id",
        F.round(F.col("cosine_sim") + 5e-12, 6).alias("cosine_sim"),
        "rank",
    )


# ---------------------------------------------------------------------------
# Q83 — retrieval-quality metrics (MRR / recall@k / nDCG@k) over exact kNN
# ---------------------------------------------------------------------------
_Q83_K = 10

_Q83_ORACLE = f"""
    WITH p AS (SELECT vec_id, embedding, label FROM embeddings
               WHERE vec_id < 20),
    scored AS (
      SELECT p.vec_id AS q, c.vec_id AS d,
             1.0 - {_DD_DOT.format(a='p.embedding', b='c.embedding')}
                   / ({_DD_NORM.format(a='p.embedding')}
                      * {_DD_NORM.format(a='c.embedding')}) AS dist
      FROM p CROSS JOIN embeddings c
      WHERE p.vec_id <> c.vec_id
    ), run AS (
      SELECT q, d,
             ROW_NUMBER() OVER (PARTITION BY q ORDER BY dist, d) AS rank
      FROM scored
    ), qrels AS (
      SELECT p.vec_id AS q, c.vec_id AS d
      FROM p JOIN embeddings c ON p.label = c.label AND p.vec_id <> c.vec_id
    ), hits AS (
      SELECT r.q, r.rank, (qr.q IS NOT NULL) AS rel
      FROM (SELECT * FROM run WHERE rank <= {_Q83_K}) r
      LEFT JOIN qrels qr ON r.q = qr.q AND r.d = qr.d
    ), per_q AS (
      SELECT q,
             COALESCE(MAX(CASE WHEN rel THEN 1.0 / rank END), 0.0) AS rr,
             SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS n_hit,
             SUM(CASE WHEN rel THEN 1.0 / log2(rank + 1.0) ELSE 0 END) AS dcg
      FROM hits GROUP BY q
    ), totals AS (
      SELECT q, COUNT(*) AS n_rel FROM qrels GROUP BY q
    ), per AS (
      SELECT t.q,
             COALESCE(p2.rr, 0.0) AS rr,
             COALESCE(p2.n_hit, 0) * 1.0 / t.n_rel AS rec,
             COALESCE(p2.dcg, 0.0)
               / list_sum(list_transform(
                   generate_series(1, CAST(least(t.n_rel, {_Q83_K}) AS BIGINT)),
                   i -> 1.0 / log2(i + 1.0))) AS ndcg
      FROM totals t LEFT JOIN per_q p2 USING (q)
    )
    SELECT ROUND(AVG(rr) + 5e-12, 6) AS mrr,
           ROUND(AVG(rec) + 5e-12, 6) AS recall_at_k,
           ROUND(AVG(ndcg) + 5e-12, 6) AS ndcg_at_k,
           CAST(COUNT(*) AS BIGINT) AS n_queries
    FROM per
"""


@register(
    "q83_ranking_metrics",
    _Q83_ORACLE,
    doc="Retrieval evaluation end-to-end: exact cosine top-10 run "
    "(knn_join) scored against label-match qrels with "
    "ml/metrics.ranking_metrics - MRR, recall@10, binary-gain "
    "nDCG@10, one (query, doc) join + per-query aggregation, no "
    "windows in the metric math.",
)
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.ml.metrics import ranking_metrics
    from model_presto_spark.operators.knn import knn_join

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20)
    ranked = knn_join(
        probes.select(F.col("vec_id").alias("q"), F.col("embedding").alias("vec")),
        emb.select(F.col("vec_id").alias("d"), F.col("embedding").alias("vec"),
                   "label"),
        "q", "d", "vec", "vec", k=_Q83_K, metric="cosine",
        exclude_self=True,
    )
    qrels = (
        probes.select(F.col("vec_id").alias("q"), F.col("label").alias("pl"))
        .join(
            emb.select(F.col("vec_id").alias("d"), F.col("label").alias("cl")),
            F.col("pl") == F.col("cl"),
        )
        .where(F.col("q") != F.col("d"))
        .select("q", "d")
    )
    m = ranking_metrics(ranked, qrels, "q", "d", "rank", k=_Q83_K)
    return m.select(
        F.round(F.col("mrr") + 5e-12, 6).alias("mrr"),
        F.round(F.col("recall_at_k") + 5e-12, 6).alias("recall_at_k"),
        F.round(F.col("ndcg_at_k") + 5e-12, 6).alias("ndcg_at_k"),
        "n_queries",
    )
