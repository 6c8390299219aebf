"""Corpus-fit unigram language model + per-document perplexity
scoring — the CCNet-style "how surprising is this document relative
to the corpus" quality signal an LLM data pipeline runs at scale.

Two-pass distributed plan, zero Python UDFs:

1. ``doc_token_counts``: one explode of the whitespace tokenization
   into ``(doc_id, token, cnt)`` — the per-doc combine happens in the
   same shuffle (map-side partial aggregation), so token *instances*
   are never shuffled, only per-doc type counts.
2. ``perplexity_scores``: the corpus vocabulary is a second, much
   smaller aggregation over token types; the per-doc score is a
   token-keyed equi-join back onto the per-doc counts (both sides
   hash-partitioned on token — co-located at any scale, no broadcast
   assumption on the vocabulary) followed by one groupBy(doc_id).

Model: add-one smoothing over the observed vocabulary plus a single
OOV bucket, i.e. ``p(t) = (tf(t) + 1) / (N + V + 1)`` with ``tf = 0``
for out-of-vocabulary tokens (N = corpus token count, V = vocabulary
size after the ``min_count`` cut). The uniform formula keeps the
whole computation one expression and makes it DuckDB-expressible for
the oracle (q71).

The per-doc counts relation feeds three branches (vocab, totals,
scoring), so it is persisted — at 100 TB this is the relation you
would materialize anyway (it is the corpus's posting list).

Reference anchor: quality-filter stage of the reference's dataset
hygiene (presto-tolbi/presto/dataops/dataset.py clean-up semantics);
perplexity filtering itself is the standard public CCNet recipe.
"""

from __future__ import annotations

import math

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from model_presto_spark.functions import text as T

_LN2 = math.log(2.0)


def doc_token_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, token, cnt) — the corpus posting list. explode_outer
    avoids the InferFiltersFromGenerate double-evaluation of the
    tokenize expression (see verify-skill gotchas); whitespace-only
    docs yield a null token row that is filtered right after."""
    from model_presto_spark.io import spread

    # spread: tokenize+explode is the pre-shuffle CPU of every LM
    # family query and must not inherit a 1-partition scan
    toks = spread(docs).select(
        id_col, F.explode_outer(F.expr(T.tokens_sql(text_col))).alias("token")
    ).where(F.col("token").isNotNull())
    return toks.groupBy(id_col, "token").agg(F.count("*").alias("cnt"))


def fit_unigram_vocab(
    dtc: DataFrame, min_count: int = 2
) -> tuple[DataFrame, DataFrame]:
    """(vocab, denom): vocab = (token, tf) surviving the min_count
    cut; denom = single row (n_corpus, v_vocab). n_corpus counts ALL
    tokens (including those cut from the vocab — they are OOV mass,
    not deleted mass)."""
    vocab = (
        dtc.groupBy("token")
        .agg(F.sum("cnt").alias("tf"))
        .where(F.col("tf") >= min_count)
    )
    denom = dtc.agg(F.sum("cnt").alias("n_corpus")).crossJoin(
        vocab.agg(F.count("*").alias("v_vocab"))
    )
    return vocab, denom


def perplexity_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Per-document bits-per-token under the corpus unigram LM:
    ``-mean_t log2 p(t)``. Lower = closer to the corpus distribution.
    Documents with no tokens produce no row (no defined perplexity).
    """
    dtc = doc_token_counts(docs, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    vocab, denom = fit_unigram_vocab(dtc, min_count)
    logp = F.log(
        (F.coalesce(F.col("tf"), F.lit(0)) + F.lit(1.0))
        / (F.col("n_corpus") + F.col("v_vocab") + F.lit(1.0))
    )
    return (
        dtc.join(vocab, "token", "left")
        .crossJoin(F.broadcast(denom))
        .groupBy(id_col)
        .agg(
            (-F.sum(F.col("cnt") * logp) / F.sum("cnt") / F.lit(_LN2)).alias(
                "bits_per_token"
            ),
            F.sum("cnt").alias("n_tokens"),
            (F.sum(F.when(F.col("tf").isNull(), F.col("cnt")).otherwise(0)) / F.sum("cnt")).alias("oov_ratio"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    k: int = 10,
) -> DataFrame:
    """Top-k characteristic terms per group by TF-IDF: group-level
    term frequency x smoothed inverse *document* frequency
    (``idf = ln((n_docs+1)/(df+1)) + 1``). The per-group profile an
    LLM pipeline uses for domain fingerprinting / mixture sanity
    checks.

    Same posting-list backbone as perplexity_scores: one explode,
    then every downstream relation is a token- or group-keyed
    aggregation (map-side combinable). Ranking ties are broken on
    the rounded score then the token so the top-k frontier is
    deterministic and cross-engine stable.
    """
    from pyspark.sql import Window

    dtc = doc_token_counts(docs, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dfreq = dtc.groupBy("token").agg(F.count("*").alias("dfq"))
    nd = dtc.agg(F.count_distinct(id_col).alias("n_docs"))
    src = (
        dtc.join(docs.select(id_col, group_col), id_col)
        .groupBy(group_col, "token")
        .agg(F.sum("cnt").alias("tf_s"))
    )
    scored = (
        src.join(dfreq, "token")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "score",
            F.col("tf_s")
            * (F.log((F.col("n_docs") + 1.0) / (F.col("dfq") + 1.0)) + 1.0),
        )
    )
    w = Window.partitionBy(group_col).orderBy(
        F.round(F.col("score"), 6).desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            group_col,
            "rank",
            "token",
            F.round(F.col("score") + F.lit(5e-10), 4).alias("score"),
        )
    )


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int | None = None,
) -> DataFrame:
    """Okapi BM25 retrieval over the corpus posting list.

    ``score(q, d) = sum_t idf(t) * tf * (k1+1) /
    (tf + k1 * (1 - b + b * dl/avgdl))`` with the Lucene
    non-negative idf ``ln(1 + (N - df + 0.5)/(df + 0.5))``. Query
    terms are deduplicated (standard bag-of-words query form).

    Plan shape: the SAME posting list as perplexity/TF-IDF (one
    explode, persisted), document lengths and corpus stats as
    one-row broadcasts, then a token-keyed equi-join of query terms
    onto postings — queries are tiny and broadcast; the corpus is
    only ever shuffled by token. With ``top_k``, a per-query window
    keeps the best documents, ranked on the ROUNDED score then doc
    id so the frontier is deterministic and cross-engine stable.

    Output: (query_id, doc id, score[, rank]) for docs matching >= 1
    query term.
    """
    from pyspark.sql import Window

    dtc = doc_token_counts(docs, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dlen = dtc.groupBy(id_col).agg(F.sum("cnt").alias("dl"))
    dfreq = dtc.groupBy("token").agg(F.count("*").alias("dfq"))
    stats = dlen.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qterms = queries.select(
        query_id_col,
        F.explode_outer(F.expr(T.tokens_sql(query_text_col))).alias("token"),
    ).where(F.col("token").isNotNull()).distinct()
    tf = F.col("cnt").cast("double")
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("dfq") + 0.5) / (F.col("dfq") + 0.5)
    )
    denom = tf + k1 * (
        1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl")
    )
    per_term = (
        qterms.join(dtc, "token")  # token-keyed; query side broadcasts
        .join(dfreq, "token")
        .join(dlen, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            query_id_col,
            id_col,
            (idf * (tf * (k1 + 1.0)) / denom).alias("s"),
        )
    )
    scored = per_term.groupBy(query_id_col, id_col).agg(
        F.sum("s").alias("score")
    )
    if top_k is None:
        return scored
    rounded = scored.select(
        query_id_col,
        id_col,
        F.round(F.col("score") + F.lit(5e-12), 6).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        rounded.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal-Rank Fusion (Cormack et al. 2009) of N retriever
    rankings — the standard hybrid-retrieval combiner (lexical BM25
    + vector ANN, or any mix): ``rrf(d) = sum over rankers of
    1 / (k + rank_r(d))``, items missing from a ranker contribute 0.

    Rank-based, so the rankers' score scales never need calibration.
    Plan shape: a union of the (already tiny, per-query top-k)
    ranking relations, one (query, id) groupBy — each input ranker
    has already done the corpus-scale work; fusion cost is
    O(queries x top_k x rankers). The fused score is a sum of exact
    reciprocals of small integers: engine-independent to the last
    bit, so ranking ties break on the id only when ranks genuinely
    coincide.

    Output: (query, id, rrf_score, n_rankers[, rank]).
    """
    from functools import reduce

    from pyspark.sql import Window

    parts = [r.select(query_col, id_col, rank_col) for r in rankings]
    u = reduce(lambda a, b: a.unionByName(b), parts)
    scored = u.groupBy(query_col, id_col).agg(
        F.sum(1.0 / (F.lit(k) + F.col(rank_col))).alias("rrf_score"),
        F.count(F.lit(1)).cast("bigint").alias("n_rankers"),
    )
    if top_k is None:
        return scored
    w = Window.partitionBy(query_col).orderBy(
        F.desc("rrf_score"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
    )


def bigram_positions(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, prev, token, cnt) — bigram occurrences per document
    (the first token of a doc has no bigram position). Same
    explode_outer discipline as doc_token_counts."""
    from model_presto_spark.io import spread

    # spread: same pre-shuffle tokenize guard as doc_token_counts
    toksed = spread(docs).select(id_col, F.expr(T.tokens_sql(text_col)).alias("toks"))
    n = F.size("toks")
    idx = F.when(n >= 2, F.sequence(F.lit(2), n)).otherwise(
        F.array().cast("array<int>")
    )
    bi = toksed.select(
        id_col, "toks", F.explode_outer(idx).alias("i")
    ).where(F.col("i").isNotNull())
    return (
        bi.select(
            id_col,
            F.element_at("toks", F.col("i") - 1).alias("prev"),
            F.element_at("toks", F.col("i")).alias("token"),
        )
        .groupBy(id_col, "prev", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def bigram_perplexity_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
    min_count: int = 2,
) -> DataFrame:
    """Per-document bits-per-token under a Jelinek-Mercer interpolated
    bigram LM: ``p(t|prev) = lam * c(prev,t)/c(prev·) + (1-lam) *
    p1(t)`` with the add-1-smoothed unigram ``p1`` of
    perplexity_scores as the backoff. Scored over bigram positions
    (docs with < 2 tokens produce no row). The sharper quality signal
    vs the unigram LM: word-salad text with plausible unigrams but
    impossible transitions scores high.

    Plan shape: the bigram relation shuffles once keyed by
    (prev, token); the conditional-probability tables are corpus
    bigram/unigram aggregations joined back by the same keys —
    vocabulary²-bounded in theory, observed-bigrams-bounded in
    practice. No row ever carries more than the (prev, token, cnt)
    triple.

    Output: (id, n_bigrams, bits_per_token).
    """
    bp = bigram_positions(docs, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dtc = doc_token_counts(docs, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    vocab, denom = fit_unigram_vocab(dtc, min_count)
    big = bp.groupBy("prev", "token").agg(F.sum("cnt").alias("c_bi"))
    ctx = big.groupBy("prev").agg(F.sum("c_bi").alias("c_prev"))
    p1 = (
        F.coalesce(F.col("tf"), F.lit(0)) + F.lit(1.0)
    ) / (F.col("n_corpus") + F.col("v_vocab") + F.lit(1.0))
    p = (
        F.lit(lam) * F.col("c_bi").cast("double") / F.col("c_prev").cast("double")
        + F.lit(1.0 - lam) * p1
    )
    return (
        bp.join(big, ["prev", "token"])
        .join(ctx, "prev")
        .join(vocab, "token", "left")
        .crossJoin(F.broadcast(denom))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            (-F.sum(F.col("cnt") * F.log(p)) / F.sum("cnt") / F.lit(_LN2)).alias(
                "bits_per_token"
            ),
        )
    )
