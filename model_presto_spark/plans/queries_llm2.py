"""Conformance queries: benchmark contamination and repetition-quality
signals (LLM training-data pipeline extensions, round 2).

Both are oracle-checked against DuckDB on the shared ``documents``
table. q60 treats one synthetic source (``src0``) as the "benchmark"
and the rest as the training corpus — the same broadcast-overlap
shape a real decontamination pass uses (benchmark gram pool tiny vs
100 TB corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, register
from model_presto_spark.plans.queries_docs import dd_tokens

_TOKS = dd_tokens("text")

# ---------------------------------------------------------------------------
# Q60 — benchmark contamination via word-3-gram overlap
# ---------------------------------------------------------------------------
_Q60_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS} AS t FROM documents
    ), grams AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 1)),
               i -> array_to_string(t[i:i+2], ' '))) AS g
      FROM toks
    ), bench AS (
      SELECT DISTINCT UNNEST(g) AS gram FROM grams WHERE source = 'src0'
    ), corpus AS (
      SELECT doc_id, len(g) AS n_grams, UNNEST(g) AS gram
      FROM grams WHERE source <> 'src0'
    ), hits AS (
      SELECT doc_id, n_grams, COUNT(*) AS n_overlap
      FROM corpus JOIN bench USING (gram) GROUP BY 1, 2
    )
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_overlap AS BIGINT) AS n_overlap,
           ROUND(CAST(n_overlap AS DOUBLE) / n_grams + 5e-12, 6)
             AS contamination
    FROM hits
"""


@register(
    "q60_contamination",
    _Q60_ORACLE,
    doc="Benchmark decontamination: word-3-gram overlap of every "
    "corpus doc against the broadcast benchmark gram pool "
    "(operators/contamination.py) — src0 plays the benchmark.",
)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.contamination import ngram_contamination

    docs = _t(spark, sf_dir, "documents")
    out = ngram_contamination(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        id_col="doc_id",
        text_col="text",
        n=3,
        min_overlap=1,
    )
    return out.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_overlap").cast("bigint").alias("n_overlap"),
        F.round(F.col("contamination") + 5e-12, 6).alias("contamination"),
    )


# ---------------------------------------------------------------------------
# Q61 — repetition-quality signals (Gopher-style)
# ---------------------------------------------------------------------------
_Q61_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(t) - 1, 1)),
               i -> array_to_string(t[i:i+1], ' ')) AS g
      FROM toks
    ), counts AS (
      SELECT doc_id, gram, COUNT(*) AS c
      FROM (SELECT doc_id, UNNEST(g) AS gram FROM grams)
      GROUP BY 1, 2
    ), per_doc AS (
      SELECT doc_id, MAX(c) AS top_c, SUM(c) AS total,
             COUNT(*) AS n_distinct
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id,
           ROUND(1.0 - CAST(n_distinct AS DOUBLE) / total + 5e-12, 6)
             AS dup_2gram_frac,
           ROUND(CAST(top_c AS DOUBLE) / total + 5e-12, 6)
             AS top_2gram_frac
    FROM per_doc
"""


@register(
    "q61_repetition",
    _Q61_ORACLE,
    doc="Gopher-style repetition signals per document: duplicate-2gram "
    "fraction and top-2gram fraction, as single-pass JVM folds "
    "(functions/text.py word_ngrams_all / top_ngram_fraction) — no "
    "explode, no shuffle on the Spark side; the oracle explodes and "
    "groups, proving the fold equals the multiset-count definition.",
)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import (
        duplicate_ngram_fraction,
        tokens_sql,
        top_ngram_fraction,
        word_ngrams_all,
    )

    from model_presto_spark.io import spread

    docs = _t(spark, sf_dir, "documents")
    # spread first: the gram-string build + sort/distinct folds are
    # CPU-bound and must not inherit the single-file scan's one
    # partition (the round-5 pathology #3; documents is 1 partition
    # at sf0.1)
    toks = spread(docs).select("doc_id", F.expr(tokens_sql("text")).alias("__toks"))
    grams = toks.select(
        "doc_id", word_ngrams_all(F.col("__toks"), 2).alias("__grams")
    )
    return grams.select(
        "doc_id",
        F.round(
            duplicate_ngram_fraction(F.col("__grams")) + 5e-12, 6
        ).alias("dup_2gram_frac"),
        F.round(top_ngram_fraction(F.col("__grams")) + 5e-12, 6).alias(
            "top_2gram_frac"
        ),
    )


# ---------------------------------------------------------------------------
# Q62 — per-source token-budget sampling (batch analog of the stateful
# streaming operator; same prefix-truncation semantics)
# ---------------------------------------------------------------------------
_Q62_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, source, len({_TOKS}) AS n_tokens FROM documents
    ), cum AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM toks
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM cum WHERE cum_tokens <= 2000
"""


@register(
    "q62_token_budget",
    _Q62_ORACLE,
    doc="Per-source token-budget sampling: keep each source's doc_id-"
    "ordered prefix whose cumulative whitespace-token count fits a "
    "2000-token budget — the batch analog (window cumsum) of "
    "streaming/stateful.token_budget_sample, which t:test_stateful_"
    "streaming cross-checks equals this on identical input.",
)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import tokens_sql
    from model_presto_spark.operators.splits import token_budget_truncate

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.size(F.expr(tokens_sql("text"))).alias("n_tokens")
    )
    kept = token_budget_truncate(toks, "source", "doc_id", F.col("n_tokens"), 2000)
    return kept.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "cum_tokens",
    )
