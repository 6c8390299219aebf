"""Benchmark contamination detection: word-n-gram overlap between a
training corpus and an evaluation set.

The standard decontamination step in large-scale training-data
pipelines (GPT-3 appendix C / Llama eval-overlap filtering): a
training document is contaminated when enough of its word n-grams
also occur in any benchmark document. Reference parity: the
reference's pipelines dedup/idempotence-key their training shards
(presto-tolbi/presto/dataops/dataset.py:63-117) but have no
eval-overlap step — this operator is part of the LLM-pipeline
extension surface, like operators/dedup.py.

Scale shape (the part that matters at 100 TB): benchmarks are tiny
(MBs) next to the corpus, so the benchmark gram set is built once,
deduplicated, and BROADCAST — the corpus side is one scan + one
broadcast semi-join per gram occurrence + a map-side-combined
groupBy(doc). The corpus is never shuffled by gram; the only shuffle
is the per-document count aggregation, keyed on the corpus's own
(high-cardinality, skew-free) doc id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from model_presto_spark.functions.text import tokens_sql, word_ngrams_sql


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Per-corpus-document benchmark overlap: (id, n_grams,
    n_overlap, contamination) for documents with at least
    ``min_overlap`` distinct n-grams shared with ANY benchmark
    document. ``contamination`` = n_overlap / n_grams (distinct-gram
    Jaccard containment of the document in the benchmark gram pool).
    """
    from model_presto_spark.io import spread

    # spread: the corpus tokenize+ngram pass is the dominant CPU and
    # must not inherit a single-file scan's one partition
    corpus_grams = spread(corpus).select(
        F.col(id_col).alias("__id"), F.expr(tokens_sql(text_col)).alias("__toks")
    ).select("__id", F.expr(word_ngrams_sql("__toks", n)).alias("__grams"))

    # explode_outer, NOT explode: Catalyst's InferFiltersFromGenerate
    # adds a size(...)>0 pre-filter under a plain explode that
    # re-evaluates the whole tokenize->ngram expression tree per row
    # (with the tokens sub-expression inlined PER GRAM inside the
    # lambda — O(len^2); measured 5x on q60). A zero-token document's
    # empty gram array becomes one NULL gram here, which the inner
    # equi-join on gram below never matches, so outer is identical.
    bench_gram_set = (
        benchmark.select(F.expr(tokens_sql(text_col)).alias("__toks"))
        .select(F.explode_outer(F.expr(word_ngrams_sql("__toks", n))).alias("gram"))
        .distinct()
    )

    exploded = corpus_grams.select(
        "__id",
        F.size("__grams").alias("__n_grams"),
        F.explode_outer("__grams").alias("gram"),
    )
    hits = exploded.join(F.broadcast(bench_gram_set), "gram")
    return (
        hits.groupBy(F.col("__id").alias(id_col), F.col("__n_grams").alias("n_grams"))
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
        .withColumn(
            "contamination",
            F.col("n_overlap").cast("double") / F.col("n_grams").cast("double"),
        )
    )
