"""Conformance queries: corpus-hygiene text family #3 (q130+) —
character-class census, Flesch readability, and the cross-source
content-overlap (leakage) matrix. All pure Catalyst expressions on
the ``documents`` table; oracle conventions as everywhere (floats
rounded to 6 dp with the +5e-12 nudge, aggregates aliased
identically on both sides)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import R6_SQL, _t, r6, register
from model_presto_spark.plans.queries_docs import dd_h60, dd_tokens

_R6 = R6_SQL
_r6 = r6


# ---------------------------------------------------------------------------
# Q130 — character-class census per source (quality heuristics input)
# ---------------------------------------------------------------------------
_CC = "length(text) - length(regexp_replace(text, '{cls}', '', 'g'))"
_CC_SPACE = _CC.format(cls="[ \\t\\n]")

_Q130_ORACLE = f"""
    WITH per_doc AS (
      SELECT source,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST({_CC.format(cls='[A-Z]')} AS DOUBLE) AS n_upper,
             CAST({_CC.format(cls='[0-9]')} AS DOUBLE) AS n_digit,
             CAST({_CC.format(cls='[.,;:!?]')} AS DOUBLE) AS n_punct,
             CAST({_CC_SPACE} AS DOUBLE) AS n_space
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {_R6.format(x='AVG(n_upper / CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END)')} AS avg_upper_ratio,
           {_R6.format(x='AVG(n_digit / CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END)')} AS avg_digit_ratio,
           {_R6.format(x='AVG(n_punct / CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END)')} AS avg_punct_ratio,
           {_R6.format(x='AVG(n_space / CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END)')} AS avg_space_ratio
    FROM per_doc
    GROUP BY source
"""


@register(
    "q130_charclass_profile",
    _Q130_ORACLE,
    doc="Character-class census per source (upper/digit/punct/space "
    "ratios): length-difference counting, pure expressions, one "
    "partial-aggregated groupBy on source — the input features of "
    "capital-ratio and symbol-ratio quality rules.",
)
def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import charclass_counts

    docs = _t(spark, sf_dir, "documents")
    cc = charclass_counts(F.col("text"))
    per = docs.select(
        "source",
        cc["upper_ratio"].alias("ur"),
        cc["digit_ratio"].alias("dr"),
        cc["punct_ratio"].alias("pr"),
        cc["space_ratio"].alias("sr"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        _r6(F.avg("ur")).alias("avg_upper_ratio"),
        _r6(F.avg("dr")).alias("avg_digit_ratio"),
        _r6(F.avg("pr")).alias("avg_punct_ratio"),
        _r6(F.avg("sr")).alias("avg_space_ratio"),
    )


# ---------------------------------------------------------------------------
# Q131 — Flesch reading-ease per source (readability filter)
# ---------------------------------------------------------------------------
_Q131_ORACLE = f"""
    WITH per_doc AS (
      SELECT source,
             CAST(length({dd_tokens('text')}) AS DOUBLE) AS w,
             CAST(greatest(length(regexp_extract_all(text, '[.!?]+')), 1)
                  AS DOUBLE) AS s,
             CAST(length(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS DOUBLE) AS syl
      FROM documents
    ), scored AS (
      SELECT source, w, s, syl,
             CASE WHEN w > 0
                  THEN 206.835 - 1.015 * (w / s) - 84.6 * (syl / w)
                  ELSE 0.0 END AS flesch
      FROM per_doc
    )
    SELECT source,
           CAST(SUM(CAST(w AS BIGINT)) AS BIGINT) AS total_words,
           {_R6.format(x='AVG(flesch)')} AS avg_flesch,
           {_R6.format(x='MIN(flesch)')} AS min_flesch,
           {_R6.format(x='MAX(flesch)')} AS max_flesch
    FROM scored
    GROUP BY source
"""


@register(
    "q131_readability",
    _Q131_ORACLE,
    doc="Flesch reading-ease per source with vowel-group syllable "
    "proxy: three regexp_extract_all counts per doc, no UDF; the "
    "readability gate of corpus quality filtering.",
)
def q131(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.text import readability_features_sql

    docs = _t(spark, sf_dir, "documents")
    rf = readability_features_sql("text")
    per = docs.selectExpr(
        "source", f"{rf['n_words']} AS w", f"{rf['flesch']} AS flesch"
    )
    return per.groupBy("source").agg(
        F.sum("w").alias("total_words"),
        _r6(F.avg("flesch")).alias("avg_flesch"),
        _r6(F.min("flesch")).alias("min_flesch"),
        _r6(F.max("flesch")).alias("max_flesch"),
    )


# ---------------------------------------------------------------------------
# Q132 — cross-source content-overlap (leakage) matrix
# ---------------------------------------------------------------------------
_LEAD8 = (
    "array_to_string(list_slice(" + dd_tokens("text") + ", 1, 8), ' ')"
)

_Q132_ORACLE = f"""
    WITH fp AS (
      SELECT DISTINCT source AS src, {dd_h60(_LEAD8)} AS fp
      FROM documents
    ), sizes AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS n_fp FROM fp GROUP BY src
    ), shared AS (
      SELECT a.src AS source_a, b.src AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM fp a JOIN fp b ON a.fp = b.fp AND a.src < b.src
      GROUP BY 1, 2
    )
    SELECT s.source_a, s.source_b, s.n_shared,
           sa.n_fp AS n_a, sb.n_fp AS n_b,
           {_R6.format(x='CAST(s.n_shared AS DOUBLE) / CAST(sa.n_fp + sb.n_fp - s.n_shared AS DOUBLE)')} AS jaccard
    FROM shared s
    JOIN sizes sa ON sa.src = s.source_a
    JOIN sizes sb ON sb.src = s.source_b
"""


@register(
    "q132_source_overlap",
    _Q132_ORACLE,
    doc="Cross-source leakage matrix on lead-shingle (first 8 tokens) "
    "fingerprints + set Jaccard. Bodies reduce to distinct (source, "
    "60-bit fp) before any shuffle; pair generation is a fingerprint "
    "equi-join (cost ~ actual overlap, never a source cross-product); "
    "per-source sizes broadcast back.",
)
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.dedup import source_overlap

    docs = _t(spark, sf_dir, "documents")
    out = source_overlap(docs, "source", "text", prefix_tokens=8)
    return out.select(
        "source_a",
        "source_b",
        "n_shared",
        "n_a",
        "n_b",
        _r6(F.col("jaccard")).alias("jaccard"),
    )
