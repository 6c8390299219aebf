"""Named document-quality rule bundles: Gopher and C4.

The repo already exposes the underlying signals — ratio features
(functions/text.quality_features_sql), repetition folds
(duplicate_ngram_fraction / top_ngram_fraction), LM perplexity
(operators/lm.py). This module composes them into the two canonical
published FILTER RULE SETS a pipeline actually configures:

- **Gopher rules** (Rae et al. 2021, Table A1): document-level word
  count / mean word length / symbol-to-word ratio / alphabetic-word
  fraction / stop-word presence / repetition caps. Token-based
  analogs where the paper counts characters (documented per flag).
- **C4 rules** (Raffel et al. 2020): line-level terminal
  punctuation, minimum sentence count, lorem-ipsum and curly-brace
  rejects, short-line fraction.

Everything is a closed-form Catalyst expression over one tokens /
lines materialization per document — no explode, no shuffle, no
Python; a corpus-scale filter runs entirely inside whole-stage
codegen. Metric outputs are ROUNDED (6dp, +5e-12 nudge) and the
boolean flags derive from the rounded values, so an oracle engine
reproduces flag boundaries exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from model_presto_spark.functions.text import (
    LANG_STOPWORDS,
    _lit_array_sql,
    duplicate_ngram_fraction,
    tokens_sql,
    top_ngram_fraction,
    word_ngrams_all,
)


def _r6(c: F.Column) -> F.Column:
    return F.round(c + F.lit(5e-12), 6)


def gopher_quality_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
    max_top_2gram_frac: float = 0.20,
    max_dup_3gram_frac: float = 0.30,
) -> DataFrame:
    """Per-document Gopher rule metrics + flags + overall pass.

    Output: (id, n_words, mean_word_len, symbol_ratio,
    alpha_word_frac, stop_hits, top_2gram_frac, dup_3gram_frac,
    r_word_count, r_mean_word_len, r_symbol, r_alpha, r_stop,
    r_top_2gram, r_dup_3gram, gopher_pass). Repetition caps use the
    token-multiset analog of the paper's character-fraction
    definitions (same signals as q61).
    """
    from model_presto_spark.io import spread

    # spread first: the rule bundle below (token folds + gram sorts +
    # regex passes) is pure CPU and must not inherit a small scan's
    # single partition (round-5 pathology #3)
    base = spread(docs).select(
        id_col,
        F.col(text_col).alias("__t"),
        F.expr(tokens_sql(text_col)).alias("__toks"),
    )
    n = F.size("__toks").cast("double")
    # mean word length over token characters (whitespace excluded)
    tok_chars = F.aggregate(
        F.transform(F.col("__toks"), lambda t: F.length(t)),
        F.lit(0),
        lambda a, x: a + x,
    ).cast("double")
    mean_wlen = F.when(n > 0, tok_chars / n).otherwise(F.lit(0.0))
    # symbol-to-word ratio: '#' and '...' occurrences per word
    n_hash = (
        F.length("__t") - F.length(F.regexp_replace("__t", "#", ""))
    ).cast("double")
    n_ellipsis = (
        (
            F.length("__t")
            - F.length(F.regexp_replace("__t", r"\.\.\.", ""))
        )
        / 3
    ).cast("double")
    sym_ratio = F.when(n > 0, (n_hash + n_ellipsis) / n).otherwise(F.lit(0.0))
    alpha_words = F.size(
        F.filter(F.col("__toks"), lambda t: t.rlike("[a-z]"))
    ).cast("double")
    alpha_frac = F.when(n > 0, alpha_words / n).otherwise(F.lit(0.0))
    stop_en = F.expr(_lit_array_sql(LANG_STOPWORDS["en"]))
    stop_hits = F.size(
        F.array_intersect(F.array_distinct("__toks"), stop_en)
    )
    g2 = word_ngrams_all(F.col("__toks"), 2)
    g3 = word_ngrams_all(F.col("__toks"), 3)
    staged = base.select(
        id_col,
        F.size("__toks").cast("bigint").alias("n_words"),
        _r6(mean_wlen).alias("mean_word_len"),
        _r6(sym_ratio).alias("symbol_ratio"),
        _r6(alpha_frac).alias("alpha_word_frac"),
        stop_hits.cast("bigint").alias("stop_hits"),
        _r6(top_ngram_fraction(g2)).alias("top_2gram_frac"),
        _r6(duplicate_ngram_fraction(g3)).alias("dup_3gram_frac"),
    )
    flags = staged.select(
        "*",
        ((F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)).alias(
            "r_word_count"
        ),
        (
            (F.col("mean_word_len") >= min_mean_word_len)
            & (F.col("mean_word_len") <= max_mean_word_len)
        ).alias("r_mean_word_len"),
        (F.col("symbol_ratio") <= max_symbol_ratio).alias("r_symbol"),
        (F.col("alpha_word_frac") >= min_alpha_word_frac).alias("r_alpha"),
        (F.col("stop_hits") >= min_stop_hits).alias("r_stop"),
        (F.col("top_2gram_frac") <= max_top_2gram_frac).alias("r_top_2gram"),
        (F.col("dup_3gram_frac") <= max_dup_3gram_frac).alias("r_dup_3gram"),
    )
    return flags.select(
        "*",
        (
            F.col("r_word_count")
            & F.col("r_mean_word_len")
            & F.col("r_symbol")
            & F.col("r_alpha")
            & F.col("r_stop")
            & F.col("r_top_2gram")
            & F.col("r_dup_3gram")
        ).alias("gopher_pass"),
    )


def c4_quality_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_sentences: int = 3,
    min_words_per_line: int = 5,
    min_terminal_line_frac: float = 0.5,
) -> DataFrame:
    """Per-document C4 rule metrics + flags + overall pass.

    Lines split on newline; sentences approximated by terminal
    punctuation (./!/?) runs, the C4 heuristic. Output: (id,
    n_lines, n_sentences, terminal_line_frac, short_line_frac,
    has_lorem, has_brace, r_sentences, r_terminal, r_short_lines,
    r_lorem, r_brace, c4_pass).
    """
    from model_presto_spark.io import spread

    # spread: same CPU-on-one-scan-partition guard as gopher above
    base = spread(docs).select(
        id_col,
        F.col(text_col).alias("__t"),
        F.filter(
            F.split(F.col(text_col), "\n", -1), lambda x: F.trim(x) != ""
        ).alias("__lines"),
    )
    nl = F.size("__lines").cast("double")
    terminal = F.size(
        F.filter(F.col("__lines"), lambda x: F.trim(x).rlike("[.!?]$"))
    ).cast("double")
    short = F.size(
        F.filter(
            F.col("__lines"),
            lambda x: F.size(F.split(F.trim(x), r"\s+")) < min_words_per_line,
        )
    ).cast("double")
    # sentences = terminal-punctuation runs (the C4 heuristic: text
    # that never ends a sentence has zero)
    n_sent = F.regexp_count(F.col("__t"), F.lit(r"[.!?]+"))
    staged = base.select(
        id_col,
        nl.cast("bigint").alias("n_lines"),
        n_sent.cast("bigint").alias("n_sentences"),
        _r6(F.when(nl > 0, terminal / nl).otherwise(F.lit(0.0))).alias(
            "terminal_line_frac"
        ),
        _r6(F.when(nl > 0, short / nl).otherwise(F.lit(0.0))).alias(
            "short_line_frac"
        ),
        F.lower("__t").contains("lorem ipsum").alias("has_lorem"),
        F.col("__t").contains("{").alias("has_brace"),
    )
    flags = staged.select(
        "*",
        (F.col("n_sentences") >= min_sentences).alias("r_sentences"),
        (F.col("terminal_line_frac") >= min_terminal_line_frac).alias(
            "r_terminal"
        ),
        (F.col("short_line_frac") <= 0.5).alias("r_short_lines"),
        (~F.col("has_lorem")).alias("r_lorem"),
        (~F.col("has_brace")).alias("r_brace"),
    )
    return flags.select(
        "*",
        (
            F.col("r_sentences")
            & F.col("r_terminal")
            & F.col("r_short_lines")
            & F.col("r_lorem")
            & F.col("r_brace")
        ).alias("c4_pass"),
    )
