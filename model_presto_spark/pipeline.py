"""Declarative corpus-hygiene pipeline over the engine's operators.

The reference structures ingest as named pipeline classes with a
``run`` entrypoint (presto-tolbi/presto/dataops/pipelines/
ee_pipeline.py:57 ``EEPipeline.run``); this is the Spark-first
analog for the training-corpus use-case: a pipeline is a *list of
stage configs*, each stage a thin wrapper over an individually
oracle-verified operator, composed into ONE lazy DataFrame DAG —
Catalyst sees the whole pipeline and can fuse filters, prune
columns, and pick join strategies across stage boundaries.

    pipe = CorpusPipeline([
        {"op": "normalize"},
        {"op": "scrub_pii"},
        {"op": "quality_gate", "min_tokens": 20, "min_alpha": 0.7},
        {"op": "lang_filter", "keep": ["en", "fr"]},
        {"op": "exact_dedup"},
        {"op": "near_dedup", "method": "minhash", "threshold": 0.8},
        {"op": "span_dedup_filter", "k": 8, "max_dup_fraction": 0.5},
        {"op": "contamination_filter", "benchmark": bench_df, "n": 5},
        {"op": "perplexity_gate", "max_bits_per_token": 12.0},
        {"op": "domain_mix", "budget_tokens": 1_000_000},
    ])
    clean = pipe.run(docs)          # lazy DataFrame
    funnel = pipe.report(docs)      # per-stage surviving counts

Stage configs are validated eagerly (unknown ops / params raise at
construction, not mid-job). ``report`` counts survivors after each
prefix of the pipeline — the q67-style ingest funnel for any
configuration.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from model_presto_spark.functions import text as T


def _stage_normalize(cfg: dict) -> Callable[[DataFrame], DataFrame]:
    col = cfg.get("text_col", "text")

    def apply(df: DataFrame) -> DataFrame:
        return df.withColumn(col, T.normalize_text(F.col(col)))

    return apply


def _stage_scrub_pii(cfg: dict) -> Callable[[DataFrame], DataFrame]:
    col = cfg.get("text_col", "text")

    def apply(df: DataFrame) -> DataFrame:
        return df.withColumn(col, T.scrub_pii(F.col(col)))

    return apply


def _stage_quality_gate(cfg: dict) -> Callable[[DataFrame], DataFrame]:
    col = cfg.get("text_col", "text")
    min_tokens = cfg.get("min_tokens", 0)
    max_tokens = cfg.get("max_tokens")
    min_alpha = cfg.get("min_alpha")
    min_stopword = cfg.get("min_stopword")

    def apply(df: DataFrame) -> DataFrame:
        toksed = df.withColumn("__toks", F.expr(T.tokens_sql(f"`{col}`")))
        feats = {
            k: F.expr(v)
            for k, v in T.quality_features_sql(f"`{col}`", "__toks").items()
        }
        cond = feats["n_tokens"] >= min_tokens
        if max_tokens is not None:
            cond = cond & (feats["n_tokens"] <= max_tokens)
        if min_alpha is not None:
            cond = cond & (feats["alpha_ratio"] >= min_alpha)
        if min_stopword is not None:
            cond = cond & (feats["stopword_ratio"] >= min_stopword)
        return toksed.where(cond).drop("__toks")

    return apply


def _stage_lang_filter(cfg: dict) -> Callable[[DataFrame], DataFrame]:
    keep = cfg["keep"]
    lang_col = cfg.get("lang_col", "lang")

    def apply(df: DataFrame) -> DataFrame:
        return df.where(F.col(lang_col).isin(*keep))

    return apply


def _stage_exact_dedup(cfg: dict) -> Callable[[DataFrame], DataFrame]:
    id_col = cfg.get("id_col", "doc_id")
    col = cfg.get("text_col", "text")

    def apply(df: DataFrame) -> DataFrame:
        from model_presto_spark.operators.dedup import exact_dedup

        # exact_dedup returns (fingerprint, id, dup_count); the
        # pipeline keeps full surviving rows via one semi-join
        keep = exact_dedup(df, id_col, col).select(id_col)
        return df.join(keep, id_col, "left_semi")

    return apply


def _stage_near_dedup(cfg: dict) -> Callable[[DataFrame], DataFrame]:
    id_col = cfg.get("id_col", "doc_id")
    col = cfg.get("text_col", "text")
    kwargs = {
        k: v
        for k, v in cfg.items()
        if k in ("method", "threshold", "fast_hash")
    }

    # dedup_corpus(method='exact') returns the fingerprint relation,
    # not surviving rows — the pipeline's exact stage is 'exact_dedup'
    if kwargs.get("method") not in (None, "minhash", "ngram"):
        raise ValueError(
            "near_dedup method must be 'minhash' or 'ngram'; "
            "use the 'exact_dedup' stage for exact dedup"
        )

    def apply(df: DataFrame) -> DataFrame:
        from model_presto_spark.operators.dedup import dedup_corpus

        return dedup_corpus(df, id_col, col, **kwargs)

    return apply


def _stage_span_dedup_filter(cfg: dict) -> Callable[[DataFrame], DataFrame]:
    id_col = cfg.get("id_col", "doc_id")
    col = cfg.get("text_col", "text")
    k = cfg.get("k", 8)
    cap = cfg.get("max_dup_fraction", 0.5)
    fast = cfg.get("fast_hash", True)

    def apply(df: DataFrame) -> DataFrame:
        from model_presto_spark.operators.dedup import span_dup_stats

        stats = span_dup_stats(df, k, col, id_col, fast_hash=fast)
        keep = stats.where(F.col("dup_fraction") <= cap).select(id_col)
        return df.join(keep, id_col, "left_semi")

    return apply


def _stage_contamination_filter(cfg: dict) -> Callable[[DataFrame], DataFrame]:
    bench = cfg["benchmark"]
    id_col = cfg.get("id_col", "doc_id")
    col = cfg.get("text_col", "text")
    n = cfg.get("n", 5)
    min_overlap = cfg.get("min_overlap", 1)

    def apply(df: DataFrame) -> DataFrame:
        from model_presto_spark.operators.contamination import (
            ngram_contamination,
        )

        hits = ngram_contamination(
            df, bench, id_col, col, n=n, min_overlap=min_overlap
        ).select(id_col)
        return df.join(hits, id_col, "left_anti")

    return apply


def _stage_perplexity_gate(cfg: dict) -> Callable[[DataFrame], DataFrame]:
    id_col = cfg.get("id_col", "doc_id")
    col = cfg.get("text_col", "text")
    cap = cfg["max_bits_per_token"]
    min_count = cfg.get("min_count", 2)

    def apply(df: DataFrame) -> DataFrame:
        from model_presto_spark.operators.lm import perplexity_scores

        scores = perplexity_scores(df, col, id_col, min_count=min_count)
        keep = scores.where(F.col("bits_per_token") <= cap).select(id_col)
        return df.join(keep, id_col, "left_semi")

    return apply


def _stage_span_remove(cfg: dict) -> Callable[[DataFrame], DataFrame]:
    id_col = cfg.get("id_col", "doc_id")
    col = cfg.get("text_col", "text")
    k = cfg.get("k", 8)
    fast = cfg.get("fast_hash", True)

    def apply(df: DataFrame) -> DataFrame:
        from model_presto_spark.operators.dedup import remove_dup_spans

        cleaned = remove_dup_spans(df, k, col, id_col, fast_hash=fast).select(
            id_col, F.col(col).alias("__clean")
        )
        # transform stage: replace the text, keep all other columns
        return (
            df.drop(col)
            .join(cleaned, id_col)
            .withColumnRenamed("__clean", col)
        )

    return apply


def _stage_token_budget(cfg: dict) -> Callable[[DataFrame], DataFrame]:
    source_col = cfg.get("source_col", "source")
    id_col = cfg.get("id_col", "doc_id")
    col = cfg.get("text_col", "text")
    budget = cfg["budget_tokens"]

    def apply(df: DataFrame) -> DataFrame:
        from model_presto_spark.operators.splits import (
            token_budget_truncate,
        )

        return token_budget_truncate(
            df, source_col, id_col, F.size(F.expr(T.tokens_sql(f"`{col}`"))), budget,
            cum_col="__cum",
        ).drop("__cum")

    return apply


def _stage_domain_mix(cfg: dict) -> Callable[[DataFrame], DataFrame]:
    source_col = cfg.get("source_col", "source")
    id_col = cfg.get("id_col", "doc_id")
    col = cfg.get("text_col", "text")
    budget = cfg["budget_tokens"]

    def apply(df: DataFrame) -> DataFrame:
        from model_presto_spark.operators.mixing import apply_mix, mix_plan

        plan = mix_plan(
            df,
            source_col,
            weight=F.lit(1.0),
            token_count=F.size(F.expr(T.tokens_sql(f"`{col}`"))),
            budget_tokens=budget,
        )
        return apply_mix(df, plan, source_col, id_col)

    return apply


def _stage_line_boilerplate(cfg: dict) -> Callable[[DataFrame], DataFrame]:
    id_col = cfg.get("id_col", "doc_id")
    col = cfg.get("text_col", "text")
    min_df = cfg.get("min_doc_freq", 5)
    delimiter = cfg.get("delimiter", "\n")
    width = cfg.get("width", 10)
    fast = cfg.get("fast_hash", True)

    def apply(df: DataFrame) -> DataFrame:
        from model_presto_spark.operators.lines import remove_frequent_lines

        cleaned = remove_frequent_lines(
            df,
            id_col,
            col,
            min_doc_freq=min_df,
            delimiter=delimiter,
            width=width,
            fast_hash=fast,
        ).select(id_col, F.col(col).alias("__clean"))
        # transform stage: replace the text, keep all other columns
        return (
            df.drop(col).join(cleaned, id_col).withColumnRenamed("__clean", col)
        )

    return apply


def _stage_semantic_dedup(cfg: dict) -> Callable[[DataFrame], DataFrame]:
    id_col = cfg.get("id_col", "doc_id")
    vec_col = cfg.get("vec_col", "embedding")
    threshold = cfg.get("threshold", 0.8)
    dim = cfg.get("dim", 64)
    planes = cfg.get("planes", 6)

    def apply(df: DataFrame) -> DataFrame:
        from model_presto_spark.operators.dedup import semantic_dedup

        flags = semantic_dedup(
            df, id_col, vec_col, threshold=threshold, dim=dim, planes=planes
        ).select(id_col, "is_semantic_dup")
        return (
            df.join(flags, id_col, "left")
            .where(~F.coalesce(F.col("is_semantic_dup"), F.lit(False)))
            .drop("is_semantic_dup")
        )

    return apply


def _stage_dsir_select(cfg: dict) -> Callable[[DataFrame], DataFrame]:
    id_col = cfg.get("id_col", "doc_id")
    col = cfg.get("text_col", "text")
    target = cfg["target"]  # DataFrame (JSON configs pass "$name")
    k = cfg["k"]
    n_buckets = cfg.get("n_buckets", 1024)
    seed = cfg.get("seed", 42)

    def apply(df: DataFrame) -> DataFrame:
        from model_presto_spark.operators.dsir import dsir_sample

        keep = dsir_sample(
            df, target, k=k, id_col=id_col, text_col=col,
            n_buckets=n_buckets, seed=seed, fast_hash=False,
        ).select(id_col)
        return df.join(keep, id_col, "left_semi")

    return apply


def _stage_gopher_gate(cfg: dict) -> Callable[[DataFrame], DataFrame]:
    id_col = cfg.get("id_col", "doc_id")
    col = cfg.get("text_col", "text")
    kwargs = {
        k: cfg[k]
        for k in (
            "min_words", "max_words", "min_mean_word_len",
            "max_mean_word_len", "max_symbol_ratio",
            "min_alpha_word_frac", "min_stop_hits",
            "max_top_2gram_frac", "max_dup_3gram_frac",
        )
        if k in cfg
    }

    def apply(df: DataFrame) -> DataFrame:
        from model_presto_spark.operators.quality import gopher_quality_flags

        keep = (
            gopher_quality_flags(df, col, id_col, **kwargs)
            .where(F.col("gopher_pass"))
            .select(id_col)
        )
        return df.join(keep, id_col, "left_semi")

    return apply


_STAGES: dict[str, tuple[Callable[[dict], Callable], set[str]]] = {
    "normalize": (_stage_normalize, {"text_col"}),
    "scrub_pii": (_stage_scrub_pii, {"text_col"}),
    "quality_gate": (
        _stage_quality_gate,
        {"text_col", "min_tokens", "max_tokens", "min_alpha", "min_stopword"},
    ),
    "lang_filter": (_stage_lang_filter, {"keep", "lang_col"}),
    "exact_dedup": (_stage_exact_dedup, {"id_col", "text_col"}),
    "near_dedup": (
        _stage_near_dedup,
        {"id_col", "text_col", "method", "threshold", "fast_hash"},
    ),
    "span_dedup_filter": (
        _stage_span_dedup_filter,
        {"id_col", "text_col", "k", "max_dup_fraction", "fast_hash"},
    ),
    "contamination_filter": (
        _stage_contamination_filter,
        {"benchmark", "id_col", "text_col", "n", "min_overlap"},
    ),
    "perplexity_gate": (
        _stage_perplexity_gate,
        {"id_col", "text_col", "max_bits_per_token", "min_count"},
    ),
    "domain_mix": (
        _stage_domain_mix,
        {"source_col", "id_col", "text_col", "budget_tokens"},
    ),
    "span_remove": (
        _stage_span_remove,
        {"id_col", "text_col", "k", "fast_hash"},
    ),
    "token_budget": (
        _stage_token_budget,
        {"source_col", "id_col", "text_col", "budget_tokens"},
    ),
    "line_boilerplate": (
        _stage_line_boilerplate,
        {"id_col", "text_col", "min_doc_freq", "delimiter", "width",
         "fast_hash"},
    ),
    "semantic_dedup": (
        _stage_semantic_dedup,
        {"id_col", "vec_col", "threshold", "dim", "planes"},
    ),
    "dsir_select": (
        _stage_dsir_select,
        {"id_col", "text_col", "target", "k", "n_buckets", "seed"},
    ),
    "gopher_gate": (
        _stage_gopher_gate,
        {"id_col", "text_col", "min_words", "max_words",
         "min_mean_word_len", "max_mean_word_len", "max_symbol_ratio",
         "min_alpha_word_frac", "min_stop_hits", "max_top_2gram_frac",
         "max_dup_3gram_frac"},
    ),
}


class CorpusPipeline:
    """Validated, composable corpus-hygiene pipeline (see module
    docstring). Construction validates every stage config; ``run``
    returns one lazy DataFrame; ``report`` materializes the
    per-stage funnel."""

    def __init__(self, stages: list[dict]):
        if not stages:
            raise ValueError("pipeline needs at least one stage")
        self._built: list[tuple[str, Callable[[DataFrame], DataFrame]]] = []
        for i, cfg in enumerate(stages):
            cfg = dict(cfg)
            op = cfg.pop("op", None)
            if op not in _STAGES:
                raise ValueError(
                    f"stage {i}: unknown op {op!r}; "
                    f"known: {sorted(_STAGES)}"
                )
            factory, allowed = _STAGES[op]
            unknown = set(cfg) - allowed
            if unknown:
                raise ValueError(
                    f"stage {i} ({op}): unknown params {sorted(unknown)}; "
                    f"allowed: {sorted(allowed)}"
                )
            self._built.append((op, factory(cfg)))

    @classmethod
    def from_json(cls, text: str, **dataframes: DataFrame) -> "CorpusPipeline":
        """Build from a JSON stage list. DataFrame-valued params
        (e.g. the contamination benchmark) cannot live in JSON; the
        config references them by name (``{"benchmark": "$bench"}``)
        and the caller supplies ``bench=<DataFrame>``."""
        import json

        stages = json.loads(text)
        if not isinstance(stages, list):
            raise ValueError("pipeline JSON must be a list of stage objects")
        resolved = []
        for cfg in stages:
            cfg = dict(cfg)
            for k, v in cfg.items():
                if isinstance(v, str) and v.startswith("$"):
                    name = v[1:]
                    if name not in dataframes:
                        raise ValueError(
                            f"config references ${name} but no {name}= "
                            "DataFrame was supplied"
                        )
                    cfg[k] = dataframes[name]
            resolved.append(cfg)
        return cls(resolved)

    @property
    def stage_names(self) -> list[str]:
        return [op for op, _ in self._built]

    def run(self, docs: DataFrame) -> DataFrame:
        df = docs
        for _, stage in self._built:
            df = stage(df)
        return df

    def report(self, docs: DataFrame) -> list[tuple[str, int]]:
        """Per-stage funnel: [('input', n), (op, n_surviving), ...].

        Each stage output is persisted before counting so the funnel
        is one execution per stage, not one per stage *pair* (the
        heavy dedup stages would otherwise re-run for every later
        count); everything is unpersisted before returning.
        """
        from pyspark import StorageLevel

        out = [("input", docs.count())]
        df = docs
        cached = []
        try:
            for op, stage in self._built:
                df = stage(df).persist(StorageLevel.MEMORY_AND_DISK)
                cached.append(df)
                out.append((op, df.count()))
        finally:
            for c in cached:
                c.unpersist()
        return out
