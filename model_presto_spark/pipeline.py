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

Each stage is a plain function ``_<op>(df, <params>)``: its signature
is the stage's one parameter list (names and defaults), and the config
is bound to it with ``functools.partial``. Validation happens in two
places:

- at construction, from the signature: an unknown op, an unknown
  param, or a missing required param (one without a default) raises
  ``ValueError`` before any Spark work;
- when ``run`` (or ``report``) builds a stage, before that stage
  starts any Spark job: the operator checks the values it owns, e.g.
  near_dedup's ``method`` (``dedup_corpus`` raises ``ValueError``).

near_dedup and gopher_gate forward to their operator only the
keyword-only options the config sets, so the operator stays the one
home of those defaults. ``report`` counts survivors after each prefix
of the pipeline — the q67-style ingest funnel for any configuration.
"""

from __future__ import annotations

import functools
import inspect
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from model_presto_spark.functions import text as T


def _keep_ids(df: DataFrame, keep: DataFrame, id_col: str) -> DataFrame:
    """The rows of ``df`` whose id is in ``keep`` (one semi-join): the
    full surviving rows of a filter stage whose operator returns ids."""
    return df.join(keep.select(id_col), id_col, "left_semi")


def _replace_text(
    df: DataFrame, cleaned: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Transform stage: ``df`` with its text taken from ``cleaned`` (by
    id); every other column is kept."""
    cleaned = cleaned.select(id_col, F.col(text_col).alias("__clean"))
    return (
        df.drop(text_col)
        .join(cleaned, id_col)
        .withColumnRenamed("__clean", text_col)
    )


def _options(stage: Callable, args: dict) -> dict:
    """The keyword-only options of a forwarding stage that its config
    set (not None); the operator keeps its own defaults for the rest."""
    return {
        p.name: args[p.name]
        for p in inspect.signature(stage).parameters.values()
        if p.kind is p.KEYWORD_ONLY and args[p.name] is not None
    }


def _normalize(df: DataFrame, text_col="text") -> DataFrame:
    return df.withColumn(text_col, T.normalize_text(F.col(text_col)))


def _scrub_pii(df: DataFrame, text_col="text") -> DataFrame:
    return df.withColumn(text_col, T.scrub_pii(F.col(text_col)))


def _quality_gate(
    df: DataFrame, text_col="text", min_tokens=0, max_tokens=None,
    min_alpha=None, min_stopword=None,
) -> DataFrame:
    toksed = df.withColumn("__toks", F.expr(T.tokens_sql(f"`{text_col}`")))
    feats = {
        k: F.expr(v)
        for k, v in T.quality_features_sql(f"`{text_col}`", "__toks").items()
    }
    cond = feats["n_tokens"] >= min_tokens
    if max_tokens is not None:
        cond = cond & (feats["n_tokens"] <= max_tokens)
    if min_alpha is not None:
        cond = cond & (feats["alpha_ratio"] >= min_alpha)
    if min_stopword is not None:
        cond = cond & (feats["stopword_ratio"] >= min_stopword)
    return toksed.where(cond).drop("__toks")


def _lang_filter(df: DataFrame, keep, lang_col="lang") -> DataFrame:
    return df.where(F.col(lang_col).isin(*keep))


def _exact_dedup(df: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    from model_presto_spark.operators.dedup import exact_dedup

    # exact_dedup returns (fingerprint, id, dup_count)
    return _keep_ids(df, exact_dedup(df, id_col, text_col), id_col)


def _near_dedup(
    df: DataFrame, id_col="doc_id", text_col="text", *,
    method=None, threshold=None, fast_hash=None,
) -> DataFrame:
    from model_presto_spark.operators.dedup import dedup_corpus

    return dedup_corpus(df, id_col, text_col, **_options(_near_dedup, locals()))


def _span_dedup_filter(
    df: DataFrame, id_col="doc_id", text_col="text", k=8,
    max_dup_fraction=0.5, fast_hash=True,
) -> DataFrame:
    from model_presto_spark.operators.dedup import span_dup_stats

    stats = span_dup_stats(df, k, text_col, id_col, fast_hash=fast_hash)
    keep = stats.where(F.col("dup_fraction") <= max_dup_fraction)
    return _keep_ids(df, keep, id_col)


def _contamination_filter(
    df: DataFrame, benchmark, id_col="doc_id", text_col="text", n=5,
    min_overlap=1,
) -> DataFrame:
    from model_presto_spark.operators.contamination import ngram_contamination

    hits = ngram_contamination(
        df, benchmark, id_col, text_col, n=n, min_overlap=min_overlap
    ).select(id_col)
    return df.join(hits, id_col, "left_anti")


def _perplexity_gate(
    df: DataFrame, max_bits_per_token, id_col="doc_id", text_col="text",
    min_count=2,
) -> DataFrame:
    from model_presto_spark.operators.lm import perplexity_scores

    scores = perplexity_scores(df, text_col, id_col, min_count=min_count)
    keep = scores.where(F.col("bits_per_token") <= max_bits_per_token)
    return _keep_ids(df, keep, id_col)


def _span_remove(
    df: DataFrame, id_col="doc_id", text_col="text", k=8, fast_hash=True
) -> DataFrame:
    from model_presto_spark.operators.dedup import remove_dup_spans

    cleaned = remove_dup_spans(df, k, text_col, id_col, fast_hash=fast_hash)
    return _replace_text(df, cleaned, id_col, text_col)


def _token_budget(
    df: DataFrame, budget_tokens, source_col="source", id_col="doc_id",
    text_col="text",
) -> DataFrame:
    from model_presto_spark.operators.splits import token_budget_truncate

    return token_budget_truncate(
        df, source_col, id_col, F.size(F.expr(T.tokens_sql(f"`{text_col}`"))),
        budget_tokens, cum_col="__cum",
    ).drop("__cum")


def _domain_mix(
    df: DataFrame, budget_tokens, source_col="source", id_col="doc_id",
    text_col="text",
) -> DataFrame:
    from model_presto_spark.operators.mixing import apply_mix, mix_plan

    plan = mix_plan(
        df,
        source_col,
        weight=F.lit(1.0),
        token_count=F.size(F.expr(T.tokens_sql(f"`{text_col}`"))),
        budget_tokens=budget_tokens,
    )
    return apply_mix(df, plan, source_col, id_col)


def _line_boilerplate(
    df: DataFrame, id_col="doc_id", text_col="text", min_doc_freq=5,
    delimiter="\n", width=10, fast_hash=True,
) -> DataFrame:
    from model_presto_spark.operators.lines import remove_frequent_lines

    cleaned = remove_frequent_lines(
        df, id_col, text_col, min_doc_freq=min_doc_freq, delimiter=delimiter,
        width=width, fast_hash=fast_hash,
    )
    return _replace_text(df, cleaned, id_col, text_col)


def _semantic_dedup(
    df: DataFrame, id_col="doc_id", vec_col="embedding", threshold=0.8,
    dim=64, planes=6,
) -> DataFrame:
    from model_presto_spark.operators.dedup import semantic_dedup

    flags = semantic_dedup(
        df, id_col, vec_col, threshold=threshold, dim=dim, planes=planes
    ).select(id_col, "is_semantic_dup")
    return (
        df.join(flags, id_col, "left")
        .where(~F.coalesce(F.col("is_semantic_dup"), F.lit(False)))
        .drop("is_semantic_dup")
    )


def _dsir_select(
    df: DataFrame, target, k, id_col="doc_id", text_col="text",
    n_buckets=1024, seed=42,
) -> DataFrame:
    from model_presto_spark.operators.dsir import dsir_sample

    # target is a DataFrame (JSON configs pass "$name")
    keep = dsir_sample(
        df, target, k=k, id_col=id_col, text_col=text_col,
        n_buckets=n_buckets, seed=seed, fast_hash=False,
    )
    return _keep_ids(df, keep, id_col)


def _gopher_gate(
    df: DataFrame, id_col="doc_id", text_col="text", *,
    min_words=None, max_words=None, min_mean_word_len=None,
    max_mean_word_len=None, max_symbol_ratio=None, min_alpha_word_frac=None,
    min_stop_hits=None, max_top_2gram_frac=None, max_dup_3gram_frac=None,
) -> DataFrame:
    from model_presto_spark.operators.quality import gopher_quality_flags

    flags = gopher_quality_flags(
        df, text_col, id_col, **_options(_gopher_gate, locals())
    )
    return _keep_ids(df, flags.where(F.col("gopher_pass")), id_col)


_STAGES: dict[str, Callable[..., DataFrame]] = {
    stage.__name__[1:]: stage
    for stage in (
        _normalize, _scrub_pii, _quality_gate, _lang_filter, _exact_dedup,
        _near_dedup, _span_dedup_filter, _contamination_filter,
        _perplexity_gate, _domain_mix, _span_remove, _token_budget,
        _line_boilerplate, _semantic_dedup, _dsir_select, _gopher_gate,
    )
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
            stage = _STAGES[op]
            params = list(inspect.signature(stage).parameters.values())[1:]
            allowed = {p.name for p in params}
            unknown = set(cfg) - allowed
            if unknown:
                raise ValueError(
                    f"stage {i} ({op}): unknown params {sorted(unknown)}; "
                    f"allowed: {sorted(allowed)}"
                )
            missing = {p.name for p in params if p.default is p.empty} - set(cfg)
            if missing:
                raise ValueError(
                    f"stage {i} ({op}): missing required params "
                    f"{sorted(missing)}"
                )
            self._built.append((op, functools.partial(stage, **cfg)))

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
