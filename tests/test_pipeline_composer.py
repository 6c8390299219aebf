"""Declarative CorpusPipeline: config validation, funnel attrition,
and equivalence with hand-composed operator calls."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the bank", "en", "web"),
        (2, "the quick brown fox jumps over the lazy dog near the bank", "en", "web"),  # exact dup of 1
        (3, "short", "en", "web"),  # fails min_tokens
        (4, "une phrase en francais avec beaucoup de mots pour le test", "fr", "web"),
        (5, "contact me at a.b@example.com for the secret data offer", "en", "spam"),
        (6, "totally unique english sentence that is long enough to pass the gate", "en", "web"),
        (7, "zz qq vv xx kk jj ww pp mm nn bb cc dd ff gg hh", "en", "web"),  # no stopwords
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string, lang string, source string")


def test_pipeline_validation_errors():
    from model_presto_spark.pipeline import CorpusPipeline

    with pytest.raises(ValueError, match="unknown op"):
        CorpusPipeline([{"op": "frobnicate"}])
    with pytest.raises(ValueError, match="unknown params"):
        CorpusPipeline([{"op": "quality_gate", "min_tokens": 1, "typo": 2}])
    with pytest.raises(ValueError, match="at least one stage"):
        CorpusPipeline([])


def test_pipeline_funnel_and_composition(corpus):
    from model_presto_spark.pipeline import CorpusPipeline

    pipe = CorpusPipeline([
        {"op": "scrub_pii"},
        {"op": "lang_filter", "keep": ["en"]},
        {"op": "quality_gate", "min_tokens": 8, "min_stopword": 0.05},
        {"op": "exact_dedup"},
    ])
    assert pipe.stage_names == [
        "scrub_pii", "lang_filter", "quality_gate", "exact_dedup",
    ]
    funnel = pipe.report(corpus)
    assert funnel[0] == ("input", 7)
    assert funnel[1] == ("scrub_pii", 7)       # transform, no drop
    assert funnel[2] == ("lang_filter", 6)     # doc 4 (fr) out
    assert funnel[3] == ("quality_gate", 4)    # docs 3 (short), 7 (no stop) out
    assert funnel[4] == ("exact_dedup", 3)     # dup pair collapses

    out = pipe.run(corpus)
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert kept == {1, 5, 6}
    # PII was scrubbed in place before anything else
    doc5 = out.where(F.col("doc_id") == 5).first().text
    assert "@" not in doc5 and "<EMAIL>" in doc5


def test_pipeline_span_and_mix_stages(spark):
    from model_presto_spark.pipeline import CorpusPipeline

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [(i, f"prefix {i} words {shared}", "en", "a") for i in range(4)]
    rows += [(10 + i, f"doc {i} unique body with enough words here", "en", "b")
             for i in range(4)]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    )
    pipe = CorpusPipeline([
        {"op": "span_dedup_filter", "k": 8, "max_dup_fraction": 0.4},
    ])
    kept = {r.doc_id for r in pipe.run(docs).collect()}
    # the 4 shared-run docs are mostly duplicated windows -> dropped;
    # unique docs stay
    assert kept == {10, 11, 12, 13}


def test_pipeline_from_json_with_dataframe_ref(spark, corpus):
    from model_presto_spark.pipeline import CorpusPipeline

    bench = spark.createDataFrame(
        [(100, "totally unique english sentence that is long enough")],
        "doc_id bigint, text string",
    )
    cfg = """
    [
      {"op": "lang_filter", "keep": ["en"]},
      {"op": "contamination_filter", "benchmark": "$bench", "n": 5},
      {"op": "exact_dedup"}
    ]
    """
    pipe = CorpusPipeline.from_json(cfg, bench=bench)
    kept = {r.doc_id for r in pipe.run(corpus).collect()}
    # doc 6 overlaps the benchmark 5-grams -> decontaminated away;
    # fr doc 4 filtered; dup pair 1/2 collapsed to 1
    assert 6 not in kept and 4 not in kept
    assert 1 in kept and 2 not in kept

    with pytest.raises(ValueError, match="no bench"):
        CorpusPipeline.from_json(cfg)
    with pytest.raises(ValueError, match="must be a list"):
        CorpusPipeline.from_json('{"op": "exact_dedup"}')


def test_pipeline_span_remove_and_token_budget(spark):
    from model_presto_spark.pipeline import CorpusPipeline

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (1, f"unique opening words here {shared}", "a"),
        (2, f"different start tokens now {shared}", "a"),
        (3, "ten little words make up this third document body x", "b"),
        (4, "another ten word doc for the second source here y", "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    pipe = CorpusPipeline([
        {"op": "span_remove", "k": 8},
        {"op": "token_budget", "budget_tokens": 10},
    ])
    out = {r.doc_id: r.text for r in pipe.run(docs).collect()}
    # span_remove cut the shared run from docs 1/2 (leaving 4-5
    # tokens), so both now fit source a's 10-token budget; source b
    # keeps only its first doc (10 tokens exactly), doc 4 overflows
    assert set(out) == {1, 2, 3}
    assert "charlie" not in out[1] and "charlie" not in out[2]
    assert out[1].startswith("unique opening")
    # non-text columns survived both stages
    cols = set(pipe.run(docs).columns)
    assert {"doc_id", "text", "source"} <= cols


# ---------------------------------------------------------------------------
# One-stage pipelines equal the hand-composed operator call, for every op
# ---------------------------------------------------------------------------
_SHARED = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
_BASE = "the quick brown fox jumps over the lazy dog near the river bank today"


@pytest.fixture(scope="module")
def stage_inputs(spark):
    import random

    rng = random.Random(5)
    texts = [
        (f"{_BASE}\naccept all cookies", "en", "web"),
        (f"{_BASE}\naccept all cookies", "en", "web"),  # exact copy of 1
        (f"{_BASE.replace('river', 'quiet')}\naccept all cookies", "en", "web"),
        (f"une phrase en francais avec beaucoup de mots {_SHARED}", "fr", "news"),
        (f"contact me at a.b@example.com for the data {_SHARED}", "en", "news"),
        ("a totally unique english sentence that is long enough to pass "
         "the gate\naccept all cookies", "en", "news"),
        ("zz qq vv xx kk jj ww pp mm nn bb cc dd ff gg hh", "en", "web"),
        ("Short   TEXT ‘quoted’", "de", "news"),
    ]
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in texts]
    vecs[1] = [x + 0.01 for x in vecs[0]]  # near-copy embedding of doc 1
    docs = spark.createDataFrame(
        [(i + 1, t, lang, src, v) for i, ((t, lang, src), v)
         in enumerate(zip(texts, vecs))],
        "doc_id bigint, text string, lang string, source string, "
        "embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(100, "a totally unique english sentence that is long")],
        "doc_id bigint, text string",
    )
    target = spark.createDataFrame(
        [(200, f"the quick brown fox and the lazy dog {_SHARED}")],
        "doc_id bigint, text string",
    )
    return docs, bench, target


def _semi(docs, keep):
    return docs.join(keep.select("doc_id"), "doc_id", "left_semi")


def _with_text(docs, cleaned):
    cleaned = cleaned.select("doc_id", F.col("text").alias("__clean"))
    return (
        docs.drop("text").join(cleaned, "doc_id")
        .withColumnRenamed("__clean", "text")
    )


def _by_hand(op, docs, bench, target):
    """The operator call each stage case below stands for, composed by
    hand (same parameters as its config)."""
    from model_presto_spark.functions import text as T
    from model_presto_spark.operators import contamination, dsir, lines, lm
    from model_presto_spark.operators import dedup, mixing, quality, splits

    n_tok = F.size(F.expr(T.tokens_sql("text")))
    if op == "normalize":
        return docs.withColumn("text", T.normalize_text(F.col("text")))
    if op == "scrub_pii":
        return docs.withColumn("text", T.scrub_pii(F.col("text")))
    if op == "quality_gate":
        feats = T.quality_features_sql("text", T.tokens_sql("text"))
        return docs.where(
            f"size({T.tokens_sql('text')}) >= 8 "
            f"AND {feats['stopword_ratio']} >= 0.05"
        )
    if op == "lang_filter":
        return docs.where(F.col("lang").isin("en", "de"))
    if op == "exact_dedup":
        return _semi(docs, dedup.exact_dedup(docs, "doc_id", "text"))
    if op == "near_dedup":
        return dedup.dedup_corpus(
            docs, "doc_id", "text", method="minhash", threshold=0.5
        )
    if op == "span_dedup_filter":
        stats = dedup.span_dup_stats(docs, 8, "text", "doc_id", fast_hash=True)
        return _semi(docs, stats.where("dup_fraction <= 0.4"))
    if op == "contamination_filter":
        hits = contamination.ngram_contamination(docs, bench, n=5)
        return docs.join(hits.select("doc_id"), "doc_id", "left_anti")
    if op == "perplexity_gate":
        scores = lm.perplexity_scores(docs, min_count=2)
        return _semi(docs, scores.where("bits_per_token <= 6.0"))
    if op == "span_remove":
        return _with_text(docs, dedup.remove_dup_spans(docs, 8))
    if op == "token_budget":
        return splits.token_budget_truncate(
            docs, "source", "doc_id", n_tok, 30, cum_col="__cum"
        ).drop("__cum")
    if op == "domain_mix":
        plan = mixing.mix_plan(docs, "source", F.lit(1.0), n_tok, 40)
        return mixing.apply_mix(docs, plan, "source", "doc_id")
    if op == "line_boilerplate":
        return _with_text(
            docs, lines.remove_frequent_lines(docs, min_doc_freq=3)
        )
    if op == "semantic_dedup":
        flags = dedup.semantic_dedup(
            docs, "doc_id", "embedding", threshold=0.9, dim=8, planes=4
        )
        return _semi(docs, flags.where(~F.col("is_semantic_dup")))
    if op == "dsir_select":
        return _semi(docs, dsir.dsir_sample(docs, target, k=3))
    assert op == "gopher_gate"
    flags = quality.gopher_quality_flags(docs, min_words=5, min_stop_hits=1)
    return _semi(docs, flags.where("gopher_pass"))


_STAGE_CASES = {
    "normalize": {},
    "scrub_pii": {},
    "quality_gate": {"min_tokens": 8, "min_stopword": 0.05},
    "lang_filter": {"keep": ["en", "de"]},
    "exact_dedup": {},
    "near_dedup": {"method": "minhash", "threshold": 0.5},
    "span_dedup_filter": {"max_dup_fraction": 0.4},
    "contamination_filter": {"benchmark": "$bench", "n": 5},
    "perplexity_gate": {"max_bits_per_token": 6.0},
    "span_remove": {},
    "token_budget": {"budget_tokens": 30},
    "domain_mix": {"budget_tokens": 40},
    "line_boilerplate": {"min_doc_freq": 3},
    "semantic_dedup": {"vec_col": "embedding", "threshold": 0.9, "dim": 8,
                       "planes": 4},
    "dsir_select": {"target": "$target", "k": 3},
    "gopher_gate": {"min_words": 5, "min_stop_hits": 1},
}


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_stage_cases_cover_every_op():
    from model_presto_spark.pipeline import _STAGES

    assert set(_STAGE_CASES) == set(_STAGES)


# stages with in-build jobs or several shuffles (2.5-6 s each here)
# run in the full suite only, so the fast gate stays under 5 minutes
_FULL_SUITE_ONLY = {
    "near_dedup", "dsir_select", "span_remove", "semantic_dedup",
    "span_dedup_filter", "contamination_filter", "line_boilerplate",
}


@pytest.mark.parametrize("op", [
    pytest.param(op, marks=pytest.mark.full_suite)
    if op in _FULL_SUITE_ONLY else op
    for op in sorted(_STAGE_CASES)
])
def test_one_stage_pipeline_equals_operator_call(stage_inputs, op):
    import json

    from model_presto_spark.pipeline import CorpusPipeline

    docs, bench, target = stage_inputs
    cfg = json.dumps([{"op": op, **_STAGE_CASES[op]}])
    got = CorpusPipeline.from_json(cfg, bench=bench, target=target).run(docs)
    want = _by_hand(op, docs, bench, target)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_missing_and_misspelled_params_raise_at_construction():
    from model_presto_spark.pipeline import CorpusPipeline

    with pytest.raises(ValueError, match=r"missing required params \['keep'\]"):
        CorpusPipeline([{"op": "lang_filter"}])
    with pytest.raises(ValueError, match=r"unknown params \['min_word'\]"):
        CorpusPipeline([{"op": "gopher_gate", "min_word": 5}])


def test_near_dedup_method_checked_before_any_job(spark, corpus):
    """The operator owns the method check: an exact method is refused
    with a pointer to exact_dedup when run() builds the stage, before
    the stage starts a Spark job."""
    from model_presto_spark.operators.dedup import dedup_corpus
    from model_presto_spark.pipeline import CorpusPipeline

    with pytest.raises(ValueError, match="exact_dedup"):
        dedup_corpus(corpus, "doc_id", "text", method="exact")
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("near-dedup-method", "method check")
    try:
        for method in ("exact", "simhash"):
            pipe = CorpusPipeline([{"op": "near_dedup", "method": method}])
            with pytest.raises(ValueError, match="exact_dedup"):
                pipe.run(corpus)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup("near-dedup-method") == []
