"""Round-8 additions: the screened lsh_ensemble candidate generator
and the three-way (index / lsh / lsh_ensemble) containment auto-route.

Round 7 shipped the ensemble generator unscreened; the stress record
measured its candidate flood at s10->s30 exponent 1.35 (wide-gap r=1
bandings collide at the background-Jaccard rate, so candidate pairs
scale ~n^2 on a saturating corpus). Round 8 adds the per-pair
signature screen — estimate containment from the MinHash signatures
and the pair's exact gram counts INSIDE the pair-expansion lambda —
mirroring minhash_lsh_pairs' signature_screen (which measured
1.401 -> 0.744 on its own flood). The probe also switched from char
length to gram counts: char length does not bound gram count, so the
old probe could route a gram-skewed corpus into the collapsed-recall
lsh regime (the round-7 ADVICE counterexample reproduced below).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _skewed_corpus(spark, n_small=40):
    """Containers (~120 tokens) + rho~0.1 contained slices + filler."""
    rows = []
    big = " ".join(f"w{j}a w{j}b w{j}c" for j in range(40))  # 120 toks
    rows.append((0, big))
    rows.append((1, " ".join(big.split()[30:42])))  # 12-token slice
    for i in range(n_small):
        rows.append(
            (10 + i, " ".join(f"f{i}x{j}" for j in range(12)))
        )
    return spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(4)


def test_ensemble_screen_keeps_planted_pairs(spark):
    """The screened default must find the same verified pairs as the
    unscreened ensemble on a corpus with a deep-rho plant: the screen
    is allowed to drop background flood, never the true pairs."""
    from model_presto_spark.operators.dedup import ngram_containment_pairs

    docs = _skewed_corpus(spark)
    kw = dict(
        n=3, threshold=0.6, max_doc_freq=500, fast_hash=True,
        candidates="lsh_ensemble",
    )
    screened = {
        (r.id_a, r.id_b)
        for r in ngram_containment_pairs(docs, "doc_id", "text", **kw).collect()
    }
    unscreened = {
        (r.id_a, r.id_b)
        for r in ngram_containment_pairs(
            docs, "doc_id", "text", ensemble_screen=None, **kw
        ).collect()
    }
    assert (0, 1) in screened  # the rho~0.1 doc-inside-doc plant
    assert screened == unscreened  # no verified pair lost to the screen


def test_ensemble_screen_drops_background_candidates(spark):
    """A high screen must prune sub-threshold CANDIDATES before the
    verify joins (the whole point); verified output is unchanged
    because the verify filter would have dropped them anyway — so
    assert on the candidate stage directly."""
    from model_presto_spark.operators.dedup import (
        _containment_ensemble_candidates,
    )
    from model_presto_spark.functions.text import (
        hash_array_sql,
        tokens_sql,
        word_ngrams_sql,
    )

    docs = _skewed_corpus(spark)
    grams = docs.selectExpr(
        "doc_id AS id",
        f"array_distinct({hash_array_sql(word_ngrams_sql(tokens_sql('text'), 3), fast=True)})"
        " AS grams",
    )
    loose = _containment_ensemble_candidates(
        grams, 128, 2000, 0.6, screen=None
    ).count()
    tight = _containment_ensemble_candidates(
        grams, 128, 2000, 0.6, screen=0.35
    ).count()
    assert tight <= loose
    # the filler docs share no grams with each other or the plant:
    # every cross-gap random collision estimates ~0 containment and
    # must be screened; only the planted pair (and possibly same-size
    # filler collisions at gap 0 with m=0 -> screened too) survive
    assert tight <= 1 + 0  # exactly the plant, if banded together
    assert loose >= tight


# _skewed_corpus: 42 docs; gram counts 118 (the container) and 10
# (the slice and every filler), so the probe's min/max ratio is 10/118
_SKEWED_DOCS, _SKEWED_RATIO = 42, 10 / 118


def test_auto_route_three_way(spark):
    """Probe-driven routing on a small skewed corpus: small -> index;
    skewed+mid -> index; skewed+huge -> lsh_ensemble; benign+huge ->
    lsh (the size cutoffs scaled down to the corpus)."""
    from model_presto_spark.operators.dedup import containment_auto_route

    docs = _skewed_corpus(spark)
    assert (
        containment_auto_route(docs, "text", auto_min_docs=_SKEWED_DOCS + 1)
        == "index"
    )
    assert (
        containment_auto_route(
            docs, "text", auto_min_docs=10, ensemble_min_docs=1000
        )
        == "index"
    )
    assert (
        containment_auto_route(
            docs, "text", auto_min_docs=10, ensemble_min_docs=20
        )
        == "lsh_ensemble"
    )
    assert (
        containment_auto_route(
            docs, "text", auto_min_docs=10, ensemble_min_docs=20,
            skew_ratio_floor=0.05,
        )
        == "lsh"
    )


def test_auto_route_probes_gram_counts_not_char_length(spark):
    """The round-7 ADVICE counterexample: 10 ten-char tokens (8 grams)
    vs 60 one-char tokens (58 grams) — char min/max ratio ~0.92 but
    gram ratio ~0.14. A char-length probe routes this to lsh (the
    collapsed-recall regime); the gram-count probe must not."""
    from model_presto_spark.operators.dedup import containment_auto_route

    long_toks = " ".join("abcdefghij" for _ in range(10))  # 109 chars
    short_toks = " ".join("a" for _ in range(60))  # 119 chars
    rows = [(i, long_toks if i % 2 else short_toks) for i in range(30)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(2)
    assert containment_auto_route(docs, "text", auto_min_docs=10) == "index"
    # and a genuinely uniform-gram corpus still reaches lsh
    uni = spark.createDataFrame(
        [(i, " ".join(f"t{i}x{j}" for j in range(9))) for i in range(30)],
        ["doc_id", "text"],
    ).coalesce(2)
    assert containment_auto_route(uni, "text", auto_min_docs=10) == "lsh"


def test_auto_route_default_call_routes_skew_huge_to_ensemble(spark, caplog):
    """ngram_containment_pairs plumbs auto_min_docs / ensemble_min_docs
    through to the route — the default call on a skewed corpus over
    both cutoffs runs the ensemble generator and still finds the deep
    plant."""
    import logging

    from model_presto_spark.operators.dedup import ngram_containment_pairs

    docs = _skewed_corpus(spark)
    with caplog.at_level(logging.INFO, "model_presto_spark.operators.dedup"):
        got = {
            (r.id_a, r.id_b)
            for r in ngram_containment_pairs(
                docs, "doc_id", "text", n=3, threshold=0.6, max_doc_freq=500,
                fast_hash=True, auto_min_docs=10, ensemble_min_docs=20,
            ).collect()
        }
    assert "screened lsh_ensemble path" in caplog.text
    assert (0, 1) in got


def test_ensemble_screen_validates(spark):
    from model_presto_spark.operators.dedup import ngram_containment_pairs

    docs = _skewed_corpus(spark)
    with pytest.raises(ValueError, match="ensemble_screen"):
        ngram_containment_pairs(
            docs, "doc_id", "text", candidates="lsh_ensemble",
            ensemble_screen="bogus",
        )


def test_auto_route_decision_property(spark):
    """Property sweep of the decision rule over the cutoffs, on the
    probed skewed corpus (42 docs, gram-count ratio 10/118): the
    route matches the documented three-way rule, with exact boundary
    semantics (ratio == floor is NOT skewed; docs == ensemble_min_docs
    IS huge)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from model_presto_spark.operators.dedup import containment_auto_route

    docs = _skewed_corpus(spark).cache()
    n_docs, ratio = _SKEWED_DOCS, _SKEWED_RATIO

    def want(auto_min, floor, ens_min):
        if n_docs < auto_min:
            return "index"
        if ratio < floor:
            return "lsh_ensemble" if n_docs >= ens_min else "index"
        return "lsh"

    def route(auto_min, floor, ens_min):
        return containment_auto_route(
            docs, "text",
            auto_min_docs=auto_min,
            skew_ratio_floor=floor,
            ensemble_min_docs=ens_min,
        )

    @settings(max_examples=25, deadline=None)
    @given(
        auto_min=st.integers(min_value=1, max_value=2 * n_docs),
        floor=st.floats(min_value=0.01, max_value=0.99,
                        allow_nan=False, allow_infinity=False),
        ens_min=st.integers(min_value=1, max_value=2 * n_docs),
    )
    def check(auto_min, floor, ens_min):
        assert route(auto_min, floor, ens_min) == want(
            auto_min, floor, ens_min
        ), (auto_min, floor, ens_min)

    check()

    # pinned boundary cases (hypothesis floats rarely land exactly)
    assert route(10, ratio, 1000) == "lsh"  # ratio == floor: not skewed
    assert route(10, 0.30, n_docs) == "lsh_ensemble"  # docs == ens_min
    assert route(n_docs + 1, 0.30, 1) == "index"  # under auto_min wins
    docs.unpersist()


def test_ensemble_mega_bucket_guard(spark):
    """The lsh_ensemble bucket cap (C(d,2) computed in LONG before
    the max_bucket_size compare — the round-8 overflow fix) degrades
    a mega bucket to chain pairs, and transitive clustering still
    recovers the full duplicate cluster."""
    from model_presto_spark.operators.dedup import ngram_containment_pairs
    from model_presto_spark.operators.graph import dedup_clusters

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base) for i in range(30)]
    rows += [(100, "completely unrelated text body one flag word"),
             (101, "another different document entirely two side term")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    full = ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.6,
        candidates="lsh_ensemble", max_bucket_size=2000,
    )
    capped = ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.6,
        candidates="lsh_ensemble", max_bucket_size=10,
    )
    n_full, n_capped = full.count(), capped.count()
    assert n_full == 30 * 29 // 2
    assert n_capped < n_full
    assert n_capped >= 29

    cl = dedup_clusters(docs.select("doc_id"), capped, "doc_id")
    sizes = {r.cluster: r.n for r in cl.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert sizes[0] == 30
    assert sizes[100] == 1 and sizes[101] == 1
