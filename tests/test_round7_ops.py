"""Round-7 additions: skew-aware containment auto-routing.

The round-6 stress record measured the containment-LSH generator's
recall collapsing to 0.40-0.44 on doc-inside-doc (rho~0.1) pairs.
Auto routing must therefore never hand a corpus that can CONTAIN such
pairs to the LSH path: LSH engages only when the gram-viable min/max
length ratio bounds every possible pair's size ratio inside the
measured high-recall band.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _uniform_rows(n, words=9):
    return [
        (i, " ".join(f"tok{(i + j) % 13}" for j in range(words)))
        for i in range(n)
    ]


def test_containment_auto_routes_skewed_to_index(spark):
    """A corpus over auto_min_docs whose lengths span >1/floor must
    stay on the exact index path: the planted doc-inside-doc pair is
    found by the DEFAULT call, pair-for-pair identical to
    candidates='index' (which the lossy LSH path provably is not at
    rho~0.1)."""
    from model_presto_spark.operators.dedup import (
        containment_auto_route,
        ngram_containment_pairs,
    )

    container_words = [f"w{j}" for j in range(120)]
    child = " ".join(container_words[40:52])  # 12-word slice, rho~0.1
    rows = _uniform_rows(60) + [
        (900, " ".join(container_words)),
        (901, child),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    assert (
        containment_auto_route(docs, "text", auto_min_docs=10) == "index"
    )
    auto_pairs = sorted(
        (r.id_a, r.id_b)
        for r in ngram_containment_pairs(
            docs, "doc_id", "text", threshold=0.6, auto_min_docs=10
        ).collect()
    )
    index_pairs = sorted(
        (r.id_a, r.id_b)
        for r in ngram_containment_pairs(
            docs, "doc_id", "text", threshold=0.6, candidates="index"
        ).collect()
    )
    assert auto_pairs == index_pairs
    assert (900, 901) in auto_pairs


def test_containment_auto_routes_uniform_to_lsh(spark):
    """Near-uniform lengths over the size cutoff route to LSH (the
    sublinear path is still the default where its recall holds)."""
    from model_presto_spark.operators.dedup import containment_auto_route

    docs = spark.createDataFrame(
        _uniform_rows(60), "doc_id long, text string"
    )
    assert containment_auto_route(docs, "text", auto_min_docs=10) == "lsh"
    # under the size cutoff: index regardless of shape
    assert containment_auto_route(docs, "text", auto_min_docs=100) == "index"


def test_containment_route_ignores_gramless_docs(spark):
    """Docs too short to hold one n-gram (no possible pair) must not
    drag the min length to ~0 and misroute a uniform corpus."""
    from model_presto_spark.operators.dedup import containment_auto_route

    rows = _uniform_rows(60) + [(990, "x"), (991, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert containment_auto_route(docs, "text", auto_min_docs=10) == "lsh"


def test_containment_lsh_ensemble_mode(spark):
    """The opt-in LSH-Ensemble generator (length-bucketed per-gap
    banding): candidates are a subset of the exact index path's pairs
    with identical scores (verify is shared), and the planted
    rho~0.1 doc-inside-doc pair — the case single-banding lsh is
    measured to lose — is found (deterministic minhash seeds)."""
    from model_presto_spark.operators.dedup import (
        _ensemble_band_plan,
        ngram_containment_pairs,
    )

    # band plan sanity: gap 0 keeps multi-row bands; wide gaps fall
    # back to the loosest r=1 banding to hold the recall target
    plan = _ensemble_band_plan(0.6, 128, 4)
    assert plan[0][2] >= 2 and plan[-1] == (4, 128, 1)

    container_words = [f"w{j}" for j in range(240)]
    rows = [
        (i, " ".join(f"tok{(i * 7 + j) % 53}" for j in range(12)))
        for i in range(200)
    ]
    rows += [
        (900, " ".join(container_words)),
        (901, " ".join(container_words[40:64])),     # rho ~ 0.1
        (902, " ".join(container_words[100:180])),   # rho ~ 0.33
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = {
        (r.id_a, r.id_b): r.containment
        for r in ngram_containment_pairs(
            docs, "doc_id", "text", threshold=0.6, candidates="index"
        ).collect()
    }
    ens = {
        (r.id_a, r.id_b): r.containment
        for r in ngram_containment_pairs(
            docs, "doc_id", "text", threshold=0.6,
            candidates="lsh_ensemble",
        ).collect()
    }
    assert set(ens) <= set(idx)
    assert all(abs(ens[k] - idx[k]) < 1e-12 for k in ens)
    assert (900, 901) in ens and (900, 902) in ens


def test_near_dedup_stage_runs_both_methods(spark):
    """Pipeline near_dedup stage runs the minhash and ngram methods;
    the removed corpus-size hint is an unknown key."""
    import pytest

    from model_presto_spark.pipeline import CorpusPipeline

    docs = spark.createDataFrame(
        _uniform_rows(20), "doc_id long, text string"
    )
    for method in ("minhash", "ngram"):
        pipe = CorpusPipeline(
            [{"op": "near_dedup", "method": method, "threshold": 0.8}]
        )
        assert pipe.run(docs).count() > 0
    with pytest.raises(ValueError, match="approx_docs"):
        CorpusPipeline([{"op": "near_dedup", "approx_docs": 20}])


def test_containment_auto_empty_and_degenerate(spark):
    """Empty corpus routes safely (index, no probe error). Sub-n-token
    docs: word_ngrams_sql emits the whole short doc as its single gram, so
    IDENTICAL short docs are containment dups (C(5,2) pairs at 1.0) —
    and since a sub-n doc's gram can never equal a full n-gram of a
    longer doc, such docs are rightly EXCLUDED from the routing
    probe's min/max (they cannot create a cross-size pair)."""
    from model_presto_spark.operators.dedup import (
        containment_auto_route,
        ngram_containment_pairs,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert containment_auto_route(empty, "text") == "index"
    assert ngram_containment_pairs(
        empty, "doc_id", "text", threshold=0.6
    ).count() == 0
    short = spark.createDataFrame(
        [(i, "x") for i in range(5)], "doc_id long, text string"
    )
    assert containment_auto_route(short, "text") == "index"
    rows = ngram_containment_pairs(
        short, "doc_id", "text", threshold=0.6
    ).collect()
    assert len(rows) == 10 and all(r.containment == 1.0 for r in rows)


def test_knn_distance_double_precision(spark):
    """Float inputs must score in double: a near-tie that float
    arithmetic would mis-rank resolves like the double oracle."""
    from model_presto_spark.operators.knn import knn_join

    # probe P, candidates A and B: dot(P,A) and dot(P,B) differ only
    # past float32 precision when accumulated in float32
    p = [(0, [1.0, 1.0, 1.0])]
    cands = [
        (1, [0.3333333, 0.3333333, 0.3333334]),
        (2, [0.33333334, 0.33333334, 0.33333334]),
    ]
    probes = spark.createDataFrame(
        p, "pid long, vec array<float>"
    )
    cs = spark.createDataFrame(cands, "cid long, vec array<float>")
    out = knn_join(
        probes, cs, probe_id="pid", cand_id="cid", k=2,
        metric="sqeuclidean",
    ).collect()
    # distances must be computed in double: expected = each stored
    # float32 element widened to double, then exact double arithmetic
    import math

    import numpy as np

    for r in out:
        a = [x for i, x in cands if i == r["cid"]][0]
        exp = sum((1.0 - float(np.float32(v))) ** 2 for v in a)
        assert math.isclose(r["dist"], exp, rel_tol=1e-12)
