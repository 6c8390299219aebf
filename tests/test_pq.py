"""Product quantization: codebook determinism, code compression
shape, ADC recall vs exact kNN, and the re-rank recovery path."""

from __future__ import annotations

import numpy as np
import pytest


@pytest.fixture(scope="module")
def vec_data(spark):
    rng = np.random.default_rng(7)
    centers = rng.normal(0, 10, size=(5, 32))
    rows = []
    for i in range(400):
        c = centers[i % 5]
        rows.append((i, (c + rng.normal(0, 1, 32)).tolist()))
    df = spark.createDataFrame(rows, "vid bigint, vec array<double>")
    probes = df.where("vid < 10")
    return df, probes


def test_codebooks_deterministic_and_shaped(spark, vec_data):
    from model_presto_spark.operators.pq import train_pq_codebooks

    df, _ = vec_data
    b1 = train_pq_codebooks(df, "vec", m=8, n_codes=16, seed=11)
    b2 = train_pq_codebooks(df, "vec", m=8, n_codes=16, seed=11)
    assert b1.shape == (8, 16, 4)
    assert np.array_equal(b1, b2)


def test_pq_encode_shape(spark, vec_data):
    from model_presto_spark.operators.pq import pq_encode, train_pq_codebooks

    df, _ = vec_data
    books = train_pq_codebooks(df, "vec", m=8, n_codes=16)
    enc = pq_encode(df, "vid", "vec", books).collect()
    assert len(enc) == 400
    assert all(len(r.codes) == 8 for r in enc)


def _recall(got, want, k):
    g = {}
    for r in got:
        g.setdefault(r.vid, set()).add(r.nid)
    w = {}
    for r in want:
        w.setdefault(r.vid, set()).add(r.nid)
    hits = sum(len(g[p] & w[p]) for p in w)
    return hits / (len(w) * k)


def test_pq_knn_recall_and_rerank(spark, vec_data):
    from model_presto_spark.operators.knn import knn_join
    from model_presto_spark.operators.pq import (
        pq_encode,
        pq_knn_join,
        train_pq_codebooks,
    )

    df, probes = vec_data
    cand = df.withColumnRenamed("vid", "nid")
    k = 10
    exact = knn_join(
        probes, cand, "vid", "nid", "vec", "vec", k=k, exclude_self=True
    ).collect()

    # m=16 x 64 codes: 16-byte codes vs 256-byte float64 vectors.
    # Pure ADC ranking within a tight cluster is the hard case —
    # recall ~0.7 here; the rerank path below restores ~1.0.
    books = train_pq_codebooks(df, "vec", m=16, n_codes=64)
    enc = pq_encode(cand, "nid", "vec", books)
    adc = pq_knn_join(
        probes, enc, "vid", "nid", books, k=k, exclude_self=True
    ).collect()
    assert _recall(adc, exact, k) >= 0.55

    rr = pq_knn_join(
        probes, enc, "vid", "nid", books, k=k,
        candidates=cand, cand_vec="vec", rerank=3 * k, exclude_self=True,
    ).collect()
    assert _recall(rr, exact, k) >= 0.9
    # re-ranked distances are exact -> agree with exact kNN for
    # overlapping pairs
    ex = {(r.vid, r.nid): r.dist for r in exact}
    for r in rr:
        if (r.vid, r.nid) in ex:
            assert abs(r.dist - ex[(r.vid, r.nid)]) < 1e-9


def test_ivfpq_index_search(spark, vec_data, tmp_path):
    from model_presto_spark.operators.knn import knn_join
    from model_presto_spark.operators.pq import (
        build_ivfpq_index,
        ivfpq_search,
    )

    df, probes = vec_data
    cand = df.withColumnRenamed("vid", "nid")
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(cand, "nid", path, cand_vec="vec",
                      n_lists=5, m=16, n_codes=32)

    k = 10
    got = ivfpq_search(
        spark, path, probes, "vid", "vec", k=k, n_probe=2,
        exclude_self=True,
    ).collect()
    exact = knn_join(
        probes, cand, "vid", "nid", "vec", "vec", k=k, exclude_self=True
    ).collect()
    g = {}
    for r in got:
        g.setdefault(r.vid, set()).add(r.cid)
    e = {}
    for r in exact:
        e.setdefault(r.vid, set()).add(r.nid)
    recall = sum(len(g.get(p, set()) & e[p]) for p in e) / (len(e) * k)
    # residual coding inside the right cell: high recall at n_probe=2
    assert recall >= 0.7

    # plan-time partition pruning: the literal cell IN (...) filter
    # lands in PartitionFilters, so unprobed cell dirs are skipped
    from pyspark.sql import functions as F

    pruned = spark.read.parquet(f"{path}/cells").where(
        F.col("cell").isin([0, 1])
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cell" in pf[0] and "IN (0,1)" in pf[0]
    assert (
        spark.read.parquet(f"{path}/cells").select("cell").distinct().count()
        == 5
    )


def _kmeans_reference(X, k, iters, seed):
    """Loop k-means: k-means++ recomputing every point's distance to
    all seeds so far, then Lloyd's on the full (n, k, d) difference
    array with one mean per cluster."""
    n = len(X)
    rng = np.random.default_rng(seed)
    cents = [X[rng.integers(n)]]
    for _ in range(k - 1):
        d2 = ((X[:, None, :] - np.asarray(cents)[None]) ** 2).sum(-1).min(1)
        cents.append(X[rng.choice(n, p=d2 / max(d2.sum(), 1e-12))])
    C = np.asarray(cents)
    for _ in range(iters):
        assign = ((X[:, None, :] - C[None]) ** 2).sum(-1).argmin(1)
        for c in range(k):
            C[c] = X[assign == c].mean(0)
    return C


def test_kmeans_matches_loop_reference(monkeypatch):
    """The one k-means core (``knn._kmeans``) seeds bit-identically to
    the loop reference, and its blocked GEMM-form Lloyd's steps (forced
    here to blocks of a few rows) land on the same centroids up to
    float64 rounding of the reordered sums."""
    from model_presto_spark.operators import knn

    rng = np.random.default_rng(5)
    centers = rng.normal(0, 10, size=(6, 8))
    X = np.concatenate([c + rng.normal(0, 1, (50, 8)) for c in centers])
    monkeypatch.setattr(knn, "_BLOCK_FLOATS", 40)
    seeds = knn._kmeans(X, 6, 0, np.random.default_rng(3), "k")
    assert np.array_equal(seeds, _kmeans_reference(X, 6, 0, 3))
    got = knn._kmeans(X, 6, 20, np.random.default_rng(3), "k")
    np.testing.assert_allclose(got, _kmeans_reference(X, 6, 20, 3), rtol=0, atol=1e-12)
