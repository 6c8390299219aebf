"""Connected-components dedup clustering and IVF ANN tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def test_connected_components_chain_and_clique(spark):
    from model_presto_spark.operators.graph import connected_components

    # chain 1-2-3-4 (transitive), clique 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),
            (10, 11), (11, 12), (10, 12),
            (20, 21),
        ],
        "id_a long, id_b long",
    )
    comp = {r.id: r.comp for r in connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == comp[12] == 10
    assert comp[20] == comp[21] == 20


def test_keep_cluster_representatives(spark):
    from model_presto_spark.operators.graph import keep_cluster_representatives

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"d{i}") for i in [1, 2, 3, 4, 20, 21, 99]]
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (20, 21)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id for r in keep_cluster_representatives(docs, pairs, "doc_id").collect()
    )
    # chain collapses to 1, pair to 20, singleton 99 survives
    assert kept == [1, 20, 99]


def test_ivf_knn_recall_against_exact(spark):
    from model_presto_spark.operators.knn import ivf_knn_join, knn_join

    rng = np.random.default_rng(5)
    # clustered candidates so IVF cells are meaningful
    cands = []
    for c in range(4):
        center = rng.uniform(-10, 10, 4)
        for i in range(40):
            cands.append(
                Row(cid=c * 100 + i, vec=[float(x) for x in center + rng.normal(0, 0.5, 4)])
            )
    cdf = spark.createDataFrame(cands)
    probes = cdf.filter(F.col("cid") % 100 < 2).select(
        F.col("cid").alias("pid"), F.col("vec")
    )
    exact = knn_join(
        probes, cdf, "pid", "cid", "vec", "vec", k=3, exclude_self=True
    )
    approx = ivf_knn_join(
        probes, cdf, "pid", "cid", "vec", "vec",
        k=3, n_lists=4, n_probe=2, exclude_self=True,
    )
    e = {(r.pid, r.cid) for r in exact.collect()}
    a = {(r.pid, r.cid) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall > 0.9  # n_probe=2 over well-separated clusters
    # distances for agreed pairs must be identical (same expression)
    ed = {(r.pid, r.cid): r.dist for r in exact.collect()}
    ad = {(r.pid, r.cid): r.dist for r in approx.collect()}
    for key in e & a:
        assert abs(ed[key] - ad[key]) < 1e-12


def test_connected_components_long_chain_converges(spark):
    """Regression: a path graph far longer than max_iter must still fully
    close — pointer jumping gives O(log diameter) rounds, so a 200-node
    chain needs ~8 rounds, not 200 (plain neighbor propagation would
    silently split the chain at the iteration cap)."""
    from model_presto_spark.operators.graph import connected_components

    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    comp = {r.id: r.comp for r in connected_components(pairs, max_iter=12).collect()}
    assert len(comp) == n
    assert set(comp.values()) == {0}


def _vec_df(spark, n, dim=8, seed=3, with_dup=True):
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n, dim))
    if with_dup:
        base[1] = base[0] + 1e-4  # planted near-duplicate pair (0, 1)
    return spark.createDataFrame(
        [(i, [float(v) for v in base[i]]) for i in range(n)],
        "vid long, vec array<double>",
    )


def test_embedding_dup_pairs_guard_raises(spark):
    """The O(n^2) baseline must refuse unbounded inputs by default."""
    import pytest as _pytest

    from model_presto_spark.operators.dedup import embedding_dup_pairs

    df = _vec_df(spark, 120, with_dup=False)
    with _pytest.raises(ValueError, match="O\\(n\\^2\\)"):
        embedding_dup_pairs(df, "vid", "vec", max_rows=100)
    # explicit opt-outs still work
    embedding_dup_pairs(df, "vid", "vec", max_rows=None)
    embedding_dup_pairs(df, "vid", "vec", max_rows=200)


def test_embedding_dup_pairs_zero_rows(spark):
    """An empty input yields an empty pair frame, not a numpy error
    from scoring an empty broadcast matrix."""
    from model_presto_spark.operators.dedup import embedding_dup_pairs

    df = _vec_df(spark, 3, with_dup=False).limit(0)
    out = embedding_dup_pairs(df, "vid", "vec")
    assert out.columns == ["id_a", "id_b", "cosine_sim"]
    assert dict(out.dtypes)["id_a"] == "bigint"
    assert out.collect() == []


def test_embedding_dup_pairs_lsh_route_finds_planted_dup(spark):
    from model_presto_spark.operators.dedup import embedding_dup_pairs

    df = _vec_df(spark, 150, with_dup=True)
    out = embedding_dup_pairs(
        df, "vid", "vec", threshold=0.99, max_rows=100, on_overflow="lsh"
    )
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert (0, 1) in got  # near-identical vectors share every LSH bucket
    # and the routed plan is a bucket equi-join, not a cross join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan


def test_ivf_index_lifecycle(spark, tmp_path):
    """Build-once/probe-many IVF index: persisted cell-partitioned
    layout, dynamic partition pruning on search, recall vs exact."""
    from model_presto_spark.operators.knn import (
        build_ivf_index,
        ivf_index_search,
        knn_join,
    )

    rng = np.random.default_rng(9)
    rows = []
    for c in range(8):
        center = rng.uniform(-10, 10, 16)
        for i in range(50):
            rows.append(
                Row(
                    vec_id=c * 100 + i,
                    vec=[float(x) for x in center + rng.normal(0, 0.4, 16)],
                )
            )
    emb = spark.createDataFrame(rows)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, "vec_id", path, cand_vec="vec", n_lists=8)

    import os

    cells = os.listdir(f"{path}/cells")
    assert sum(d.startswith("cell=") for d in cells) == 8

    probes = emb.limit(25).select(
        F.col("vec_id").alias("probe_id"), F.col("vec")
    )
    got = ivf_index_search(
        spark, path, probes, "probe_id", probe_vec="vec",
        k=5, n_probe=3, exclude_self=True,
    )
    # dynamic partition pruning: the cells scan must carry a runtime
    # pruning expression on the partition column
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()

    exact = knn_join(
        probes,
        emb.select(F.col("vec_id").alias("cand_id"), F.col("vec")),
        "probe_id", "cand_id", probe_vec="vec", cand_vec="vec",
        k=5, exclude_self=True,
    )
    g = {(r.probe_id, r.cid) for r in got.collect()}
    e = {(r.probe_id, r.cand_id) for r in exact.collect()}
    recall = len(g & e) / len(e)
    assert recall > 0.9


def test_ivf_refuses_fewer_distinct_vectors_than_lists(spark, tmp_path):
    """k-means++ seeds n_lists distinct vectors: with fewer in the
    training sample the build raises, naming n_lists and the distinct
    count, instead of writing fewer cells than asked for."""
    from model_presto_spark.operators.knn import build_ivf_index

    df = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(30)], "cid bigint, vec array<double>"
    )
    with pytest.raises(ValueError, match="n_lists=4 exceeds the 3 distinct"):
        build_ivf_index(df, "cid", str(tmp_path / "ivf"), n_lists=4)


def test_quantized_knn_recall(spark):
    """int8 scalar quantization preserves neighbor ranking: recall
    >0.9 vs float kNN, and the quantized column is tinyint (1/8th
    the shuffle bytes)."""
    from model_presto_spark.operators.knn import (
        knn_join,
        quantize_vectors,
        quantized_knn_join,
    )

    rng = np.random.default_rng(11)
    rows = [
        Row(vid=i, vec=[float(x) for x in rng.uniform(-3, 3, 12)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows)
    qdf, scale = quantize_vectors(df, "vec")
    assert dict(qdf.dtypes)["qvec"] == "array<tinyint>"
    assert 0 < scale < 3 / 127 * 1.5

    probes = df.limit(20).select(F.col("vid").alias("pid"), "vec")
    exact = knn_join(
        probes, df.select(F.col("vid").alias("cid"), "vec"),
        "pid", "cid", "vec", "vec", k=5, exclude_self=True,
    )
    quant = quantized_knn_join(
        probes, df.select(F.col("vid").alias("cid"), "vec"),
        "pid", "cid", "vec", "vec", k=5, exclude_self=True,
    )
    e = {(r.pid, r.cid) for r in exact.collect()}
    q = {(r.pid, r.cid) for r in quant.collect()}
    assert len(q & e) / len(e) > 0.9


def test_ivf_index_append(spark, tmp_path):
    import numpy as np

    from model_presto_spark.operators.knn import (
        build_ivf_index,
        ivf_index_append,
        ivf_index_search,
    )

    rng = np.random.default_rng(17)
    centers = rng.normal(0, 20, size=(4, 16))
    rows = [
        (i, (centers[i % 4] + rng.normal(0, 1, 16)).tolist())
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "cid bigint, vec array<double>")
    path = str(tmp_path / "ivf_inc")
    build_ivf_index(df, "cid", path, cand_vec="vec", n_lists=4)

    # append a new tight clone family near center 0
    new_rows = [
        (1000 + i, (centers[0] + rng.normal(0, 0.01, 16)).tolist())
        for i in range(5)
    ]
    new_df = spark.createDataFrame(new_rows, "cid bigint, vec array<double>")
    ivf_index_append(spark, path, new_df, "cid", "vec")

    probe = spark.createDataFrame(
        [(9999, centers[0].tolist())], "pid bigint, vec array<double>"
    )
    got = ivf_index_search(
        spark, path, probe, "pid", "vec", k=5, n_probe=1
    ).collect()
    # the appended clones dominate the top-5 (they sit on the center)
    appended_hits = sum(1 for r in got if r.cid >= 1000)
    assert appended_hits == 5


def test_pagerank_matches_reference_power_iteration(spark):
    """3-iteration PageRank on a 4-node graph with a dangling node
    equals a plain-python power iteration, including the uniform
    dangling-mass redistribution."""
    import pytest

    from model_presto_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (0, 3)]  # 3 is dangling
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.node: r.rank for r in pagerank(e, n_iter=3, damping=0.85).collect()}

    n, d = 4, 0.85
    out = {0: [1, 3], 1: [2], 2: [0], 3: []}
    r = {v: 1.0 / n for v in range(n)}
    for _ in range(3):
        dang = sum(r[v] for v in range(n) if not out[v])
        nxt = {}
        for v in range(n):
            contrib = sum(r[u] / len(out[u]) for u in range(n) if v in out[u])
            nxt[v] = (1.0 - d) / n + d * (contrib + dang / n)
        r = nxt
    for v in range(n):
        assert got[v] == pytest.approx(r[v], abs=1e-12)
    # total rank mass is conserved
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_empty_graph(spark):
    from model_presto_spark.operators.graph import pagerank

    e = spark.createDataFrame([], "src bigint, dst bigint")
    assert pagerank(e, n_iter=2).count() == 0


def test_triangle_stats_known_graphs(spark):
    from model_presto_spark.operators.graph import triangle_stats

    # K4: 4 triangles, 6 edges, 12 wedges, clustering 1.0
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    r = triangle_stats(spark.createDataFrame(k4, "src bigint, dst bigint")).first()
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 6, 12, 4)
    assert abs(r.global_clustering - 1.0) < 1e-12

    # path 0-1-2-3: no triangles, 2 wedges
    path = [(0, 1), (1, 2), (2, 3)]
    r = triangle_stats(spark.createDataFrame(path, "src bigint, dst bigint")).first()
    assert r.n_triangles == 0 and r.n_wedges == 2
    assert r.global_clustering == 0.0

    # duplicate + reversed + self-loop inputs normalize away
    messy = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3)]
    r = triangle_stats(spark.createDataFrame(messy, "src bigint, dst bigint")).first()
    assert (r.n_edges, r.n_triangles) == (3, 1)


def test_triangle_stats_matches_naive_on_random_graph(spark):
    import itertools
    import random

    from model_presto_spark.operators.graph import triangle_stats

    rng = random.Random(3)
    edges = {(a, b) for a in range(25) for b in range(a + 1, 25)
             if rng.random() < 0.3}
    adj = {n: set() for n in range(25)}
    for a, b in edges:
        adj[a].add(b); adj[b].add(a)
    naive = sum(
        1 for a, b, c in itertools.combinations(range(25), 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    r = triangle_stats(
        spark.createDataFrame(list(edges), "src bigint, dst bigint")
    ).first()
    assert r.n_triangles == naive


def test_adamic_adar_hand_computed(spark):
    import math

    import pytest

    from model_presto_spark.operators.graph import adamic_adar

    # square 0-1-2-3-0 plus chord 0-2: candidate pair (1,3) shares
    # neighbors 0 (deg 3) and 2 (deg 3); all other non-edges none
    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)]
    out = adamic_adar(
        spark.createDataFrame(edges, "src bigint, dst bigint")
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.u, r.v) == (1, 3) and r.common_neighbors == 2
    assert r.aa_score == pytest.approx(2 / math.log(3), rel=1e-12)
    # existing edges are never suggested even with shared neighbors
    assert all((row.u, row.v) not in {(0, 1), (0, 2)} for row in out)


def test_bfs_levels_golden(spark):
    from model_presto_spark.operators.graph import bfs_levels

    # path 0-1-2-3-4 plus branch 2-9; source 0
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (2, 9)]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.node: r.dist for r in bfs_levels(e, [0], max_hops=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 9: 3}  # 4 is beyond 3 hops
    # multi-source takes the nearer source
    got2 = {r.node: r.dist for r in bfs_levels(e, [0, 4], max_hops=2).collect()}
    assert got2 == {0: 0, 4: 0, 1: 1, 3: 1, 2: 2}


def test_triangle_stats_huge_node_ids(spark):
    """Ordering key must not overflow for ids far beyond 2^32."""
    from model_presto_spark.operators.graph import triangle_stats

    base = 1 << 40
    edges = [(base + a, base + b) for a in range(4) for b in range(4) if a < b]
    r = triangle_stats(
        spark.createDataFrame(edges, "src bigint, dst bigint")
    ).first()
    assert r.n_triangles == 4 and r.n_wedges == 12


def test_weighted_sssp_golden(spark):
    from model_presto_spark.operators.graph import weighted_sssp

    # Directed weighted graph where the cheapest path is NOT the
    # fewest-hop path: 0->2 direct costs 10, 0->1->2 costs 3.
    edges = [
        (0, 2, 10),
        (0, 1, 1),
        (1, 2, 2),
        (2, 3, 1),
        (3, 4, 1),
        (0, 9, 7),
        (0, 9, 5),  # parallel edge collapses to MIN
    ]
    e = spark.createDataFrame(edges, "src bigint, dst bigint, w bigint")
    got = {r.node: r.dist for r in weighted_sssp(e, [0], n_rounds=4).collect()}
    assert got == {0: 0, 1: 1, 2: 3, 3: 4, 4: 5, 9: 5}
    # bounded rounds: with 2 rounds node 4 (needs 4 edges) is absent,
    # and node 3 is exact (3 edges > 2 rounds would miss it, but the
    # 0->2 direct edge reaches it in 2: 10 + 1 = 11)
    got2 = {r.node: r.dist for r in weighted_sssp(e, [0], n_rounds=2).collect()}
    assert got2[2] == 3 and got2[3] == 11 and 4 not in got2
    # multi-source takes the cheaper origin
    got3 = {r.node: r.dist for r in weighted_sssp(e, [0, 3], n_rounds=2).collect()}
    assert got3[4] == 1 and got3[2] == 3
