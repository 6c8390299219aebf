"""ML-surface tests: encoder UDF plumbing, masking properties,
metric aggregates, kNN classification (SURVEY §2.10)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from model_presto_spark.ml import masking as M
from model_presto_spark.ml import metrics as MET
from model_presto_spark.ml.encoder import (
    EMBED_DIM,
    NUM_TIMESTEPS,
    add_embeddings,
    encode_batch,
    make_weights,
)


def _series_df(spark, n=8, bands=18, seed=1):
    rng = np.random.default_rng(seed)
    rows = [
        Row(
            pid=i,
            ts=[[float(v) for v in rng.standard_normal(bands)] for _ in range(NUM_TIMESTEPS)],
            month=int(i % 12),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


# --- encoder ---------------------------------------------------------------


def test_encode_batch_shape_and_determinism():
    wt = make_weights()
    rng = np.random.default_rng(0)
    x = rng.standard_normal((4, NUM_TIMESTEPS, 18)).astype(np.float32)
    m = np.array([0, 3, 6, 9])
    a = encode_batch(x, m, wt)
    b = encode_batch(x, m, wt)
    assert a.shape == (4, EMBED_DIM)
    assert np.array_equal(a, b)
    # month offset changes the embedding (positional encoding applied)
    c = encode_batch(x, (m + 1) % 12, wt)
    assert not np.array_equal(a, c)


def test_encode_batch_masked_pooling():
    wt = make_weights()
    x = np.ones((1, NUM_TIMESTEPS, 18), dtype=np.float32)
    full = encode_batch(x, np.array([0]), wt)
    mask = np.zeros((1, NUM_TIMESTEPS), dtype=bool)
    mask[0, 6:] = True
    half = encode_batch(x, np.array([0]), wt, mask=mask)
    assert half.shape == (1, EMBED_DIM)
    assert not np.array_equal(full, half)


def test_add_embeddings_udf(spark):
    df = _series_df(spark, n=6)
    out = add_embeddings(df, "ts", "month")
    rows = out.select("pid", "embedding").orderBy("pid").collect()
    assert all(len(r.embedding) == EMBED_DIM for r in rows)
    # distributed result matches local forward pass exactly
    wt = make_weights()
    local = encode_batch(
        np.stack([np.array(r.ts, dtype=np.float32) for r in df.orderBy("pid").collect()]),
        np.array([r.month for r in df.orderBy("pid").collect()]),
        wt,
    )
    got = np.stack([np.array(r.embedding, dtype=np.float32) for r in rows])
    assert np.allclose(local, got, atol=1e-5)


# --- masking ---------------------------------------------------------------


def test_timestep_mask_deterministic(spark):
    df = spark.range(50).select(F.col("id"))
    m1 = df.select(M.timestep_mask("id", 12, 0.5, seed=7).alias("m")).collect()
    m2 = df.select(M.timestep_mask("id", 12, 0.5, seed=7).alias("m")).collect()
    assert m1 == m2
    m3 = df.select(M.timestep_mask("id", 12, 0.5, seed=8).alias("m")).collect()
    assert m1 != m3
    # ratio roughly holds over many draws
    total = sum(sum(r.m) for r in m1)
    assert 0.35 < total / (50 * 12) < 0.65


def test_chunk_mask_contiguous(spark):
    df = spark.range(20)
    rows = df.select(
        M.chunk_timestep_mask("id", 12, 6, seed=3).alias("m")
    ).collect()
    for r in rows:
        assert sum(r.m) == 6
        first = r.m.index(True)
        assert all(r.m[first : first + 6])


def test_band_group_mask_groups_together(spark):
    df = spark.range(30)
    rows = df.select(
        M.band_group_mask("id", (3, 2, 4), 0.5, seed=1).alias("m")
    ).collect()
    for r in rows:
        g1, g2, g3 = r.m[0:3], r.m[3:5], r.m[5:9]
        assert len(set(g1)) == 1 and len(set(g2)) == 1 and len(set(g3)) == 1


def test_rc_stream_extends_timestep_stream(spark):
    """q46's shared-draw-stream rewrite leans on this invariant: with
    group_sizes=(1,1,1) the flattened random_combinations grid's draw
    index i = t*3+g runs 0..35 over the SAME h60(key||'_'||i) stream
    that timestep_mask uses for t = 0..11, so the timestep mask IS the
    first 12 flags of the flattened rc grid. If either helper changes
    its draw-key format, this must fail before the q46 oracle does."""
    df = spark.range(40)
    rows = df.select(
        M.timestep_mask("id", 12, 0.5, seed=0).alias("ts"),
        F.flatten(
            M.random_combinations_mask(
                "id", 12, group_sizes=(1, 1, 1), ratio=0.5, seed=0
            )
        ).alias("rc"),
    ).collect()
    for r in rows:
        assert r.ts == r.rc[:12]
        assert len(r.rc) == 36


def test_apply_series_mask(spark):
    df = spark.createDataFrame(
        [Row(ts=[[1.0, 2.0], [3.0, 4.0]], m=[True, False])]
    )
    out = df.select(M.apply_series_mask(F.col("ts"), F.col("m")).alias("v")).collect()
    assert out[0].v == [[0.0, 0.0], [3.0, 4.0]]
    b = df.select(M.mask_budget(F.col("m")).alias("n")).collect()[0].n
    assert b == 1


# --- metrics ---------------------------------------------------------------


def _pred_df(spark):
    # hand case: labels/preds with known confusion
    rows = [
        (1, 1), (1, 1), (1, 0),          # tp=2 fn=1
        (0, 0), (0, 0), (0, 0), (0, 1),  # tn=3 fp=1
    ]
    return spark.createDataFrame(rows, "label: int, pred: int")


def test_binary_metrics_golden(spark):
    r = MET.binary_metrics(_pred_df(spark), "label", "pred").collect()[0]
    assert (r.tp, r.fp, r.fn, r.tn) == (2, 1, 1, 3)
    assert abs(r.accuracy - 5 / 7) < 1e-12
    assert abs(r.precision - 2 / 3) < 1e-12
    assert abs(r.recall - 2 / 3) < 1e-12
    assert abs(r.f1 - 2 / 3) < 1e-9


def test_multiclass_f1_golden(spark):
    df = spark.createDataFrame(
        [(0, 0), (0, 0), (0, 1), (1, 1), (1, 0), (2, 2)], "label: int, pred: int"
    )
    rows = {r.cls: r for r in MET.multiclass_f1(df, "label", "pred").collect()}
    assert rows[0].support == 3 and abs(rows[0].precision - 2 / 3) < 1e-12
    assert abs(rows[0].recall - 2 / 3) < 1e-12
    assert rows[2].f1 == 1.0


def test_regression_metrics_golden(spark):
    df = spark.createDataFrame(
        [(1.0, 1.5), (2.0, 2.0), (3.0, 2.5)], "label: double, pred: double"
    )
    r = MET.regression_metrics(df, "label", "pred").collect()[0]
    assert abs(r.mse - (0.25 + 0 + 0.25) / 3) < 1e-12
    assert abs(r.mae - (0.5 + 0 + 0.5) / 3) < 1e-12
    # ss_res = 0.5, ss_tot = 2 -> r2 = 0.75
    assert abs(r.r2 - 0.75) < 1e-12


def test_cohens_kappa_golden(spark):
    # perfect agreement -> kappa 1
    df = spark.createDataFrame([(0, 0), (1, 1), (0, 0)], "label: int, pred: int")
    assert MET.cohens_kappa(df, "label", "pred").collect()[0].kappa == pytest.approx(1.0)


# --- knn classify ----------------------------------------------------------


def test_knn_classify_golden(spark):
    from model_presto_spark.operators.knn import knn_classify

    cands = spark.createDataFrame(
        [
            Row(cid=1, vec=[0.0, 0.0], y=0),
            Row(cid=2, vec=[0.1, 0.0], y=0),
            Row(cid=3, vec=[5.0, 5.0], y=1),
            Row(cid=4, vec=[5.1, 5.0], y=1),
            Row(cid=5, vec=[5.0, 5.1], y=1),
        ]
    )
    probes = spark.createDataFrame([Row(pid=100, vec=[4.9, 4.9])])
    out = knn_classify(
        probes, cands, "pid", "cid", "y", k=3
    ).collect()
    assert out[0].predicted == 1 and out[0].votes == 3


def test_random_combinations_mask_group_sharing(spark):
    """All bands of a group at a timestep share one draw; different
    (t, g) cells draw independently; the whole thing is deterministic."""
    from model_presto_spark.ml.masking import random_combinations_mask

    df = spark.range(50).select(F.col("id").alias("k"))
    m = random_combinations_mask(
        "k", num_timesteps=6, group_sizes=(2, 3), ratio=0.5, seed=1
    )
    rows = df.select(m.alias("m")).collect()
    again = df.select(m.alias("m")).collect()
    assert [r.m for r in rows] == [r.m for r in again]  # deterministic
    saw_intra_t_diff = False
    for r in rows:
        assert len(r.m) == 6
        for t_flags in r.m:
            assert len(t_flags) == 5
            assert t_flags[0] == t_flags[1]  # group 0 (2 bands) shares
            assert t_flags[2] == t_flags[3] == t_flags[4]  # group 1 shares
            if t_flags[0] != t_flags[2]:
                saw_intra_t_diff = True
    assert saw_intra_t_diff  # groups draw independently within a timestep
    # roughly half the tokens masked across keys
    total = sum(f for r in rows for tf in r.m for f in (tf[0], tf[2]))
    assert 0.3 < total / (50 * 6 * 2) < 0.7


def test_apply_token_mask_cells(spark):
    from model_presto_spark.ml.masking import apply_token_mask

    df = spark.createDataFrame(
        [([[1.0, 2.0], [3.0, 4.0]], [[True, False], [False, True]])],
        "series array<array<double>>, m array<array<boolean>>",
    )
    out = df.select(
        apply_token_mask(F.col("series"), F.col("m"), sentinel=0.0).alias("s")
    ).collect()[0].s
    assert out == [[0.0, 2.0], [3.0, 0.0]]


# --- MAE reconstruction (M2) ----------------------------------------------


def test_reconstruct_batch_masked_mse():
    from model_presto_spark.ml.encoder import reconstruct_batch

    wt = make_weights()
    rng = np.random.default_rng(3)
    x = rng.standard_normal((4, NUM_TIMESTEPS, 18)).astype(np.float32)
    months = np.array([0, 2, 4, 6])
    mask = np.zeros((4, NUM_TIMESTEPS), dtype=bool)
    mask[:, ::3] = True
    recon, mse = reconstruct_batch(x, months, wt, mask)
    assert recon.shape == x.shape
    assert mse.shape == (4,)
    assert (mse > 0).all()
    # hand-check row 0: mse over masked cells only
    sq = (recon[0] - x[0]) ** 2
    want = sq[mask[0]].mean()
    assert np.isclose(mse[0], want, atol=1e-5)
    # empty mask -> 0.0, not NaN
    _, mse0 = reconstruct_batch(
        x, months, wt, np.zeros((4, NUM_TIMESTEPS), dtype=bool)
    )
    assert np.array_equal(mse0, np.zeros(4, dtype=np.float32))


def test_add_reconstruction_error_udf(spark):
    from model_presto_spark.ml.encoder import (
        add_reconstruction_error,
        reconstruct_batch,
    )
    from model_presto_spark.ml.masking import timestep_mask

    df = _series_df(spark, n=6).withColumn(
        "mask", timestep_mask("CAST(pid AS STRING)", ratio=0.4, seed=11)
    )
    out = (
        add_reconstruction_error(df, "ts", "month", "mask")
        .select("pid", "mask", "recon_mse")
        .orderBy("pid")
        .collect()
    )
    # distributed result matches the local forward pass exactly
    src = df.orderBy("pid").collect()
    x = np.stack([np.array(r.ts, dtype=np.float32) for r in src])
    months = np.array([r.month for r in src])
    mask = np.stack([np.array(r.mask, dtype=bool) for r in src])
    _, want = reconstruct_batch(x, months, make_weights(), mask)
    got = np.array([r.recon_mse for r in out], dtype=np.float32)
    assert np.allclose(got, want, atol=1e-5)


def test_ranking_metrics_golden(spark):
    import math

    from model_presto_spark.ml.metrics import ranking_metrics

    # q1: rel docs {a, b}; run ranks a@1, x@2, b@3
    # q2: rel docs {c};    run ranks y@1, z@2 (miss)
    # q3: rel docs {d};    not in the run at all
    ranked = spark.createDataFrame(
        [("q1", "a", 1), ("q1", "x", 2), ("q1", "b", 3),
         ("q2", "y", 1), ("q2", "z", 2)],
        "query_id string, doc_id string, rank int",
    )
    qrels = spark.createDataFrame(
        [("q1", "a"), ("q1", "b"), ("q2", "c"), ("q3", "d")],
        "query_id string, doc_id string",
    )
    m = ranking_metrics(ranked, qrels, k=10).collect()[0]
    assert m.n_queries == 3
    assert abs(m.mrr - (1.0 + 0.0 + 0.0) / 3) < 1e-12
    assert abs(m.recall_at_k - (1.0 + 0.0 + 0.0) / 3) < 1e-12
    dcg1 = 1 / math.log2(2) + 1 / math.log2(4)
    idcg1 = 1 / math.log2(2) + 1 / math.log2(3)
    assert abs(m.ndcg_at_k - (dcg1 / idcg1) / 3) < 1e-12


def test_embedding_outliers_planted(spark):
    import numpy as np

    from model_presto_spark.ml.embedding_qc import (
        embedding_outliers,
        label_centroids,
    )

    rng = np.random.default_rng(5)
    rows = []
    for lab, center in (("a", 0.0), ("b", 50.0)):
        for i in range(30):
            rows.append(
                (len(rows), lab,
                 (center + rng.normal(0, 1, 8)).tolist())
            )
    # planted outlier: label 'a' vector sitting at label b's center
    rows.append((len(rows), "a", (np.full(8, 50.0)).tolist()))
    df = spark.createDataFrame(rows, "vid bigint, label string, vec array<double>")

    cents = {r.label: r for r in label_centroids(df, "vec", "label").collect()}
    assert cents["b"].n_vecs == 30 and len(cents["b"].centroid) == 8
    assert abs(np.mean(cents["b"].centroid) - 50.0) < 1.0

    out = embedding_outliers(df, "vid", "vec", "label").collect()
    flagged = [r.vid for r in out if r.is_outlier]
    assert flagged == [60]
    z = {r.vid: r.z for r in out}
    assert z[60] > 4.0


def test_calibration_bins_golden(spark):
    """Perfectly calibrated bins have ~zero gap; a planted
    overconfident bin dominates the ECE."""
    import pytest

    rows = []
    # bin [0.6, 0.7): conf 0.65, acc 0.65 over 20 rows -> calibrated
    for i in range(20):
        rows.append((0.65, 1.0 if i < 13 else 0.0))
    # bin [0.9, 1.0): conf 0.95, acc 0.25 over 20 rows -> gap 0.7
    for i in range(20):
        rows.append((0.95, 1.0 if i < 5 else 0.0))
    df = spark.createDataFrame(rows, "p double, y double")
    from model_presto_spark.ml.metrics import calibration_bins

    out = {r.bin: r for r in calibration_bins(df, "p", "y", 10).collect()}
    assert set(out) == {6, 9}
    assert out[6].abs_gap == pytest.approx(0.0)
    assert out[9].abs_gap == pytest.approx(0.7)
    for r in out.values():
        assert r.ece == pytest.approx(0.35)  # (0*20 + 0.7*20) / 40


def test_ab_test_detects_planted_effect(spark):
    import pytest

    from model_presto_spark.ml.metrics import ab_test

    # A converts 80/100, B converts 40/100 -> decisive z
    rows = [("A", 1.0)] * 80 + [("A", 0.0)] * 20
    rows += [("B", 1.0)] * 40 + [("B", 0.0)] * 60
    df = spark.createDataFrame(rows, "grp string, y double")
    r = ab_test(df, "grp", "y").first()
    assert (r.n_a, r.n_b) == (100, 100)
    assert r.conv_a == pytest.approx(0.8) and r.conv_b == pytest.approx(0.4)
    assert r.lift == pytest.approx(0.4)
    # hand-computed pooled z: p=0.6, se=sqrt(0.24*0.02)
    import math

    z = 0.4 / math.sqrt(0.6 * 0.4 * (1 / 100 + 1 / 100))
    assert r.z == pytest.approx(z, abs=1e-6)
    assert r.significant

    # identical groups -> z == 0, not significant
    null_df = spark.createDataFrame(
        [("A", 1.0), ("A", 0.0), ("B", 1.0), ("B", 0.0)], "grp string, y double"
    )
    r0 = ab_test(null_df, "grp", "y").first()
    assert r0.z == 0.0 and not r0.significant

    with pytest.raises(ValueError, match="exactly 2"):
        ab_test(spark.createDataFrame([("A", 1.0)], "grp string, y double"),
                "grp", "y")
