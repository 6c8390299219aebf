"""Operator unit tests with hand-computed goldens (SURVEY §5.1) for
the band-math, split, time-series and connected-components layers."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from model_presto_spark.functions import bands as B
from model_presto_spark.operators import splits as S
from model_presto_spark.operators import timeseries as TS
from model_presto_spark.operators.graph import connected_components


# --- bands ------------------------------------------------------------------


def test_ndvi_golden_and_guard(spark):
    df = spark.createDataFrame(
        [Row(nir=0.8, red=0.4), Row(nir=0.0, red=0.0), Row(nir=0.5, red=-0.5)]
    )
    out = df.select(B.ndvi(F.col("nir"), F.col("red")).alias("v")).collect()
    assert abs(out[0].v - (0.4 / 1.2)) < 1e-15
    assert out[1].v == 0.0  # 0/0 guard
    assert out[2].v == 0.0  # denominator exactly 0


def test_msavi_golden(spark):
    df = spark.createDataFrame([Row(nir=0.66, red=0.22)])
    v = df.select(B.msavi(F.col("nir"), F.col("red")).alias("v")).collect()[0].v
    t = 2 * 0.66 + 1
    expected = (t - (t * t - 8 * (0.66 - 0.22)) ** 0.5) / 2
    assert abs(v - expected) < 1e-12


def test_scale_factors(spark):
    df = spark.createDataFrame([Row(x=10000.0)])
    row = df.select(
        B.scale_landsat_sr(F.col("x")).alias("l"),
        B.scale_s2_sr(F.col("x")).alias("s"),
    ).collect()[0]
    assert abs(row.l - (10000 * 0.0000275 - 0.2)) < 1e-12
    assert row.s == 1.0


def test_normalize_band_array(spark):
    df = spark.createDataFrame([Row(arr=[1.0, 2.0, 3.0])])
    v = df.select(
        B.normalize_band_array(F.col("arr"), (1.0, 0.0, -1.0), (2.0, 2.0, 2.0)).alias(
            "v"
        )
    ).collect()[0].v
    assert v == [1.0, 1.0, 1.0]


def test_tasseled_cap_len_check():
    with pytest.raises(ValueError):
        B.tc_brightness(F.lit(1.0))


# --- splits -----------------------------------------------------------------


def _people(spark, n=400):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 4).alias("label"),
        (F.col("id") % 10).alias("site"),
    )


def test_hash_split_deterministic_and_complete(spark):
    df = _people(spark)
    a = S.hash_split(df, "id", {"train": 0.8, "val": 0.1, "test": 0.1})
    b = S.hash_split(df, "id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert a.collect() == b.collect()  # same key -> same split, always
    counts = {r.split: r.n for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 400
    assert counts["train"] > counts["val"]


def test_hash_split_fraction_validation(spark):
    with pytest.raises(ValueError):
        S.hash_split(_people(spark), "id", {"a": 0.5, "b": 0.6})


def test_stratified_split_exact_per_label(spark):
    df = _people(spark)  # 100 rows per label
    train, rest = S.stratified_split(df, "label", 0.8, seed=7)
    tc = {r.label: r.n for r in train.groupBy("label").agg(F.count("*").alias("n")).collect()}
    rc = {r.label: r.n for r in rest.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert all(tc[l] == 80 for l in tc)
    assert all(rc[l] == 20 for l in rc)
    assert train.count() + rest.count() == 400
    # disjoint
    assert train.join(rest, "id", "inner").count() == 0


def test_group_split_atomic(spark):
    df = _people(spark)
    out = S.group_split(df, "site", {"train": 0.6, "test": 0.4}, seed=3)
    # every site maps to exactly one split
    per_site = out.groupBy("site").agg(F.countDistinct("split").alias("k")).collect()
    assert all(r.k == 1 for r in per_site)
    assert out.count() == 400


def test_per_class_capped_split_counts(spark):
    df = _people(spark)
    out = S.per_class_capped_split(df, "label", "id", 10, 5)
    counts = {
        (r.label, r.split): r.n
        for r in out.groupBy("label", "split").agg(F.count("*").alias("n")).collect()
    }
    for lbl in range(4):
        assert counts[(lbl, "train")] == 10
        assert counts[(lbl, "val")] == 5
        assert counts[(lbl, "test")] == 85


def test_balanced_sample(spark):
    df = spark.range(30).select(
        F.col("id"), F.when(F.col("id") < 10, 1).otherwise(0).alias("y")
    )
    out = S.balanced_sample(df, "y", "id")
    counts = {r.y: r.n for r in out.groupBy("y").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 10, 1: 10}


def test_oversample(spark):
    df = spark.createDataFrame([Row(id=1, times=3), Row(id=2, times=1)])
    assert S.oversample(df, F.col("times")).count() == 4


def test_hash_bucket_range(spark):
    df = spark.range(1000).select(S.hash_bucket(F.col("id"), 8).alias("b"))
    rows = df.agg(F.min("b"), F.max("b"), F.countDistinct("b")).collect()[0]
    assert rows[0] >= 0 and rows[1] <= 7 and rows[2] == 8


# --- timeseries -------------------------------------------------------------


def test_pad_series(spark):
    df = spark.createDataFrame(
        [Row(a=[1.0, 2.0]), Row(a=[1.0, 2.0, 3.0, 4.0]), Row(a=[])],
        "a: array<double>",
    )
    out = [r.v for r in df.select(TS.pad_series(F.col("a"), 3).alias("v")).collect()]
    assert out[0] == [1.0, 2.0, 2.0]  # edge-pad
    assert out[1] == [1.0, 2.0, 3.0]  # truncate
    assert out[2] == []  # empty stays empty


def test_clip_and_cyclic(spark):
    df = spark.createDataFrame([Row(a=[10, 20, 30, 40, 50], m=11, p=3)])
    row = df.select(
        TS.clip_window(F.col("a"), 2, 3).alias("w"),
        TS.cyclic_month(F.col("m"), F.col("p")).alias("c"),
    ).collect()[0]
    assert row.w == [20, 30, 40]
    assert row.c == 2  # (11 + 3) % 12


def test_month_spine(spark):
    n = TS.month_spine(spark, "2024-01-01", "2024-12-01").count()
    assert n == 12


def test_monthly_composite_fill(spark):
    df = spark.createDataFrame(
        [
            Row(k="a", ts="2024-01-10 00:00:00", v=1.0),
            Row(k="a", ts="2024-01-20 00:00:00", v=3.0),
            Row(k="a", ts="2024-03-05 00:00:00", v=7.0),
        ]
    ).withColumn("ts", F.to_timestamp("ts"))
    out = TS.monthly_composite(
        df, ["k"], "ts", "v", agg="median", fill=-1.0,
        spine_start="2024-01-01", spine_end="2024-03-01",
    )
    rows = {str(r.month_start): r.composite for r in out.collect()}
    assert rows["2024-01-01"] == 2.0  # median of 1,3
    assert rows["2024-02-01"] == -1.0  # fallback
    assert rows["2024-03-01"] == 7.0


def test_stride_sample(spark):
    df = spark.range(100).select(
        (F.col("id") % 10).alias("r"), (F.col("id") / 10).cast("int").alias("c")
    )
    assert TS.stride_sample(df, "r", "c", 5).count() == 4


def test_patch_pool(spark):
    df = spark.createDataFrame(
        [Row(i=0, j=0, v=1.0), Row(i=0, j=1, v=3.0), Row(i=2, j=0, v=10.0)]
    )
    out = {
        (r.patch_i, r.patch_j): r.pooled
        for r in TS.patch_pool(df, "i", "j", "v", 2).collect()
    }
    assert out[(0, 0)] == 2.0
    assert out[(1, 0)] == 10.0


# --- connected components ---------------------------------------------------


def _cc_pairs(spark, id_type):
    """40-node chain, a 5-clique and an isolated pair, with the edges
    of the chain pointing both ways; string ids are zero-padded so
    their order is the numeric one."""
    edges = [(i, i + 1) if i % 2 else (i + 1, i) for i in range(39)]
    edges += [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]
    edges += [(201, 200)]
    if id_type == "string":
        edges = [(f"{a:04d}", f"{b:04d}") for a, b in edges]
    return spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}")


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_connected_components_id_types(spark, id_type):
    out = connected_components(_cc_pairs(spark, id_type)).collect()
    expect = {i: 0 for i in range(40)}
    expect.update({i: 100 for i in range(100, 105)})
    expect.update({200: 200, 201: 200})
    assert {int(r.id): int(r.comp) for r in out} == expect


def test_connected_components_raises_at_round_cap(spark):
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(_cc_pairs(spark, "long"), max_iter=1)


# --- dedup band stage -------------------------------------------------------


def _near_dup_docs(spark):
    """Filler documents plus planted near-copies of three of them."""
    words = [f"w{j}" for j in range(400)]
    rows = [(i, " ".join(words[i * 10:i * 10 + 25])) for i in range(30)]
    for k, src in enumerate((3, 11, 20)):
        text = rows[src][1].split()
        text[k + 5] = "changed"
        rows.append((100 + k, " ".join(text)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_band_stage_validates_bands(spark):
    """bands must lie in [1, num_hashes]: more bands than hashes used
    to give empty bands whose keys every document shares."""
    from model_presto_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_containment_pairs,
    )

    docs = _near_dup_docs(spark)
    for bands in (0, 8):
        with pytest.raises(ValueError, match="bands"):
            minhash_lsh_pairs(
                docs, "doc_id", "text", num_hashes=4, bands=bands,
                signature_screen=None,
            )
    with pytest.raises(ValueError, match="bands"):
        ngram_containment_pairs(
            docs, "doc_id", "text", candidates="lsh", num_hashes=16, bands=32
        )


def test_minhash_zero_screen_matches_unscreened(spark):
    """A screen of 0 keeps every bucket pair, so the (id, sig) struct
    members must yield exactly the pairs and scores of bare ids."""
    from model_presto_spark.operators.dedup import minhash_lsh_pairs

    docs = _near_dup_docs(spark)

    def pairs(screen):
        out = minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, signature_screen=screen
        ).collect()
        return {(r.id_a, r.id_b): r.jaccard_sim for r in out}

    unscreened = pairs(None)
    assert {(3, 100), (11, 101), (20, 102)} <= set(unscreened)
    assert pairs(0.0) == unscreened
