"""Unit tests for the round-5 operators: character-class census,
Flesch readability, cross-source overlap. (Oracle parity of the
q130-q132 query forms is covered by test_queries_oracle.py; these
pin operator semantics on hand-computed fixtures.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_charclass_counts_exact(spark):
    from model_presto_spark.functions.text import charclass_counts

    df = spark.createDataFrame([("Ab1. x\ty\n",)], "text string")
    cc = charclass_counts(F.col("text"))
    row = df.select(
        cc["n_chars"].alias("c"),
        cc["n_upper"].alias("u"),
        cc["n_digit"].alias("d"),
        cc["n_punct"].alias("p"),
        cc["n_space"].alias("s"),
    ).first()
    assert (row.c, row.u, row.d, row.p, row.s) == (9, 1, 1, 1, 3)


def test_charclass_empty_text_has_zero_ratios(spark):
    from model_presto_spark.functions.text import charclass_counts

    df = spark.createDataFrame([("",)], "text string")
    cc = charclass_counts(F.col("text"))
    row = df.select(cc["upper_ratio"].alias("r")).first()
    assert row.r == 0.0


def test_readability_counts(spark):
    from model_presto_spark.functions.text import readability_features_sql

    # 4 words, 2 sentence runs ("." and "!?"), syllable groups:
    # "the"->e(1), "cat"->a(1), "ran"->a(1), "away"->a,ay(2) = 5
    df = spark.createDataFrame([("The cat ran. away!?",)], "text string")
    rf = readability_features_sql("text")
    row = df.selectExpr(
        f"{rf['n_words']} AS w",
        f"{rf['n_sentences']} AS s",
        f"{rf['n_syllables']} AS y",
        f"{rf['flesch']} AS f",
    ).first()
    assert (row.w, row.s, row.y) == (4, 2, 5)
    expected = 206.835 - 1.015 * (4 / 2) - 84.6 * (5 / 4)
    assert abs(row.f - expected) < 1e-9


def test_readability_min_one_sentence(spark):
    from model_presto_spark.functions.text import readability_features_sql

    df = spark.createDataFrame([("no terminator here",)], "text string")
    rf = readability_features_sql("text")
    assert df.selectExpr(f"{rf['n_sentences']} AS s").first().s == 1


def test_source_overlap_jaccard(spark):
    from model_presto_spark.operators.dedup import source_overlap

    rows = [
        ("a", "shared doc one"),
        ("a", "only in a"),
        ("b", "Shared   doc ONE"),  # normalizes equal to a's first doc
        ("b", "only in b"),
        ("b", "also only b"),
        ("c", "nothing common"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {
        (r.source_a, r.source_b): r
        for r in source_overlap(df, "source", "text").collect()
    }
    assert set(out) == {("a", "b")}
    r = out[("a", "b")]
    # |A|=2, |B|=3, shared=1 -> jaccard = 1/4
    assert (r.n_shared, r.n_a, r.n_b) == (1, 2, 3)
    assert abs(r.jaccard - 0.25) < 1e-12


def test_source_overlap_fingerprints_once(spark):
    """The overlap key is exact_dedup's fingerprint. Spark's trim strips
    only spaces, so a tab-padded body keeps edge spaces after one
    normalization and must not match its unpadded twin."""
    from model_presto_spark.operators.dedup import exact_dedup, source_overlap

    rows = [
        ("a", 1, "\tHello  World\n"),
        ("b", 2, "hello world"),
        ("c", 3, "\thello world\n"),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id int, text string")
    out = source_overlap(df, "source", "text").collect()
    assert [(r.source_a, r.source_b, r.n_shared) for r in out] == [("a", "c", 1)]
    assert exact_dedup(df, "doc_id", "text").count() == 2


def test_source_overlap_prefix_tokens(spark):
    from model_presto_spark.operators.dedup import source_overlap

    rows = [
        ("a", "alpha beta gamma TAIL-A unique"),
        ("b", "alpha beta gamma other tail entirely"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    full = source_overlap(df, "source", "text").count()
    lead = source_overlap(df, "source", "text", prefix_tokens=3).collect()
    assert full == 0  # full bodies differ
    assert len(lead) == 1 and lead[0].n_shared == 1


# ---------------------------------------------------------------------------
# stats.py / temporal.py / geo.py round-5 additions
# ---------------------------------------------------------------------------
def test_weighted_median_hand_computed(spark):
    from model_presto_spark.operators.stats import weighted_median

    # g: values 1,2,3 with weights 1,1,10 -> cum 1,2,12 tot 12 ->
    # first cum*2>=12 is value 3
    df = spark.createDataFrame(
        [("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 10.0),
         ("h", 5.0, 2.0), ("h", 7.0, 2.0)],
        "grp string, v double, w double",
    )
    out = {r.grp: r.weighted_median
           for r in weighted_median(df, "grp", "v", "w").collect()}
    assert out["g"] == 3.0
    assert out["h"] == 5.0  # lower weighted median at the 50% boundary


def test_clamped_running_balance_matches_recurrence(spark):
    import random

    from model_presto_spark.operators.stats import clamped_running_balance

    rng = random.Random(7)
    rows = [("u", i, rng.uniform(-5, 4)) for i in range(60)]
    df = spark.createDataFrame(rows, "e string, i int, d double")
    got = (
        clamped_running_balance(df, "e", ["i"], "d")
        .orderBy("i")
        .select("balance")
        .collect()
    )
    bal, want = 0.0, []
    for _, _, d in rows:
        bal = max(0.0, bal + d)
        want.append(bal)
    for g, w in zip(got, want):
        assert abs(g.balance - w) < 1e-9


def test_theil_sen_resists_outlier(spark):
    from model_presto_spark.operators.stats import theil_sen_slope

    # y = 2x except one wild outlier; OLS would bend, Theil-Sen won't
    rows = [("g", float(x), 2.0 * x) for x in range(10)]
    rows[5] = ("g", 5.0, 500.0)
    df = spark.createDataFrame(rows, "grp string, x double, y double")
    slope = theil_sen_slope(df, "grp", "x", "y").first().ts_slope
    assert abs(slope - 2.0) < 1e-9


def test_max_concurrency_exclusive_end(spark):
    from model_presto_spark.operators.temporal import max_concurrency

    # [0,10) [10,20) never overlap; [5,15) overlaps both
    df = spark.createDataFrame(
        [("d", 1, 0.0, 10.0), ("d", 2, 10.0, 20.0), ("d", 3, 5.0, 15.0)],
        "day string, id int, s double, e double",
    )
    out = max_concurrency(df, "s", "e", ["day"], ["id"]).first()
    assert out.peak_concurrency == 2


def test_grid_cell16_interleaves(spark):
    from model_presto_spark.functions.geo import grid_cell16
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(3, 1)], "qlat int, qlon int")
    # lat=0b11 on odd bits -> 0b1010; lon=0b01 on even bits -> 0b0001
    cell = df.select(grid_cell16(F.col("qlat"), F.col("qlon")).alias("c")).first().c
    assert cell == 0b1011


def test_hits_integer_scores(spark):
    from model_presto_spark.operators.graph import hits

    # u1 -> {v1, v2}, u2 -> {v1}: a1 = indeg: v1=2, v2=1
    # h2(u1) = a1(v1)+a1(v2) = 3; h2(u2) = 2
    # a2(v1) = h2(u1)+h2(u2) = 5; a2(v2) = h2(u1) = 3
    edges = spark.createDataFrame(
        [("u1", "v1"), ("u1", "v2"), ("u2", "v1")], "src string, dst string"
    )
    out = {r.dst: r for r in hits(edges, "src", "dst", iterations=2).collect()}
    assert out["v1"].authority_raw == 5
    assert out["v2"].authority_raw == 3
    assert abs(out["v1"].authority - 5 / 8) < 1e-12


def test_grid_density_clusters_adjacency(spark):
    from model_presto_spark.operators.graph import grid_density_clusters

    # L-shaped blob + singleton + horizontal pair
    cells = spark.createDataFrame(
        [(0, 0), (0, 1), (1, 1), (5, 5), (9, 9), (9, 10)], "r int, c int"
    )
    out = grid_density_clusters(cells, "r", "c", grid_w=32)
    comp = {r.cell_id: r.cluster for r in out.collect()}
    assert comp[0] == comp[1] == comp[33]  # L-shape merges
    assert comp[165] == 165  # isolated dense cell = singleton
    assert comp[297] == comp[298] and comp[297] != comp[0]


def test_grid_density_no_diagonal_merge(spark):
    from model_presto_spark.operators.graph import grid_density_clusters

    cells = spark.createDataFrame([(0, 0), (1, 1)], "r int, c int")
    out = grid_density_clusters(cells, "r", "c", grid_w=32).collect()
    assert len({r.cluster for r in out}) == 2  # diagonals don't touch


def test_ewma_matches_pandas_ewm(spark):
    """ewma() claims pandas ewm(adjust=True).mean() semantics — pin
    it against the real thing on a random series."""
    import random

    import pandas as pd

    rng = random.Random(31)
    vals = [rng.uniform(-10, 10) for _ in range(40)]
    df = spark.createDataFrame(
        [("u", i, v) for i, v in enumerate(vals)], "e string, i int, v double"
    )
    from model_presto_spark.operators.timeseries import ewma

    got = [
        r.ewma
        for r in ewma(df, "e", ["i"], "v", alpha=0.25)
        .orderBy("i")
        .collect()
    ]
    want = pd.Series(vals).ewm(alpha=0.25, adjust=True).mean().tolist()
    assert all(abs(g - w) < 1e-9 for g, w in zip(got, want))


def test_weighted_median_matches_numpy_style(spark):
    """Lower weighted median == first value whose cumulative weight
    reaches half the total, on random integer weights."""
    import random

    rng = random.Random(13)
    rows = [("g", rng.uniform(0, 100), float(rng.randint(1, 9)))
            for _ in range(200)]
    df = spark.createDataFrame(rows, "grp string, v double, w double")
    from model_presto_spark.operators.stats import weighted_median

    got = weighted_median(df, "grp", "v", "w").first().weighted_median
    srt = sorted(rows, key=lambda r: (r[1], r[2]))
    tot = sum(r[2] for r in rows)
    cum = 0.0
    want = None
    for _, v, w in srt:
        cum += w
        if cum * 2 >= tot:
            want = v
            break
    assert got == want


def test_max_concurrency_matches_brute_force(spark):
    import random

    rng = random.Random(99)
    ivs = []
    for i in range(120):
        s = rng.uniform(0, 100)
        ivs.append(("d", i, s, s + rng.uniform(1, 25)))
    df = spark.createDataFrame(ivs, "day string, id int, s double, e double")
    from model_presto_spark.operators.temporal import max_concurrency

    got = max_concurrency(df, "s", "e", ["day"], ["id"]).first().peak_concurrency
    # brute force: for every start point, count open intervals
    want = max(
        sum(1 for (_, _, s2, e2) in ivs if s2 <= s < e2) for (_, _, s, _) in ivs
    )
    assert got == want
