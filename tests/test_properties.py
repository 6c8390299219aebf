"""Property-based tests (SURVEY §5.4) with hypothesis: the
reference's inline-assert invariants generalized — pad length, mask
budget bounds, split completeness, similarity ranges."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

# One shared tiny settings profile: each example spins Spark jobs, so
# keep example counts small but meaningful.
FAST = settings(max_examples=8, deadline=None)


@given(
    arr=st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=0, max_size=30),
    length=st.integers(1, 24),
)
@FAST
def test_pad_series_length_invariant(spark, arr, length):
    """pad_array invariant (dynamicworld.py:28): non-empty in ->
    exactly ``length`` out; empty stays empty; prefix preserved."""
    from model_presto_spark.operators.timeseries import pad_series

    df = spark.createDataFrame([Row(a=arr)], "a: array<double>")
    out = df.select(pad_series(F.col("a"), length).alias("v")).collect()[0].v
    if not arr:
        assert out == []
    else:
        assert len(out) == length
        assert out[: min(len(arr), length)] == arr[: min(len(arr), length)]
        if len(arr) < length:
            assert all(x == arr[-1] for x in out[len(arr):])


@given(
    n=st.integers(1, 40),
    ratio=st.sampled_from([0.0, 0.25, 0.5, 0.75, 1.0]),
    seed=st.integers(0, 3),
)
@FAST
def test_mask_budget_bounds(spark, n, ratio, seed):
    """Masking budget invariant (masking.py:83): 0 <= budget <= T,
    deterministic in (key, seed)."""
    from model_presto_spark.ml.masking import mask_budget, timestep_mask

    df = spark.range(n)
    out = df.select(
        mask_budget(timestep_mask("id", 12, ratio, seed)).alias("b")
    ).collect()
    assert all(0 <= r.b <= 12 for r in out)
    if ratio == 0.0:
        assert all(r.b == 0 for r in out)


@given(
    fracs=st.sampled_from(
        [{"a": 0.5, "b": 0.5}, {"a": 0.8, "b": 0.1, "c": 0.1}, {"x": 1.0}]
    ),
    n=st.integers(1, 200),
)
@FAST
def test_hash_split_partition_property(spark, fracs, n):
    """Splits are a partition: complete, disjoint, deterministic."""
    from model_presto_spark.operators.splits import hash_split

    df = spark.range(n)
    out = hash_split(df, "id", fracs)
    assert out.count() == n  # complete, one split per row
    names = {r.split for r in out.select("split").distinct().collect()}
    assert names <= set(fracs)


@given(
    a=st.lists(st.text(alphabet="abc", min_size=1, max_size=3),
               min_size=1, max_size=8),
    b=st.lists(st.text(alphabet="abc", min_size=1, max_size=3),
               min_size=1, max_size=8),
)
@FAST
def test_jaccard_range_and_symmetry(spark, a, b):
    from model_presto_spark.functions.text import jaccard_sql

    df = spark.createDataFrame(
        [Row(x=list(set(a)), y=list(set(b)))]
    )
    r = df.select(
        F.expr(jaccard_sql("x", "y")).alias("ab"),
        F.expr(jaccard_sql("y", "x")).alias("ba"),
    ).collect()[0]
    assert 0.0 <= r.ab <= 1.0
    assert r.ab == r.ba
    if set(a) == set(b):
        assert r.ab == 1.0


@given(
    ts=st.lists(st.integers(0, 100_000), min_size=1, max_size=40),
    gap=st.integers(1, 10_000),
)
@FAST
def test_sessionize_matches_linear_reference(spark, ts, gap):
    """Gap sessionization == the obvious single-pass reference over
    the sorted run (one entity; seconds-scale timestamps)."""
    import datetime as dt

    from model_presto_spark.operators.temporal import sessionize

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base + dt.timedelta(seconds=t), i) for i, t in enumerate(sorted(ts))
    ]
    df = spark.createDataFrame(rows, "uid int, ts timestamp, eid int")
    got = {
        r["eid"]: r["session_idx"]
        for r in sessionize(df, "uid", "ts", gap, order_tiebreak="eid").collect()
    }
    # linear reference
    want, sid, prev = {}, 0, None
    for i, t in enumerate(sorted(ts)):
        if prev is None or t - prev > gap:
            sid += 1
        want[i] = sid
        prev = t
    assert got == want


@given(
    pts=st.lists(st.integers(0, 50_000), min_size=0, max_size=25),
    ivs=st.lists(
        st.tuples(st.integers(0, 50_000), st.integers(0, 20_000)),
        min_size=0,
        max_size=10,
    ),
    band=st.integers(60, 7_200),
)
@FAST
def test_interval_join_matches_naive_property(spark, pts, ivs, band):
    """Banded interval join == naive range predicate for arbitrary
    points, intervals (start + nonneg length), and band widths."""
    import datetime as dt

    from model_presto_spark.operators.temporal import interval_join

    base = dt.datetime(2024, 1, 1)
    t = lambda s: base + dt.timedelta(seconds=s)
    pdf = spark.createDataFrame(
        [(i, t(s)) for i, s in enumerate(pts)] or [(0, t(0))][:0],
        "pid int, pt timestamp",
    ) if pts else None
    if not pts or not ivs:
        return  # nothing to compare
    idf = spark.createDataFrame(
        [(j, t(lo), t(lo + ln)) for j, (lo, ln) in enumerate(ivs)],
        "iid int, lo timestamp, hi timestamp",
    )
    banded = interval_join(pdf, idf, "pt", "lo", "hi", band)
    got = sorted((r["iid"], r["pid"]) for r in banded.collect())
    want = sorted(
        (j, i)
        for i, s in enumerate(pts)
        for j, (lo, ln) in enumerate(ivs)
        if lo <= s <= lo + ln
    )
    assert got == want


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=24
        ).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    k=st.integers(2, 6),
)
@FAST
def test_span_dedup_invariants(spark, texts, k):
    """span_dup_stats invariants: every doc appears; n_windows ==
    max(0, n_tok - k + 1); 0 <= dup <= n; fraction consistent; and
    removal keeps a subset of tokens in order."""
    from model_presto_spark.operators.dedup import (
        remove_dup_spans,
        span_dup_stats,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    stats = {r.doc_id: r for r in span_dup_stats(df, k=k).collect()}
    assert set(stats) == set(range(len(texts)))
    for i, t in rows:
        n_tok = len(t.split())
        r = stats[i]
        assert r.n_windows == max(0, n_tok - k + 1)
        assert 0 <= r.dup_windows <= r.n_windows
        if r.n_windows:
            assert abs(r.dup_fraction - r.dup_windows / r.n_windows) < 1e-12
        else:
            assert r.dup_fraction == 0.0
    cleaned = {r.doc_id: r for r in remove_dup_spans(df, k=k).collect()}
    for i, t in rows:
        toks = t.split()
        kept = cleaned[i].text.split() if cleaned[i].text else []
        assert cleaned[i].n_tokens == len(toks)
        assert cleaned[i].n_tokens_kept == len(kept)
        # kept tokens are a subsequence of the original
        it = iter(toks)
        assert all(any(x == y for y in it) for x in kept)


@given(
    vals=st.lists(
        st.floats(-100, 100, allow_nan=False), min_size=1, max_size=25
    ),
    alpha=st.sampled_from([0.1, 0.3, 0.7, 0.95]),
)
@FAST
def test_ewma_bounds_and_first_value(spark, vals, alpha):
    """EWMA stays inside [min, max] of the prefix and starts at the
    first value exactly."""
    rows = [(1, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "uid bigint, t bigint, value double")
    from model_presto_spark.operators.timeseries import ewma

    out = {
        r.t: r.ewma
        for r in ewma(df, "uid", ["t"], "value", alpha=alpha).collect()
    }
    assert out[0] == vals[0]
    for i in range(len(vals)):
        lo, hi = min(vals[: i + 1]), max(vals[: i + 1])
        assert lo - 1e-9 <= out[i] <= hi + 1e-9


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=16,
    ).filter(lambda es: any(a != b for a, b in es)),
)
@FAST
def test_pagerank_mass_and_positivity(spark, edges):
    """PageRank invariants on arbitrary digraphs: ranks positive,
    total mass == 1 (dangling handled), one row per node."""
    es = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(es, "src bigint, dst bigint")
    from model_presto_spark.operators.graph import pagerank

    rows = pagerank(df, n_iter=3).collect()
    nodes = {a for a, b in es} | {b for a, b in es}
    assert {r.node for r in rows} == nodes
    assert all(r.rank > 0 for r in rows)
    assert abs(sum(r.rank for r in rows) - 1.0) < 1e-9


@given(
    vals=st.lists(
        st.floats(-50, 50, allow_nan=False), min_size=1, max_size=30
    ),
    target=st.sampled_from([-5.0, 0.0, 7.5]),
    slack=st.sampled_from([0.0, 1.0]),
)
@FAST
def test_cusum_closed_form_equals_recurrence(spark, vals, target, slack):
    """Property: the window closed form equals the sequential
    max(0, S + y) recurrence for arbitrary series and parameters."""
    from model_presto_spark.operators.timeseries import cusum

    rows = [(1, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "uid bigint, t bigint, value double")
    out = {r.t: r for r in cusum(
        df, "uid", ["t"], "value", target=target, slack=slack
    ).collect()}
    s_up = s_dn = 0.0
    for i, v in enumerate(vals):
        s_up = max(0.0, s_up + (v - target - slack))
        s_dn = max(0.0, s_dn + (target - slack - v))
        assert abs(out[i].cusum_up - s_up) < 1e-6
        assert abs(out[i].cusum_down - s_dn) < 1e-6


@given(
    words_a=st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=20),
    words_b=st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=20),
    shared=st.lists(st.sampled_from("pqrstuvw"), min_size=6, max_size=10),
)
@FAST
def test_winnowing_shared_substring_guarantee(spark, words_a, words_b, shared):
    """Schleimer et al. theorem: any common substring of at least
    w + k - 1 tokens yields at least one common selected fingerprint
    (k=3, w=4 => guarantee length 6; `shared` is drawn from a
    disjoint alphabet so it IS a common substring wherever placed)."""
    from model_presto_spark.operators.dedup import winnow_fingerprints

    text_a = " ".join(words_a + shared)
    text_b = " ".join(shared + words_b)
    docs = spark.createDataFrame(
        [(1, text_a), (2, text_b)], "doc_id bigint, text string"
    )
    fp = winnow_fingerprints(docs, k=3, w=4).collect()
    sets: dict[int, set] = {1: set(), 2: set()}
    for r in fp:
        sets[r["doc_id"]].add(r["whash"])
    assert sets[1] & sets[2]


@given(
    docs_n=st.integers(2, 6),
    k=st.integers(1, 4),
    seed=st.integers(0, 5),
)
@FAST
def test_dsir_sample_is_subset_and_exact_k(spark, docs_n, k, seed):
    """Gumbel-top-k invariants: output ids are a subset of the raw
    corpus, exactly min(k, n) rows, deterministic under the seed."""
    from model_presto_spark.operators.dsir import dsir_sample

    raw = spark.createDataFrame(
        [(i, f"alpha beta doc{i} gamma") for i in range(docs_n)],
        "doc_id bigint, text string",
    )
    target = spark.createDataFrame(
        [(99, "alpha beta gamma")], "doc_id bigint, text string"
    )
    out = dsir_sample(raw, target, k=k, n_buckets=128, seed=seed).collect()
    ids = [r["doc_id"] for r in out]
    assert len(ids) == min(k, docs_n)
    assert set(ids) <= set(range(docs_n))
    again = [
        r["doc_id"]
        for r in dsir_sample(raw, target, k=k, n_buckets=128, seed=seed).collect()
    ]
    assert ids == again


@given(
    vals=st.lists(st.integers(0, 3), min_size=1, max_size=60),
    bucket_w=st.integers(1, 12),
)
@FAST
def test_ordered_run_counts_matches_linear_reference(spark, vals, bucket_w):
    """layout.ordered_run_counts == the linear scan's run count for
    ANY value sequence and ANY monotone bucket width (boundary
    reconciliation must be exact whether runs straddle bucket edges,
    whole buckets are constant, or buckets hold one row)."""
    from model_presto_spark.operators.layout import ordered_run_counts

    expected = 1 + sum(1 for i in range(1, len(vals)) if vals[i] != vals[i - 1])
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k int, v int"
    )
    got = ordered_run_counts(
        df, ["k"], ["v"], F.floor(F.col("k") / bucket_w)
    ).collect()[0]
    assert got.n == len(vals)
    assert got.v_runs == expected


@given(
    series=st.lists(
        st.one_of(st.none(), st.floats(-100, 100, allow_nan=False)),
        min_size=1,
        max_size=25,
    ),
)
@FAST
def test_interpolate_series_matches_linear_reference(spark, series):
    """interpolate_series (reversed-growing-frame forward carries) ==
    the obvious linear-scan gap fill: interior nulls interpolate
    between nearest non-null neighbors, leading/trailing nulls take
    the nearest value, all-null stays null."""
    from model_presto_spark.operators.timeseries import interpolate_series

    def reference(xs):
        n = len(xs)
        out = []
        for i, v in enumerate(xs):
            if v is not None:
                out.append(v)
                continue
            pi = next((j for j in range(i - 1, -1, -1) if xs[j] is not None), None)
            ni = next((j for j in range(i + 1, n) if xs[j] is not None), None)
            if pi is not None and ni is not None:
                out.append(xs[pi] + (xs[ni] - xs[pi]) * (i - pi) / (ni - pi))
            elif pi is not None:
                out.append(xs[pi])
            elif ni is not None:
                out.append(xs[ni])
            else:
                out.append(None)
        return out

    df = spark.createDataFrame(
        [(0, float(i), v) for i, v in enumerate(series)],
        "e int, idx double, v double",
    )
    got = {
        r.idx: r.vf
        for r in interpolate_series(df, "e", "idx", "v", "vf").collect()
    }
    exp = reference(series)
    for i, e in enumerate(exp):
        g = got[float(i)]
        if e is None:
            assert g is None
        else:
            assert g is not None and abs(g - e) < 1e-9, (i, g, e)
