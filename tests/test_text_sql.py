"""Pin the SQL-string text/dedup expression builders.

Every builder has one (SQL) definition and is pinned to the DuckDB
expression the oracles use for the same value
(``plans/queries_docs.py``), or to a plain-Python reference for the
pair expansions. ``h60_fast_sql`` (xxhash64) has no DuckDB spelling,
so it is pinned to golden values. Rows cover the edge cases: an empty
string, one character, unicode, mixed whitespace and repeated tokens.
Equality is exact — hashes, signatures, band keys and similarity
values, no tolerance. ``array_distinct`` keeps first-occurrence order
and ``list_distinct`` does not, so distinct arrays compare sorted. The
MinHash seed family is also checked for signature quality, on set
pairs of known Jaccard.
"""

from __future__ import annotations

import itertools

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from model_presto_spark.functions import text as T
from model_presto_spark.operators.dedup import (
    _bucket_pairs_sql,
    _chain_pairs_sql,
    _pairs_within_sql,
)
from model_presto_spark.plans import queries_docs as D

ROWS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, ""),
    (4, "a"),
    (5, "  mixed   Whitespace\tand UPPER case  "),
    (6, "héllo wörld ünicode text für tests"),
    (7, "repeat repeat repeat repeat repeat repeat"),
    (8, "the quick brown fox jumps over the lazy dog"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, "id INT, text STRING")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", ROWS)
    yield con
    con.close()


def _spark_vals(df, sql_expr):
    return {r[0]: r[1] for r in df.selectExpr("id", f"{sql_expr} AS v").collect()}


def _duck_vals(duck, dd_expr, source="docs"):
    return dict(duck.execute(f"SELECT id, {dd_expr} AS v FROM {source}").fetchall())


def _sorted(vals):
    return {k: sorted(v) for k, v in vals.items()}


# h60_fast_sql("text") on ROWS, captured from the engine's xxhash64
# spelling before it became the only one
_H60_FAST_GOLDEN = {
    1: 602009340796609484,
    2: 407054259506270368,
    3: 626378765046900484,
    4: 640916708117688524,
    5: 453295472062231767,
    6: 602225748079201624,
    7: 926228794262773223,
    8: 602009340796609484,
}


def test_h60_twins(docs, duck):
    assert _spark_vals(docs, T.h60_sql("text")) == _duck_vals(duck, D.dd_h60("text"))
    assert _spark_vals(docs, T.h60_sql("text", seed=7)) == _duck_vals(
        duck, D.dd_h60("text || '#' || '7'")
    )
    assert _spark_vals(docs, T.h60_fast_sql("text")) == _H60_FAST_GOLDEN
    # the exact-dedup key: normalized once, as the q31/q39 oracles do
    assert _spark_vals(docs, T.fingerprint60_sql("text")) == _duck_vals(
        duck, D._DD_FP
    )


def test_tokens_and_ngrams_twins(docs, duck):
    assert _spark_vals(docs, T.tokens_sql("text")) == _duck_vals(
        duck, D.dd_tokens("text")
    )
    toksed = docs.selectExpr("id", f"{T.tokens_sql('text')} AS toks")
    got = _sorted(_spark_vals(toksed, T.word_ngrams_sql("toks", 3)))
    want = _sorted(_duck_vals(duck, D._DD_GRAMS))
    assert got[3] == []  # a zero-token document has no grams
    assert got == want


def test_shingles_and_hash_twins(docs, duck):
    low = docs.selectExpr("id", "lower(text) AS lc")
    shingles = T.char_shingles_sql("lc", 5)
    assert _sorted(_spark_vals(low, shingles)) == _sorted(
        _duck_vals(duck, D.dd_shingles("text", 5))
    )
    assert _sorted(_spark_vals(low, T.hash_array_sql(shingles))) == _sorted(
        _duck_vals(duck, D.dd_hash_array(D.dd_shingles("text", 5)))
    )
    # all k-grams, repeats kept (q314's frequency input)
    assert _spark_vals(low, T.char_shingles_sql("lc", 3, distinct=False))[7][:4] == [
        "rep", "epe", "pea", "eat"
    ]
    # the xxhash array hashes element by element with h60_fast_sql
    sh = low.selectExpr("id", f"{shingles} AS s")
    per_elem = sh.selectExpr("id", "explode(s) AS e").selectExpr(
        "id", f"{T.h60_fast_sql('e')} AS h"
    )
    want = {}
    for r in per_elem.collect():
        want.setdefault(r[0], []).append(r[1])
    assert _spark_vals(sh, T.hash_array_sql("s", fast=True)) == want


def test_signature_band_jaccard_twins(docs, duck):
    low = docs.selectExpr("id", "lower(text) AS lc")
    hs = low.selectExpr(
        "id", f"{T.hash_array_sql(T.char_shingles_sql('lc', 5))} AS hs"
    )
    duck.execute(
        "CREATE OR REPLACE TABLE hs AS SELECT id, "
        f"{D.dd_hash_array(D.dd_shingles('text', 5))} AS hs FROM docs"
    )
    assert _spark_vals(hs, T.minhash_signature_sql("hs", 16)) == _duck_vals(
        duck, D.dd_minhash("hs", 16), "hs"
    )
    # band keys: the q32 oracle's md5 over each band's comma-joined slice
    sig = hs.selectExpr("id", f"{T.minhash_signature_sql('hs', 16)} AS sig")
    got = {
        i: [(k["band"], k["bucket"]) for k in keys]
        for i, keys in _spark_vals(sig, T.lsh_band_keys_sql("sig", 4, 4)).items()
    }
    dd_keys = (
        "list_transform(generate_series(0, 3), b -> md5(array_to_string("
        "list_transform(sig[b * 4 + 1 : b * 4 + 4], x -> CAST(x AS VARCHAR)), "
        "',')))"
    )
    want = _duck_vals(
        duck, dd_keys, f"(SELECT id, {D.dd_minhash('hs', 16)} AS sig FROM hs)"
    )
    assert got == {i: list(enumerate(v)) for i, v in want.items()}
    # jaccard over every pair (self-pairs, disjoint pairs): the q32
    # oracle's intersect-over-union
    pairs = hs.toDF("id_a", "a").crossJoin(hs.toDF("id_b", "b"))
    got = {
        (r[0], r[1]): r[2]
        for r in pairs.selectExpr("id_a", "id_b", T.jaccard_sql("a", "b")).collect()
    }
    want = duck.execute(
        "SELECT x.id, y.id, CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) "
        "/ (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))) "
        "FROM hs x, hs y"
    ).fetchall()
    assert got == {(a, b): v for a, b, v in want}


def test_minhash_signature_estimates_jaccard(spark):
    """Signature quality of the seed family, on set pairs of known
    Jaccard J (union of 200 random 60-bit element hashes, 200 pairs per
    J): the fraction of equal positions of two 16-hash signatures
    estimates J without bias and with the binomial spread J(1-J)/16 of
    16 independent minima, and no signature takes its first three
    positions (the first LSH band's rows) from one element. A family of
    related seeds (small multipliers of one base hash) fails the last
    two: one element holds the minimum of neighbouring seeds."""
    rng = np.random.default_rng(11)
    union, n_pairs = 200, 200
    rows = []
    for target in (0.2, 0.5, 0.8):
        shared = round(target * union)
        a_end = shared + (union - shared) // 2
        for _ in range(n_pairs):
            h = rng.integers(0, 1 << 60, size=union).tolist()
            rows.append((target, h[:a_end], h[a_end:] + h[:shared]))
    # an element holds positions 0-2 of signature t iff its own 3-hash
    # signature equals them (seed j does not depend on num_hashes)
    one_elem = "CAST(exists({s}, x -> {sig} = slice({t}, 1, 3)) AS INT)".format
    first3 = T.minhash_signature_sql("array(x)", 3)
    pairs = spark.createDataFrame(
        rows, "j DOUBLE, a ARRAY<BIGINT>, b ARRAY<BIGINT>"
    ).selectExpr(
        "j", "a", "b",
        f"{T.minhash_signature_sql('a', 16)} AS sa",
        f"{T.minhash_signature_sql('b', 16)} AS sb",
    ).selectExpr(
        "j",
        f"{T.jaccard_sql('a', 'b')} AS exact",
        "size(filter(zip_with(sa, sb, (x, y) -> x = y), e -> e)) / 16 AS est",
        f"{one_elem(s='a', sig=first3, t='sa')}"
        f" + {one_elem(s='b', sig=first3, t='sb')} AS one_elem",
    )
    stats = pairs.groupBy("j").agg(
        F.avg("exact").alias("exact"),
        F.avg("est").alias("est"),
        F.variance("est").alias("var"),
        F.sum("one_elem").alias("one_elem"),
    ).collect()
    assert sorted(r["j"] for r in stats) == [0.2, 0.5, 0.8]
    for r in stats:
        j = r["j"]
        assert r["exact"] == pytest.approx(j)
        assert abs(r["est"] - j) < 0.05, (j, r["est"])
        assert r["var"] < 1.3 * j * (1 - j) / 16, (j, r["var"])
        assert r["one_elem"] == 0, (j, r["one_elem"])


def test_lang_score_and_quality_twins(docs, duck):
    toksed = docs.selectExpr("id", "text", f"{T.tokens_sql('text')} AS toks")
    for lang in T.LANG_STOPWORDS:
        assert _spark_vals(toksed, T.lang_score_sql("toks", lang)) == _duck_vals(
            duck, D._dd_lang_score(lang)
        )
    # the q37 oracle's feature expressions, before its rounding
    n_chars = "CAST(length(text) AS DOUBLE)"
    n_tok = f"CAST(len({D.dd_tokens('text')}) AS DOUBLE)"
    alpha = "CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)"
    punct = "CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)"
    n_stop = f"CAST({D._dd_lang_score('en')} AS DOUBLE)"
    guard = "CASE WHEN {c} > 0 THEN {v} ELSE 0.0 END"
    dd_feats = {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "alpha_ratio": guard.format(c=n_chars, v=f"{alpha} / {n_chars}"),
        "punct_ratio": guard.format(c=n_chars, v=f"{punct} / {n_chars}"),
        "stopword_ratio": guard.format(c=n_tok, v=f"{n_stop} / {n_tok}"),
        "mean_word_len": guard.format(c=n_tok, v=f"{alpha} / {n_tok}"),
    }
    feats = T.quality_features_sql("text", "toks")
    assert set(feats) == set(dd_feats)
    for k, expr in feats.items():
        assert _spark_vals(toksed, expr) == _duck_vals(
            duck, f"CAST({dd_feats[k]} AS DOUBLE)"
        ), k


def test_pair_expansion_twins(spark):
    id_lists = [[1, 2, 3, 4, 5], [10, 20], [7]]
    df = spark.createDataFrame(
        [(i, ids) for i, ids in enumerate(id_lists)], "id INT, ids ARRAY<BIGINT>"
    )

    def pairs(sql_expr):
        return {
            i: [(p["id_a"], p["id_b"]) for p in v]
            for i, v in _spark_vals(df, sql_expr).items()
        }

    within = {i: list(itertools.combinations(ids, 2)) for i, ids in enumerate(id_lists)}
    chain = {i: list(zip(ids, ids[1:])) for i, ids in enumerate(id_lists)}
    assert pairs(_pairs_within_sql("ids")) == within
    assert pairs(_chain_pairs_sql("ids")) == chain
    # buckets above the cap emit the chain instead of every pair
    assert pairs(_bucket_pairs_sql("ids", 2)) == {0: chain[0], 1: within[1], 2: []}

    # struct members: the id accessor, extra pair fields and the
    # per-pair predicate, against the same itertools reference
    buckets = [
        [(1, 5), (2, 5), (3, 9), (4, 6), (6, 5)],
        [(10, 1), (20, 2)],
        [(7, 0)],
    ]
    sdf = spark.createDataFrame(
        [(i, [{"id": m, "w": w} for m, w in ms]) for i, ms in enumerate(buckets)],
        "id INT, ms ARRAY<STRUCT<id: BIGINT, w: INT>>",
    )
    extra = ("{a}.w + {b}.w AS s", "{b}.id - {a}.id AS gap")
    near = "abs({a}.w - {b}.w) <= 1"

    def struct_pairs(sql_expr, fields=("id_a", "id_b", "s", "gap")):
        return {
            i: [tuple(p[f] for f in fields) for p in v]
            for i, v in _spark_vals(sdf, sql_expr).items()
        }

    def row(a, b):
        return (a[0], b[0], a[1] + b[1], b[0] - a[0])

    s_within = {
        i: [row(a, b) for a, b in itertools.combinations(ms, 2) if abs(a[1] - b[1]) <= 1]
        for i, ms in enumerate(buckets)
    }
    s_chain = {i: [row(a, b) for a, b in zip(ms, ms[1:])] for i, ms in enumerate(buckets)}
    assert 0 < len(s_within[0]) < 10  # the predicate drops some pairs
    assert struct_pairs(_pairs_within_sql("ms", ".id", extra, near)) == s_within
    assert struct_pairs(_chain_pairs_sql("ms", ".id", extra)) == s_chain
    assert struct_pairs(
        _bucket_pairs_sql("ms", 2, ".id", near), ("id_a", "id_b")
    ) == {0: [r[:2] for r in s_chain[0]], 1: [r[:2] for r in s_within[1]], 2: []}
