"""Pin the knn family's distance folds to the DuckDB oracle folds,
and the family's searches to ``knn_join``.

The distance expressions (``functions/vectors.py`` builders, combined
by ``knn._distance_sql``) are pinned BIT-equal to the sequential
``list_reduce`` folds the q35/q40 (cosine, dot) and q45 (squared L2)
oracles grade against, on float32 vectors where a changed cast or
operand order would show. ``knn_join`` and ``ann_lsh_join`` are pinned
to the same rankings computed in DuckDB, including the distance ties
that near-duplicate rows force at the rank boundary. The int8 fold is
pinned to numpy integer math. The IVF and PQ searches, set so that
they score every candidate exactly (every cell probed, a re-rank
shortlist of all candidates), return ``knn_join``'s rows; the PQ
paths keep ids in their input type and refuse more codewords than
their int8 codes can hold.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from model_presto_spark.functions.vectors import sq_euclidean_int_sql
from model_presto_spark.operators.knn import (
    _distance_sql,
    ann_lsh_join,
    build_ivf_index,
    ivf_index_search,
    ivf_knn_join,
    knn_join,
)
from model_presto_spark.operators.pq import (
    build_ivfpq_index,
    ivfpq_search,
    pq_encode,
    pq_knn_join,
    train_pq_codebooks,
)
from model_presto_spark.plans.queries_docs import (
    _DD_BUCKET,
    _DD_DOT,
    _DD_NORM,
    _dd_weights_literal,
)
from model_presto_spark.plans.queries_ml import _SQDIST

DIM = 64  # the oracle folds index generate_series(1, 64)


def _rows():
    vals = np.random.default_rng(7).uniform(-1, 1, (40, DIM)).astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vals)]
    # near-duplicate rows to force distance ties at the rank boundary
    return rows + [(100 + i, list(rows[i][1])) for i in range(4)]


def _dd_distance(a: str, b: str, metric: str) -> str:
    dot = _DD_DOT.format(a=a, b=b)
    if metric == "sqeuclidean":
        return _SQDIST.format(a=a, b=b)
    if metric == "dot":
        return f"-({dot})"
    cos = f"{dot} / ({_DD_NORM.format(a=a)} * {_DD_NORM.format(a=b)})"
    return cos if metric == "cosine_sim" else f"1.0 - {cos}"


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(_rows(), "id INT, vec ARRAY<FLOAT>")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE v (id INTEGER, vec FLOAT[])")
    con.executemany("INSERT INTO v VALUES (?, ?)", _rows())
    yield con
    con.close()


def _duck_topk(duck, pairs_sql: str, score: str, k: int, desc: bool = False):
    order = "DESC" if desc else "ASC"
    rows = duck.execute(
        f"""
        WITH scored AS (
          SELECT p.id AS pid, c.id AS cid, {score} AS s
          FROM {pairs_sql} WHERE p.id <> c.id
        )
        SELECT pid, cid, s, rank FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY pid
                                       ORDER BY s {order}, cid ASC) AS rank
          FROM scored) WHERE rank <= {k}
        """
    ).fetchall()
    return {(p, r): (c, s) for p, c, s, r in rows}


@pytest.mark.parametrize("metric", ["sqeuclidean", "cosine", "dot"])
def test_distance_sql_bit_identical(spark, vecs, duck, metric):
    pairs = vecs.crossJoin(vecs.toDF("id2", "vec2"))
    got = {
        (r[0], r[1]): r[2]
        for r in pairs.selectExpr(
            "id", "id2", _distance_sql("vec", "vec2", metric)
        ).collect()
    }
    want = duck.execute(
        f"SELECT a.id, b.id, {_dd_distance('a.vec', 'b.vec', metric)} "
        "FROM v a, v b"
    ).fetchall()
    # bit-equality: no tolerance
    assert got == {(a, b): d for a, b, d in want}


@pytest.mark.parametrize("metric", ["sqeuclidean", "cosine", "dot"])
def test_knn_join_matches_reference(spark, vecs, duck, metric):
    probes = vecs.where("id < 6").toDF("probe_id", "vec")
    cands = vecs.toDF("cid", "vec")
    got = knn_join(
        probes, cands, "probe_id", "cid", "vec", "vec",
        k=3, metric=metric, exclude_self=True,
    )
    want = _duck_topk(
        duck,
        "(SELECT * FROM v WHERE id < 6) p, v c",
        _dd_distance("p.vec", "c.vec", metric),
        k=3,
    )
    g = {(r.probe_id, r.rank): (r.cid, r.dist) for r in got.collect()}
    assert g == want  # exact float equality, same neighbor ids


def test_ann_lsh_join_matches_reference(spark, vecs, duck):
    got = ann_lsh_join(
        vecs.toDF("probe_id", "vec"), vecs.toDF("cid", "vec"),
        "probe_id", "cid", "vec", "vec", k=2, dim=DIM, planes=8,
    )
    # the q40 oracle's md5-derived hyperplane buckets (64 dims, 8 planes)
    duck.execute(
        f"CREATE OR REPLACE TABLE b AS "
        f"WITH wt AS (SELECT {_dd_weights_literal()} AS w) "
        f"SELECT id, vec, {_DD_BUCKET.format(vec='vec')} AS bucket "
        f"FROM v CROSS JOIN wt"
    )
    want = _duck_topk(
        duck,
        "b p JOIN b c ON p.bucket = c.bucket",
        _dd_distance("p.vec", "c.vec", "cosine_sim"),
        k=2,
        desc=True,
    )
    g = {(r.probe_id, r.rank): (r.cid, r.cosine_sim) for r in got.collect()}
    assert want  # the near-duplicate rows share every bucket
    assert g == want


def test_sq_euclidean_int_sql_matches_numpy(spark):
    rng = np.random.default_rng(3)
    a = rng.integers(-127, 128, (30, 24), dtype=np.int64)
    b = rng.integers(-127, 128, (30, 24), dtype=np.int64)
    a[:, 0], b[:, 0] = 127, -127  # the difference 254 overflows tinyint
    a[:, 1], b[:, 1] = -127, 127
    df = spark.createDataFrame(
        [(i, a[i].tolist(), b[i].tolist()) for i in range(len(a))],
        "i INT, a ARRAY<TINYINT>, b ARRAY<TINYINT>",
    )
    got = dict(df.selectExpr("i", sq_euclidean_int_sql("a", "b")).collect())
    want = ((a - b) ** 2).sum(1).astype(np.float64)
    assert got == {i: want[i] for i in range(len(a))}


N_EXACT, N_LISTS, K = 120, 4, 5


@pytest.fixture(scope="module")
def rand16(spark):
    """120 random 16-d vectors as (vid, vec): 10 probes, all candidates."""
    vals = np.random.default_rng(11).normal(0, 1, (N_EXACT, 16))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vals)],
        "vid BIGINT, vec ARRAY<DOUBLE>",
    )
    return df.where("vid < 10"), df.withColumnRenamed("vid", "cid")


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def _ivf_search(spark, tmp_path, probes, cands):
    path = str(tmp_path / "ivf")
    build_ivf_index(cands, "cid", path, n_lists=N_LISTS)
    return ivf_index_search(
        spark, path, probes, "vid", k=K, n_probe=N_LISTS, exclude_self=True
    )


def _pq_rerank(spark, tmp_path, probes, cands):
    books = train_pq_codebooks(cands, "vec", m=4, n_codes=8)
    return pq_knn_join(
        probes, pq_encode(cands, "cid", "vec", books), "vid", "cid", books,
        k=K, candidates=cands, rerank=N_EXACT, exclude_self=True,
    )


@pytest.mark.parametrize(
    "search",
    [
        lambda spark, tmp_path, probes, cands: ivf_knn_join(
            probes, cands, "vid", "cid", k=K, n_lists=N_LISTS,
            n_probe=N_LISTS, exclude_self=True,
        ),
        _ivf_search,
        _pq_rerank,
    ],
    ids=["ivf_knn_join", "ivf_index_search", "pq_knn_join_rerank"],
)
def test_exhaustive_search_equals_knn_join(spark, rand16, tmp_path, search):
    probes, cands = rand16
    exact = knn_join(probes, cands, "vid", "cid", k=K, exclude_self=True)
    got = search(spark, tmp_path, probes, cands)
    assert _sorted(got) == _sorted(exact)
    assert len(_sorted(exact)) == 10 * K


def test_pq_keeps_string_ids(spark, rand16, tmp_path):
    probes, cands = rand16
    sprobes = probes.selectExpr("concat('v', vid) AS vid", "vec")
    scands = cands.selectExpr("concat('v', cid) AS cid", "vec")
    got = _pq_rerank(spark, tmp_path, sprobes, scands)
    assert got.dtypes[:2] == [("vid", "string"), ("cid", "string")]
    exact = knn_join(sprobes, scands, "vid", "cid", k=K, exclude_self=True)
    assert _sorted(got) == _sorted(exact)

    def ivfpq(p, c, name):
        path = str(tmp_path / name)
        build_ivfpq_index(c, "cid", path, n_lists=N_LISTS, m=4, n_codes=8)
        return ivfpq_search(
            spark, path, p, "vid", k=K, n_probe=N_LISTS, exclude_self=True
        )

    by_str = ivfpq(sprobes, scands, "ivfpq_str")
    assert by_str.dtypes[:2] == [("vid", "string"), ("cid", "string")]
    by_int = ivfpq(probes, cands, "ivfpq_int")
    assert _sorted(by_str) == sorted(
        (f"v{p}", f"v{c}", d, r) for p, c, d, r in _sorted(by_int)
    )


def test_pq_rerank_requires_candidates(spark, rand16):
    probes, cands = rand16
    books = np.zeros((4, 8, 4))
    enc = pq_encode(cands, "cid", "vec", books)
    with pytest.raises(ValueError, match="candidates"):
        pq_knn_join(probes, enc, "vid", "cid", books, k=K, rerank=3 * K)


def test_pq_refuses_codes_past_int8(spark):
    """Codes are stored as tinyint: with more than 128 codewords a code
    would wrap negative and index the wrong LUT entry. The one trainer
    (``train_pq_codebooks`` and ``build_ivfpq_index`` both call it)
    refuses, though 300 distinct vectors could fill 200 codewords."""
    rng = np.random.default_rng(3)
    vecs = spark.createDataFrame(
        [([float(x) for x in v],) for v in rng.normal(size=(300, 4))],
        "vec ARRAY<DOUBLE>",
    )
    with pytest.raises(ValueError, match="n_codes"):
        train_pq_codebooks(vecs, "vec", m=2, n_codes=200)


def test_pq_refuses_fewer_distinct_vectors_than_codes(spark):
    """k-means++ seeding needs n_codes distinct training vectors per
    subspace. With fewer, the trainer raises an error naming n_codes and
    the distinct count, not numpy's "probabilities do not sum to 1"."""
    vecs = spark.createDataFrame(
        [([float(i % 3), 1.0, 2.0, float(i % 3)],) for i in range(30)],
        "vec ARRAY<DOUBLE>",
    )
    with pytest.raises(ValueError, match="n_codes=8 exceeds the 3 distinct"):
        train_pq_codebooks(vecs, "vec", m=2, n_codes=8)
