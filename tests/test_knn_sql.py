"""Pin the knn family's distance folds to the DuckDB oracle folds.

The distance expressions (``functions/vectors.py`` builders, combined
by ``knn._distance_sql``) are pinned BIT-equal to the sequential
``list_reduce`` folds the q35/q40 (cosine, dot) and q45 (squared L2)
oracles grade against, on float32 vectors where a changed cast or
operand order would show. ``knn_join`` and ``ann_lsh_join`` are pinned
to the same rankings computed in DuckDB, including the distance ties
that near-duplicate rows force at the rank boundary.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from model_presto_spark.operators.knn import _distance_sql, ann_lsh_join, knn_join
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
