"""Top-k nearest-neighbor join over vector columns.

Reference semantics: minkowski p=2 kNN over 128-d embeddings with
k ∈ {5, 20, 100} (reference: presto-tolbi/presto/eval/knn.py:4-73).

Spark-first design:
- Exact baseline: broadcast the (small) probe side, crossJoin against
  the candidate set, compute the distance with JVM-side array
  expressions (``zip_with`` + ``aggregate`` — no Python UDF), then
  ``row_number`` per probe. The candidate scan stays fully
  distributed; per-probe work is a map-side broadcast join, so this
  scales to arbitrarily large candidate tables as long as the probe
  set fits in a broadcast (the reference's eval sets always do).
- One search core: every search of the family — exact, LSH
  (``ann_lsh_join``), IVF (``ivf_knn_join``, ``ivf_index_search``),
  int8 (``quantized_knn_join``) and PQ (``operators.pq``) — scores its
  candidates its own way into (probe, candidate, score) rows and ends
  in the one ``_top_k`` window; the IVF paths share one on-disk layout
  (``_write_cells``, ``_write_centroids``/``_read_centroids``) and one
  nearest-cell step (``_nearest_cells``, a ``_top_k`` over centroids)
  that places every built, appended and probed vector.
- One trainer: ``_kmeans`` (k-means++, then Lloyd's) on a driver sample
  fits the IVF coarse quantizer and, per subspace, the PQ codebooks.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from model_presto_spark.functions.vectors import (
    cosine_similarity_sql,
    dot_sql,
    sq_euclidean_int_sql,
    sq_euclidean_sql,
)

_METRICS = ("sqeuclidean", "cosine", "dot")
_TRAIN_ROWS_PER_CELL = 256  # coarse training sample per centroid (FAISS's)
_LLOYD_ITERS = 20
_BLOCK_FLOATS = 1 << 20  # one Lloyd distance block: at most 8 MB


def _qt(name: str) -> str:
    """Backtick-quote an identifier for SQL-string expressions."""
    return f"`{name}`"


def _distance_sql(qv: str, cv: str, metric: str) -> str:
    """Distance expression as SQL text (one ``F.expr`` parse instead of
    ~170 py4j round trips of Column-API fold construction). Smaller is
    nearer for every metric; the folds are ``functions.vectors``'s, so
    values stay bit-identical to the DuckDB oracle's sequential folds."""
    if metric == "sqeuclidean":
        return sq_euclidean_sql(qv, cv)
    if metric == "dot":
        return f"-({dot_sql(qv, cv)})"  # larger dot = nearer
    if metric == "cosine":
        return f"1.0D - {cosine_similarity_sql(qv, cv)}"
    raise ValueError(f"metric must be one of {_METRICS}")


def _top_k(
    scored: DataFrame, k: int, probe_id: str, cand_id: str,
    order: str = "__dist ASC", value: str = "__dist AS dist",
) -> DataFrame:
    """Each probe's first ``k`` rows of a scored (__pid, __cid, ...)
    frame by ``order``, ties broken by ascending candidate id:
    (probe_id, cand_id, value, rank)."""
    return scored.selectExpr(
        "*",
        f"row_number() OVER (PARTITION BY __pid ORDER BY {order}, __cid ASC) AS rank",
    ).where(f"rank <= {int(k)}").selectExpr(
        f"__pid AS {_qt(probe_id)}", f"__cid AS {_qt(cand_id)}", value, "rank"
    )


def _nearest(X: np.ndarray, C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Each row's nearest centroid (ties to the lower index) and its
    squared distance, in the GEMM form ‖x‖² − 2x·cᵀ + ‖c‖² over row
    blocks of at most ``_BLOCK_FLOATS`` distances."""
    cn = (C**2).sum(1)
    step = max(1, _BLOCK_FLOATS // len(C))
    assign = np.empty(len(X), dtype=np.intp)
    d2 = np.empty(len(X))
    for i in range(0, len(X), step):
        B = X[i : i + step]
        D = (B**2).sum(1)[:, None] - 2.0 * (B @ C.T) + cn
        assign[i : i + len(B)] = D.argmin(1)
        d2[i : i + len(B)] = np.maximum(D.min(1), 0.0)
    return assign, d2


def _kmeans(
    X: np.ndarray, k: int, iters: int, rng: np.random.Generator, name: str
) -> np.ndarray:
    """(n, d) driver sample -> (k, d) centroids: seeded k-means++, then
    ``iters`` Lloyd's steps; an empty cluster reseeds to the point
    farthest from its centroid. k-means++ needs ``k`` (``name`` in the
    error) distinct rows."""
    n, distinct = len(X), len(np.unique(X, axis=0))
    if distinct < k:
        raise ValueError(
            f"{name}={k} exceeds the {distinct} distinct vectors in the training sample"
        )
    C = np.empty((k, X.shape[1]))
    C[0] = X[rng.integers(n)]
    d2 = ((X - C[0]) ** 2).sum(-1)  # running min over the seeds so far
    for j in range(1, k):
        C[j] = X[rng.choice(n, p=d2 / max(d2.sum(), 1e-12))]
        d2 = np.minimum(d2, ((X - C[j]) ** 2).sum(-1))
    for _ in range(iters):
        assign, d2 = _nearest(X, C)
        counts = np.bincount(assign, minlength=k)
        live = counts > 0
        sums = np.zeros_like(C)
        np.add.at(sums, assign, X)
        C[live] = sums[live] / counts[live, None]
        empty = np.flatnonzero(~live)
        C[empty] = X[np.argsort(-d2, kind="stable")[: len(empty)]]
    return C


def _sample(df: DataFrame, vec_col: str, n: int) -> np.ndarray:
    """The first ``n`` vectors of ``df``, in input order, on the driver."""
    rows = df.select(vec_col).limit(n).collect()
    return np.asarray([r[0] for r in rows], dtype=np.float64)


def _assign_cells(df: DataFrame, id_col: str, vec_col: str, cents) -> DataFrame:
    """(cid, cvec, cell): each vector in its nearest cell."""
    return _nearest_cells(df, id_col, vec_col, cents, 1).selectExpr(
        "__pid AS cid", "__pvec AS cvec", "cell"
    )


def _coarse_cells(
    candidates: DataFrame, cand_id: str, cand_vec: str, n_lists: int, seed: int,
    X: np.ndarray | None = None,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Fit the coarse quantizer on the first ``_TRAIN_ROWS_PER_CELL`` ×
    n_lists rows of the driver sample ``X`` (pulled here if not given)
    and assign every candidate its cell: ((cid, cvec, cell) frame,
    [(cell, centroid)])."""
    n = _TRAIN_ROWS_PER_CELL * n_lists
    X = _sample(candidates, cand_vec, n) if X is None else X[:n]
    C = _kmeans(X, n_lists, _LLOYD_ITERS, np.random.default_rng(seed), "n_lists")
    cents = [(i, c.tolist()) for i, c in enumerate(C)]
    return _assign_cells(candidates, cand_id, cand_vec, cents), cents


def _centroid_frame(spark, cents: list[tuple[int, list[float]]]) -> DataFrame:
    return spark.createDataFrame(cents, "cell int, centroid array<double>")


def _write_centroids(spark, path: str, cents: list[tuple[int, list[float]]]) -> None:
    _centroid_frame(spark, cents).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )


def _write_cells(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.partitionBy("cell").mode(mode).parquet(f"{path}/cells")


def _read_centroids(spark, path: str) -> list[tuple[int, list[float]]]:
    return [
        (int(r.cell), [float(x) for x in r.centroid])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    ]


def _nearest_cells(df: DataFrame, id_col: str, vec_col: str, cents, n: int) -> DataFrame:
    """(__pid, cell, __pvec) for each row's ``n`` nearest cells: a top-k
    by squared L2 over the broadcast centroid table (centroids are
    tiny), ties to the lower cell id."""
    rows = df.selectExpr(
        f"{_qt(id_col)} AS __pid",
        f"CAST({_qt(vec_col)} AS ARRAY<DOUBLE>) AS __pvec",
    )
    table = F.broadcast(_centroid_frame(df.sparkSession, cents))
    scored = rows.crossJoin(table).selectExpr(
        "__pid", "__pvec", "cell AS __cid",
        f"{_distance_sql('__pvec', 'centroid', 'sqeuclidean')} AS __dist",
    )
    return _top_k(scored, n, "__pid", "cell", value="__pvec").drop("rank")


def _cell_top_k(pairs: DataFrame, k, probe_id, cand_id, metric, exclude_self):
    """Top-k over (__pid, __pvec, cid, cvec) pairs that share a probed
    cell, each (probe, candidate) pair scored once."""
    if exclude_self:
        pairs = pairs.where("__pid != cid")
    scored = pairs.selectExpr(
        "__pid", "cid AS __cid",
        f"{_distance_sql('__pvec', 'cvec', metric)} AS __dist",
    ).dropDuplicates(["__pid", "__cid"])
    return _top_k(scored, k, probe_id, cand_id)


def knn_join(
    probes: DataFrame,
    candidates: DataFrame,
    probe_id: str,
    cand_id: str,
    probe_vec: str = "vec",
    cand_vec: str = "vec",
    k: int = 5,
    metric: str = "sqeuclidean",
    exclude_self: bool = False,
) -> DataFrame:
    """Return (probe_id, cand_id, dist, rank) for each probe's top-k.

    Deterministic: ties broken by ascending candidate id. ``dist`` is
    squared L2 / cosine distance / negative dot per ``metric``.
    """
    from model_presto_spark.io import spread

    # String-expression build throughout (guide §7.3): the Column-API
    # construction of this plan cost ~770-1270 py4j round-trips per
    # query build (q35/q45, measured with tools/py4j_count.py); the
    # SQL strings parse JVM-side to the same Catalyst trees.
    p = probes.selectExpr(
        f"{_qt(probe_id)} AS __pid", f"{_qt(probe_vec)} AS __pvec"
    )
    # spread the candidate side: the per-pair distance folds run in
    # the candidate scan's stage (the probe side is broadcast), and a
    # single-file scan would serialize all O(n_cand * n_probe * dim)
    # fold work onto one core (io.spread docstring; same class as the
    # dedup hashing passes).
    c = spread(
        candidates.selectExpr(
            f"{_qt(cand_id)} AS __cid", f"{_qt(cand_vec)} AS __cvec"
        )
    )
    pairs = c.crossJoin(F.broadcast(p))
    if exclude_self:
        pairs = pairs.where("__pid != __cid")
    scored = pairs.selectExpr(
        "__pid",
        "__cid",
        f"{_distance_sql('__pvec', '__cvec', metric)} AS __dist",
    )
    return _top_k(scored, k, probe_id, cand_id)


def ivf_knn_join(
    probes: DataFrame,
    candidates: DataFrame,
    probe_id: str,
    cand_id: str,
    probe_vec: str = "vec",
    cand_vec: str = "vec",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 2,
    metric: str = "sqeuclidean",
    exclude_self: bool = False,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate kNN: a k-means coarse quantizer
    partitions candidates into ``n_lists`` cells; each probe scores
    only the ``n_probe`` nearest cells' members.

    The scale path when the probe side is too large to broadcast and
    hyperplane-LSH recall is insufficient: candidate lists are a
    *partitioned* layout (shuffle once on cell id, reusable across
    queries), and per-probe work drops from O(N) to O(N·n_probe/
    n_lists). Training reads the first ``_TRAIN_ROWS_PER_CELL`` ×
    n_lists candidates to the driver; assignment and the
    cell-restricted scoring are plain joins + window — the pattern of
    every IVF system, expressed relationally.
    """
    indexed, cents = _coarse_cells(candidates, cand_id, cand_vec, n_lists, seed)
    probe_cells = _nearest_cells(probes, probe_id, probe_vec, cents, n_probe)

    # score only same-cell pairs (equi-join on cell id)
    pairs = probe_cells.join(indexed, "cell")
    return _cell_top_k(pairs, k, probe_id, cand_id, metric, exclude_self)


def knn_classify(
    probes: DataFrame,
    candidates: DataFrame,
    probe_id: str,
    cand_id: str,
    label_col: str,
    probe_vec: str = "vec",
    cand_vec: str = "vec",
    k: int = 5,
    metric: str = "sqeuclidean",
    exclude_self: bool = False,
) -> DataFrame:
    """kNN majority-vote classification (reference:
    presto-tolbi/presto/eval/knn.py:4-73 — predict by vote of the k
    nearest embeddings; used at eval.py:201-203 with k in {5,20,100}).

    Returns (probe_id, predicted, votes). Deterministic tie-break:
    highest vote count, then smallest label.
    """
    nn = knn_join(
        probes, candidates, probe_id=probe_id, cand_id=cand_id, probe_vec=probe_vec,
        cand_vec=cand_vec, k=k, metric=metric, exclude_self=exclude_self,
    )
    labeled = nn.join(
        candidates.selectExpr(_qt(cand_id), f"{_qt(label_col)} AS __lbl"),
        cand_id,
    )
    votes = labeled.groupBy(probe_id, "__lbl").agg(F.expr("count(1) AS votes"))
    return (
        votes.selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY {_qt(probe_id)} "
            f"ORDER BY votes DESC, __lbl ASC) AS __rn",
        )
        .where("__rn = 1")
        .selectExpr(_qt(probe_id), "__lbl AS predicted", "votes")
    )


def hyperplane_weights(dim: int, planes: int, prefix: str = "hp") -> list[list[float]]:
    """Deterministic md5-derived hyperplane weights, computed once on
    the driver — w[j][d-1] = (h60('hp{j}_{d}') % 2001 - 1000) / 1000.

    Hashing happens here in Python, never per row: the weights embed
    into the plan as literals (and into the DuckDB oracle SQL as the
    same literals), so any engine reproduces identical buckets with
    zero per-row hash cost.
    """
    import hashlib

    def w(j: int, d: int) -> float:
        h = int(hashlib.md5(f"{prefix}{j}_{d}".encode()).hexdigest()[:15], 16)
        return (h % 2001 - 1000) / 1000.0

    return [[w(j, d) for d in range(1, dim + 1)] for j in range(planes)]


def _weights_sql(weights: list[list[float]]) -> str:
    """SQL literal: array of per-plane weight arrays (valid in Spark
    SQL with array(...) and in DuckDB with [...] — use former)."""
    planes = ", ".join(
        "array(" + ", ".join(repr(x) for x in row) + ")" for row in weights
    )
    return f"array({planes})"


def _hyperplane_bucket_sql(vec_sql: str, dim: int, planes: int, prefix: str = "hp") -> str:
    """Spark SQL for a random-hyperplane LSH bucket id.

    Sequential d = 1..dim fold and literal weights => bit-identical
    dot products (hence buckets) across engines.
    """
    ws = _weights_sql(hyperplane_weights(dim, planes, prefix))
    return f"""aggregate(
        transform(sequence(0, {planes - 1}), j ->
          CASE WHEN aggregate(sequence(1, {dim}), cast(0.0 as double),
                 (acc, d) -> acc + cast(element_at({vec_sql}, d) as double)
                             * element_at(element_at({ws}, j + 1), d)) > 0
          THEN shiftleft(1, j) ELSE 0 END),
        0, (acc, x) -> acc + x)"""


def ann_lsh_join(
    probes: DataFrame,
    candidates: DataFrame,
    probe_id: str,
    cand_id: str,
    probe_vec: str = "vec",
    cand_vec: str = "vec",
    k: int = 5,
    dim: int = 64,
    planes: int = 8,
) -> DataFrame:
    """Approximate NN: random-hyperplane LSH bucket equi-join + exact
    cosine rerank within the bucket.

    The scale path for large probe sets: both sides compute an
    integer bucket id (2^planes buckets), the crossJoin becomes a
    bucket equi-join (shuffle on bucket id), and only same-bucket
    pairs are scored. Recall < 1 by construction; raise ``planes``
    fan-out (multi-probe) or run multiple tables for higher recall.
    """
    from model_presto_spark.io import spread

    # String-expression build (guide §7.3): a fraction of the Column
    # construction's py4j round-trips.
    p = probes.selectExpr(
        f"{_qt(probe_id)} AS __pid",
        f"{_qt(probe_vec)} AS __pvec",
        f"{_hyperplane_bucket_sql(probe_vec, dim, planes)} AS __bucket",
    )
    # spread BEFORE the bucket projection: the planes*dim hyperplane
    # fold is the heavy per-row work and must not inherit a
    # single-file scan's one-task partitioning (io.spread docstring).
    c = spread(
        candidates.selectExpr(
            f"{_qt(cand_id)} AS __cid", f"{_qt(cand_vec)} AS __cvec"
        )
    ).selectExpr(
        "__cid",
        "__cvec",
        f"{_hyperplane_bucket_sql('__cvec', dim, planes)} AS __bucket",
    )
    pairs = c.join(p, "__bucket").where("__pid != __cid")
    scored = pairs.selectExpr(
        "__pid",
        "__cid",
        f"{cosine_similarity_sql('__pvec', '__cvec')} AS __sim",
    )
    return _top_k(
        scored, k, probe_id, cand_id,
        order="__sim DESC", value="__sim AS cosine_sim",
    )


def build_ivf_index(
    candidates: DataFrame,
    cand_id: str,
    path: str,
    cand_vec: str = "vec",
    n_lists: int = 16,
    seed: int = 42,
) -> None:
    """Persist an IVF index: k-means centroids + a CELL-PARTITIONED
    candidate layout (``path/centroids`` + ``path/cells/cell=N/``).

    Build once, probe many: the expensive parts (quantizer fit on a
    bounded driver sample, the nearest-cell step and the shuffle that
    co-locates each cell) happen here; every later
    ``ivf_index_search`` reads only its probes' n_probe cells —
    dynamic partition pruning turns cell selection into skipped I/O,
    so a search touches ~n_probe/n_lists of the index bytes. This is
    the on-disk shape every IVF system uses, expressed as a hive
    layout. Ids are keys: rows that share an id are stored once.
    """
    indexed, cents = _coarse_cells(candidates, cand_id, cand_vec, n_lists, seed)
    _write_cells(indexed, path)
    _write_centroids(candidates.sparkSession, path, cents)


def ivf_index_search(
    spark,
    path: str,
    probes: DataFrame,
    probe_id: str,
    probe_vec: str = "vec",
    k: int = 5,
    n_probe: int = 2,
    metric: str = "sqeuclidean",
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k search against a persisted IVF index (see
    ``build_ivf_index``). Returns (probe_id, cid, dist, rank).

    The probe->cell assignment broadcasts (centroids are tiny), and
    the cells scan is joined on the PARTITION column — Spark's
    dynamic partition pruning drops every unprobed cell directory
    from the scan at runtime (tests assert the dynamicpruning
    expression is in the plan).
    """
    probe_cells = _nearest_cells(
        probes, probe_id, probe_vec, _read_centroids(spark, path), n_probe
    )

    cells = spark.read.parquet(f"{path}/cells")
    pairs = cells.join(F.broadcast(probe_cells), "cell")
    return _cell_top_k(pairs, k, probe_id, "cid", metric, exclude_self)


def _max_abs(df: DataFrame, vec_col: str) -> float:
    """Scalar global max-|element| of a vector column (one agg job)."""
    m = df.selectExpr(
        f"max(aggregate(CAST({_qt(vec_col)} AS ARRAY<DOUBLE>), 0.0D, "
        "(a, x) -> greatest(a, abs(x)))) AS m"
    ).collect()[0]["m"]
    return float(m or 0.0)


def _int8_sql(vec: str, scale: float) -> str:
    """Symmetric int8 code of a vector at ``scale``: round(x / scale)
    per element (``D``: the scale stays a double literal)."""
    return (
        f"transform(CAST({vec} AS ARRAY<DOUBLE>), "
        f"x -> CAST(round(x / {scale!r}D) AS TINYINT))"
    )


def quantize_vectors(
    df: DataFrame, vec_col: str, out_col: str = "qvec"
) -> tuple[DataFrame, float]:
    """Symmetric int8 scalar quantization of an embedding column.

    One pass computes the global max-|x| (a scalar), then every
    vector encodes as ``round(x / scale)`` int8 — 1/8th the shuffle
    and storage bytes of float64 arrays, which is what a 100 TB ANN
    index actually ships around. Returns (df + out_col, scale);
    ``scale² * sq_euclidean_int_sql(qa, qb)`` approximates the float
    distance, preserving neighbor ranking to quantization error.
    """
    scale = (_max_abs(df, vec_col) or 1.0) / 127.0
    return df.withColumn(out_col, F.expr(_int8_sql(_qt(vec_col), scale))), scale


def quantized_knn_join(
    probes: DataFrame,
    candidates: DataFrame,
    probe_id: str,
    cand_id: str,
    probe_vec: str = "vec",
    cand_vec: str = "vec",
    k: int = 5,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact-shape kNN over int8-quantized vectors: same broadcast
    top-k plan as ``knn_join`` but the per-pair arithmetic and every
    shuffled row use 1-byte elements. Approximate by quantization
    only — recall vs float is bounded by the quantization step
    (tested >0.9); re-rank the top-k with float vectors when exact
    order matters."""
    # shared scale keeps the metric consistent across both sides:
    # two scalar max-|x| jobs, then one quantization pass per side
    scale = max(
        _max_abs(probes, probe_vec), _max_abs(candidates, cand_vec)
    ) / 127.0 or 1.0 / 127.0
    p = probes.selectExpr(
        f"{_qt(probe_id)} AS __pid", f"{_int8_sql(_qt(probe_vec), scale)} AS __qp"
    )
    c = candidates.selectExpr(
        f"{_qt(cand_id)} AS __cid", f"{_int8_sql(_qt(cand_vec), scale)} AS __qc"
    )
    pairs = c.crossJoin(F.broadcast(p))
    if exclude_self:
        pairs = pairs.where("__pid != __cid")
    scored = pairs.selectExpr(
        "__pid",
        "__cid",
        f"{sq_euclidean_int_sql('__qp', '__qc')} * {scale * scale!r}D AS __dist",
    )
    return _top_k(scored, k, probe_id, cand_id)


def ivf_index_append(
    spark, path: str, candidates: DataFrame, cand_id: str, cand_vec: str = "vec"
) -> None:
    """Incrementally add vectors to a persisted IVF index WITHOUT
    rebuilding: new vectors assign to the EXISTING centroids
    (the build's nearest-cell step — no refit) and append into their
    cell partitions. The maintenance path a continuously-ingesting corpus
    needs; quantizer drift is bounded by how stationary the
    embedding distribution is — rebuild with build_ivf_index when
    drift (e.g. psi_drift on distances) says so. Searches see the
    appended vectors immediately (same layout, same pruning)."""
    cents = _read_centroids(spark, path)
    _write_cells(_assign_cells(candidates, cand_id, cand_vec, cents), path, "append")
