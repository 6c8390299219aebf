"""Product quantization (PQ) for embedding columns — the
memory-bound end of the ANN spectrum.

Scalar int8 quantization (knn.quantize_vectors) compresses 8x; PQ
compresses ``dim * 8 bytes`` down to ``m`` bytes per vector (64-d
float64 -> 8 bytes at m=8): each vector splits into ``m`` subspaces
and every subvector is replaced by the id of its nearest entry in a
per-subspace codebook of ``n_codes`` centroids. Distances are then
computed *asymmetrically* (ADC): a probe builds one ``m x n_codes``
lookup table of exact subspace distances, and every candidate's
distance is ``m`` table lookups + adds — no float arithmetic per
pair. This is the layout a 100 TB vector corpus actually ships
through a shuffle: the codes relation is ~1% of the float relation.

Spark mapping — one numpy core, used on the driver and in the
executors' mapInPandas passes alike:
- ``_train_books``: seeded k-means++/Lloyd's codebooks on a
  driver-side sample (bounded, standard practice — production PQ
  systems train on 10^4-10^5 samples regardless of corpus size) of
  raw vectors (``train_pq_codebooks``) or IVF residuals
  (``build_ivfpq_index``); the books ride to executors inside the
  task closure (a few KB);
- ``_encode``: argmin over n_codes per subspace, numpy-batched
  (``pq_encode``, the residual encode of ``build_ivfpq_index``);
- ``_luts``: one m x n_codes table of exact subspace distances per
  probe (or per probe residual and cell);
- ``_adc_scan``: each Arrow batch's partition-local top-k per probe.
  The global top-k is the one window of the knn search core
  (``knn._top_k``) over ~k x #partitions rows per probe — candidates
  are never globally sorted. ``pq_knn_join`` broadcasts the probe
  set (same bounded-probe contract as knn.knn_join); an optional
  exact re-rank of a ``rerank``-sized shortlist restores near-exact
  recall while touching float vectors for only the shortlist.
Ids keep the type they have in the input.

Reference anchor: embedding similarity surface of SURVEY §2
(brute-force Q35, LSH Q40, IVF t:test_graph_ivf); PQ is the public
Jegou et al. 2011 design re-expressed on DataFrames.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from model_presto_spark.functions.vectors import sq_euclidean_sql
from model_presto_spark.operators.knn import (
    _coarse_cells,
    _read_centroids,
    _top_k,
    _write_centroids,
)


def _train_books(
    X: np.ndarray, m: int, n_codes: int, iters: int, seed: int
) -> np.ndarray:
    """``train_pq_codebooks`` on a sample matrix ``X`` (raw vectors or
    IVF residuals)."""
    n, dim = X.shape
    if not 1 <= n_codes <= 128:  # codes are stored as int8
        raise ValueError(f"n_codes must be in 1..128, got {n_codes}")
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, n_codes, dsub))
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        # k-means++ seeding
        cents = [Xs[rng.integers(n)]]
        for _ in range(n_codes - 1):
            d2 = np.min(
                ((Xs[:, None, :] - np.asarray(cents)[None]) ** 2).sum(-1), axis=1
            )
            probs = d2 / max(d2.sum(), 1e-12)
            cents.append(Xs[rng.choice(n, p=probs)])
        C = np.asarray(cents)
        for _ in range(iters):
            assign = ((Xs[:, None, :] - C[None]) ** 2).sum(-1).argmin(1)
            for c in range(n_codes):
                mask = assign == c
                if mask.any():
                    C[c] = Xs[mask].mean(0)
                else:  # reseed empty cluster to the farthest point
                    far = ((Xs - C[assign]) ** 2).sum(-1).argmax()
                    C[c] = Xs[far]
        books[s] = C
    return books


def _luts(P: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, dim) vectors -> (n, m, n_codes) ADC lookup tables: exact
    squared distances of each subvector to every codeword."""
    m, n_codes, dsub = books.shape
    luts = np.empty((len(P), m, n_codes))
    for s in range(m):
        luts[:, s, :] = (
            (P[:, None, s * dsub : (s + 1) * dsub] - books[s][None]) ** 2
        ).sum(-1)
    return luts


def _encode(X: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, dim) vectors -> (n, m) int8 codes: each subspace's nearest
    codeword."""
    return _luts(X, books).argmin(-1).astype(np.int8)


def _adc_scan(
    entries, codes: pd.Series, cids: pd.Series, top: int, exclude_self: bool
) -> pd.DataFrame:
    """Each (pid, lut) entry's ``top`` nearest candidates of one batch
    of (cids, codes) by asymmetric distance (m table lookups + adds
    per candidate): (__pid, __cid, __dist). ``exclude_self`` scores a
    candidate with the probe's own id infinite, and infinite
    distances never survive."""
    codes = np.asarray(list(codes), dtype=np.intp)
    cids = cids.values
    sub = np.arange(codes.shape[1])
    out_p, out_c, out_d = [], [], []
    for pid, lut in entries:
        dists = lut[sub[:, None], codes.T].sum(0)
        if exclude_self:
            dists = np.where(cids == pid, np.inf, dists)
        t = min(top, len(dists))
        idx = np.argpartition(dists, t - 1)[:t]
        idx = idx[np.isfinite(dists[idx])]
        out_p.extend([pid] * len(idx))
        out_c.extend(cids[idx])
        out_d.extend(dists[idx])
    return pd.DataFrame({"__pid": out_p, "__cid": out_c, "__dist": out_d})


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    n_codes: int = 16,
    sample_limit: int = 20000,
    iters: int = 20,
    seed: int = 42,
) -> np.ndarray:
    """Fit per-subspace codebooks -> ndarray (m, n_codes, dim/m).

    Trains on up to ``sample_limit`` vectors pulled to the driver
    (pre-sample with splits.hash_rank_sample for a uniform subset of
    a huge corpus). Seeded k-means++ init + Lloyd's iterations;
    empty clusters reseed to the farthest point, so all n_codes
    entries stay live."""
    rows = df.select(vec_col).limit(sample_limit).collect()
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    return _train_books(X, m, n_codes, iters, seed)


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: np.ndarray,
    out_col: str = "codes",
) -> DataFrame:
    """vector -> m-byte PQ code (array<tinyint>), vectorized batch
    argmin per subspace."""
    books = codebooks.copy()

    def go(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, out_col: list(_encode(X, books))}
            )

    id_t = dict(df.dtypes)[id_col]
    return df.select(id_col, vec_col).mapInPandas(
        go, f"{id_col} {id_t}, {out_col} array<tinyint>"
    )


def pq_knn_join(
    probes: DataFrame,
    encoded: DataFrame,
    probe_id: str,
    cand_id: str,
    codebooks: np.ndarray,
    probe_vec: str = "vec",
    codes_col: str = "codes",
    k: int = 5,
    candidates: DataFrame | None = None,
    cand_vec: str = "vec",
    rerank: int = 0,
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k by asymmetric PQ distance: (probe_id, cand_id, dist,
    rank). Probes are broadcast (bounded-probe contract, as
    knn_join); candidates stream partition-locally, each partition
    emits its top-shortlist, one small window resolves the global
    order. With ``rerank > 0`` (requires ``candidates`` carrying the
    float vectors), the PQ shortlist of that size is re-scored with
    exact distances before the final top-k — the standard
    two-stage ADC + re-rank pipeline."""
    if rerank and candidates is None:
        raise ValueError(
            "pq_knn_join: rerank > 0 re-scores the shortlist with float "
            "vectors; pass candidates carrying them"
        )
    books = codebooks.copy()
    probe_rows = probes.select(probe_id, probe_vec).collect()
    P = np.asarray([r[1] for r in probe_rows], dtype=np.float64)
    pids = [r[0] for r in probe_rows]
    entries = list(zip(pids, _luts(P, books)))
    shortlist = max(k, rerank)

    def go(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf):
                yield _adc_scan(
                    entries, pdf[codes_col], pdf[cand_id], shortlist,
                    exclude_self,
                )

    pid_t = dict(probes.dtypes)[probe_id]
    cid_t = dict(encoded.dtypes)[cand_id]
    scored = encoded.select(cand_id, codes_col).mapInPandas(
        go, f"__pid {pid_t}, __cid {cid_t}, __dist double"
    )
    if rerank:
        short = _top_k(scored, rerank, "__pid", "__cid").select("__pid", "__cid")
        cands = candidates.select(
            F.col(cand_id).alias("__cid"),
            F.col(cand_vec).cast("array<double>").alias("__cvec"),
        )
        pdf_ = probes.sparkSession.createDataFrame(
            [(p, [float(x) for x in v]) for p, v in zip(pids, P)],
            f"__pid {pid_t}, __pvec array<double>",
        )
        scored = short.join(cands, "__cid").join(
            F.broadcast(pdf_), "__pid"
        ).select(
            "__pid",
            "__cid",
            F.expr(sq_euclidean_sql("__pvec", "__cvec")).alias("__dist"),
        )
    return _top_k(scored, k, probe_id, cand_id)


def build_ivfpq_index(
    candidates: DataFrame,
    cand_id: str,
    path: str,
    cand_vec: str = "vec",
    n_lists: int = 8,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    sample_limit: int = 20000,
) -> None:
    """Persist the FAISS-style IVF-PQ composite: KMeans coarse cells
    as a hive-partitioned layout (``path/cells/cell=N``) storing ONLY
    ``(cid, codes)`` — m bytes per vector — plus ``path/centroids``
    and ``path/codebooks``. PQ encodes the RESIDUAL ``x -
    centroid[cell]`` (classic IVFADC: residuals are centered, so the
    same codebook budget buys far finer resolution than coding raw
    vectors).

    Index bytes ~ n_vectors * (8 + m): a 100 TB float corpus becomes
    a ~1 TB index that still answers top-k with exact-shape ADC."""
    spark = candidates.sparkSession
    assigned, cents = _coarse_cells(candidates, cand_id, cand_vec, n_lists, seed)
    C = np.asarray([c for _, c in cents])  # row = cell id
    # residuals are computed in numpy inside the sample pull and the
    # encode pass (never a per-row Python UDF)
    books_src = assigned.limit(sample_limit).collect()
    X = np.asarray([r["cvec"] for r in books_src], dtype=np.float64)
    R = X - C[[r["cell"] for r in books_src]]
    books = _train_books(R, m, n_codes, iters=20, seed=seed)

    def enc(it):
        for pdf in it:
            if not len(pdf):
                continue
            Xb = np.asarray(list(pdf["cvec"]), dtype=np.float64)
            yield pd.DataFrame({
                "cid": pdf["cid"].values,
                "cell": pdf["cell"].values,
                "codes": list(_encode(Xb - C[pdf["cell"].values], books)),
            })

    cid_t = dict(assigned.dtypes)["cid"]
    encoded = assigned.mapInPandas(
        enc, f"cid {cid_t}, cell int, codes array<tinyint>"
    )
    encoded.write.partitionBy("cell").mode("overwrite").parquet(
        f"{path}/cells"
    )
    _write_centroids(spark, path, cents)
    spark.createDataFrame(
        [
            (s, j, books[s][j].tolist())
            for s in range(m)
            for j in range(n_codes)
        ],
        "s int, code int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def ivfpq_search(
    spark,
    path: str,
    probes: DataFrame,
    probe_id: str,
    probe_vec: str = "vec",
    k: int = 5,
    n_probe: int = 2,
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k against a persisted IVF-PQ index: probes assign to their
    ``n_probe`` nearest cells driver-side (centroids are tiny), the
    cells scan is plan-time pruned with a literal ``cell IN (...)``
    partition filter (only probed cell directories are read at all),
    and scoring is residual-space ADC — per (probe, cell) one
    m x n_codes LUT, m byte-lookups per candidate. Output
    (probe_id, cid, dist, rank)."""
    cents = dict(_read_centroids(spark, path))
    book_rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r["s"] for r in book_rows)
    n_codes = 1 + max(r["code"] for r in book_rows)
    dsub = len(book_rows[0]["centroid"])
    books = np.empty((m, n_codes, dsub))
    for r in book_rows:
        books[r["s"], r["code"]] = r["centroid"]

    probe_rows = probes.select(probe_id, probe_vec).collect()
    # per probe: n_probe nearest cells + one residual LUT per cell
    cell_ids = sorted(cents)
    C = np.asarray([cents[c] for c in cell_ids])
    by_cell: dict[int, list] = {}
    for pid, vec in probe_rows:
        p = np.asarray(vec, dtype=np.float64)
        for j in np.argsort(((C - p) ** 2).sum(-1))[:n_probe]:
            by_cell.setdefault(cell_ids[j], []).append(
                (pid, _luts((p - C[j])[None], books)[0])
            )

    cells = spark.read.parquet(f"{path}/cells").where(
        F.col("cell").isin(sorted(by_cell))
    )

    def go(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for cell, grp in pdf.groupby("cell"):
                entries = by_cell.get(int(cell))
                if entries:
                    yield _adc_scan(
                        entries, grp["codes"], grp["cid"], k, exclude_self
                    )

    pid_t = dict(probes.dtypes)[probe_id]
    cid_t = dict(cells.dtypes)["cid"]
    scored = cells.mapInPandas(go, f"__pid {pid_t}, __cid {cid_t}, __dist double")
    return _top_k(scored, k, probe_id, "cid")
