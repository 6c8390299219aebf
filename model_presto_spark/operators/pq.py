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

Spark mapping:
- codebooks train with seeded Lloyd's iterations on a driver-side
  sample (bounded, standard practice — production PQ systems train
  on 10^4-10^5 samples regardless of corpus size) and ride to
  executors inside the task closure (a few KB);
- ``pq_encode`` is one vectorized mapInPandas pass (argmin over
  n_codes per subspace, numpy-batched);
- ``pq_knn_join`` broadcasts the probe set (same bounded-probe
  contract as knn.knn_join), scores candidates partition-locally
  with the LUTs, keeps each partition's top-k, and resolves the
  global top-k with one tiny window over ~k x #partitions rows per
  probe — candidates are never globally sorted.
- optional exact re-rank of a ``rerank``-sized shortlist restores
  near-exact recall while touching float vectors for only the
  shortlist.

Reference anchor: embedding similarity surface of SURVEY §2
(brute-force Q35, LSH Q40, IVF t:test_graph_ivf); PQ is the public
Jegou et al. 2011 design re-expressed on DataFrames.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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
    n, dim = X.shape
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


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: np.ndarray,
    out_col: str = "codes",
) -> DataFrame:
    """vector -> m-byte PQ code (array<tinyint>), vectorized batch
    argmin per subspace."""
    m, n_codes, dsub = codebooks.shape
    books = codebooks.copy()

    def go(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            codes = np.empty((len(X), m), dtype=np.int8)
            for s in range(m):
                Xs = X[:, s * dsub : (s + 1) * dsub]
                d = ((Xs[:, None, :] - books[s][None]) ** 2).sum(-1)
                codes[:, s] = d.argmin(1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, out_col: list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        go, f"{id_col} bigint, {out_col} array<tinyint>"
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
    m, n_codes, dsub = codebooks.shape
    books = codebooks.copy()
    probe_rows = probes.select(probe_id, probe_vec).collect()
    P = np.asarray([r[1] for r in probe_rows], dtype=np.float64)
    pids = np.asarray([r[0] for r in probe_rows], dtype=np.int64)
    # one LUT per probe: exact subspace distances to every codeword
    luts = np.empty((len(P), m, n_codes))
    for s in range(m):
        Ps = P[:, s * dsub : (s + 1) * dsub]
        luts[:, s, :] = ((Ps[:, None, :] - books[s][None]) ** 2).sum(-1)
    shortlist = max(k, rerank)

    def go(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            codes = np.asarray(list(pdf[codes_col]), dtype=np.int64)
            cids = pdf[cand_id].values
            out_p, out_c, out_d = [], [], []
            sub = np.arange(m)
            for i in range(len(P)):
                dists = luts[i][sub[:, None], codes.T].sum(0)
                if exclude_self:
                    dists = np.where(cids == pids[i], np.inf, dists)
                top = min(shortlist, len(dists))
                idx = np.argpartition(dists, top - 1)[:top]
                idx = idx[np.isfinite(dists[idx])]
                top = len(idx)
                out_p.extend([pids[i]] * top)
                out_c.extend(cids[idx])
                out_d.extend(dists[idx])
            yield pd.DataFrame(
                {"__pid": out_p, "__cid": out_c, "__dist": out_d}
            )

    scored = encoded.select(cand_id, codes_col).mapInPandas(
        go, "__pid bigint, __cid bigint, __dist double"
    )
    w = Window.partitionBy("__pid").orderBy(
        F.col("__dist").asc(), F.col("__cid").asc()
    )
    if rerank and candidates is not None:
        short = (
            scored.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= rerank)
            .drop("r", "__dist")
        )
        from model_presto_spark.functions.vectors import sq_euclidean_sql

        cands = candidates.select(
            F.col(cand_id).alias("__cid"),
            F.col(cand_vec).cast("array<double>").alias("__cvec"),
        )
        pdf_ = probes.sparkSession.createDataFrame(
            [(int(p), [float(x) for x in v]) for p, v in zip(pids, P)],
            "__pid bigint, __pvec array<double>",
        )
        scored = short.join(cands, "__cid").join(
            F.broadcast(pdf_), "__pid"
        ).select(
            "__pid",
            "__cid",
            F.expr(sq_euclidean_sql("__pvec", "__cvec")).alias("__dist"),
        )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__pid").alias(probe_id),
            F.col("__cid").alias(cand_id),
            F.col("__dist").alias("dist"),
            "rank",
        )
    )


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
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = candidates.sparkSession
    cvec = F.col(cand_vec).cast("array<double>")
    cands = candidates.select(
        F.col(cand_id).alias("cid"), cvec.alias("cvec"),
        array_to_vector(cvec).alias("__feat"),
    )
    km = KMeans(k=n_lists, seed=seed, featuresCol="__feat",
                predictionCol="cell")
    model = km.fit(cands.select("__feat"))
    assigned = model.transform(cands).select("cid", "cvec", "cell")
    cents = {int(i): np.asarray(c, dtype=np.float64)
             for i, c in enumerate(model.clusterCenters())}
    # residuals are computed in numpy inside the sample pull and the
    # encode pass (never a per-row Python UDF)
    books_src = assigned.limit(sample_limit).collect()
    X = np.asarray([r["cvec"] for r in books_src], dtype=np.float64)
    R = X - np.stack([cents[int(r["cell"])] for r in books_src])
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    books = _train_books_from_matrix(R, m, n_codes, seed)

    def enc(it):
        for pdf in it:
            if not len(pdf):
                continue
            Xb = np.asarray(list(pdf["cvec"]), dtype=np.float64)
            Cb = np.stack([cents[int(c)] for c in pdf["cell"]])
            Rb = Xb - Cb
            dsub = dim // m
            codes = np.empty((len(Rb), m), dtype=np.int8)
            for s in range(m):
                d = (
                    (Rb[:, None, s * dsub:(s + 1) * dsub]
                     - books[s][None]) ** 2
                ).sum(-1)
                codes[:, s] = d.argmin(1)
            yield pd.DataFrame({
                "cid": pdf["cid"].values,
                "cell": pdf["cell"].values,
                "codes": list(codes),
            })

    encoded = assigned.mapInPandas(
        enc, "cid bigint, cell int, codes array<tinyint>"
    )
    encoded.write.partitionBy("cell").mode("overwrite").parquet(
        f"{path}/cells"
    )
    spark.createDataFrame(
        [(c, v.tolist()) for c, v in cents.items()],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [
            (s, j, books[s][j].tolist())
            for s in range(m)
            for j in range(n_codes)
        ],
        "s int, code int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def _train_books_from_matrix(
    R: np.ndarray, m: int, n_codes: int, seed: int, iters: int = 20
) -> np.ndarray:
    """Lloyd's per subspace over an in-memory residual sample (same
    procedure as train_pq_codebooks, matrix input)."""
    n, dim = R.shape
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, n_codes, dsub))
    for s in range(m):
        Xs = R[:, s * dsub:(s + 1) * dsub]
        cents = [Xs[rng.integers(n)]]
        for _ in range(n_codes - 1):
            d2 = np.min(
                ((Xs[:, None, :] - np.asarray(cents)[None]) ** 2).sum(-1),
                axis=1,
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
                else:
                    far = ((Xs - C[assign]) ** 2).sum(-1).argmax()
                    C[c] = Xs[far]
        books[s] = C
    return books


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
    cent_rows = spark.read.parquet(f"{path}/centroids").collect()
    cents = {int(r["cell"]): np.asarray(r["centroid"]) for r in cent_rows}
    book_rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r["s"] for r in book_rows)
    n_codes = 1 + max(r["code"] for r in book_rows)
    dsub = len(book_rows[0]["centroid"])
    books = np.empty((m, n_codes, dsub))
    for r in book_rows:
        books[r["s"], r["code"]] = r["centroid"]

    probe_rows = probes.select(probe_id, probe_vec).collect()
    P = np.asarray([r[1] for r in probe_rows], dtype=np.float64)
    pids = np.asarray([r[0] for r in probe_rows], dtype=np.int64)
    # per probe: n_probe nearest cells + one residual LUT per cell
    cell_ids = sorted(cents)
    C = np.stack([cents[c] for c in cell_ids])
    luts: dict[int, list[tuple[int, np.ndarray]]] = {}
    probed_cells: set[int] = set()
    for i in range(len(P)):
        d = ((C - P[i]) ** 2).sum(-1)
        near = np.argsort(d)[:n_probe]
        entries = []
        for j in near:
            cell = cell_ids[int(j)]
            probed_cells.add(cell)
            r = P[i] - cents[cell]
            lut = np.stack([
                ((r[s * dsub:(s + 1) * dsub] - books[s]) ** 2).sum(-1)
                for s in range(m)
            ])
            entries.append((cell, lut))
        luts[int(pids[i])] = entries

    cells = spark.read.parquet(f"{path}/cells").where(
        F.col("cell").isin([int(c) for c in probed_cells])
    )
    by_cell: dict[int, list[tuple[int, np.ndarray]]] = {}
    for pid, entries in luts.items():
        for cell, lut in entries:
            by_cell.setdefault(cell, []).append((pid, lut))
    sub = np.arange(m)

    def go(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            out_p, out_c, out_d = [], [], []
            for cell, grp in pdf.groupby("cell"):
                plist = by_cell.get(int(cell))
                if not plist:
                    continue
                codes = np.asarray(list(grp["codes"]), dtype=np.int64)
                cids = grp["cid"].values
                for pid, lut in plist:
                    dists = lut[sub[:, None], codes.T].sum(0)
                    if exclude_self:
                        dists = np.where(cids == pid, np.inf, dists)
                    top = min(k, len(dists))
                    idx = np.argpartition(dists, top - 1)[:top]
                    idx = idx[np.isfinite(dists[idx])]
                    out_p.extend([pid] * len(idx))
                    out_c.extend(cids[idx])
                    out_d.extend(dists[idx])
            yield pd.DataFrame(
                {"__pid": out_p, "__cid": out_c, "__dist": out_d}
            )

    scored = cells.mapInPandas(go, "__pid bigint, __cid bigint, __dist double")
    w = Window.partitionBy("__pid").orderBy(
        F.col("__dist").asc(), F.col("__cid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__pid").alias(probe_id),
            F.col("__cid").alias("cid"),
            F.col("__dist").alias("dist"),
            "rank",
        )
    )
