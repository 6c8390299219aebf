"""At-scale A/B evidence for ``io.spread()``.

``spread()`` sits in front of the CPU folds of knn_join, ann_lsh_join
and the dedup/tokenize passes. It round-robin repartitions to cluster
parallelism unless its input is a narrow chain over a scan that
already lists at least defaultParallelism files. This tool times
three arms, each patched in wherever ``spread`` is bound:

- ``head``: ``io.spread`` as it is;
- ``forced``: always ``df.repartition(defaultParallelism)``;
- ``identity``: always ``df`` unchanged.

over two layouts of the same embeddings:

- NARROW (1 parquet file — this repo's testdata shape, and the shape
  of any small-dimension scan at cluster scale): head should match
  forced, and forced/identity shows the win of the shuffle;
- WIDE (32 parquet files — a stand-in for the tens of thousands of
  splits a 100 TB table scan has): head should match identity, since
  the shuffle is pure cost there.

Ops: knn_join (64-d sqeuclidean + cosine, q45/q35-style), knn_join
2-d (q23-style) and ann_lsh_join (8x64 hyperplane fold, q40-style).

Each timing is the best of three runs per arm, the arms interleaved
after one warm-up run.

Usage: python tools/spread_stress.py [out_json]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from tools.spread_traffic import bind_spread  # noqa: E402

SCRATCH = os.path.join(tempfile.gettempdir(), "spread_stress")
DIM = 64
SIZES = {"s20k": 20_000, "s50k": 50_000}
N_PROBES = 20


def gen_embeddings(spark, n: int, path_narrow: str, path_wide: str) -> None:
    import pandas as pd

    rng = np.random.default_rng(13)
    vecs = rng.standard_normal((n, DIM)).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(map(list, vecs))}
    )
    df = spark.createDataFrame(pdf)
    df.coalesce(1).write.mode("overwrite").parquet(path_narrow)
    df.repartition(32).write.mode("overwrite").parquet(path_wide)


def forced(df):
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def identity(df):
    return df


def best_times(arms: dict, run, runs: int = 3) -> dict[str, float]:
    """Best wall time of ``run()`` under each spread arm. One untimed
    warm-up run first, then the arms take turns in a rotating order,
    so JIT warm-up and host drift fall on every arm alike."""
    run()
    names = list(arms)
    best = dict.fromkeys(names, float("inf"))
    for r in range(runs):
        for name in names[r:] + names[:r]:
            bind_spread(arms[name])
            t0 = time.perf_counter()
            run()
            best[name] = min(best[name], time.perf_counter() - t0)
    return {name: round(t, 3) for name, t in best.items()}


def main() -> None:
    out_json = sys.argv[1] if len(sys.argv) > 1 else "STRESS_r16.json"
    from model_presto_spark.io import spread
    from model_presto_spark.operators.knn import ann_lsh_join, knn_join
    from model_presto_spark.session import get_spark

    spark = get_spark("spread-stress")
    spark.sparkContext.setLogLevel("ERROR")

    layouts: dict[str, dict[str, str]] = {}
    for tag, n in SIZES.items():
        narrow = f"{SCRATCH}/{tag}/narrow"
        wide = f"{SCRATCH}/{tag}/wide"
        if not (os.path.exists(narrow) and os.path.exists(wide)):
            gen_embeddings(spark, n, narrow, wide)
        layouts[tag] = {"narrow": narrow, "wide": wide}

    def run_op(op: str, path: str) -> None:
        emb = spark.read.parquet(path)
        probes = emb.where(f"vec_id < {N_PROBES}").toDF("probe_id", "vec")
        cands = emb.toDF("cid", "vec")
        if op == "knn64_sqeuclidean":
            out = knn_join(probes, cands, "probe_id", "cid", "vec", "vec",
                           k=5, metric="sqeuclidean", exclude_self=True)
        elif op == "knn64_cosine":
            out = knn_join(probes, cands, "probe_id", "cid", "vec", "vec",
                           k=5, metric="cosine", exclude_self=True)
        elif op == "knn2":
            p2 = probes.selectExpr("probe_id", "slice(vec, 1, 2) AS vec")
            c2 = cands.selectExpr("cid", "slice(vec, 1, 2) AS vec")
            out = knn_join(p2, c2, "probe_id", "cid", "vec", "vec",
                           k=5, metric="sqeuclidean", exclude_self=True)
        elif op == "ann_lsh":
            out = ann_lsh_join(emb.toDF("probe_id", "vec"), cands,
                               "probe_id", "cid", "vec", "vec",
                               k=5, dim=DIM, planes=8)
        else:
            raise ValueError(op)
        out.write.format("noop").mode("overwrite").save()

    ops = ["knn64_sqeuclidean", "knn64_cosine", "knn2", "ann_lsh"]
    arms = {"head": spread, "forced": forced, "identity": identity}
    results: dict = {"sizes": SIZES, "dim": DIM, "n_probes": N_PROBES,
                     "default_parallelism": spark.sparkContext.defaultParallelism,
                     "timings": {}}
    for tag in SIZES:
        for layout, path in layouts[tag].items():
            for op in ops:
                # ann over the top size's same-bucket pairs is a
                # genuine O(n^2/2^planes) rerank — cap ann at 20k
                if op == "ann_lsh" and tag != "s20k":
                    continue
                key = f"{tag}.{layout}.{op}"
                spark.sparkContext.setJobDescription(key)
                for arm, sec in best_times(arms, lambda: run_op(op, path)).items():
                    results["timings"][f"{key}.{arm}"] = sec
                    print(f"{key}.{arm}", sec, flush=True)
    bind_spread(spread)

    t = results["timings"]
    for num, den in (("head", "identity"), ("head", "forced"), ("forced", "identity")):
        results[f"ratios_{num}_over_{den}"] = {
            k[: -len(num) - 1]: round(t[k] / t[k[: -len(num) - 1] + "." + den], 3)
            for k in t
            if k.endswith("." + num)
        }
    with open(out_json, "w") as f:
        json.dump(results, f, indent=1)
    print("wrote", out_json)


if __name__ == "__main__":
    main()
