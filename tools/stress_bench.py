"""sf1.0-scale stress bench for the dedup/ANN stack.

The per-round bench (bench.py) runs at sf0.1 — small enough that
session overhead dominates and skew/quadratic blowups are invisible.
This tool generates sf1.0-sized documents (50k docs, with planted
near-duplicate families and a skewed hot shingle) and embeddings
(20k x 64d, with planted dup pairs) into a scratch dir, runs the
scale-path operators at two sizes, and fits the scaling exponent
alpha in t ~ n^alpha. Sub-quadratic (alpha well below 2) is the pass
condition for the bucketed paths; CC must converge in < 10 rounds.

Usage: python tools/stress_bench.py [out_json] [--small]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import numpy as np

# bumped r6: corpus gained the size-skewed containment plants below —
# stale cached parquet from earlier rounds must not be reused
SCRATCH = "/tmp/stress_sf1_r7"

WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "shard tile pixel band month split seed probe bucket plan stage task"
).split()


def gen_documents(n_docs: int, seed: int = 11) -> "pd.DataFrame":
    import pandas as pd

    rng = np.random.default_rng(seed)
    base_len = rng.integers(30, 60, size=n_docs)
    texts = []
    for i in range(n_docs):
        words = rng.choice(WORDS, size=base_len[i])
        texts.append(" ".join(words))
    # planted near-dup families: 2% of docs are a light edit of an
    # earlier doc (one word changed) -> MinHash/ngram must find them
    n_dup = n_docs // 50
    dup_src = rng.integers(0, n_docs, size=n_dup)
    for j, s in enumerate(dup_src):
        w = texts[s].split()
        w[rng.integers(0, len(w))] = rng.choice(WORDS)
        texts[(s + 1) % n_docs] = " ".join(w)
    # skewed hot prefix: 5% of docs share one first word (hot key for
    # blocking/inverted-index paths)
    for i in range(0, n_docs, 20):
        texts[i] = "spark " + texts[i]
    # size-skewed containment plants (doc-inside-doc, the operator's
    # raison d'être): the LAST 200 ids form 50 groups of (container
    # ~300 words, rho~0.1 child = a 30-word contiguous slice,
    # rho~0.3 child = a 100-word slice, untouched filler). Written
    # LAST so the near-dup/hot-prefix mutations above cannot clobber
    # them; ids are deterministic so the bench can measure
    # containment-LSH recall per rho band (recall collapses as
    # rho -> 0 because implied J = t*rho/(1+rho-t*rho) -> 0 — this
    # corpus makes that degradation measurable instead of hiding it
    # behind near-same-size planted pairs).
    if n_docs >= 1000:
        base = n_docs - 200
        for j in range(50):
            big = rng.choice(WORDS, size=300)
            off = int(rng.integers(0, 200))
            texts[base + 4 * j] = " ".join(big)
            texts[base + 4 * j + 1] = " ".join(big[off : off + 30])
            texts[base + 4 * j + 2] = " ".join(big[off : off + 100])
    langs = rng.choice(["en", "fr", "de", "zh", "es"], size=n_docs)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 17}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        }
    )


def gen_embeddings(n_vecs: int, dim: int = 64, seed: int = 12) -> "pd.DataFrame":
    import pandas as pd

    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n_vecs, dim)).astype("float32")
    # planted near-dup pairs: every 100th vector ~= its successor
    for i in range(0, n_vecs - 1, 100):
        vecs[i + 1] = vecs[i] + rng.standard_normal(dim).astype("float32") * 1e-3
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype="int64"),
            "embedding": [v.tolist() for v in vecs],
            "label": (np.arange(n_vecs) % 10).astype("int32"),
        }
    )


def materialize(n_docs: int, n_vecs: int, tag: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(SCRATCH, tag)
    os.makedirs(out, exist_ok=True)
    dp = os.path.join(out, "documents.parquet")
    ep = os.path.join(out, "embeddings.parquet")
    if not os.path.exists(dp):
        pq.write_table(pa.Table.from_pandas(gen_documents(n_docs)), dp)
    if not os.path.exists(ep):
        emb = gen_embeddings(n_vecs)
        schema = pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        )
        pq.write_table(pa.Table.from_pandas(emb, schema=schema), ep)
    return out


def run_suite(spark, sf_dir: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from model_presto_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from model_presto_spark.operators.graph import dedup_clusters
    from model_presto_spark.operators.knn import ann_lsh_join

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    timings: dict[str, float] = {}

    # Each op's timing covers its own pipeline + materialization and
    # nothing else: mh is checkpointed inside its block (so the CC
    # stage below measures the clustering machinery, not a MinHash
    # re-derivation), and the internal MEMORY_AND_DISK persists of one
    # op are dropped before the next so ops don't fight for executor
    # memory across measurements.
    t0 = time.time()
    # signature_screen pinned: this is the exact-semantics baseline
    # (and the recall denominator below); the operator DEFAULT is now
    # size-aware auto, measured separately as minhash_default
    mh = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.8, signature_screen=None
    ).localCheckpoint(eager=True)
    n_mh = mh.count()
    timings["minhash_lsh"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    ng = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8)
    n_ng = ng.count()
    timings["ngram_jaccard"] = time.time() - t0
    spark.catalog.clearCache()

    # Production fast-hash path (xxhash64 instead of the md5 the
    # DuckDB oracles need): same operators, recorded separately so
    # the md5-vs-native cost is visible in the stress record.
    t0 = time.time()
    mh_fast = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.8, fast_hash=True,
            signature_screen=None,
        ).collect()
    }
    timings["minhash_lsh_fast"] = time.time() - t0
    spark.catalog.clearCache()

    # scale twin: in-bucket signature screen (random band collisions
    # never materialize as rows). Recall vs the unscreened pair set is
    # RECORDED, not asserted.
    t0 = time.time()
    mh_scr = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.8, fast_hash=True,
            signature_screen=0.55,
        ).collect()
    }
    timings["minhash_lsh_screened"] = time.time() - t0
    mh_recall = len(mh_scr & mh_fast) / len(mh_fast) if mh_fast else 1.0
    spark.catalog.clearCache()

    # defaults-routing probe: calling the operator with DEFAULT mode
    # args must land on the screened path at corpus scale (>= 20k
    # docs) and the exact path below — the size-aware auto default
    t0 = time.time()
    n_mh_def = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.8, fast_hash=True
    ).count()
    timings["minhash_default"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.8, fast_hash=True
    ).count()
    timings["ngram_jaccard_fast"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    probes = emb.limit(500).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("vec")
    )
    cands = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("vec"))
    ann = ann_lsh_join(probes, cands, "probe_id", "cand_id", k=5, dim=64, planes=10)
    n_ann = ann.count()
    timings["ann_lsh"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    clustered = dedup_clusters(docs.select("doc_id"), mh, "doc_id")
    n_clusters = clustered.select("cluster").distinct().count()
    timings["cc_clusters"] = time.time() - t0
    spark.catalog.clearCache()

    # round-3 ops: distributed-prefix-sum packing, unigram-LM
    # perplexity, PQ encode + ADC top-k
    from model_presto_spark.functions.text import tokens_sql
    from model_presto_spark.operators.lm import perplexity_scores
    from model_presto_spark.operators.packing import pack_sequences
    from model_presto_spark.operators.pq import (
        pq_encode,
        pq_knn_join,
        train_pq_codebooks,
    )

    t0 = time.time()
    lens = docs.select("doc_id", F.size(F.expr(tokens_sql("text"))).alias("n_tok"))
    n_bins = (
        pack_sequences(lens, "n_tok", 512).select("bin_id").distinct().count()
    )
    timings["seq_packing"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    n_scored = perplexity_scores(docs).count()
    timings["perplexity"] = time.time() - t0
    spark.catalog.clearCache()

    # span dedup (Lee et al. window-hash form): posting-list shape,
    # production xxhash64 path
    from model_presto_spark.operators.dedup import span_dup_stats

    t0 = time.time()
    n_span = (
        span_dup_stats(docs, k=8, fast_hash=True)
        .where(F.col("dup_windows") > 0)
        .count()
    )
    timings["span_dedup"] = time.time() - t0
    spark.catalog.clearCache()

    # PageRank on a derived doc-graph (~n/8 nodes, ~n edges): the
    # join+groupBy-per-round iterative shape at graph scale
    from model_presto_spark.operators.graph import pagerank

    t0 = time.time()
    mod = max(50, docs.count() // 8)
    e = (
        docs.select(
            (F.col("doc_id") % mod).alias("src"),
            F.pmod(F.xxhash64("text"), F.lit(mod)).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    n_pr = pagerank(e, n_iter=3).count()
    timings["pagerank"] = time.time() - t0
    spark.catalog.clearCache()

    # graph analytics on the same derived graph: degree-ordered
    # triangle census + Adamic-Adar link prediction + 3-hop BFS
    from model_presto_spark.operators.graph import (
        adamic_adar,
        bfs_levels,
        triangle_stats,
    )

    t0 = time.time()
    tri_row = triangle_stats(e).first()
    timings["triangles"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    n_aa = adamic_adar(e, min_common=3).count()
    timings["adamic_adar"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    n_bfs = bfs_levels(e, [0, 1], max_hops=3).count()
    timings["bfs"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    books = train_pq_codebooks(emb, "embedding", m=8, n_codes=16,
                               sample_limit=2000)
    enc = pq_encode(
        emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding")),
        "cand_id", "embedding", books,
    )
    n_pq = pq_knn_join(
        probes, enc, "probe_id", "cand_id", books, k=5
    ).count()
    timings["pq_adc"] = time.time() - t0

    t0 = time.time()
    from model_presto_spark.operators.lines import line_dedup_stats

    n_boiler = (
        line_dedup_stats(
            docs, min_doc_freq=20, delimiter=None, width=3, fast_hash=True
        )
        .where(F.col("boiler_lines") > 0)
        .count()
    )
    timings["line_boilerplate"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    from model_presto_spark.operators.dedup import ngram_containment_pairs

    # candidates pinned to the exact-recall index path: this is the
    # recall denominator; the operator DEFAULT is now size-aware auto,
    # measured separately as containment_default
    cont_exact = ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.6, max_doc_freq=500,
        fast_hash=True, candidates="index",
    )
    exact_pairs = {(r["id_a"], r["id_b"]) for r in cont_exact.collect()}
    n_cont = len(exact_pairs)
    timings["containment"] = time.time() - t0
    spark.catalog.clearCache()

    # scale-path twin: MinHash-banded candidates + exact verify.
    # Recall vs the exact pair set is RECORDED, not asserted.
    t0 = time.time()
    cont_lsh = ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.6, max_doc_freq=500,
        fast_hash=True, candidates="lsh",
    )
    lsh_pairs = {(r["id_a"], r["id_b"]) for r in cont_lsh.collect()}
    timings["containment_lsh"] = time.time() - t0
    n_cont_lsh = len(lsh_pairs)
    cont_recall = (
        len(lsh_pairs & exact_pairs) / n_cont if n_cont else 1.0
    )
    spark.catalog.clearCache()

    # per-rho recall over the size-skewed doc-inside-doc plants (the
    # last 200 ids; see gen_documents): containment's actual use case
    # is rho << 1, where band-collision probability collapses — the
    # recorded curve must show that, not the flattering same-size case
    n_total_docs = docs.count()
    pbase = n_total_docs - 200
    planted = {
        "rho01": {(pbase + 4 * j, pbase + 4 * j + 1) for j in range(50)},
        "rho03": {(pbase + 4 * j, pbase + 4 * j + 2) for j in range(50)},
    }
    cont_recall_rho = {}
    for band, pset in planted.items():
        denom = exact_pairs & pset
        cont_recall_rho[band] = (
            round(len(lsh_pairs & denom) / len(denom), 4) if denom else None
        )

    # round-7 skewed-corpus scale twin: LSH-Ensemble-style
    # length-bucketed asymmetric banding — the generator whose
    # per-gap banding keeps doc-inside-doc recall high where the
    # single-banding lsh twin collapses. Round 8: the DEFAULT is now
    # SCREENED (per-pair containment estimate from the signatures +
    # exact gram counts, screen = t - 0.25) — the round-7 unscreened
    # flood measured s10->s30 exponent 1.35 / 205 s at 150k docs, so
    # both twins are timed here and the recall fields record the
    # screened default (the path auto now routes skewed+huge corpora
    # to).
    t0 = time.time()
    ens_pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.6, max_doc_freq=500,
            fast_hash=True, candidates="lsh_ensemble",
        ).collect()
    }
    timings["containment_ensemble"] = time.time() - t0
    cont_ens_recall_rho = {}
    for band, pset in planted.items():
        denom = exact_pairs & pset
        cont_ens_recall_rho[band] = (
            round(len(ens_pairs & denom) / len(denom), 4) if denom else None
        )
    cont_ens_recall = (
        len(ens_pairs & exact_pairs) / n_cont if n_cont else 1.0
    )
    spark.catalog.clearCache()

    t0 = time.time()
    n_ens_unscr = ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.6, max_doc_freq=500,
        fast_hash=True, candidates="lsh_ensemble", ensemble_screen=None,
    ).count()
    timings["containment_ensemble_unscreened"] = time.time() - t0
    spark.catalog.clearCache()

    # minhash screened recall on the SKEWED-size family (round-6
    # verdict item 7: the 0.999 headline recall is measured on the
    # benign near-same-size corpus only). A rho~0.33 containment pair
    # has Jaccard ~0.33, so measure at threshold 0.3 where those
    # pairs are true minhash pairs: screened-vs-unscreened recall
    # restricted to the planted rho03 set. (rho~0.1 pairs have J~0.09
    # — below any practical resemblance threshold, so they are the
    # containment operator's job, not minhash's.)
    # Band collision and the signature screen are per-PAIR decisions,
    # so measuring on the planted subcorpus (last 200 ids) is exact
    # for these pairs while avoiding the full-corpus t=0.3 pair flood
    # (the 36-word-vocab corpus is shingle-dense: random-pair J at
    # t=0.3 would materialize millions of rows just to discard them).
    planted_docs = docs.where(F.col("doc_id") >= pbase)
    mh_lo_fast = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            planted_docs, "doc_id", "text", threshold=0.3, fast_hash=True,
            signature_screen=None,
        ).collect()
        if (r["id_a"], r["id_b"]) in planted["rho03"]
    }
    mh_lo_scr = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            planted_docs, "doc_id", "text", threshold=0.3, fast_hash=True,
            signature_screen=0.05,
        ).collect()
        if (r["id_a"], r["id_b"]) in planted["rho03"]
    }
    mh_scr_recall_rho03 = (
        round(len(mh_lo_scr & mh_lo_fast) / len(mh_lo_fast), 4)
        if mh_lo_fast
        else None
    )
    spark.catalog.clearCache()

    # defaults-routing probe (same contract as minhash_default).
    # Round 7: the auto route is skew-aware (containment_auto_route,
    # viable min/max length ratio) — record WHICH path the default
    # picked on this corpus and the default call's recall on the
    # planted doc-inside-doc families, the round-6 verdict's ask:
    # the default must not land extreme-containment workloads on the
    # 0.40-recall LSH path.
    from model_presto_spark.operators.dedup import containment_auto_route

    cont_route = containment_auto_route(docs, "text", n=3)
    t0 = time.time()
    def_pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.6, max_doc_freq=500,
            fast_hash=True,
        ).collect()
    }
    timings["containment_default"] = time.time() - t0
    n_cont_def = len(def_pairs)
    cont_def_recall_rho = {}
    for band, pset in planted.items():
        denom = exact_pairs & pset
        cont_def_recall_rho[band] = (
            round(len(def_pairs & denom) / len(denom), 4) if denom else None
        )
    spark.catalog.clearCache()

    t0 = time.time()
    from model_presto_spark.operators.dsir import dsir_sample

    n_dsir = dsir_sample(
        docs.where(F.col("lang") != "en"),
        docs.where(F.col("lang") == "en"),
        k=500,
        n_buckets=4096,
        fast_hash=True,
    ).count()
    timings["dsir"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    from model_presto_spark.operators.dedup import semantic_dedup

    n_sem = (
        semantic_dedup(emb, "vec_id", "embedding", threshold=0.6, planes=8)
        .where(F.col("is_semantic_dup"))
        .count()
    )
    timings["semantic_dedup"] = time.time() - t0
    spark.catalog.clearCache()

    # round-5 additions: HITS on the derived graph, cross-source
    # overlap matrix, weighted median / EWMA / sweep-line concurrency
    # window algebra over a synthetic event stream derived from docs
    from model_presto_spark.operators.graph import hits

    t0 = time.time()
    n_hits = hits(e, "src", "dst", iterations=2).count()
    timings["hits"] = time.time() - t0
    spark.catalog.clearCache()

    from model_presto_spark.operators.dedup import source_overlap

    t0 = time.time()
    n_overlap = source_overlap(docs, "source", "text", prefix_tokens=4).count()
    timings["source_overlap"] = time.time() - t0
    spark.catalog.clearCache()

    from model_presto_spark.operators.stats import weighted_median
    from model_presto_spark.operators.timeseries import ewma
    from model_presto_spark.operators.temporal import max_concurrency

    stream = docs.select(
        (F.col("doc_id") % 997).alias("entity"),
        F.col("doc_id").alias("seq"),
        (F.pmod(F.xxhash64("text"), F.lit(1000)).cast("double") / 10.0).alias(
            "v"
        ),
    )
    t0 = time.time()
    n_wm = weighted_median(stream, "entity", "v", "v").count()
    timings["weighted_median"] = time.time() - t0
    spark.catalog.clearCache()

    # exact quantiles over 3 huge groups — the adversarial shape for
    # buffering percentile(); accuracy=1000 keeps BOTH sizes on the
    # sketch-bracket path (smallest group > accuracy), so the exponent
    # measures the two mergeable passes, not the whole-group fallback.
    from model_presto_spark.operators.quantiles import exact_grouped_quantiles

    wide = stream.select((F.col("entity") % 3).alias("g"), "v")
    t0 = time.time()
    n_eq = exact_grouped_quantiles(
        wide, ["g"], [("v", 0.5, "med"), ("v", 0.9, "p90")], accuracy=1000
    ).count()
    timings["exact_quantiles"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    n_ewma = ewma(stream, "entity", ["seq"], "v").count()
    timings["ewma"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    iv = stream.select(
        "entity", "seq", F.col("seq").alias("s"),
        (F.col("seq") + 500).alias("e2"),
    )
    n_conc = max_concurrency(
        iv, "s", "e2", group_cols=["entity"], tie_cols=["seq"]
    ).count()
    timings["concurrency"] = time.time() - t0
    spark.catalog.clearCache()

    from model_presto_spark.operators.grid import radius_join
    from model_presto_spark.operators.stats import mann_whitney_u

    t0 = time.time()
    from model_presto_spark.operators.dedup import ppjoin_pairs

    n_pp = ppjoin_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, fast_hash=True
    ).count()
    timings["ppjoin"] = time.time() - t0
    spark.catalog.clearCache()

    # radius join: n probe points vs n build points scattered over a
    # +-60 deg band; cell-bucketed candidates must scale ~linearly
    # with the true pair count, never as n^2
    pts_a = docs.select(
        F.col("doc_id").alias("aid"),
        ((F.col("doc_id") % 1200) / 10.0 - 60 + 0.37).alias("alat"),
        ((F.col("doc_id") % 3400) / 10.0 - 170 + 0.73).alias("alon"),
    )
    pts_b = docs.select(
        F.col("doc_id").alias("bid"),
        (((F.col("doc_id") * 7) % 1200) / 10.0 - 60 + 0.11).alias("blat"),
        (((F.col("doc_id") * 13) % 3400) / 10.0 - 170 + 0.29).alias("blon"),
    )
    t0 = time.time()
    n_rj = radius_join(
        pts_a, pts_b, "alat", "alon", "blat", "blon",
        radius_m=100_000.0, cell_deg=2.0,
    ).count()
    timings["radius_join"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    mw = mann_whitney_u(
        docs.select(
            (F.col("doc_id") % 30).alias("g"),
            (F.pmod(F.xxhash64("text"), F.lit(5000)).cast("double")).alias(
                "value"
            ),
            (F.floor(F.col("doc_id") / 30) % 2).cast("int").alias("is_a"),
        ),
        "value",
        "is_a",
        group_cols=["g"],
    )
    n_mw = mw.count()
    timings["mann_whitney"] = time.time() - t0
    spark.catalog.clearCache()

    # round-7 ops: Bloom-prefilter join (probe = per-token stream,
    # build = 4% of doc ids) and count-min sketch build+probe over
    # the token stream (the sketch shuffle is constant-size, so this
    # should scale ~linearly in stream length).
    from model_presto_spark.operators.bloom import bloom_prefilter_join
    from model_presto_spark.operators.cms import cms_build, cms_estimate

    tok_stream = docs.select(
        "doc_id", F.explode_outer(F.expr(tokens_sql("text"))).alias("tok")
    )
    t0 = time.time()
    build = docs.where(F.col("doc_id") % 25 == 0).select("doc_id")
    n_bloom = bloom_prefilter_join(
        tok_stream, build, on="doc_id", num_bits=1 << 16
    ).count()
    timings["bloom_join"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    sketch = cms_build(tok_stream, "tok", depth=4, width=2048)
    probes = (
        tok_stream.groupBy("tok").count().orderBy(F.desc("count"), "tok").limit(20)
    )
    n_cms = cms_estimate(probes, sketch, "tok").count()
    timings["cms"] = time.time() - t0
    spark.catalog.clearCache()

    timings["_counts"] = {  # type: ignore[assignment]
        "minhash_pairs": n_mh,
        "minhash_screened_pairs": len(mh_scr),
        "minhash_screened_recall": round(mh_recall, 4),
        "minhash_screened_recall_rho03": mh_scr_recall_rho03,
        "minhash_rho03_found_unscreened": len(mh_lo_fast),
        "hits_nodes": n_hits,
        "overlap_pairs": n_overlap,
        "wm_groups": n_wm,
        "eq_groups": n_eq,
        "ewma_rows": n_ewma,
        "conc_groups": n_conc,
        "boiler_docs": n_boiler,
        "containment_pairs": n_cont,
        "containment_lsh_pairs": n_cont_lsh,
        "containment_lsh_recall": round(cont_recall, 4),
        "containment_lsh_recall_rho01": cont_recall_rho["rho01"],
        "containment_lsh_recall_rho03": cont_recall_rho["rho03"],
        "containment_ensemble_pairs": len(ens_pairs),
        "containment_ensemble_unscreened_pairs": n_ens_unscr,
        "containment_ensemble_recall": round(cont_ens_recall, 4),
        "containment_ensemble_recall_rho01": cont_ens_recall_rho["rho01"],
        "containment_ensemble_recall_rho03": cont_ens_recall_rho["rho03"],
        "minhash_default_pairs": n_mh_def,
        "containment_default_pairs": n_cont_def,
        "containment_default_recall_rho01": cont_def_recall_rho["rho01"],
        "containment_default_recall_rho03": cont_def_recall_rho["rho03"],
        "auto_routing": {
            "minhash": "screened" if n_total_docs >= 20000 else "exact",
            # round 7: skew-aware — the ACTUAL decision the default
            # call takes on this corpus (size AND viable min/max
            # length ratio; the planted long containers push the
            # ratio under 0.30, so >=20k docs route to index here)
            "containment": cont_route,
        },
        "dsir_kept": n_dsir,
        "semantic_dups": n_sem,
        "ngram_pairs": n_ng,
        "ann_rows": n_ann,
        "clusters": n_clusters,
        "pack_bins": n_bins,
        "scored_docs": n_scored,
        "pq_rows": n_pq,
        "span_dup_docs": n_span,
        "pr_nodes": n_pr,
        "triangles": int(tri_row["n_triangles"]),
        "aa_pairs": n_aa,
        "bfs_reached": n_bfs,
        "radius_pairs": n_rj,
        "mw_groups": n_mw,
        "bloom_rows": n_bloom,
        "cms_probes": n_cms,
        "ppjoin_pairs": n_pp,
    }
    return timings


def run_light_suite(spark, sf_dir: str) -> dict[str, float]:
    """s30 third-point suite: just the ops whose s1->s10 exponent sits
    near 1.0 (minhash_lsh_fast 0.99, ngram_jaccard_fast ~0.9) plus
    containment (the round-4 superlinear outlier) — a third scale
    point distinguishes shuffle-bound linear from
    quadratic-with-small-constant, which two points cannot."""
    from model_presto_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    timings: dict[str, float] = {}

    t0 = time.time()
    minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.8, fast_hash=True,
        signature_screen=None,
    ).count()
    timings["minhash_lsh_fast"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.8, fast_hash=True,
        signature_screen=0.55,
    ).count()
    timings["minhash_lsh_screened"] = time.time() - t0
    spark.catalog.clearCache()

    # defaults must route a 150k-doc corpus to the screened path
    t0 = time.time()
    minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.8, fast_hash=True
    ).count()
    timings["minhash_default"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.8, fast_hash=True
    ).count()
    timings["ngram_jaccard_fast"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.6, max_doc_freq=500,
        fast_hash=True, candidates="index",
    ).count()
    timings["containment"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.6, max_doc_freq=500,
        fast_hash=True, candidates="lsh",
    ).count()
    timings["containment_lsh"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.6, max_doc_freq=500,
        fast_hash=True, candidates="lsh_ensemble",
    ).count()
    timings["containment_ensemble"] = time.time() - t0
    spark.catalog.clearCache()

    t0 = time.time()
    ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.6, max_doc_freq=500,
        fast_hash=True, candidates="lsh_ensemble", ensemble_screen=None,
    ).count()
    timings["containment_ensemble_unscreened"] = time.time() - t0
    spark.catalog.clearCache()

    # round 8: the auto route is THREE-way — this corpus is skewed
    # (planted long containers trip the gram-ratio guard) at every
    # size, so 50k docs route to the exact index path and 150k docs
    # (>= ensemble_min_docs) to the SCREENED ensemble. The
    # containment_default s10->s30 "exponent" therefore spans a
    # deliberate regime switch (index@50k -> ensemble@150k); the pure
    # per-path exponents are containment (index, pinned) and
    # containment_ensemble above.
    t0 = time.time()
    ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.6, max_doc_freq=500,
        fast_hash=True,
    ).count()
    timings["containment_default"] = time.time() - t0
    spark.catalog.clearCache()
    return timings


def main() -> int:
    out_json = sys.argv[1] if len(sys.argv) > 1 else "STRESS_r2.json"
    small = "--small" in sys.argv
    sizes = [(5_000, 2_000, "s1"), (50_000, 20_000, "s10")]
    if small:
        sizes = [(2_000, 1_000, "s1"), (8_000, 4_000, "s4")]

    from model_presto_spark.session import get_spark

    spark = get_spark("stress-bench")
    results = {}
    for n_docs, n_vecs, tag in sizes:
        sf_dir = materialize(n_docs, n_vecs, tag)
        results[tag] = {"n_docs": n_docs, **run_suite(spark, sf_dir)}
        print(tag, json.dumps(results[tag]), flush=True)
        # fresh JVM per size suite: ~40 single-run ops leave eager
        # localCheckpoint blocks + codegen caches behind that
        # clearCache() cannot reclaim, and the accumulated heap
        # eventually OOMs the fixed 8g driver mid-measurement (seen
        # round 8 in the s30 light suite). Per-size isolation also
        # means each exponent point starts from the same clean heap.
        spark.stop()
        spark = get_spark("stress-bench")

    (small_tag, big_tag) = (sizes[0][2], sizes[1][2])
    ratio_n = sizes[1][0] / sizes[0][0]
    exponents = {}
    for op in (
        "minhash_lsh",
        "ngram_jaccard",
        "minhash_lsh_fast",
        "minhash_lsh_screened",
        "minhash_default",
        "containment_default",
        "ngram_jaccard_fast",
        "ann_lsh",
        "dsir",
        "cc_clusters",
        "seq_packing",
        "perplexity",
        "pq_adc",
        "span_dedup",
        "pagerank",
        "triangles",
        "adamic_adar",
        "bfs",
        "hits",
        "containment",
        "containment_lsh",
        "containment_ensemble",
        "containment_ensemble_unscreened",
        "line_boilerplate",
        "semantic_dedup",
        "source_overlap",
        "weighted_median",
        "exact_quantiles",
        "ewma",
        "concurrency",
        "radius_join",
        "mann_whitney",
        "ppjoin",
        "bloom_join",
        "cms",
    ):
        r = results[big_tag][op] / max(results[small_tag][op], 1e-9)
        exponents[op] = round(math.log(r) / math.log(ratio_n), 3)

    # third scale point (s30 = 3x the big point's docs) for the ops
    # whose two-point exponent is near/above linear
    exponents_s30 = {}
    s30_timings = {}
    route_s30 = None
    if not small:
        n30 = sizes[1][0] * 3
        sf30 = materialize(n30, 2_000, "s30")
        s30_timings = run_light_suite(spark, sf30)
        for op, t30 in s30_timings.items():
            r = t30 / max(results[big_tag][op], 1e-9)
            exponents_s30[op] = round(math.log(r) / math.log(3.0), 3)
        s30_timings = {k: round(v, 3) for k, v in s30_timings.items()}
        # the three-way routing decision at the skewed+large point
        # (round-8 contract: skewed AND >= ensemble_min_docs must
        # land on the screened ensemble, whose planted-family recall
        # is recorded at s10 — band collision and the screen are
        # per-PAIR decisions, so the recall transfers across corpus
        # size like the minhash screened twin's)
        from model_presto_spark.operators.dedup import (
            containment_auto_route,
        )

        docs30 = spark.read.parquet(
            os.path.join(sf30, "documents.parquet")
        )
        route_s30 = containment_auto_route(docs30, "text", n=3)

    summary = {
        "sizes": {small_tag: sizes[0][0], big_tag: sizes[1][0]},
        "timings": {t: {k: round(v, 3) for k, v in results[t].items() if isinstance(v, float)} for t in results},
        "counts": {t: results[t]["_counts"] for t in results},
        "scaling_exponent": exponents,
        "scaling_exponent_s10_to_s30": exponents_s30,
        "timings_s30": s30_timings,
        "auto_routing_s30": {"containment": route_s30},
        "pass_subquadratic": all(e < 1.7 for e in exponents.values()),
        # Interpretation guard for the s10->s30 table: the planted
        # corpus draws from a 36-word vocab, so its 3-gram space is
        # <= 36^3 = 46,656 distinct grams — avg df ~54 at 50k docs and
        # ~160 at 150k, both UNDER the max_doc_freq=500 stop-gram cap.
        # In that regime candidate volume for ANY exact gram-keyed
        # method has the Sum(df^2) ~ n^2 floor, so the exact
        # containment path is expected ~quadratic here (the cap turns
        # it linear again once dfs cross 500, ~450k docs). This is the
        # adversarial saturating case the candidates='lsh' twin exists
        # for (exponent + recall reported alongside); real corpora
        # hash grams into 2^64 space and only their stop-gram head
        # saturates, which the cap excludes.
        "notes": {
            "containment_s30": "exact path superlinear by design on "
            "the saturating 36-word-vocab corpus (gram space 46,656; "
            "dfs below the stop-gram cap scale with n => Sum(df^2) "
            "candidate floor); scale path is candidates='lsh' — see "
            "containment_lsh exponent + containment_lsh_recall",
            "minhash_lsh_fast_s30": "unscreened candidate volume is "
            "dominated by RANDOM band collisions, which scale n^2 at "
            "a fixed background similarity (measured 5.9M candidates "
            "at 50k docs, 27.6M at 150k, for ~1k/3k true pairs) — "
            "the documented flood signature_screen exists for; the "
            "screened twin's exponent + minhash_screened_recall are "
            "reported alongside and are the production setting at "
            "corpus scale (q32's oracle keeps the exact unscreened "
            "semantics)",
            "defaults": "minhash_default / containment_default call "
            "the operators with DEFAULT mode args: minhash auto "
            "routes >= 20k docs to the screened path; containment "
            "auto (round 8) is SKEW-AWARE and THREE-WAY — lsh only "
            "when the gram-count min/max ratio >= 0.30 bounds every "
            "pair's size ratio inside the measured high-recall "
            "band; a skewed corpus under ensemble_min_docs (100k) "
            "takes the exact index path; a skewed corpus at or over "
            "it takes the SCREENED lsh_ensemble (see "
            "counts.auto_routing / auto_routing_s30 for the actual "
            "decisions and containment_default_recall_rho01/rho03 "
            "for the default call's recall on the planted "
            "doc-inside-doc families). On THIS corpus the planted "
            "300-word containers trip the skew guard at every size: "
            "containment_default measures the exact index path at "
            "5k/50k docs (its s10 exponent ~2 IS the Sum(df^2) "
            "floor the containment_s30 note predicts on the "
            "saturating 36-word-vocab corpus) and the screened "
            "ensemble at 150k — the s10->s30 row therefore spans a "
            "deliberate regime switch; read the per-path exponents "
            "from containment / containment_ensemble instead.",
            "containment_recall_rho": "containment_lsh_recall_rho01/"
            "rho03 measure the lsh twin on planted doc-inside-doc "
            "pairs at size ratio ~0.1 / ~0.33 (last 200 ids of the "
            "corpus): implied J = t*rho/(1+rho-t*rho) collapses as "
            "rho -> 0, so LOW rho01 recall is the honest recorded "
            "trade, not a regression — and why the round-7 auto "
            "routing refuses the lsh path on any corpus that could "
            "contain such pairs (containment_default_recall_rho01 "
            "must read 1.0 whenever auto_routing.containment is "
            "'index').",
            "containment_ensemble": "LSH-Ensemble-style generator "
            "(length-bucketed per-gap banding, round 7; SCREENED by "
            "default since round 8 — per-pair containment estimate "
            "from the MinHash signatures + exact gram counts inside "
            "the pair expansion, screen = t - 0.25): "
            "containment_ensemble_recall_rho01/rho03 measure the "
            "screened default on the same planted doc-inside-doc "
            "families as the lsh twin. The unscreened twin "
            "(containment_ensemble_unscreened) is timed alongside: "
            "its wide-gap r=1 bandings collide at the background-"
            "Jaccard rate, so its candidate volume floods ~n^2 on "
            "this saturating corpus (round-7 measurement: s10->s30 "
            "exponent 1.35, 205 s at 150k docs) — the screen turns "
            "that flood into in-bucket codegen compares, the same "
            "structural fix minhash_lsh_screened measured 1.401 -> "
            "0.744 with.",
            "auto_routing_s30": "the containment route at the "
            "skewed+large point (150k docs >= ensemble_min_docs "
            "100k): must read 'lsh_ensemble' — skewed corpora too "
            "large for the index path's Sum(df^2) floor land on the "
            "screened ensemble, whose planted-family recall is the "
            "containment_ensemble_recall_rho01/rho03 fields (per-"
            "pair decisions, size-transferable).",
            "minhash_screened_recall_rho03": "screened-vs-unscreened "
            "minhash recall restricted to the planted rho~0.33 "
            "containment family at threshold 0.3 (where J~0.33 makes "
            "them true resemblance pairs), measured on the planted "
            "subcorpus — the skewed-size counterpart to the benign "
            "near-same-size minhash_screened_recall headline. rho~0.1 "
            "pairs (J~0.09) are below any practical resemblance "
            "threshold: containment's job, not minhash's.",
        },
    }
    with open(out_json, "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
