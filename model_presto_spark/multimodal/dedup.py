"""Multimodal near-duplicate detection — the video/audio twins of
the text dedup stack, built on the REAL decode paths:

- ``video_dup_pairs``: sampled-frame digests (true payload digests
  for AVI via sources/avi.py) feed the same inverted-index +
  pair-expansion shape as text n-gram Jaccard — one shuffle of
  (digest, id) postings, document-frequency cutoff as the skew
  guard, Jaccard over per-video distinct frame sets. A re-encoded
  copy with identical frames scores 1.0; partial overlaps (clips,
  concatenations) score their shared-frame fraction.
- ``audio_dup_pairs``: spectral-feature vectors (Hann rFFT band
  log-energies, multimodal/audio.py) compared by cosine through the
  hyperplane-LSH ANN join — the same bucketed, crossJoin-free plan
  as embedding dedup (knn.ann_lsh_join).

Both compose operators that are individually oracle/unit-verified;
tests plant duplicate media and assert the planted pairs (and only
those) surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def video_dup_pairs(
    media: DataFrame,
    every_ms: int = 500,
    threshold: float = 0.5,
    max_frame_freq: int = 1000,
) -> DataFrame:
    """(id_a, id_b, jaccard_sim) over sampled-frame digest sets.
    ``max_frame_freq`` drops frames shared by too many videos (test
    cards, black frames) before pair expansion — the d² skew guard."""
    from model_presto_spark.multimodal.blobs import sample_frames
    from model_presto_spark.operators.dedup import _pairs_within_sql

    frames = sample_frames(media, every_ms=every_ms).select(
        F.col("media_id").alias("id"), F.col("frame_digest").alias("d")
    ).distinct()
    sizes = frames.groupBy("id").agg(F.count(F.lit(1)).alias("n_frames"))
    buckets = (
        frames.groupBy("d")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_frame_freq))
    )
    common = (
        buckets.select(F.explode_outer(F.expr(_pairs_within_sql("ids"))).alias("pr"))
        .groupBy(F.col("pr.id_a").alias("id_a"), F.col("pr.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_frames").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_frames").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                )
            ).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def audio_dup_pairs(
    media: DataFrame,
    threshold: float = 0.99,
    n_bands: int = 32,
    planes: int = 10,
    k: int = 3,
) -> DataFrame:
    """(id_a, id_b, cosine_sim) for near-identical audio via
    spectral fingerprints + hyperplane-LSH candidate buckets (no
    crossJoin). Re-encoded/resampled copies of a clip keep nearly
    identical band-energy profiles -> cosine ~ 1."""
    from model_presto_spark.multimodal.audio import spectral_features
    from model_presto_spark.operators.knn import ann_lsh_join

    feats = spectral_features(media, n_bands=n_bands).select(
        F.col("media_id").alias("fid"), F.col("features").alias("vec")
    )
    probes = feats.select(F.col("fid").alias("pid"), "vec")
    cands = feats.select(F.col("fid").alias("cid"), "vec")
    ann = ann_lsh_join(
        probes, cands, "pid", "cid", probe_vec="vec", cand_vec="vec",
        k=k, dim=n_bands, planes=planes,
    )
    pairs = ann.select(
        F.least("pid", "cid").alias("id_a"),
        F.greatest("pid", "cid").alias("id_b"),
        "cosine_sim",
    ).filter(F.col("cosine_sim") >= threshold)
    return pairs.dropDuplicates(["id_a", "id_b"])


def image_phash(media: DataFrame, grid: int = 8) -> DataFrame:
    """(media_id, phash bigint) — average-hash perceptual fingerprint:
    decode (REAL for TIFF/PPM), grayscale, box-downsample to
    ``grid x grid``, threshold at the mean -> a 64-bit signature
    whose Hamming distance tracks visual similarity. Arrow-batched
    mapInPandas like every decode stage."""
    from collections.abc import Iterator as _It

    import numpy as np_
    import pandas as pd_

    from model_presto_spark.multimodal.blobs import decode_pixels

    def go(it: _It) -> _It:
        for pdf in it:
            out = []
            for _, r in pdf.iterrows():
                meta = r["meta"]
                px = decode_pixels(
                    bytes(r["blob"]), meta["height"] or grid,
                    meta["width"] or grid, meta["channels"] or 1,
                )
                gray = px.mean(axis=2)
                h, w = gray.shape
                # box-downsample via trimmed reshape means
                th, tw = (h // grid) * grid, (w // grid) * grid
                if th >= grid and tw >= grid:
                    small = gray[:th, :tw].reshape(
                        grid, th // grid, grid, tw // grid
                    ).mean(axis=(1, 3))
                else:  # image smaller than the grid: repeat-pad
                    small = np_.resize(gray, (grid, grid))
                bits = (small > small.mean()).flatten()
                val = 0
                for b in bits:
                    val = (val << 1) | int(b)
                # keep in signed-64 range for a Spark bigint
                out.append({
                    "media_id": int(r["media_id"]),
                    "phash": int(np_.int64(np_.uint64(val))),
                })
            yield pd_.DataFrame(out, columns=["media_id", "phash"])

    return media.select("media_id", "blob", "meta").mapInPandas(
        go, "media_id bigint, phash bigint"
    )


def image_dup_pairs(
    media: DataFrame, max_hamming: int = 6, bands: int = 8
) -> DataFrame:
    """(id_a, id_b, hamming) for visually near-identical images: the
    64-bit aHash splits into ``bands`` equal bands; a pair within
    ``max_hamming < bands`` bit flips cannot touch every band, so it
    MUST agree on at least one (pigeonhole — recall 1.0 within the
    radius). Buckets carry (id, phash) structs and the exact
    bit_count(xor) Hamming check runs INSIDE the bucket pair
    expansion: a random band collision (two unrelated images agreeing
    on one 8-bit band — probability ~1/256 per band, so the collision
    count grows with n²) is pure codegen CPU and never materializes
    as a row, where the previous candidates->distinct->two-verify-
    joins plan shuffled the whole flood. Exact — the result set is
    identical; hot buckets (an identical-image flood) emit exactly
    the qualifying pairs, which for true duplicates are themselves
    quadratic in the flood size (that IS the output)."""
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole guarantee needs bands > max_hamming "
            f"(got {bands} <= {max_hamming})"
        )
    from model_presto_spark.operators.dedup import _pairs_within_sql

    hashed = image_phash(media)
    width = 64 // bands
    mask = (1 << width) - 1
    band_rows = hashed.select(
        F.col("media_id").alias("id"),
        "phash",
        F.explode(
            F.array(*[
                F.concat(
                    F.lit(f"b{b}#"),
                    F.shiftrightunsigned(F.col("phash"), b * width)
                    .bitwiseAND(F.lit(mask)).cast("string"),
                )
                for b in range(bands)
            ])
        ).alias("band_key"),
    )
    buckets = (
        band_rows.groupBy("band_key")
        .agg(
            # struct sorts field-lexicographic; id first => id order
            F.array_sort(
                F.collect_set(F.struct(F.col("id"), F.col("phash")))
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )
    hamming = "bit_count({a}.phash ^ {b}.phash)"
    pairs = _pairs_within_sql(
        "ms", ".id", (f"{hamming} AS hamming",),
        where=f"{hamming} <= {int(max_hamming)}",
    )
    return (
        buckets.selectExpr(f"explode_outer({pairs}) AS pr")
        .selectExpr("pr.id_a AS id_a", "pr.id_b AS id_b", "pr.hamming AS hamming")
        .distinct()
    )
