"""Deterministic masking strategies for masked-autoencoder training.

Reference semantics (M3): four strategies choose (timestep,
band-group) tokens to mask at a given ratio — random combinations,
whole band-groups, random timesteps, contiguous timestep chunks
(reference: presto-tolbi/presto/dataops/masking.py:17-22,36-117;
ratio default 0.5, applied at :134-146). All four are implemented
here: ``random_combinations_mask`` is the per-(timestep, band-group)
token sampler (masking.py:36-58), the other three below it.

Spark-first: mask decisions are **hash-derived, not rand()** —
``h(key, timestep, seed) % 100 < ratio*100`` — so they are
reproducible across retries, partitionings, and engines (rand(seed)
is only stable for a fixed partitioning). Masking itself is
``transform``/``when`` over the series array: JVM-side, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from model_presto_spark.functions.text import h60_sql

MASK_SENTINEL = 0.0  # reference zeroes masked tokens (masking.py:134-146)


def _keep_prob_hash(key: str, idx: str, seed: int) -> str:
    """Uniform-ish value in [0, 100) from (key, index, seed)."""
    draw = f"concat(CAST({key} AS STRING), '_', CAST({idx} AS STRING))"
    return f"({h60_sql(draw, seed)} % 100)"


def timestep_mask(
    key: str, num_timesteps: int = 12, ratio: float = 0.5, seed: int = 0
) -> Column:
    """Boolean mask array (True = masked) choosing random timesteps
    per key (reference random_timesteps, masking.py:90-103). ``key``
    is an SQL fragment (a column name)."""
    pct = int(ratio * 100)
    return F.expr(
        f"transform(sequence(0, {num_timesteps - 1}), "
        f"t -> {_keep_prob_hash(key, 't', seed)} < {pct})"
    )


def chunk_timestep_mask(
    key: str, num_timesteps: int = 12, chunk: int = 6, seed: int = 0
) -> Column:
    """Contiguous chunk mask: ``chunk`` consecutive timesteps starting
    at a key-derived offset (reference chunk_timesteps,
    masking.py:105-112)."""
    start = (
        f"({h60_sql(f'CAST({key} AS STRING)', seed)} "
        f"% {num_timesteps - chunk + 1})"
    )
    return F.expr(
        f"transform(sequence(0, {num_timesteps - 1}), "
        f"t -> t >= {start} AND t < {start} + {chunk})"
    )


def _group_flags(
    key: str, idx: str, group_sizes: tuple[int, ...], pct: int, seed: int
) -> str:
    """``array(...)`` of per-band flags: band-group g draws at index
    ``idx(g)`` and all its bands share the draw."""
    flags = []
    for g, size in enumerate(group_sizes):
        draw = f"{_keep_prob_hash(key, idx.format(g=g), seed)} < {pct}"
        flags.extend([draw] * size)
    return f"array({', '.join(flags)})"


def band_group_mask(
    key: str,
    group_sizes: tuple[int, ...],
    ratio: float = 0.5,
    seed: int = 0,
) -> Column:
    """Per-band mask (True = masked) that masks whole band-groups
    (reference group_bands, masking.py:60-75; group index map
    s1_s2_era5_srtm.py:96-108). Returns array<boolean> of
    sum(group_sizes) entries; all bands of a group share one draw."""
    return F.expr(_group_flags(key, "{g}", group_sizes, int(ratio * 100), seed))


def random_combinations_mask(
    key: str,
    num_timesteps: int = 12,
    group_sizes: tuple[int, ...] = (1, 1, 1),
    ratio: float = 0.5,
    seed: int = 0,
) -> Column:
    """Per-(timestep, band-group) token sampling (reference
    random_combinations, masking.py:36-58): every (t, g) token gets an
    independent hash draw; all bands of group g at timestep t share
    it. Returns array<array<boolean>> of shape [T][sum(group_sizes)]
    (True = masked), applied with ``apply_token_mask``.

    The draw index is ``t * n_groups + g`` so the flat token grid is
    SQL-mirrorable as ``generate_series(0, T*G-1)`` with the same
    ``h60(key || '_' || i)`` draw.
    """
    idx = f"t * {len(group_sizes)} + {{g}}"
    flags = _group_flags(key, idx, group_sizes, int(ratio * 100), seed)
    return F.expr(f"transform(sequence(0, {num_timesteps - 1}), t -> {flags})")


def apply_token_mask(
    series: Column, mask2d: Column, sentinel: float = MASK_SENTINEL
) -> Column:
    """Apply a [T][bands] token mask to an [T][bands] series array:
    masked cells become the sentinel (reference masking.py:134-146)."""
    return F.zip_with(
        series,
        mask2d,
        lambda bands, ms: F.zip_with(
            bands,
            ms,
            lambda v, m: F.when(m, F.lit(float(sentinel))).otherwise(v),
        ),
    )


def apply_series_mask(
    series: Column, mask: Column, sentinel: float = MASK_SENTINEL
) -> Column:
    """Zero masked timesteps of an [T][bands] series array.

    ``mask`` is the array<boolean> from a *_mask builder. Masked
    timesteps are replaced by a sentinel-filled band vector (the
    reference zeroes masked values, masking.py:134-146).
    """
    return F.zip_with(
        series,
        mask,
        lambda bands, m: F.when(
            m, F.transform(bands, lambda _: F.lit(float(sentinel)))
        ).otherwise(bands),
    )


def mask_budget(mask: Column) -> Column:
    """Count of masked entries — the reference asserts a non-negative
    token budget (masking.py:83); exposed for tests/monitoring."""
    return F.size(F.filter(mask, lambda m: m))
