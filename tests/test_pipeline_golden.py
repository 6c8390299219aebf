"""Pipeline golden tests (SURVEY §5.3): the reference's
composite -> normalize -> NDVI -> pad -> assemble -> mask -> encode
chain on fixture pixel series with exact expected values.

Fixture schemas follow FIXTURES.md §1/§2 (pixel_timeseries /
observations)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import Row
from pyspark.sql import functions as F

from model_presto_spark.functions import bands as B
from model_presto_spark.ml.assembly import (
    CANONICAL_BANDS,
    assemble_pixel_input,
    group_presence,
)


def test_composite_normalize_ndvi_golden(spark):
    """observations (multi-image per month) -> median composite ->
    affine normalize -> NDVI, with hand-computed goldens."""
    from model_presto_spark.operators.timeseries import monthly_composite

    rows = [
        # pixel 1, Jan: B8 readings 3000, 5000 -> median 4000
        Row(pixel_id=1, ts="2021-01-05 00:00:00", band="B8", value=3000.0),
        Row(pixel_id=1, ts="2021-01-25 00:00:00", band="B8", value=5000.0),
        # pixel 1, Jan: B4 single reading 2000
        Row(pixel_id=1, ts="2021-01-10 00:00:00", band="B4", value=2000.0),
        # pixel 1, Mar: B8 only (Feb missing entirely -> fallback)
        Row(pixel_id=1, ts="2021-03-15 00:00:00", band="B8", value=1000.0),
    ]
    obs = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    comp = monthly_composite(
        obs, ["pixel_id", "band"], "ts", "value",
        agg="median", fill=-1.0,
        spine_start="2021-01-01", spine_end="2021-03-01",
    )
    got = {
        (r.pixel_id, r.band, str(r.month_start)): r.composite
        for r in comp.collect()
    }
    assert got[(1, "B8", "2021-01-01")] == 4000.0  # median of 3000,5000
    assert got[(1, "B4", "2021-01-01")] == 2000.0
    assert got[(1, "B8", "2021-02-01")] == -1.0    # empty month fallback
    assert got[(1, "B8", "2021-03-01")] == 1000.0

    # normalize (S2 scale /10000) then NDVI on the Jan composite
    jan = spark.createDataFrame([Row(b8=4000.0, b4=2000.0)])
    out = jan.select(
        B.ndvi(
            B.scale_s2_sr(F.col("b8")), B.scale_s2_sr(F.col("b4"))
        ).alias("ndvi")
    ).collect()[0]
    # (0.4 - 0.2) / (0.4 + 0.2) = 1/3
    assert abs(out.ndvi - 1.0 / 3.0) < 1e-12


def test_assembly_shape_mask_and_values(spark):
    """Wide monthly rows -> [12][18] series + presence mask (M4)."""
    rows = [
        Row(pixel_id=7, month=m, VV=float(m), B8=100.0 + m, ndvi=0.5)
        for m in range(3)  # only 3 of 12 months present
    ]
    df = spark.createDataFrame(rows)
    out = assemble_pixel_input(df, ["pixel_id"]).collect()[0]
    assert len(out.series) == 12
    assert all(len(ts) == len(CANONICAL_BANDS) for ts in out.series)
    vv_idx = CANONICAL_BANDS.index("VV")
    b8_idx = CANONICAL_BANDS.index("B8")
    # month 1 row carries its values in the right slots
    assert out.series[1][vv_idx] == 1.0
    assert out.series[1][b8_idx] == 101.0
    # absent months are fill rows
    assert out.series[5] == [0.0] * len(CANONICAL_BANDS)
    # mask: provided bands True, unmapped bands False
    assert out.band_present[vv_idx] is True
    assert out.band_present[CANONICAL_BANDS.index("B2")] is False

    gp = df.sparkSession.createDataFrame(
        [Row(band_present=list(out.band_present))]
    ).select(group_presence(F.col("band_present")).alias("g")).collect()[0].g
    assert gp["NDVI"] is True
    assert gp["S1"] is False  # VH missing -> S1 group absent


def test_full_chain_mask_and_encode(spark):
    """normalize -> mask -> encode: end-to-end through the UDF."""
    from model_presto_spark.ml.encoder import EMBED_DIM, add_embeddings
    from model_presto_spark.ml.masking import apply_series_mask, timestep_mask

    n_bands = len(CANONICAL_BANDS)
    rows = [
        Row(
            pixel_id=i,
            series=[[float(t + i)] * n_bands for t in range(12)],
            month=0,
        )
        for i in range(4)
    ]
    df = spark.createDataFrame(rows)
    masked = df.select(
        "pixel_id",
        "month",
        apply_series_mask(
            F.col("series"), timestep_mask("pixel_id", 12, 0.5, seed=1)
        ).alias("series"),
    )
    out = add_embeddings(masked, "series", "month")
    rows = out.select("pixel_id", "embedding").collect()
    assert all(len(r.embedding) == EMBED_DIM for r in rows)
    assert all(np.isfinite(r.embedding).all() for r in rows)
    # deterministic end to end
    again = add_embeddings(masked, "series", "month").select(
        "pixel_id", "embedding"
    ).collect()
    assert sorted(map(tuple, [r.embedding for r in rows])) == sorted(
        map(tuple, [r.embedding for r in again])
    )


def test_asof_adaptive_tolerance_parity(spark):
    """Nearest-observation matching parity with the reference's
    max(nearest_dist, 15 days) adaptive-tolerance rule
    (dynamicworld.py:108-137): sort by |ts - mid| and keep the first
    survivor. Because the tolerance expands to the nearest distance,
    the survivor IS the nearest observation — verified against a
    hand-computed golden including the beyond-15-days case."""
    from model_presto_spark.operators.asof import asof_join

    mids = spark.createDataFrame(
        [
            Row(pixel_id=1, mid="2021-01-16 00:00:00"),
            Row(pixel_id=2, mid="2021-01-16 00:00:00"),
        ]
    ).withColumn("mid", F.to_timestamp("mid"))
    obs = spark.createDataFrame(
        [
            # pixel 1: obs 2 days and 10 days away -> nearest = 2d
            Row(pixel_id=1, ots="2021-01-18 00:00:00", v=1.0),
            Row(pixel_id=1, ots="2021-01-26 00:00:00", v=2.0),
            # pixel 2: only obs is 40 days away (beyond 15d) -> the
            # adaptive rule max(nearest, 15d) still admits it
            Row(pixel_id=2, ots="2021-02-25 00:00:00", v=9.0),
        ]
    ).withColumn("ots", F.to_timestamp("ots"))
    out = asof_join(
        mids, obs, on="pixel_id", left_ts="mid", right_ts="ots",
        direction="nearest",
    )
    got = {r.pixel_id: r.v for r in out.collect()}
    assert got[1] == 1.0
    assert got[2] == 9.0
