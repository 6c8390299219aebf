"""UTM / transverse Mercator (F22 general CRS) golden tests.

The Spark implementation is the Krüger series; the independent check
here is Snyder's classic truncated TM series (USGS Professional Paper
1395, eq. 8-9..8-13) implemented in numpy — two different public
formulations agreeing to ~1 cm within a zone validates both.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

A = 6378137.0
F_INV = 298.257223563
FLAT = 1.0 / F_INV
E2 = FLAT * (2 - FLAT)
EP2 = E2 / (1 - E2)
K0 = 0.9996


def snyder_tm(lat_deg, lon_deg, lon0_deg):
    """Snyder PP1395 transverse Mercator forward (numpy, vectorized)."""
    phi = np.radians(lat_deg)
    lam = np.radians(lon_deg - lon0_deg)
    n_ = A / np.sqrt(1 - E2 * np.sin(phi) ** 2)
    t = np.tan(phi) ** 2
    c = EP2 * np.cos(phi) ** 2
    a_ = lam * np.cos(phi)
    m = A * (
        (1 - E2 / 4 - 3 * E2**2 / 64 - 5 * E2**3 / 256) * phi
        - (3 * E2 / 8 + 3 * E2**2 / 32 + 45 * E2**3 / 1024) * np.sin(2 * phi)
        + (15 * E2**2 / 256 + 45 * E2**3 / 1024) * np.sin(4 * phi)
        - (35 * E2**3 / 3072) * np.sin(6 * phi)
    )
    x = K0 * n_ * (
        a_
        + (1 - t + c) * a_**3 / 6
        + (5 - 18 * t + t**2 + 72 * c - 58 * EP2) * a_**5 / 120
    ) + 500000.0
    y = K0 * (
        m
        + n_
        * np.tan(phi)
        * (
            a_**2 / 2
            + (5 - t + 9 * c + 4 * c**2) * a_**4 / 24
            + (61 - 58 * t + t**2 + 600 * c - 330 * EP2) * a_**6 / 720
        )
    )
    return x, y


@pytest.fixture(scope="module")
def grid():
    lats = [-79.5, -45.0, -12.25, 0.0, 0.5, 23.75, 45.0, 60.5, 83.5]
    lons_off = [-2.9, -1.5, 0.0, 0.01, 1.25, 2.9]  # offsets from CM
    return [(la, lo) for la in lats for lo in lons_off]


def _utm(spark, points):
    """utm_forward_sql (the projection q56 runs) over (lat, lon) rows."""
    from model_presto_spark.functions.geo import utm_forward_sql

    df = spark.createDataFrame(points, "lat double, lon double")
    return df.selectExpr(
        "lat", "lon", f"{utm_forward_sql('lat', 'lon')} AS u"
    ).collect()


def test_forward_matches_snyder(spark, grid):
    lon0 = 9.0  # zone 32 central meridian
    for r in _utm(spark, [(la, lon0 + off) for la, off in grid]):
        assert r.u.zone == 32
        x, y = snyder_tm(r.lat, r.lon, lon0)
        # Snyder's own truncation is the bottleneck (~mm near the CM,
        # ~cm at 3°); Krüger is orders tighter.
        south = 0.0 if r.u.northern else 10_000_000.0
        assert r.u.easting == pytest.approx(float(x), abs=0.02)
        assert r.u.northing - south == pytest.approx(float(y), abs=0.02)


def test_utm_forward_inverse_roundtrip(spark, grid):
    from model_presto_spark.functions.geo import utm_forward_sql, utm_inverse

    lon0 = 9.0
    df = spark.createDataFrame(
        [(la, lon0 + off) for la, off in grid], "lat double, lon double"
    )
    utm = F.expr(utm_forward_sql("lat", "lon"))
    back = df.select("lat", "lon", utm.alias("u")).select(
        "lat",
        "lon",
        utm_inverse(
            F.col("u.easting"), F.col("u.northing"), F.col("u.zone"), F.col("u.northern")
        ).alias("b"),
        "u.zone",
        "u.northern",
    )
    for r in back.collect():
        assert r.b.lat == pytest.approx(r.lat, abs=1e-9)
        assert r.b.lon == pytest.approx(r.lon, abs=1e-9)
        assert r.zone == 32
        assert r.northern == (r.lat >= 0)


def test_utm_zone_and_false_northing(spark):
    from model_presto_spark.functions.geo import utm_forward_sql

    df = spark.createDataFrame(
        [(-33.9, 18.4), (40.7, -74.0), (35.7, 139.7)], "lat double, lon double"
    )
    rows = df.selectExpr(f"{utm_forward_sql('lat', 'lon')} AS u").collect()
    cape, nyc, tokyo = [r.u for r in rows]
    assert cape.zone == 34 and not cape.northern
    assert cape.northing > 6_000_000  # south: false northing applied
    assert nyc.zone == 18 and nyc.northern
    assert tokyo.zone == 54 and tokyo.northern


def test_known_coordinate_sanity(spark):
    """Equator/CM anchor points with exactly known UTM values."""
    on_cm, off_cm = (r.u for r in _utm(spark, [(0.0, 9.0), (0.0, 10.0)]))
    assert on_cm.easting == pytest.approx(500000.0, abs=1e-6)
    assert on_cm.northing == pytest.approx(0.0, abs=1e-6)
    # one degree of longitude at the equator ~ 111.32 km * k0
    assert off_cm.easting - 500000.0 == pytest.approx(111320.0 * K0, rel=2e-3)


def test_polygon_centroid_golden(spark):
    from model_presto_spark.functions.geo import polygon_centroid

    def ring(pts):
        return [{"lon": float(x), "lat": float(y)} for x, y in pts]

    df = spark.createDataFrame(
        [
            # unit square, open
            (1, ring([(0, 0), (1, 0), (1, 1), (0, 1)])),
            # same square, closed (duplicate first vertex)
            (2, ring([(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)])),
            # L-shape: centroid NOT the vertex mean
            (3, ring([(0, 0), (2, 0), (2, 1), (1, 1), (1, 2), (0, 2)])),
            # triangle
            (4, ring([(0, 0), (3, 0), (0, 3)])),
            # degenerate: collinear points -> vertex mean fallback
            (5, ring([(0, 0), (1, 1), (2, 2)])),
        ],
        "pid int, ring array<struct<lon double, lat double>>",
    )
    got = {
        r.pid: (r.c.lon, r.c.lat)
        for r in df.select("pid", polygon_centroid(F.col("ring")).alias("c")).collect()
    }
    assert got[1] == (pytest.approx(0.5), pytest.approx(0.5))
    assert got[2] == (pytest.approx(0.5), pytest.approx(0.5))
    # L-shape = [0,2]x[0,1] (area 2, c=(1,0.5)) + [0,1]x[1,2] (area 1, c=(0.5,1.5))
    assert got[3] == (pytest.approx((2 * 1 + 1 * 0.5) / 3), pytest.approx((2 * 0.5 + 1 * 1.5) / 3))
    assert got[4] == (pytest.approx(1.0), pytest.approx(1.0))
    assert got[5] == (pytest.approx(1.0), pytest.approx(1.0))


def test_polygon_centroid_orientation_invariant(spark):
    """Clockwise vs counter-clockwise winding gives the same centroid
    (signed area cancels in the ratio)."""
    from model_presto_spark.functions.geo import polygon_centroid

    ccw = [(0.0, 0.0), (4.0, 0.0), (4.0, 2.0), (0.0, 2.0)]
    cw = list(reversed(ccw))
    df = spark.createDataFrame(
        [(1, [{"lon": x, "lat": y} for x, y in ccw]),
         (2, [{"lon": x, "lat": y} for x, y in cw])],
        "pid int, ring array<struct<lon double, lat double>>",
    )
    got = [
        (r.c.lon, r.c.lat)
        for r in df.select(polygon_centroid(F.col("ring")).alias("c")).orderBy(F.lit(1)).collect()
    ]
    assert got[0] == (pytest.approx(2.0), pytest.approx(1.0))
    assert got[1] == (pytest.approx(2.0), pytest.approx(1.0))
