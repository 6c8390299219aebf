"""Geodesic/projection expressions (F16/F22/F23) — native column
arithmetic, no pyproj/shapely in the hot path.

Reference semantics: lat/lon -> unit-sphere xyz for the model's
location encoding (reference: presto-tolbi/presto/presto.py:299-309
``cartesian``), metres-per-degree local scaling
(presto-tolbi/presto/eval/croptype_france_eval.py:167-184), CRS
reprojection via pyproj (src/common.py:32-49,
presto-tolbi/presto/eval/treesat_eval.py:115-117) and centroid/buffer
geometry helpers (src/common.py:55-78,
..._monthly.py:147-161).

The projections implemented natively here (Web Mercator, local
equirectangular metres, and ellipsoidal transverse Mercator / UTM via
the 4th-order Krüger series) are closed-form trig — exactly the kind
of expression whole-stage codegen eats. The Krüger series covers the
general-CRS need (any UTM zone / custom central meridian at
sub-millimetre accuracy); a pyproj UDF for exotic non-TM CRSs is
deliberately NOT provided: keep the relational core pure, decode at
the edges.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

WGS84_RADIUS_M = 6378137.0
DEG_LAT_M = 111_320.0  # metres per degree latitude (spherical approx)

# WGS84 ellipsoid + Krüger series constants (Karney, "Transverse
# Mercator with an accuracy of a few nanometers", J. Geod. 2011 —
# public formulas; coefficients to n^4 give ~1e-9 m accuracy).
WGS84_F = 1.0 / 298.257223563
_N = WGS84_F / (2.0 - WGS84_F)
_E = math.sqrt(WGS84_F * (2.0 - WGS84_F))  # first eccentricity
_A_BAR = WGS84_RADIUS_M / (1.0 + _N) * (1.0 + _N**2 / 4.0 + _N**4 / 64.0)
_ALPHA = (
    _N / 2.0 - 2.0 * _N**2 / 3.0 + 5.0 * _N**3 / 16.0 + 41.0 * _N**4 / 180.0,
    13.0 * _N**2 / 48.0 - 3.0 * _N**3 / 5.0 + 557.0 * _N**4 / 1440.0,
    61.0 * _N**3 / 240.0 - 103.0 * _N**4 / 140.0,
    49561.0 * _N**4 / 161280.0,
)
_BETA = (
    _N / 2.0 - 2.0 * _N**2 / 3.0 + 37.0 * _N**3 / 96.0 - _N**4 / 360.0,
    _N**2 / 48.0 + _N**3 / 15.0 - 437.0 * _N**4 / 1440.0,
    17.0 * _N**3 / 480.0 - 37.0 * _N**4 / 840.0,
    4397.0 * _N**4 / 161280.0,
)
# inverse conformal-latitude series (Snyder 1987 eq. 3-5), e^2 powers
_E2 = WGS84_F * (2.0 - WGS84_F)
_CHI = (
    _E2 / 2.0 + 5.0 * _E2**2 / 24.0 + _E2**3 / 12.0 + 13.0 * _E2**4 / 360.0,
    7.0 * _E2**2 / 48.0 + 29.0 * _E2**3 / 240.0 + 811.0 * _E2**4 / 11520.0,
    7.0 * _E2**3 / 120.0 + 81.0 * _E2**4 / 1120.0,
    4279.0 * _E2**4 / 161280.0,
)
UTM_K0 = 0.9996
UTM_FALSE_EASTING = 500_000.0
UTM_FALSE_NORTHING_SOUTH = 10_000_000.0


def latlon_to_unit_sphere(lat: Column, lon: Column) -> Column:
    """(lat, lon) degrees -> [x, y, z] on the unit sphere
    (presto.py:299-309 cartesian encoding)."""
    la, lo = F.radians(lat), F.radians(lon)
    return F.array(
        F.cos(la) * F.cos(lo),
        F.cos(la) * F.sin(lo),
        F.sin(la),
    )


def web_mercator(lat: Column, lon: Column) -> Column:
    """EPSG:3857 metres as struct(x, y) — the closed-form spherical
    Mercator projection (F22 for the web-tiling CRS)."""
    x = F.radians(lon) * WGS84_RADIUS_M
    y = F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / 2.0)) * WGS84_RADIUS_M
    return F.struct(x.alias("x"), y.alias("y"))


def local_metres(lat: Column, lon: Column, lat0: Column, lon0: Column) -> Column:
    """Equirectangular local metres offsets from (lat0, lon0) —
    the reference's metres-per-degree trick for neighborhood math
    (croptype_france_eval.py:167-184)."""
    dx = (lon - lon0) * F.lit(DEG_LAT_M) * F.cos(F.radians(lat0))
    dy = (lat - lat0) * F.lit(DEG_LAT_M)
    return F.struct(dx.alias("dx_m"), dy.alias("dy_m"))


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in metres."""
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dp = F.radians(lat2 - lat1) / 2.0
    dl = F.radians(lon2 - lon1) / 2.0
    a = F.sin(dp) * F.sin(dp) + F.cos(p1) * F.cos(p2) * F.sin(dl) * F.sin(dl)
    return 2.0 * F.lit(WGS84_RADIUS_M) * F.asin(F.sqrt(a))


def transverse_mercator_sql(lat: str, lon: str, lon0: str) -> tuple[str, str]:
    """Ellipsoidal transverse Mercator forward projection about the
    central meridian ``lon0`` (degrees) at the UTM scale ``UTM_K0`` and
    false easting, as two SQL strings (easting, northing) with no
    false northing — the general F22 path (the reference reprojects
    to arbitrary UTM/TM CRSs through pyproj, src/common.py:32-49,
    treesat_eval.py:115-117; here it is the closed-form Krüger
    series, ~1e-9 m vs the exact projection, valid within the usual
    |dlon| <= ~30°). Literals are rendered with ``repr`` and a ``D``
    suffix so nothing parses as DECIMAL. ``lat``/``lon``/``lon0`` are
    SQL fragments (column names or expressions).
    """
    phi = f"radians({lat})"
    lam = f"radians(({lon}) - {lon0})"
    sphi = f"sin({phi})"
    e = f"{_E!r}D"
    atanh_sphi = f"(ln((1.0D + {sphi}) / (1.0D - {sphi})) / 2.0D)"
    esphi = f"({e} * {sphi})"
    atanh_esphi = f"(ln((1.0D + {esphi}) / (1.0D - {esphi})) / 2.0D)"
    t = f"sinh({atanh_sphi} - {e} * {atanh_esphi})"
    xi_p = f"atan2({t}, cos({lam}))"
    asinh_x = f"(sin({lam}) / sqrt({t} * {t} + cos({lam}) * cos({lam})))"
    eta_p = f"ln({asinh_x} + sqrt({asinh_x} * {asinh_x} + 1.0D))"
    xi = xi_p
    eta = eta_p
    for j, a in enumerate(_ALPHA, start=1):
        c = repr(2.0 * j)
        xi = f"({xi} + {a!r}D * sin({c}D * {xi_p}) * cosh({c}D * {eta_p}))"
        eta = f"({eta} + {a!r}D * cos({c}D * {xi_p}) * sinh({c}D * {eta_p}))"
    scale = f"{UTM_K0 * _A_BAR!r}D"
    easting = f"({UTM_FALSE_EASTING!r}D + {scale} * {eta})"
    northing = f"(0.0D + {scale} * {xi})"  # false northing 0 m
    return easting, northing


def utm_forward_sql(lat: str, lon: str) -> str:
    """(lat, lon) -> struct(zone, northern, easting, northing) in the
    point's own UTM zone (zone n's central meridian is 6n - 183°;
    southern hemisphere gets the 10,000 km false northing, the
    EPSG:327xx convention), as ONE SQL string for ``F.expr``.

    Built as SQL because the Krüger series through the Column API
    costs ~1,459 py4j round-trips (~0.4 ms apiece — ~0.6 s of driver
    time per plan build, measured on q56); the SQL string is one
    round-trip plus a JVM-side parse. The SQL is textually large
    (subexpressions inline where a Column tree would share node
    instances), but Catalyst analysis walks a shared Column DAG per
    path anyway — the analyzed cost is the same shape.
    """
    zone = f"CAST(FLOOR((({lon}) + 180.0D) / 6.0D) % 60 + 1 AS INT)"
    lon0 = f"(CAST({zone} AS DOUBLE) * 6.0D - 183.0D)"
    easting, northing0 = transverse_mercator_sql(lat, lon, lon0)
    northern = f"(({lat}) >= 0.0D)"
    northing = (
        f"(CASE WHEN {northern} THEN {northing0} "
        f"ELSE {northing0} + {UTM_FALSE_NORTHING_SOUTH!r}D END)"
    )
    return (
        f"named_struct('zone', {zone}, 'northern', {northern}, "
        f"'easting', {easting}, 'northing', {northing})"
    )


def utm_inverse(
    easting: Column, northing: Column, zone: Column, northern: Column
) -> Column:
    """UTM (easting, northing, zone, hemisphere) -> struct(lat, lon):
    the Krüger inverse series + inverse conformal-latitude expansion
    (Snyder eq. 3-5) — no iteration, ~1e-9 deg."""
    n_adj = F.when(northern, northing).otherwise(
        northing - UTM_FALSE_NORTHING_SOUTH
    )
    xi = (n_adj / (UTM_K0 * _A_BAR))
    eta = (easting - UTM_FALSE_EASTING) / (UTM_K0 * _A_BAR)
    xi_p = xi
    eta_p = eta
    for j, b in enumerate(_BETA, start=1):
        xi_p = xi_p - F.lit(b) * F.sin(2.0 * j * xi) * F.cosh(2.0 * j * eta)
        eta_p = eta_p - F.lit(b) * F.cos(2.0 * j * xi) * F.sinh(2.0 * j * eta)
    chi = F.asin(F.sin(xi_p) / F.cosh(eta_p))
    phi = chi
    for j, c in enumerate(_CHI, start=1):
        phi = phi + F.lit(c) * F.sin(2.0 * j * chi)
    lon0 = (zone.cast("double") * 6.0) - 183.0
    lam = F.atan2(F.sinh(eta_p), F.cos(xi_p))
    return F.struct(
        F.degrees(phi).alias("lat"),
        (lon0 + F.degrees(lam)).alias("lon"),
    )


def polygon_centroid(ring: Column) -> Column:
    """Area-weighted polygon centroid as struct(lon, lat) — the full
    F23 (reference computes label-polygon centroids before buffering,
    src/common.py:55-78). ``ring`` is array<struct<lon, lat>>, open or
    closed (a closing duplicate vertex contributes a zero-length
    segment and is harmless).

    Shoelace accumulation in one Catalyst ``aggregate`` pass:
    a  = Σ (x_i·y_j − x_j·y_i)          (j = i+1 cyclically; 2·area)
    cx = Σ (x_i + x_j)(x_i·y_j − x_j·y_i),  centroid = cx / (3a)
    Degenerate rings (|a| ~ 0: points/lines) fall back to the vertex
    mean, which is the conventional choice.
    """
    n = F.size(ring)

    acc = F.aggregate(
        F.sequence(F.lit(1), n),
        F.struct(
            F.lit(0.0).alias("a"),
            F.lit(0.0).alias("cx"),
            F.lit(0.0).alias("cy"),
            F.lit(0.0).alias("mx"),
            F.lit(0.0).alias("my"),
        ),
        lambda st, i: F.struct(
            (
                st["a"]
                + F.element_at(ring, i)["lon"]
                * F.element_at(ring, (i % n) + 1)["lat"]
                - F.element_at(ring, (i % n) + 1)["lon"]
                * F.element_at(ring, i)["lat"]
            ).alias("a"),
            (
                st["cx"]
                + (
                    F.element_at(ring, i)["lon"]
                    + F.element_at(ring, (i % n) + 1)["lon"]
                )
                * (
                    F.element_at(ring, i)["lon"]
                    * F.element_at(ring, (i % n) + 1)["lat"]
                    - F.element_at(ring, (i % n) + 1)["lon"]
                    * F.element_at(ring, i)["lat"]
                )
            ).alias("cx"),
            (
                st["cy"]
                + (
                    F.element_at(ring, i)["lat"]
                    + F.element_at(ring, (i % n) + 1)["lat"]
                )
                * (
                    F.element_at(ring, i)["lon"]
                    * F.element_at(ring, (i % n) + 1)["lat"]
                    - F.element_at(ring, (i % n) + 1)["lon"]
                    * F.element_at(ring, i)["lat"]
                )
            ).alias("cy"),
            (st["mx"] + F.element_at(ring, i)["lon"]).alias("mx"),
            (st["my"] + F.element_at(ring, i)["lat"]).alias("my"),
        ),
    )
    degenerate = F.abs(acc["a"]) < 1e-12
    return F.struct(
        F.when(degenerate, acc["mx"] / n.cast("double"))
        .otherwise(acc["cx"] / (3.0 * acc["a"]))
        .alias("lon"),
        F.when(degenerate, acc["my"] / n.cast("double"))
        .otherwise(acc["cy"] / (3.0 * acc["a"]))
        .alias("lat"),
    )


def square_buffer_bbox(lat: Column, lon: Column, half_side_m: Column) -> Column:
    """Square buffer around a point as a bbox struct (F23: the
    reference buffers label centroids into square EE regions,
    src/common.py:55-78). Pure arithmetic inverse of local_metres."""
    dlat = half_side_m / F.lit(DEG_LAT_M)
    dlon = half_side_m / (F.lit(DEG_LAT_M) * F.cos(F.radians(lat)))
    return F.struct(
        (lon - dlon).alias("min_lon"),
        (lat - dlat).alias("min_lat"),
        (lon + dlon).alias("max_lon"),
        (lat + dlat).alias("max_lat"),
    )


def grid_cell16(qlat: Column, qlon: Column, bits: int = 8) -> Column:
    """Geohash-style interleaved cell id from two pre-quantized
    integer coordinates in [0, 2^bits): even bit positions (from the
    LSB) take longitude bits, odd take latitude, yielding a Z-order
    cell id in [0, 4^bits). NOTE: this is geohash's alternation
    pattern but counted from the LSB, so the ids are NOT prefix-
    compatible with real geohash strings (whose most-significant
    interleaved bit is longitude) — same neighbor-clustering
    property, different bit significance.

    Pure integer bit algebra (shiftright/&/+) so any SQL engine with
    ``>>`` and ``&`` reproduces it bit-for-bit — the oracle-safe core
    of geohash bucketing; neighbor cells share id prefixes, so range
    scans on the id cluster spatially (same property Z-order layout
    exploits in ``operators/layout.py``).
    """
    cell = F.lit(0).cast("bigint")
    for i in range(bits):
        lon_bit = F.shiftright(qlon.cast("bigint"), i).bitwiseAND(F.lit(1))
        lat_bit = F.shiftright(qlat.cast("bigint"), i).bitwiseAND(F.lit(1))
        cell = (
            cell
            + lon_bit * F.lit(1 << (2 * i)).cast("bigint")
            + lat_bit * F.lit(1 << (2 * i + 1)).cast("bigint")
        )
    return cell
