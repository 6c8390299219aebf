"""Conformance queries for grid/geo/as-of layers (F16/F22, F25, J5
variants)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from model_presto_spark.plans.queries import _t, register

# ---------------------------------------------------------------------------
# Q47 — terrain slope/aspect via window finite differences (F25)
# ---------------------------------------------------------------------------
# Synthetic elevation grid from customer: bijective (r, c) from the
# key, elevation from acctbal. Identical windows in both engines.
_Q47_GRID = """
      SELECT c_custkey % 25 AS r,
             CAST(FLOOR(c_custkey / 25.0) AS INT) AS c,
             CAST(c_acctbal AS DOUBLE) AS elev
      FROM customer
"""

_Q47_ORACLE = f"""
    WITH g AS ({_Q47_GRID}),
    d AS (
      SELECT r, c, elev,
             (COALESCE(LEAD(elev) OVER wr, elev) - COALESCE(LAG(elev) OVER wr, elev))
             / ((CASE WHEN LEAD(elev) OVER wr IS NOT NULL THEN 1 ELSE 0 END
               + CASE WHEN LAG(elev) OVER wr IS NOT NULL THEN 1 ELSE 0 END) * 1.0)
             AS dzdx,
             (COALESCE(LEAD(elev) OVER wc, elev) - COALESCE(LAG(elev) OVER wc, elev))
             / ((CASE WHEN LEAD(elev) OVER wc IS NOT NULL THEN 1 ELSE 0 END
               + CASE WHEN LAG(elev) OVER wc IS NOT NULL THEN 1 ELSE 0 END) * 1.0)
             AS dzdy
      FROM g
      WINDOW wr AS (PARTITION BY r ORDER BY c),
             wc AS (PARTITION BY c ORDER BY r)
    )
    SELECT r, c,
           ROUND(degrees(atan(sqrt(dzdx*dzdx + dzdy*dzdy))) + 5e-10, 4) AS slope_deg,
           ROUND(degrees(atan2(dzdy, -dzdx)) + 5e-10, 4) AS aspect_deg
    FROM d
"""


@register(
    "q47_terrain",
    _Q47_ORACLE,
    doc="Slope/aspect from an elevation grid via lag/lead central "
    "differences (ee.Terrain semantics, two windows, no self-join).",
)
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.grid import terrain_derivatives

    cust = _t(spark, sf_dir, "customer")
    grid = cust.select(
        (F.col("c_custkey") % 25).alias("r"),
        F.floor(F.col("c_custkey") / 25.0).cast("int").alias("c"),
        F.col("c_acctbal").cast("double").alias("elev"),
    )
    out = terrain_derivatives(grid, "r", "c", "elev", cell_size=1.0)
    return out.select(
        "r",
        "c",
        F.round(F.col("slope_deg") + 5e-10, 4).alias("slope_deg"),
        F.round(F.col("aspect_deg") + 5e-10, 4).alias("aspect_deg"),
    )


# ---------------------------------------------------------------------------
# Q48 — geodesic expressions (F16/F22): sphere xyz + haversine
# ---------------------------------------------------------------------------
_Q48_COORDS = """
      SELECT c_custkey,
             (c_custkey % 180) - 90 + 0.25 AS lat,
             (c_custkey % 360) - 180 + 0.5 AS lon
      FROM customer
"""

_Q48_ORACLE = f"""
    WITH pts AS ({_Q48_COORDS})
    SELECT c_custkey,
           ROUND(cos(radians(lat)) * cos(radians(lon)) + 5e-12, 6) AS sx,
           ROUND(cos(radians(lat)) * sin(radians(lon)) + 5e-12, 6) AS sy,
           ROUND(sin(radians(lat)) + 5e-12, 6) AS sz,
           ROUND(2.0 * 6378137.0 * asin(sqrt(
             sin(radians(lat) / 2) * sin(radians(lat) / 2)
             + cos(radians(0.0)) * cos(radians(lat))
               * sin(radians(lon) / 2) * sin(radians(lon) / 2)))
             + 5e-7, 1) AS dist_from_origin_m
    FROM pts
    ORDER BY c_custkey
    LIMIT 500
"""


@register(
    "q48_geodesic",
    _Q48_ORACLE,
    doc="Unit-sphere xyz (presto.py:299-309 cartesian) + haversine "
    "distance — native trig, no pyproj.",
)
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.geo import haversine_m, latlon_to_unit_sphere

    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        "c_custkey",
        ((F.col("c_custkey") % 180) - 90 + 0.25).alias("lat"),
        ((F.col("c_custkey") % 360) - 180 + 0.5).alias("lon"),
    )
    xyz = latlon_to_unit_sphere(F.col("lat"), F.col("lon"))
    return (
        pts.orderBy("c_custkey")
        .limit(500)
        .select(
            "c_custkey",
            F.round(F.element_at(xyz, 1) + 5e-12, 6).alias("sx"),
            F.round(F.element_at(xyz, 2) + 5e-12, 6).alias("sy"),
            F.round(F.element_at(xyz, 3) + 5e-12, 6).alias("sz"),
            F.round(
                haversine_m(F.lit(0.0), F.lit(0.0), F.col("lat"), F.col("lon"))
                + 5e-7,
                1,
            ).alias("dist_from_origin_m"),
        )
    )


# ---------------------------------------------------------------------------
# Q49 — as-of join, forward direction with tolerance (J5 variant)
# ---------------------------------------------------------------------------
_Q49_ORACLE = """
    WITH firsts AS (
      SELECT user_id, MIN(ts) AS anchor FROM events GROUP BY user_id
    ), matched AS (
      SELECT f.user_id, f.anchor, e.ts, e.value,
             ROW_NUMBER() OVER (
               PARTITION BY f.user_id
               ORDER BY e.ts ASC, e.value DESC) AS rn
      FROM firsts f
      JOIN events e
        ON e.user_id = f.user_id
       AND e.ts >= f.anchor + INTERVAL 1 MICROSECOND
       AND e.ts <= f.anchor + INTERVAL 1 MICROSECOND + INTERVAL 2 DAY
    )
    SELECT user_id, ROUND(value + 5e-12, 6) AS next_value
    FROM matched WHERE rn = 1
"""


@register(
    "q49_asof_forward",
    _Q49_ORACLE,
    doc="Forward as-of: first event strictly after each user's anchor "
    "within 2 days (row_number over time distance).",
)
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.asof import asof_join

    # String-expression build (guide §7.3): same Catalyst trees as the
    # Column forms (`5e-12` parses as DOUBLE, matching the former
    # Python-float literal), a fraction of the py4j round-trips.
    ev = _t(spark, sf_dir, "events")
    anchors = ev.groupBy("user_id").agg(F.min("ts").alias("anchor"))
    # exclusive lower bound: nudge the anchor forward 1 microsecond so
    # the anchor event itself never matches (asof 'forward' is >=).
    anchors_x = anchors.selectExpr(
        "user_id", "anchor + INTERVAL 1 MICROSECOND AS anchor"
    )
    out = asof_join(
        anchors_x,
        ev.select("user_id", "ts", "value"),
        on="user_id",
        left_ts="anchor",
        right_ts="ts",
        tolerance="2 DAYS",
        direction="forward",
        left_key="user_id",
    )
    return out.where("value IS NOT NULL").selectExpr(
        "user_id", "ROUND(value + 5e-12, 6) AS next_value"
    )


# ---------------------------------------------------------------------------
# Q56 — general CRS reprojection: UTM forward (F22)
# ---------------------------------------------------------------------------
# The oracle mirrors the same Krüger series in DuckDB SQL; DuckDB has
# no hyperbolic functions, so sinh/cosh/atanh/asinh are spelled with
# exp/ln. Coefficients are injected from functions/geo.py so both
# engines share literals to the last bit.
def _q56_oracle() -> str:
    from model_presto_spark.functions import geo as G

    a1, a2, a3, a4 = (repr(a) for a in G._ALPHA)
    e = repr(G._E)
    ka = repr(G.UTM_K0 * G._A_BAR)
    return f"""
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey % 180) - 90 + 0.25 AS lat,
             (c_custkey % 360) - 180 + 0.5 AS lon
      FROM customer
    ), zoned AS (
      SELECT c_custkey, lat, lon,
             CAST(FLOOR((lon + 180.0) / 6.0) % 60 + 1 AS INT) AS zone
      FROM pts
      WHERE lat BETWEEN -80.0 AND 84.0 AND c_custkey < 600
    ), base AS (
      SELECT *,
             radians(lat) AS phi,
             radians(lon - (zone * 6.0 - 183.0)) AS lam,
             sin(radians(lat)) AS sphi
      FROM zoned
    ), conf AS (
      SELECT *,
             0.5*ln((1.0 + sphi)/(1.0 - sphi))
               - {e} * (0.5*ln((1.0 + {e}*sphi)/(1.0 - {e}*sphi))) AS q
      FROM base
    ), tt AS (
      SELECT *, (exp(q) - exp(-q))/2.0 AS t FROM conf
    ), prim AS (
      SELECT *,
             atan2(t, cos(lam)) AS xi_p,
             ln(sin(lam)/sqrt(t*t + cos(lam)*cos(lam))
                + sqrt((sin(lam)/sqrt(t*t + cos(lam)*cos(lam)))
                     * (sin(lam)/sqrt(t*t + cos(lam)*cos(lam))) + 1.0)) AS eta_p
      FROM tt
    ), series AS (
      SELECT *,
        xi_p + {a1}*sin(2.0*xi_p)*((exp(2.0*eta_p)+exp(-2.0*eta_p))/2.0)
             + {a2}*sin(4.0*xi_p)*((exp(4.0*eta_p)+exp(-4.0*eta_p))/2.0)
             + {a3}*sin(6.0*xi_p)*((exp(6.0*eta_p)+exp(-6.0*eta_p))/2.0)
             + {a4}*sin(8.0*xi_p)*((exp(8.0*eta_p)+exp(-8.0*eta_p))/2.0) AS xi,
        eta_p + {a1}*cos(2.0*xi_p)*((exp(2.0*eta_p)-exp(-2.0*eta_p))/2.0)
              + {a2}*cos(4.0*xi_p)*((exp(4.0*eta_p)-exp(-4.0*eta_p))/2.0)
              + {a3}*cos(6.0*xi_p)*((exp(6.0*eta_p)-exp(-6.0*eta_p))/2.0)
              + {a4}*cos(8.0*xi_p)*((exp(8.0*eta_p)-exp(-8.0*eta_p))/2.0) AS eta
      FROM prim
    )
    SELECT c_custkey, zone,
           ROUND(500000.0 + {ka} * eta + 5e-7, 3) AS easting,
           ROUND(CASE WHEN lat >= 0 THEN 0.0 ELSE 10000000.0 END
                 + {ka} * xi + 5e-7, 3) AS northing
    FROM series
    """


@register(
    "q56_utm",
    _q56_oracle(),
    doc="General CRS reprojection (F22): UTM forward per-point zone, "
    "Krüger series in pure column arithmetic (functions/geo.py "
    "utm_forward_sql) vs the same series spelled with exp/ln in DuckDB.",
)
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.functions.geo import utm_forward_sql

    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        "c_custkey",
        ((F.col("c_custkey") % 180) - 90 + 0.25).alias("lat"),
        ((F.col("c_custkey") % 360) - 180 + 0.5).alias("lon"),
    ).filter(
        (F.col("lat") >= -80.0) & (F.col("lat") <= 84.0) & (F.col("c_custkey") < 600)
    )
    # one py4j round-trip + JVM parse instead of ~1,459 round-trips of
    # Column construction (~0.6 s per plan build)
    u = F.expr(utm_forward_sql("lat", "lon"))
    return pts.select(u.alias("u"), "c_custkey").select(
        "c_custkey",
        F.col("u.zone").alias("zone"),
        F.round(F.col("u.easting") + 5e-7, 3).alias("easting"),
        F.round(F.col("u.northing") + 5e-7, 3).alias("northing"),
    )
