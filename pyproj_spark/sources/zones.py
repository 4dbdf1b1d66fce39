"""The `zones` polygon dimension table (FIXTURES.md §3).

~200 deterministic polygons: 20 covering the hot cities (hot-join skew)
plus scattered ones; convex and star-concave rings, CCW exterior. Built
driver-side in numpy (it is a dimension table — small by design, always
broadcast) with a geocell covering per zone for the PIP equi-join
prefilter.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pyproj_spark.functions import cells
from pyproj_spark.sources.pages import CITIES

ZONE_SCHEMA = T.StructType([
    T.StructField("zone_id", T.LongType()),
    T.StructField("name", T.StringType()),
    T.StructField("ring", T.ArrayType(T.StructType([
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ]))),
    T.StructField("cells", T.ArrayType(T.LongType())),
])


def make_zone_rings(n_zones: int = 200, seed: int = 42):
    """[(zone_id, name, [(lon, lat), ...])] — pure numpy, deterministic."""
    rng = np.random.default_rng(seed)
    zones = []
    for zid in range(n_zones):
        if zid < len(CITIES):
            cx, cy = CITIES[zid]
            radius = 0.5 + 1.5 * rng.random()
            name = f"hotzone_{zid}"
        else:
            cx = float(rng.uniform(-175, 175))
            cy = float(rng.uniform(-80, 80))
            radius = 0.3 + 4.0 * rng.random()
            name = f"zone_{zid}"
        k = int(rng.integers(6, 16))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        # star-concave rings for a third of the zones
        rr = radius * (1.0 + (0.5 * np.cos(3 * ang) if zid % 3 == 0
                              else np.zeros(k)) + 0.2 * rng.random(k))
        lon = cx + rr * np.cos(ang) / max(np.cos(np.radians(cy)), 0.2)
        lat = np.clip(cy + rr * np.sin(ang), -89.0, 89.0)
        lon = np.remainder(lon + 180.0, 360.0) - 180.0  # antimeridian wrap
        ring = list(zip(lon.tolist(), lat.tolist()))  # CCW (angles sorted)
        zones.append((zid, name, ring))
    return zones


def zones_table(spark: SparkSession, zones) -> DataFrame:
    """The zones dimension table (ZONE_SCHEMA) of ``zones`` given as
    ``[(zone_id, name, [(lon, lat), ...])]``, each ring with its geocell
    covering at ``cells.DEFAULT_RES``, the resolution ``pip_join``
    encodes points at."""
    rows = []
    for zid, name, ring in zones:
        lons = np.array([p[0] for p in ring])
        lats = np.array([p[1] for p in ring])
        cov = cells.covering_np(lons, lats, cells.DEFAULT_RES).tolist()
        rows.append((zid, name, [{"lon": float(a), "lat": float(b)}
                                 for a, b in ring], cov))
    return spark.createDataFrame(rows, ZONE_SCHEMA)


def zones_df(spark: SparkSession, n_zones: int = 200,
             seed: int = 42) -> DataFrame:
    """The seeded ``make_zone_rings`` zones as a dimension table."""
    return zones_table(spark, make_zone_rings(n_zones, seed))
