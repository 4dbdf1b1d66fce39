"""Point in polygon: the even-odd containment decision and its join.

This module owns the even-odd (crossing-number) test. It has one form
per evaluation site:

* :func:`point_in_ring_np` — numpy, wrap-aware; the exact refine of
  :func:`pip_join` and the brute-force oracle of the tests
  (FIXTURES.md §9);
* :func:`inside_ring` — the same formula unrolled into native Catalyst
  expressions, for rings fixed when the plan is built (the geofence
  queries, the S2 join's boundary refine, the streaming geofence).

Both count edge (x1, y1)-(x2, y2) when (y1 > lat) != (y2 > lat) and
lon < x1 + (lat - y1) * (x2 - x1) / (y2 - y1), so points on an edge
resolve by the same half-open rule, and the oracle SQL replays the
formula term for term.

:func:`pip_join` is the graft's flagship join (SURVEY.md §2.6): instead
of a theta-join (impossible at 10^12 rows), PIP becomes

  1. anchors gain a geocell id (pure Catalyst bit math, no shuffle);
  2. zones explode their covering cells -> (cell, zone_id) rows,
     BROADCAST: the zones table is a broadcast dimension table;
  3. equi-join on cell = the only join, map-side via broadcast hash join
     (zero shuffle of the fact table);
  4. the exact test as one Arrow UDF, batched per zone inside each
     Arrow batch (ring geometry is identical across a zone's rows, so
     the inner loop is one numpy pass per distinct zone).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyproj_spark.crossing import _groups, _numpy_udf
from pyproj_spark.functions import cells


def point_in_ring_np(lon: np.ndarray, lat: np.ndarray,
                     ring_lon: np.ndarray, ring_lat: np.ndarray
                     ) -> np.ndarray:
    """Vectorized even-odd (crossing-number) test; lon wrap-aware.

    Points on an edge are resolved by the half-open rule (y1 > lat) !=
    (y2 > lat) — deterministic, matching the test oracle bit-for-bit.
    """
    # Ring-local continuous frame: unwrap every vertex to within +-180 of
    # vertex 0 (rings span << 180 deg by construction), then wrap the
    # point into the same frame. The seam lands ~antipodal to the ring,
    # so no edge spans it and the planar ray test is globally correct
    # (a per-vertex wrap would split far-away rings across the seam and
    # let the eastward ray wrap around and hit them).
    ref = ring_lon[0]
    rx = ref + ((ring_lon - ref + 180.0) % 360.0 - 180.0)
    px = ref + ((lon - ref + 180.0) % 360.0 - 180.0)
    x1 = rx
    x2 = np.roll(rx, -1)
    y1 = ring_lat
    y2 = np.roll(ring_lat, -1)
    yy1 = y1[None, :]
    yy2 = y2[None, :]
    cross = (yy1 > lat[:, None]) != (yy2 > lat[:, None])
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1[None, :] + (lat[:, None] - yy1) * (x2 - x1)[None, :] \
            / (yy2 - yy1)
    hits = cross & (px[:, None] < xint)
    return (hits.sum(axis=1) % 2).astype(bool)


def inside_ring(lon: Column, lat: Column, ring) -> Column:
    """Even-odd test of ``(lon, lat)`` against the fixed ``ring``
    (``[(lon, lat), ...]``) as unrolled native expressions: an int
    column, 1 inside and 0 outside. No longitude wrap: for rings away
    from the antimeridian it agrees with :func:`point_in_ring_np`."""
    k = len(ring)
    tot = F.lit(0)
    for i in range(k):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % k]
        cond = (((F.lit(float(y1)) > lat) != (F.lit(float(y2)) > lat))
                & (lon < F.lit(float(x1))
                   + (lat - F.lit(float(y1)))
                   * F.lit(float(x2 - x1)) / F.lit(float(y2 - y1))))
        tot = tot + F.when(cond, 1).otherwise(0)
    return (tot % 2 == 1).cast("int")


def _pip_mask(zone, lon, lat, rings):
    """Even-odd test of each row against its zone's ring from the
    ``{zone_id: (lons, lats)}`` dict, one numpy pass per distinct zone
    in the batch. Rows arrive join-ordered, so they are grouped by
    zone_id (a geometry-derived key would collide for zones sharing
    vertices)."""
    out = np.zeros(len(zone), dtype=bool)
    for zid, ii in _groups(zone):
        r = rings.get(zid)
        if r is not None and len(r[0]):
            out[ii] = point_in_ring_np(lon[ii], lat[ii], r[0], r[1])
    return out


def _make_pip_udf(rings_bc):
    """PIP filter reading the {zone_id: (lons, lats)} ring table from a
    SparkContext BROADCAST — shipped once per executor, not pickled into
    every task closure (at 10^5 zones a closure would re-serialize the
    whole table per task). The ring geometry never crosses Arrow per row
    (it is identical across a zone's candidate rows; shipping it as a
    struct column multiplied the batch payload by the ring size)."""
    return _numpy_udf(lambda zone, lon, lat: _pip_mask(
        zone, lon, lat, rings_bc.value), "boolean")


def pip_join(anchors: DataFrame, zones: DataFrame,
             lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """anchors ⋈ zones where the point lies inside the zone ring.

    anchors: any DataFrame with lon/lat columns. zones: a broadcast
    dimension table with the ``sources.zones.ZONE_SCHEMA`` columns
    (zone_id, name, ring, cells), its ``cells`` covered at
    ``cells.DEFAULT_RES``, the resolution anchors are encoded at. The
    rings are collected on the driver once per zones frame (one Spark
    job) and shipped once per executor via sparkContext.broadcast; the
    broadcast is remembered on the frame, so a zones table reused
    across queries is collected once. Returns anchors columns +
    zone_id.
    """
    rings_bc = getattr(zones, "_pip_rings_bc", None)
    if rings_bc is None:
        rings = {
            r["zone_id"]: (np.array([p["lon"] for p in r["ring"]]),
                           np.array([p["lat"] for p in r["ring"]]))
            for r in zones.select("zone_id", "ring").collect()}
        rings_bc = anchors.sparkSession.sparkContext.broadcast(rings)
        zones._pip_rings_bc = rings_bc
    a = anchors.withColumn("cell", cells.cell_of(
        F.col(lon_col), F.col(lat_col), cells.DEFAULT_RES))
    zc = zones.select("zone_id", F.explode("cells").alias("cell"))
    cand = a.join(F.broadcast(zc), "cell")
    hit = cand.filter(_make_pip_udf(rings_bc)(
        F.col("zone_id"), F.col(lon_col), F.col(lat_col)))
    return hit.drop("cell")
