"""Point-in-polygon join — cell-prefiltered equi-join + exact test.

The graft's flagship join (SURVEY.md §2.6): instead of a theta-join
(impossible at 10^12 rows), PIP becomes

  1. anchors gain a geocell id (pure Catalyst bit math, no shuffle);
  2. zones explode their covering cells -> (cell, zone) rows, BROADCAST
     (zones are a dimension table);
  3. equi-join on cell = the only join, map-side via broadcast hash join
     (zero shuffle of the fact table);
  4. exact even-odd crossing test as a vectorized Arrow UDF, batched per
     zone inside each Arrow batch (ring geometry is identical across a
     zone's rows, so the inner loop is one numpy pass per distinct zone).

Exact-match contract: the even-odd test below is the same algorithm as
the brute-force oracle in tests (FIXTURES.md §9) — join output rows must
match exactly. Antimeridian-crossing rings are handled by wrapping
vertex longitudes into the point's local frame.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyproj_spark.crossing import _f64, _groups, _numpy_udf
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


def _pip_mask(zone, lon, lat, ring_of):
    """Even-odd test of each row against its zone's ring, one numpy
    pass per distinct zone in the batch. Rows arrive join-ordered, so
    they are grouped by zone_id (a geometry-derived key would collide
    for zones sharing vertices); ``ring_of(zone_id, row)`` gives the
    zone's ring as (lons, lats), or None, from any of its rows."""
    out = np.zeros(len(zone), dtype=bool)
    for zid, ii in _groups(zone):
        r = ring_of(zid, ii[0])
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
        zone, lon, lat, lambda zid, _row: rings_bc.value.get(zid)),
        "boolean")


def _pip_join_struct(cand: DataFrame, lon_col: str,
                     lat_col: str) -> DataFrame:
    """Fallback for ring tables too big to broadcast: candidates carry
    the ring as a struct column through the cell equi-join; a mapInArrow
    pass parses each zone's ring ONCE per (batch, zone) and filters.
    One extra shuffle-side payload, zero driver-side collection."""
    import pyspark.sql.types as T
    out_schema = T.StructType(
        [f for f in cand.schema.fields if f.name != "ring"])

    def batches(it):
        for b in it:
            rings = b.column("ring")

            def ring_of(_zid, row):
                pts = rings[int(row)].values
                return _f64(pts.field("lon")), _f64(pts.field("lat"))

            keep = _pip_mask(_f64(b.column("zone_id")),
                             _f64(b.column(lon_col)),
                             _f64(b.column(lat_col)), ring_of)
            yield b.filter(pa.array(keep)).drop_columns(["ring"])

    return cand.mapInArrow(batches, out_schema)


def pip_join(anchors: DataFrame, zones: DataFrame,
             res: int = cells.DEFAULT_RES,
             lon_col: str = "lon", lat_col: str = "lat",
             broadcast_max_vertices: int = 4_000_000) -> DataFrame:
    """anchors ⋈ zones where the point lies inside the zone ring.

    anchors: any DF with lon/lat columns. zones: zones_df schema
    (zone_id, name, ring, cells) — normally a broadcastable DIMENSION
    table: rings are collected once on the driver and shipped per
    executor via sparkContext.broadcast. Above broadcast_max_vertices
    total ring vertices (~64 MB at 16 B/vertex) the join switches to the
    struct-column path: rings ride the cell equi-join and are parsed
    once per (batch, zone) in a mapInArrow pass — slower per row but
    never materializes the zone table on the driver.
    Returns anchors columns + zone_id.
    """
    a = anchors.withColumn(
        "cell", cells.cell_of(F.col(lon_col), F.col(lat_col), res))
    # The size probe + ring collect + broadcast are ~3 driver round
    # trips per call; a zones DIMENSION table is typically reused across
    # many queries in a session, so the results are memoized on the
    # DataFrame object itself (plan-side metadata, recomputed whenever
    # the caller rebuilds the zones frame — never keyed on fact data).
    cached = getattr(zones, "_pip_rings_cache", None)
    if cached is not None:
        n_vertices, rings_bc = cached
    else:
        n_vertices = zones.select(
            F.sum(F.size("ring")).alias("n")).first()["n"] or 0
        rings_bc = None
    if n_vertices > broadcast_max_vertices:
        zc = zones.select("zone_id", "ring",
                          F.explode("cells").alias("cell"))
        return _pip_join_struct(a.join(zc, "cell"), lon_col,
                                lat_col).drop("cell")
    if rings_bc is None:
        rings = {
            r["zone_id"]: (np.array([p["lon"] for p in r["ring"]]),
                           np.array([p["lat"] for p in r["ring"]]))
            for r in zones.select("zone_id", "ring").collect()}
        sc = anchors.sparkSession.sparkContext
        rings_bc = sc.broadcast(rings)
        try:
            zones._pip_rings_cache = (n_vertices, rings_bc)
        except AttributeError:  # pragma: no cover - exotic DF proxies
            pass
    zc = zones.select("zone_id", F.explode("cells").alias("cell"))
    cand = a.join(F.broadcast(zc), "cell")
    hit = cand.filter(_make_pip_udf(rings_bc)(
        F.col("zone_id"), F.col(lon_col), F.col(lat_col)))
    return hit.drop("cell")
