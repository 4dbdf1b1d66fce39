"""Numpy kernel rates on a workload's own points, one thread, no Spark.

Each probe calls the kernel the Python workers run (through
``plans.spec.get_kernel`` or the geodesic / PIP / cell modules) on the
workload's lon/lat arrays and reports points per second, the median of
``REPS`` timed calls after one untimed call that builds the kernel.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

REPS = 3
MAX_POINTS = 50_000
GEOD_POINTS = 5_000  # Karney is ~100x slower per point than the rest


def _rate(fn, n: int) -> float:
    fn()
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return n / statistics.median(times)


def probe(lon: np.ndarray, lat: np.ndarray, ring, tracer) -> dict:
    """kernel name -> points/s. `ring` is (ring_lon, ring_lat) of the
    polygon the PIP rate is measured against."""
    from pyproj_spark.crs.crs import CRS
    from pyproj_spark.functions import cells
    from pyproj_spark.kernels.geod import Geod
    from pyproj_spark.operators.pip import point_in_ring_np
    from pyproj_spark.plans.spec import TransformSpec, get_kernel

    lon = np.ascontiguousarray(lon[:MAX_POINTS], dtype=np.float64)
    lat = np.ascontiguousarray(lat[:MAX_POINTS], dtype=np.float64)
    n = len(lon)
    webmerc = get_kernel(TransformSpec(
        "EPSG:4326", CRS.from_user_input("EPSG:3857").srs, always_xy=True))
    tm = get_kernel(TransformSpec(CRS.from_epsg(2100).srs, "EPSG:4326",
                                  always_xy=True))
    # EPSG:2100 inputs spread over the generator's projected-anchor box
    x2100 = 200000.0 + (lon + 180.0) / 360.0 * 600000.0
    y2100 = 4000000.0 + (lat + 90.0) / 180.0 * 600000.0
    g = Geod(ellps="WGS84")
    m = min(n, GEOD_POINTS)
    glon, glat = lon[:m], lat[:m]
    glon2, glat2 = np.roll(glon, 1), np.roll(glat, 1)
    az = (np.arange(m) * 37.0) % 360.0
    dist = 1000.0 + (np.arange(m) % 100) * 1000.0
    probes = {
        "webmerc": (lambda: webmerc(lon, lat), n),
        "tm_helmert": (lambda: tm(x2100, y2100), n),
        "geod_inv": (lambda: g.inv(glon, glat, glon2, glat2), m),
        "geod_fwd": (lambda: g.fwd(glon, glat, az, dist), m),
        "pip": (lambda: point_in_ring_np(lon, lat, ring[0], ring[1]), n),
        "cell_encode": (lambda: cells.encode_np(lon, lat, cells.DEFAULT_RES),
                        n),
    }
    out = {}
    for name, (fn, pts) in probes.items():
        with tracer.span(f"kernels:{name}"):
            out[name] = _rate(fn, pts)
    return out
