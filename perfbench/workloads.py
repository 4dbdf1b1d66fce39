"""The workloads. Each one picks its seeded inputs, sets up a
session, runs one timed job at a time, checks its outputs once per run
(untimed), and in traced runs adds stage-isolated sub-jobs.

A job is the unit the harness times:

* ``tile_pages``: the flagship pipeline over the whole pages table
  (scan -> anchor regex -> one Arrow crossing that normalizes and
  projects -> cell + slippy tile -> count per tile) into a noop sink.
* ``zone_join``: ``pip_join`` of the pre-extracted anchors with the
  zones table, then exact ``knn_to_zones`` on a fixed anchor sample.

Traced runs of ``tile_pages`` also materialize tiles through a
``ResumableJob`` (vector tiles, grouped ``applyInPandas`` rasters, a
resume pass), which is where the tiling and checkpoint layers are
measured.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter

import numpy as np

from perfbench.inputs import Pool

ISOLATE_REPS = 3


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_df(tracer, build) -> None:
    """Build a DataFrame, (traced runs only) force its physical plan,
    then write it to the noop sink."""
    with tracer.span("driver:build"):
        df = build()
    if tracer.enabled:
        with tracer.span("driver:plan"):
            df._jdf.queryExecution().executedPlan()
    with tracer.span("driver:exec"):
        noop(df)


def median_time(fn, reps: int = ISOLATE_REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def isolated(tracer, frames: dict) -> dict:
    """Stage-isolated sub-jobs: key -> median noop seconds of its frame,
    each under the span ``isolate:<key>``."""
    out = {}
    for key, df in frames.items():
        with tracer.span(f"isolate:{key}"):
            out[key] = median_time(lambda: noop(df))
    return out


def _merc_tiles(px: np.ndarray, py: np.ndarray, z: int):
    """numpy twin of functions.tiles.tile_xy, with Spark's double->long
    cast (NaN -> 0, +-inf saturates) before the clamp."""
    from pyproj_spark.functions.tiles import MERC_LIMIT
    n = 1 << z
    span = 2.0 * MERC_LIMIT / n

    def cell(v):
        f = np.floor(v)
        f = np.where(np.isnan(f), 0.0, f)
        return np.clip(f, 0, n - 1).astype(np.int64)
    return cell((px + MERC_LIMIT) / span), cell((MERC_LIMIT - py) / span)


def reference_anchors(files: list[str]):
    """(x, y, epsg) arrays from the pure-Python reference extractor."""
    import pyarrow.parquet as pq

    from pyproj_spark.operators.extract import extract_anchors_py
    xs, ys, codes = [], [], []
    texts = [t for f in files
             for t in pq.read_table(f, columns=["text"]).column("text")
             .to_pylist()]
    for t in texts:
        for _tok, x, y, crs in extract_anchors_py(t):
            xs.append(x)
            ys.append(y)
            codes.append(int(crs.split(":")[1]))
    return (np.array(xs, dtype=np.float64), np.array(ys, dtype=np.float64),
            np.array(codes, dtype=np.int64))


def reference_lonlat(x, y, codes):
    from pyproj_spark.crs.crs import CRS
    from pyproj_spark.plans.spec import TransformSpec, get_kernel
    lon, lat = x.copy(), y.copy()
    for code in np.unique(codes):
        if code == 4326:
            continue
        ii = np.flatnonzero(codes == code)
        k = get_kernel(TransformSpec(CRS.from_epsg(int(code)).srs,
                                     "EPSG:4326", always_xy=True))
        lon[ii], lat[ii], _ = k(x[ii], y[ii])
    return lon, lat


class Workload:
    name = ""

    def __init__(self, seed: int, smoke: bool, workdir: str):
        self.seed = seed
        self.smoke = smoke
        self.workdir = workdir
        self.sizes = self.SMOKE if smoke else self.SIZES
        self.pool = Pool(smoke)
        self.counts: dict[str, float] = {}
        self.ops_attempted = 0
        self.ops_failed = 0
        self._ref = None

    def op(self, ok: bool) -> None:
        self.ops_attempted += 1
        self.ops_failed += 0 if ok else 1

    def make_inputs(self, spark) -> dict:
        """Build the input pool if this checkout has none, then pick this
        seed's files."""
        hit = self.pool.ensure(spark)
        self.parts = self.pool.pick(self.seed, self.sizes["files"])
        return {"pool_hit": hit, "parts": self.parts,
                "pages": self.sizes["files"] * self.pool.rows_per_file}

    # hooks ---------------------------------------------------------

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def job(self, tracer) -> int:
        """Run one job; returns the input rows it consumed."""
        raise NotImplementedError

    def check(self, spark) -> list[tuple[str, bool, str]]:
        raise NotImplementedError

    def isolate(self, spark, tracer) -> dict:
        return {}

    def points(self):
        """(lon, lat) arrays of the workload's own points."""
        raise NotImplementedError

    def kernel_points(self, m: dict) -> dict:
        """kernel name -> points one timed job sends through it, from the
        traced run's per-layer metrics `m`."""
        return {}

    #: whether quarter() exists (the 1-CPU leg of the weak-scaling run)
    weak_scaling = False


# --------------------------------------------------------------- tiles

def flagship_df(pages):
    from pyspark.sql import functions as F

    from pyproj_spark.functions import cells
    from pyproj_spark.functions.tiles import tile_xy
    from pyproj_spark.operators import extract
    a = extract.extract_anchors(pages, normalize_crs=False) \
        .select("x", "y", "src_crs")
    p = extract.normalize_and_project(F.col("x"), F.col("y"),
                                      F.col("src_crs"))
    a = a.select(p.alias("p"))
    tx, ty = tile_xy(F.col("p.px"), F.col("p.py"), 8)
    return (a.withColumn("cell", cells.cell_of(F.col("p.lon"),
                                               F.col("p.lat"),
                                               cells.DEFAULT_RES))
            .withColumn("tx", tx).withColumn("ty", ty)
            .groupBy("tx", "ty").agg(F.count("*").alias("n_anchors")))


class TilePages(Workload):
    name = "tile_pages"
    SIZES = {"files": 16}
    SMOKE = {"files": 4}

    def prepare(self, spark) -> None:
        self.files = self.pool.pages_files(self.parts)
        self.pages = spark.read.parquet(*self.files)

    weak_scaling = True

    def quarter(self, spark) -> None:
        """Switch the jobs to a quarter of the input files."""
        self.files = self.files[:len(self.files) // 4]
        self.pages = spark.read.parquet(*self.files)

    def job(self, tracer) -> int:
        run_df(tracer, lambda: flagship_df(self.pages))
        return len(self.files) * self.pool.rows_per_file

    def reference(self):
        if self._ref is None:
            x, y, codes = reference_anchors(self.files)
            lon, lat = reference_lonlat(x, y, codes)
            self._ref = (x, y, codes, lon, lat)
        return self._ref

    def check(self, spark):
        from pyproj_spark.crs.crs import CRS
        from pyproj_spark.plans.spec import TransformSpec, get_kernel
        x, y, codes, lon, lat = self.reference()
        k = get_kernel(TransformSpec(
            "EPSG:4326", CRS.from_user_input("EPSG:3857").srs,
            always_xy=True))
        px, py, _ = k(lon, lat)
        tx, ty = _merc_tiles(px, py, 8)
        want = Counter(zip(tx.tolist(), ty.tolist()))
        got = {(r["tx"], r["ty"]): r["n_anchors"]
               for r in flagship_df(self.pages).collect()}
        ok = got == dict(want)
        return [("tile_counts", ok,
                 f"{len(got)} tiles, {sum(got.values())} anchors vs "
                 f"{len(want)} tiles, {len(x)} anchors")]

    def isolate(self, spark, tracer) -> dict:
        from pyspark.sql import functions as F

        from pyproj_spark.operators import extract
        pages = self.pages
        ext = extract.extract_anchors(pages, normalize_crs=False) \
            .select("x", "y", "src_crs")
        udf = ext.select(extract.normalize_and_project(
            F.col("x"), F.col("y"), F.col("src_crs")).alias("p"))
        t = isolated(tracer, {"scan_s": pages.select("text"),
                              "extract_s": ext, "udf_s": udf})
        out = {"scan_s": t["scan_s"],
               "regex_s": t["extract_s"] - t["scan_s"],
               "udf_stage_s": t["udf_s"] - t["extract_s"],
               "anchors_out": float(ext.count())}
        out.update(self.materialize(spark, tracer))
        return out

    def materialize(self, spark, tracer) -> dict:
        """Tiling and checkpoint layers: a ResumableJob over
        MATERIALIZE_CHUNKS chunks of the input (vector tiles + rasters),
        timed one chunk at a time, then a resume pass that must skip
        every chunk; the outputs are checked against the reference
        anchor count. Also the grouped crossing: rasterize minus the
        same grouping without the Python render."""
        from pyspark.sql import functions as F

        from pyproj_spark.functions.tiles import tile_xy_from_lonlat
        from pyproj_spark.operators import tiling
        from pyproj_spark.operators.checkpoint import ResumableJob
        n = MATERIALIZE_CHUNKS
        per = len(self.files) // n
        chunk_files = [self.files[k * per:(k + 1) * per] for k in range(n)]
        chunks = [spark.read.parquet(*fs) for fs in chunk_files]
        pts = lonlat_df(chunks[0])
        tx, ty = tile_xy_from_lonlat(F.col("lon"), F.col("lat"), RASTER_ZOOM)
        grouped = pts.withColumn("tx", tx).withColumn("ty", ty) \
            .groupBy("tx", "ty").count()
        raster = tiling.rasterize_tiles(pts, zoom=RASTER_ZOOM)
        t = isolated(tracer, {"group_s": grouped, "raster_s": raster})
        base = os.path.join(self.workdir, "materialize")
        shutil.rmtree(base, ignore_errors=True)
        raster_dir, vector_dir = (os.path.join(base, "raster"),
                                  os.path.join(base, "vector"))
        job = ResumableJob(raster_dir, name="materialize")
        fn = tile_chunk_fn(chunks, vector_dir)
        for k in range(n):
            done = job.run(spark, fn, k + 1)
            self.op(done["chunks_done"] == 1)
        t0 = time.perf_counter()
        with tracer.span("checkpoint:resume"):
            resumed = job.run(spark, fn, n)
        resume_s = time.perf_counter() - t0
        self.op(resumed["chunks_skipped"] == n and resumed["chunks_done"] == 0)
        want = sum(len(reference_anchors(fs)[0]) for fs in chunk_files)
        self.op(job.output(spark).agg(F.sum("n")).first()[0] == want)
        self.op(spark.read.parquet(vector_dir).count() == want)
        files, size = _dir_usage(base)
        shutil.rmtree(base, ignore_errors=True)
        return {"raster_s": t["raster_s"],
                "grouped_udf_s": t["raster_s"] - t["group_s"],
                "tiles_out": float(raster.select("tx", "ty").distinct()
                                   .count()),
                "files_written": float(files), "bytes_written": float(size),
                "chunks_skipped": float(resumed["chunks_skipped"]),
                "resume_s": resume_s}

    def points(self):
        _x, _y, _c, lon, lat = self.reference()
        return lon, lat

    def kernel_points(self, m: dict) -> dict:
        # every row into the scalar crossing is projected to Web Mercator;
        # the EPSG:2100 anchors also take the TM + Helmert leg
        codes = self.reference()[2]
        return {"webmerc": m["crossing.rows_to_python"],
                "tm_helmert": int((codes == 2100).sum())}


# ---------------------------------------------------------- zone join

class ZoneJoin(Workload):
    name = "zone_join"
    SIZES = {"files": 6, "zones": 200, "knn_mod": 64, "knn_check": 60}
    SMOKE = {"files": 2, "zones": 200, "knn_mod": 16, "knn_check": 10}
    KNN_K = 3

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        from pyproj_spark.sources import zones
        self.dirs = self.pool.anchors_dirs(self.parts)
        self.anchors = spark.read.parquet(*self.dirs)
        # the dimension table is the library's default one on every
        # seed: the seed varies the fact side (which anchors) only
        self.zones = zones.zones_df(spark, self.sizes["zones"])
        self.sample = self.anchors.filter(
            F.pmod(F.col("aid"), F.lit(self.sizes["knn_mod"])) == 0)

    def pip_df(self):
        from pyproj_spark.operators import pip
        return pip.pip_join(self.anchors, self.zones).select("aid", "zone_id")

    def knn_df(self):
        from pyproj_spark.operators import knn
        return knn.knn_to_zones(self.sample, self.zones, k=self.KNN_K,
                                id_cols=("aid",), exact=True)

    def job(self, tracer) -> int:
        with tracer.span("pip:join"):
            run_df(tracer, self.pip_df)
        with tracer.span("knn:join"):
            run_df(tracer, self.knn_df)
        return self.n_anchors()

    def n_anchors(self) -> int:
        return len(self.reference()[0])

    def reference(self):
        if self._ref is None:
            import pyarrow as pa
            import pyarrow.parquet as pq
            t = pa.concat_tables(
                pq.read_table(d, columns=["aid", "lon", "lat"])
                for d in self.dirs)
            order = np.argsort(t.column("aid").to_numpy())
            self._ref = tuple(t.column(c).to_numpy()[order]
                              for c in ("aid", "lon", "lat"))
        return self._ref

    def rings(self):
        from pyproj_spark.sources.zones import make_zone_rings
        return make_zone_rings(self.sizes["zones"])

    def check(self, spark):
        from pyproj_spark.kernels.geod import Geod
        from pyproj_spark.operators.pip import point_in_ring_np
        aid, lon, lat = self.reference()
        rings = self.rings()
        want = set()
        for zid, _name, ring in rings:
            rl = np.array([p[0] for p in ring])
            rb = np.array([p[1] for p in ring])
            ii = np.flatnonzero((lat >= rb.min()) & (lat <= rb.max()))
            if len(ii):
                hit = point_in_ring_np(lon[ii], lat[ii], rl, rb)
                want.update((int(a), zid) for a in aid[ii][hit])
        rows = self.pip_df().collect()
        got = {(r["aid"], r["zone_id"]) for r in rows}
        res = [("pip_pairs", got == want and len(rows) == len(want),
                f"{len(rows)} rows, {len(got)} distinct pairs vs brute "
                f"force {len(want)}")]
        self.counts["pip_hits"] = len(rows)
        # exact kNN on the first knn_check sampled anchors, brute force
        # over every zone centroid (ring-order sums, as the operator)
        cent = []
        for zid, _name, ring in rings:
            sx = sy = 0.0
            for a, b in ring:
                sx += a
                sy += b
            cent.append((zid, sx / len(ring), sy / len(ring)))
        zid = np.array([c[0] for c in cent])
        zlon = np.array([c[1] for c in cent])
        zlat = np.array([c[2] for c in cent])
        sel = np.flatnonzero(aid % self.sizes["knn_mod"] == 0)
        sel = sel[:self.sizes["knn_check"]]
        g = Geod(ellps="WGS84")
        want_knn = {}
        for j in sel:
            _a, _b, d = g.inv(np.full(len(zid), lon[j]),
                              np.full(len(zid), lat[j]), zlon, zlat)
            order = np.lexsort((zid, np.asarray(d)))[:self.KNN_K]
            want_knn[int(aid[j])] = zid[order].tolist()
        knn_rows = self.knn_df().collect()
        got_knn: dict[int, list] = {}
        for r in knn_rows:
            if r["aid"] in want_knn:
                got_knn.setdefault(r["aid"], []).append(
                    (r["rank"], r["zone_id"]))
        got_knn = {a: [z for _r, z in sorted(v)] for a, v in got_knn.items()}
        res.append(("knn_top3", got_knn == want_knn,
                    f"{len(want_knn)} sampled anchors"))
        n_sample = int((aid % self.sizes["knn_mod"] == 0).sum())
        res.append(("knn_rows", len(knn_rows) == self.KNN_K * n_sample,
                    f"{len(knn_rows)} rows for {n_sample} anchors"))
        return res

    def isolate(self, spark, tracer) -> dict:
        # pip and knn counters come from the timed jobs' own event log
        return isolated(tracer, {"scan_s": self.anchors})

    def points(self):
        _aid, lon, lat = self.reference()
        return lon, lat

    def kernel_points(self, m: dict) -> dict:
        return {"pip": m["pip.candidates"], "geod_inv": m["knn.geod_calls"]}


# ------------------------------------------- materialization (traced)

RASTER_ZOOM = 3
VECTOR_ZOOM = 2
MATERIALIZE_CHUNKS = 2


def lonlat_df(pages):
    from pyproj_spark.operators import extract
    return extract.extract_anchors(pages, normalize_crs=True) \
        .select("lon", "lat")


def tile_chunk_fn(chunks, vec_dir: str):
    """ResumableJob chunk: vector tiles written partitioned as a side
    effect, the raster tiles (grouped applyInPandas) as the checkpoint."""
    from pyproj_spark.operators import tiling

    def chunk_df(k: int):
        pts = lonlat_df(chunks[k])
        tiling.write_vector_tiles(pts, os.path.join(vec_dir, f"chunk={k}"),
                                  zoom=VECTOR_ZOOM)
        return tiling.rasterize_tiles(pts, zoom=RASTER_ZOOM)
    return chunk_df


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _sub, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


WORKLOADS = {w.name: w for w in (TilePages, ZoneJoin)}
