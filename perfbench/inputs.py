"""Seeded benchmark inputs drawn from a cached pool.

The pool is built once per checkout, under a key of generator, files,
rows per file and pool seed: ``files`` parquet files of pages from the
library's own generator (``sources.pages_df``, one row group per file,
each file a contiguous range of page ids), and for each pages file the
anchors extracted from it and normalized to EPSG:4326 (numeric columns
only). A run's ``--seed`` picks which pool files it reads, so the same
seed always gives the same inputs and different seeds give different
pages; only those files reach the program.
"""

from __future__ import annotations

import os
import random
import shutil

from perfbench.env import CACHE

POOL_SEED = 42
POOL = {"files": 64, "rows_per_file": 2_500}
SMOKE_POOL = {"files": 8, "rows_per_file": 250}


class Pool:
    def __init__(self, smoke: bool):
        spec = SMOKE_POOL if smoke else POOL
        self.files = spec["files"]
        self.rows_per_file = spec["rows_per_file"]
        self.root = os.path.join(
            CACHE, "inputs",
            f"pages-{self.files}x{self.rows_per_file}-s{POOL_SEED}")

    @property
    def ready(self) -> bool:
        return os.path.exists(os.path.join(self.root, ".complete"))

    def build(self, spark) -> None:
        """Write the pool (into a temporary directory, then rename)."""
        from pyspark.sql import functions as F

        from pyproj_spark.operators.extract import extract_anchors
        from pyproj_spark.sources.pages import pages_df
        tmp = self.root + f".tmp{os.getpid()}"
        self._remove_stale_builds()
        shutil.rmtree(tmp, ignore_errors=True)
        pages = os.path.join(tmp, "pages")
        pages_df(spark, self.files * self.rows_per_file, seed=POOL_SEED,
                 partitions=self.files).write.parquet(pages)
        a = extract_anchors(spark.read.parquet(pages), normalize_crs=True)
        page_id = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long")
        (a.select((page_id * 8 + F.col("anchor_idx")).alias("aid"),
                  "x", "y",
                  F.split("src_crs", ":").getItem(1).cast("int")
                  .alias("epsg"),
                  "lon", "lat",
                  F.floor(page_id / self.rows_per_file).cast("long")
                  .alias("part"))
         .repartition("part").write.partitionBy("part")
         .parquet(os.path.join(tmp, "anchors")))
        open(os.path.join(tmp, ".complete"), "w").close()
        shutil.rmtree(self.root, ignore_errors=True)
        os.rename(tmp, self.root)

    def _remove_stale_builds(self) -> None:
        """Delete half-written pools of builds whose process is gone."""
        parent, base = os.path.split(self.root)
        os.makedirs(parent, exist_ok=True)
        for name in os.listdir(parent):
            pid = name[len(base) + 4:]
            if name.startswith(base + ".tmp") and pid.isdigit() and \
                    not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(parent, name), ignore_errors=True)

    def ensure(self, spark) -> bool:
        """Build the pool if missing; True when it was already there."""
        if self.ready:
            return True
        self.build(spark)
        return False

    def pick(self, seed: int, k: int) -> list[int]:
        """`k` distinct pool file indices, a function of `seed` only."""
        if k > self.files:
            raise ValueError(f"{k} files requested from a pool of "
                             f"{self.files}")
        return sorted(random.Random(seed).sample(range(self.files), k))

    def pages_files(self, parts: list[int]) -> list[str]:
        """Pages files in page-id order (Spark names them by partition)."""
        d = os.path.join(self.root, "pages")
        names = sorted(n for n in os.listdir(d) if n.endswith(".parquet"))
        if len(names) != self.files:
            raise RuntimeError(f"pool {d} has {len(names)} files, "
                               f"expected {self.files}")
        return [os.path.join(d, names[i]) for i in parts]

    def anchors_dirs(self, parts: list[int]) -> list[str]:
        return [os.path.join(self.root, "anchors", f"part={i}")
                for i in parts]
