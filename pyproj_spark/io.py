"""Memoized parquet source relations.

``spark.read.parquet(path)`` costs ~60-80 ms per call even when the
file-listing cache is warm (datasource resolution + a footer read for
schema inference + building a fresh ``InMemoryFileIndex``). The query
registry opens the same handful of fixture tables hundreds of times
per benchmark pass, so that fixed cost alone was ~25 s of the suite.

``read_parquet_cached`` returns ONE analyzed source DataFrame per
(SparkSession, absolute path). This memoizes the PLAN-side relation
only — every action still scans the parquet bytes; no rows, results
or intermediates are ever cached (the banned kind of caching). The
freshness assumption is the same one Spark's own session-scoped
FileStatusCache makes: a path's files do not change underneath a
running session. Test fixtures are immutable, and code that rewrites
a path mid-session should call ``spark.read.parquet`` directly.

The memo is a dict stored on the session object itself, so it goes
when the session goes. (A module-level map weakly keyed by session
never evicts: each cached DataFrame refers back to its session, so the
values keep their own keys alive. On the session, that reference is a
cycle the garbage collector reclaims.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    per_session = vars(spark).setdefault("_parquet_cache", {})
    key = os.path.abspath(path)
    df = per_session.get(key)
    if df is None:
        df = per_session[key] = spark.read.parquet(path)
    return df
