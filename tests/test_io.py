"""read_parquet_cached: one source relation per (session, absolute
path), released together with its session."""

import gc
import os
import weakref

from pyproj_spark.io import read_parquet_cached


class _Frame:
    def __init__(self, session, path):
        self.sparkSession = session  # as a DataFrame refers to its session
        self.path = path


class _StubSession:
    """The surface read_parquet_cached uses: ``read.parquet(path)``."""

    def __init__(self):
        self.reads = 0

    @property
    def read(self):
        return self

    def parquet(self, path):
        self.reads += 1
        return _Frame(self, path)


def test_memoized_per_session_and_absolute_path():
    s, t = _StubSession(), _StubSession()
    a = read_parquet_cached(s, "fixture.parquet")
    assert read_parquet_cached(s, os.path.abspath("fixture.parquet")) is a
    assert s.reads == 1
    assert read_parquet_cached(t, "fixture.parquet") is not a
    assert t.reads == 1


def test_session_is_released():
    s = _StubSession()
    read_parquet_cached(s, "fixture.parquet")
    ref = weakref.ref(s)
    del s
    gc.collect()
    assert ref() is None
