"""The one way Python code crosses the Spark boundary: Arrow batches.

Every Python stage of the engine goes through one of these forms:

* :func:`_numpy_udf` — numpy kernels over float64 columns, one
  ``arrow_udf`` returning a ``boolean`` or a struct of numbers;
* :func:`_row_udf` — a per-row Python function, one ``arrow_udf``
  returning one value of any DDL type per row;
* :func:`_row_map` — a per-row Python function yielding zero or more
  output rows, one ``mapInArrow`` stage;
* grouped work calls ``applyInArrow`` itself and packs its output with
  :func:`_table`.

Output packing lives here too (:func:`_batch`, :func:`_table`): an
output schema is declared once, as DDL, and the Arrow types come from
it. Output schemas are resolved on the driver, so these helpers are
called while a session is active.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.types import DataType, StructType

#: numpy dtype for each Arrow field type the numpy adapter packs
_DTYPES = {"double": np.float64, "int": np.int32, "boolean": np.bool_}


def _f64(arr: pa.Array) -> np.ndarray:
    """Arrow column -> float64 numpy array (nulls become NaN)."""
    return np.asarray(arr.to_numpy(zero_copy_only=False), dtype=np.float64)


def _numpy_udf(fn, ddl: str):
    """The one Python crossing for numpy kernels: an ``arrow_udf``
    returning ``ddl`` — ``boolean`` or ``struct<name:double|int,...>`` —
    that calls ``fn`` on float64 numpy arrays of its argument columns
    and packs what it returns (one array, or one per struct field in
    order) into that Arrow type."""
    if ddl.startswith("struct<"):
        fields = [f.split(":") for f in ddl[len("struct<"):-1].split(",")]

        def pack(out):
            return pa.StructArray.from_arrays(
                [pa.array(np.asarray(o, dtype=_DTYPES[t]))
                 for o, (_, t) in zip(out, fields, strict=True)],
                names=[n for n, _ in fields])
    else:
        def pack(out):
            return pa.array(np.asarray(out, dtype=_DTYPES[ddl]))

    @arrow_udf(ddl)
    def _udf(*cols: pa.Array) -> pa.Array:
        return pack(fn(*map(_f64, cols)))

    return _udf


def _groups(keys: np.ndarray):
    """Yield ``(key, row indices)`` per distinct key of a batch, from
    one argsort (a NaN key is its own group). The indices of a key come
    in no fixed order: callers run elementwise kernels on them."""
    if len(keys) == 0:
        return
    order = np.argsort(keys)
    k = keys[order]
    for ii in np.split(order, np.flatnonzero(k[1:] != k[:-1]) + 1):
        yield keys[ii[0]], ii


def _schema(ddl: str | StructType) -> pa.Schema:
    """Arrow schema of a DDL row schema (or a StructType)."""
    st = ddl if isinstance(ddl, StructType) else DataType.fromDDL(ddl)
    return to_arrow_schema(st)


def _batch(columns, schema: pa.Schema) -> pa.RecordBatch:
    """One record batch from per-field value sequences (lists of
    Python values or numpy arrays), typed by ``schema``."""
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type)
         for c, f in zip(columns, schema, strict=True)], schema=schema)


def _table(columns, schema: pa.Schema) -> pa.Table:
    """:func:`_batch` as the table an ``applyInArrow`` function
    returns."""
    return pa.Table.from_batches([_batch(columns, schema)])


def _pylist_rows(cols):
    """Per-row tuples of Python values (None for null) of Arrow
    columns."""
    return zip(*(c.to_pylist() for c in cols))


def _row_map(df, fn, ddl: str | StructType):
    """``df.mapInArrow`` that calls ``fn`` with each row's values as
    Python objects (None for null) and packs the tuples it yields —
    zero or more per row — into the ``ddl`` schema, one output batch
    per input batch (a batch whose rows all yield nothing still gives
    a zero-row batch of that schema)."""
    schema = _schema(ddl)

    def run(batches):
        for b in batches:
            rows = [out for row in _pylist_rows(b.columns)
                    for out in fn(*row)]
            yield _batch(list(zip(*rows)) if rows else [[]] * len(schema),
                         schema)

    return df.mapInArrow(run, ddl)


def _row_udf(fn, ddl: str):
    """``arrow_udf`` that calls ``fn`` with each row's argument values
    as Python objects (None for null) and packs the one value it
    returns per row into the ``ddl`` type."""
    t = to_arrow_type(DataType.fromDDL(ddl))

    @arrow_udf(ddl)
    def _udf(*cols: pa.Array) -> pa.Array:
        return pa.array([fn(*row) for row in _pylist_rows(cols)], type=t)

    return _udf
