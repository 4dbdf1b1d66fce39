"""Stateful streaming geofence: enter/exit transition detection.

The batch form (queries.py::q_geofence) is a lag() window over each
user's ordered positions; on an unbounded stream the "previous inside
flag" must live in a keyed state store instead — exactly the
``applyInPandasWithState`` shape. State per user is one boolean (the
last inside/outside flag), so the store stays O(users) no matter how
long the stream runs; arbitrarily late-arriving batches are the
caller's watermark problem, as with every per-key ordered stateful op.

The point-in-polygon test itself runs BEFORE the stateful stage as
``operators/pip.py::inside_ring``, the unrolled native even-odd
expressions the batch query uses (functions, not Python state), so the
pandas stage only diffs consecutive flags.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pyproj_spark.operators.pip import inside_ring

OUT_SCHEMA = "user_id long, event_id long, transition string"
STATE_SCHEMA = "inside int"


def _transitions_fn(key, pdfs: Iterable[pd.DataFrame],
                    state: GroupState) -> Iterator[pd.DataFrame]:
    prev = state.get[0] if state.exists else None
    # Arrow hands a group as MULTIPLE chunks in arbitrary shuffle order
    # when it spans >maxRecordsPerBatch rows; per-chunk sorting would
    # diff flags against the wrong predecessor. Materialize the whole
    # group (state is O(users); one user's micro-batch rows fit an
    # executor by the same argument as any per-key ordered op), sort
    # once globally, then diff.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        if prev is not None:
            state.update((int(prev),))
        yield pd.DataFrame(columns=["user_id", "event_id", "transition"])
        return
    pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
    ins = pdf["inside"].astype("float64")
    shifted = ins.shift(1)
    if prev is not None:
        shifted.iloc[0] = float(prev)
    mask = shifted.notna() & (ins != shifted)
    hits = pdf[mask.to_numpy()]
    state.update((int(ins.iloc[-1]),))
    yield pd.DataFrame({
        "user_id": int(key[0]),
        "event_id": hits["event_id"].astype("int64"),
        "transition": hits["inside"].map(
            lambda v: "enter" if v else "exit")})


def streaming_geofence(events: DataFrame, ring) -> DataFrame:
    """Transition stream (user_id, event_id, enter|exit) for events
    carrying (user_id, ts, event_id, lon, lat). Feeding the same rows
    as one micro-batch (empty initial state) reproduces the batch
    lag-window query exactly — the parity the test locks."""
    flagged = events.select(
        "user_id", "ts", "event_id",
        inside_ring(F.col("lon"), F.col("lat"), ring).alias("inside"))
    return (flagged.groupBy("user_id")
            .applyInPandasWithState(
                _transitions_fn, OUT_SCHEMA, STATE_SCHEMA, "append",
                GroupStateTimeout.NoTimeout))
