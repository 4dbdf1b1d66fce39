"""Spans recorded from the benchmark's side of each layer boundary, and
Spark's own counters read back from its event log.

A span has an id, a parent, a name ``<layer>:<call>``, and start/end
times; spans stay in memory until the run ends. While a span is open
its id is the Spark local property ``perfbench.span``, so every Spark
job records the span that launched it and the event log's stage, task
and SQL-metric counters can be attributed to spans afterwards.

Library calls are traced by wrapping the public DataFrame/Column
builders of each layer module (``LAYER_CALLS``). Functions that run
inside Python workers (numpy kernels, ``get_kernel``) are not wrapped:
a UDF closure would pickle the wrapper. Their cost is read from the
event log (Python-worker time) and from the kernel probes instead.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import sys
import time
from collections import defaultdict

SPAN_PROP = "perfbench.span"

#: (layer, module, public callables wrapped with a span)
LAYER_CALLS = [
    ("sources", "pyproj_spark.sources.pages", ["pages_df"]),
    ("sources", "pyproj_spark.sources.zones", ["zones_df"]),
    ("extract", "pyproj_spark.operators.extract", ["extract_anchors"]),
    ("crossing", "pyproj_spark.operators.extract",
     ["normalize_and_project", "normalize_to_4326"]),
    ("crossing", "pyproj_spark.functions.transform",
     ["transform_xy", "geod_inverse", "geod_forward"]),
    ("pip", "pyproj_spark.operators.pip", ["pip_join"]),
    ("knn", "pyproj_spark.operators.knn", ["knn_to_zones"]),
    ("tiling", "pyproj_spark.operators.tiling",
     ["rasterize_tiles", "write_vector_tiles", "assign_tiles", "png_tiles"]),
    ("skew", "pyproj_spark.operators.skew",
     ["salted_agg", "guarded_broadcast", "spread_small_scan"]),
]


class Span:
    __slots__ = ("id", "parent", "name", "t0", "t1")

    def __init__(self, sid: int, parent: int | None, name: str):
        self.id = sid
        self.parent = parent
        self.name = name
        self.t0 = time.perf_counter()
        self.t1 = None

    @property
    def dur(self) -> float:
        return (self.t1 or time.perf_counter()) - self.t0


class NullTracer:
    """Untraced runs: the same calls, no spans and no Spark properties."""

    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def attach(self, spark) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._patched: list[tuple[object, str, object]] = []

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name)
        self.spans.append(s)
        self._stack.append(s)
        self._set_prop(s.id)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            self._set_prop(self._stack[-1].id if self._stack else None)

    def _set_prop(self, sid: int | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROP,
                                      None if sid is None else str(sid))

    # ------------------------------------------------------- patching

    def _wrap(self, layer: str, fn):
        name = f"{layer}:{fn.__name__}"

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def install(self) -> None:
        """Wrap every LAYER_CALLS function and ResumableJob.run, and
        rebind the names other loaded pyproj_spark modules imported."""
        import importlib
        originals = {}
        for layer, modname, names in LAYER_CALLS:
            mod = importlib.import_module(modname)
            for n in names:
                fn = getattr(mod, n)
                originals[id(fn)] = (fn, self._wrap(layer, fn))
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(
                    ("pyproj_spark", "__spark_entry__")):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, val))
        from pyproj_spark.operators.checkpoint import ResumableJob
        run = ResumableJob.run
        ResumableJob.run = self._wrap("checkpoint", run)
        self._patched.append((ResumableJob, "run", run))

    def uninstall(self) -> None:
        for obj, attr, val in reversed(self._patched):
            setattr(obj, attr, val)
        self._patched.clear()

    # ------------------------------------------------------- queries

    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s.id)
        return kids

    def subtree(self, sid: int, kids=None) -> list[int]:
        kids = kids if kids is not None else self.children()
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids.get(x, []))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{"id": s.id, "parent": s.parent, "name": s.name,
                        "t0": s.t0, "t1": s.t1} for s in self.spans], f)


# ------------------------------------------------------------ event log

_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsIn",
             "MapInPandas", "MapInArrow", "PythonMapInArrow",
             "FlatMapCoGroupsIn", "AggregateInPandas", "WindowInPandas",
             "ArrowWindowPython", "ArrowAggregatePython")


def _is_python(node: str) -> bool:
    return node.startswith(_PY_NODES)


class EventLog:
    """Spark counters per span id, folded from an uncompressed event log.

    ``per_span[sid]`` holds: jobs, stages, tasks, run_s, cpu_s, gc_s,
    shuffle_write_bytes, spill_bytes, input_bytes, py_run_s, py_bytes_to,
    py_bytes_from, py_rows_to, generate_rows, task_durs (per stage)."""

    def __init__(self, path_glob: str):
        self.per_span: dict[int, dict] = defaultdict(_zero)
        self.jobs_without_span = 0
        files = sorted(glob.glob(path_glob))
        if not files:
            raise FileNotFoundError(f"no event log under {path_glob}")
        events = []
        for f in files:
            with open(f) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
        self._fold(events)

    def _fold(self, events: list[dict]) -> None:
        stage_span: dict[int, int] = {}
        exec_span: dict[int, int] = {}
        acc_meta: dict[int, tuple[str, str]] = {}  # id -> (node, metric)
        rows_in_of: dict[int, int] = {}  # Python node rows -> input rows
        for e in events:
            ev = e["Event"]
            if ev.endswith("SQLExecutionStart") or \
                    ev.endswith("SQLAdaptiveExecutionUpdate"):
                self._plan_meta(e["sparkPlanInfo"], acc_meta, rows_in_of)
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                sid = props.get(SPAN_PROP)
                if sid is None:
                    self.jobs_without_span += 1
                    continue
                sid = int(sid)
                self.per_span[sid]["jobs"] += 1
                for st in e.get("Stage IDs", []):
                    stage_span.setdefault(st, sid)
                ex = props.get("spark.sql.execution.id")
                if ex is not None:
                    exec_span.setdefault(int(ex), sid)
        acc_total: dict[int, float] = defaultdict(float)
        acc_span: dict[int, int] = {}
        for e in events:
            ev = e["Event"]
            if ev == "SparkListenerTaskEnd":
                sid = stage_span.get(e["Stage ID"])
                if sid is None:
                    continue
                info = e["Task Info"]
                rec = self.per_span[sid]
                rec["tasks"] += 1
                rec["task_durs"].setdefault(e["Stage ID"], []).append(
                    (info["Finish Time"] - info["Launch Time"]) / 1000.0)
                for a in info.get("Accumulables", []):
                    if a["ID"] in acc_meta and "Update" in a:
                        acc_total[a["ID"]] += float(a["Update"])
                        acc_span[a["ID"]] = sid
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                sid = stage_span.get(info["Stage ID"])
                if sid is None:
                    continue
                rec = self.per_span[sid]
                rec["stages"] += 1
                acc = {a["Name"]: float(a["Value"])
                       for a in info.get("Accumulables", [])
                       if a.get("Name", "").startswith("internal.metrics.")}
                g = acc.get
                rec["run_s"] += g("internal.metrics.executorRunTime", 0) / 1e3
                rec["cpu_s"] += g("internal.metrics.executorCpuTime", 0) / 1e9
                rec["gc_s"] += g("internal.metrics.jvmGCTime", 0) / 1e3
                rec["shuffle_write_bytes"] += g(
                    "internal.metrics.shuffle.write.bytesWritten", 0)
                rec["spill_bytes"] += g(
                    "internal.metrics.memoryBytesSpilled", 0) + g(
                    "internal.metrics.diskBytesSpilled", 0)
                rec["input_bytes"] += g("internal.metrics.input.bytesRead", 0)
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                sid = exec_span.get(e["executionId"])
                for acc_id, val in e.get("accumUpdates", []):
                    if acc_id in acc_meta and sid is not None:
                        acc_total[acc_id] += float(val)
                        acc_span[acc_id] = sid
        for acc_id, total in acc_total.items():
            node, metric = acc_meta[acc_id]
            sid = acc_span.get(acc_id)
            if sid is None:
                continue
            rec = self.per_span[sid]
            if _is_python(node):
                if metric == "time to run Python workers":
                    rec["py_run_s"] += total / 1e3
                elif metric == "data sent to Python workers":
                    rec["py_bytes_to"] += total
                elif metric == "data returned from Python workers":
                    rec["py_bytes_from"] += total
            elif node == "Generate" and metric == "number of output rows":
                rec["generate_rows"] += total
        for py_acc, child_acc in rows_in_of.items():
            sid = acc_span.get(py_acc, acc_span.get(child_acc))
            if sid is None:
                continue
            self.per_span[sid]["py_rows_to"] += acc_total.get(
                child_acc, acc_total.get(py_acc, 0.0))

    def _plan_meta(self, node: dict, acc_meta, rows_in_of) -> None:
        name = node.get("nodeName", "")
        rows_acc = None
        for m in node.get("metrics", []):
            acc_meta[m["accumulatorId"]] = (name, m["name"])
            if m["name"] == "number of output rows":
                rows_acc = m["accumulatorId"]
        if _is_python(name) and rows_acc is not None:
            # rows INTO the Python node: the nearest descendant that
            # counts rows (scalar UDF nodes pass rows through 1:1)
            child = _first_rows_acc(node.get("children", []))
            rows_in_of[rows_acc] = child if child is not None else rows_acc
        for ch in node.get("children", []):
            self._plan_meta(ch, acc_meta, rows_in_of)

    def total(self, span_ids, key: str) -> float:
        return sum(self.per_span[s][key] for s in span_ids
                   if s in self.per_span)

    def task_durs(self, span_ids) -> list[list[float]]:
        out = []
        for s in span_ids:
            if s in self.per_span:
                out.extend(self.per_span[s]["task_durs"].values())
        return out


def _first_rows_acc(children: list[dict]):
    for ch in children:
        for m in ch.get("metrics", []):
            if m["name"] in ("number of output rows", "records read"):
                return m["accumulatorId"]
        got = _first_rows_acc(ch.get("children", []))
        if got is not None:
            return got
    return None


def _zero() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0,
            "input_bytes": 0.0, "py_run_s": 0.0, "py_bytes_to": 0.0,
            "py_bytes_from": 0.0, "py_rows_to": 0.0, "generate_rows": 0.0,
            "task_durs": {}}
