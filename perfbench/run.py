"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--smoke]

Run from the root of a checkout. One run: pin the process to CORES
CPUs, start a fresh local[CORES] session (the cold set-up), generate or
reuse the seeded inputs (timed on their own), run the workload's jobs
back to back for `--seconds`, check the outputs once, stop the JVM,
time SETUP_CHILDREN more cold set-ups, each in a fresh child process,
and print one JSON object as the last stdout line. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reruns the jobs with spans and Spark's event log on and reports the
per-layer metrics plus the tracing overhead. The line before the result
is a detail record (hardware, samples, checks).

Exit codes: 0 with a result; 2 when the checkout or the machine cannot
run the benchmark (nothing is timed or printed as a result).
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

_T_IMPORT = time.perf_counter()

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import env  # noqa: E402

CORES = 4           # local[CORES], pinned to CORES CPUs of the mask (the
                    # weak-scaling leg's quarter input assumes 4)
SETUP_CHILDREN = 1  # fresh-process set-ups after the run's own cold one;
                    # setup_s is the median of all of them
WARMUP_S = 6.0      # untimed jobs before each measurement ...
WARMUP_JOBS = 4     # ... and at least this many (smoke: 1)
MIN_JOBS = 3        # timed jobs per run even past --seconds (smoke: 1)
MAX_FAILED_JOBS = 3
CHILD_TIMEOUT_S = 60

#: name -> unit. Printed with --trace 0, in BENCHMARK.json's order.
END_TO_END = {
    "setup_s": "s",
    "job_s_p50": "s",
    "rows_per_s": "rows/s",
    "peak_pss_mb": "MB",
}

#: name -> unit. Printed with --trace 1. A layer a workload never calls
#: reads 0.
PER_LAYER = {
    "session.jvm_start_s": "s",
    "session.worker_warm_s": "s",
    "sources.scan_s": "s",
    "sources.scan_bytes": "bytes",
    "extract.regex_s": "s",
    "extract.anchors_out": "count",
    "crossing.udf_stage_s": "s",
    "crossing.grouped_udf_s": "s",
    "crossing.python_worker_s": "s",
    "crossing.bytes_to_python": "bytes",
    "crossing.bytes_from_python": "bytes",
    "crossing.rows_to_python": "count",
    "kernels.webmerc_pts_per_s": "pts/s",
    "kernels.tm_helmert_pts_per_s": "pts/s",
    "kernels.geod_inv_pts_per_s": "pts/s",
    "kernels.geod_fwd_pts_per_s": "pts/s",
    "kernels.pip_pts_per_s": "pts/s",
    "kernels.cell_encode_pts_per_s": "pts/s",
    "kernels.est_core_s": "s",
    "pip.driver_s": "s",
    "pip.candidates": "count",
    "pip.hits": "count",
    "pip.hit_ratio": "ratio",
    "pip.join_s": "s",
    "knn.candidates": "count",
    "knn.geod_calls": "count",
    "knn.s": "s",
    "tiling.raster_s": "s",
    "tiling.tiles_out": "count",
    "tiling.files_written": "count",
    "tiling.bytes_written": "bytes",
    "checkpoint.chunk_s_p50": "s",
    "checkpoint.chunks_skipped": "count",
    "checkpoint.resume_s": "s",
    "skew.max_over_median_task_s": "ratio",
    "driver.build_s": "s",
    "driver.plan_s": "s",
    "driver.exec_s": "s",
    "driver.jobs_per_query": "count",
    "driver.tasks_per_query": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.scale_eff_1to4": "ratio",
    "trace.overhead_frac": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ----------------------------------------------------------------- run

class Run:
    def __init__(self, args):
        from perfbench.workloads import WORKLOADS
        self.args = args
        self.workdir = os.path.join(env.CACHE, "work", str(os.getpid()))
        env.remove_stale_workdirs(os.path.dirname(self.workdir))
        self.w = WORKLOADS[args.workload](args.seed, args.smoke,
                                          self.workdir)
        self.detail: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace,
                             "smoke": args.smoke}
        self.checks: list = []
        self.spark = None
        self.warmup_s = 0.0 if args.smoke else WARMUP_S
        self.mem = env.MemSampler()

    # -- set-up ------------------------------------------------------
    def warm(self, spark) -> None:
        """Start the Python worker pool: one tiny Arrow-UDF task per core
        that imports the library's transform module."""
        from pyspark.sql import functions as F

        from pyproj_spark.functions.transform import transform_xy
        (spark.range(0, CORES * 4, 1, CORES)
         .select(transform_xy("EPSG:4326", "EPSG:3857",
                              (F.col("id") % 360 - 180.0).cast("double"),
                              F.lit(10.0)).alias("xy"))
         .write.format("noop").mode("overwrite").save())

    def session(self, extra_conf=None) -> tuple[float, float]:
        t0 = time.perf_counter()
        self.spark = env.start_session(CORES, extra_conf)
        t1 = time.perf_counter()
        self.warm(self.spark)
        return t1 - t0, time.perf_counter() - t1

    def prepare(self) -> None:
        self.w.spark = self.spark
        self.w.prepare(self.spark)

    def cold_setup(self) -> float:
        """Process start -> session -> warm workers -> workload set-up,
        minus input generation (reported on its own as ``inputs_s``)."""
        with self.mem.on():
            start, warm = self.session()
        self.detail["session_start_s"], self.detail["worker_warm_s"] = \
            start, warm
        self.detail["hardware"] = env.hardware(self.detail["cpus"],
                                               self.spark)
        t0 = time.perf_counter()
        self.detail["inputs"] = self.w.make_inputs(self.spark)
        inputs_s = time.perf_counter() - t0
        self.detail["inputs_s"] = inputs_s
        with self.mem.on():
            self.prepare()
        return process_age() - inputs_s

    def child_setups(self) -> list[float]:
        """SETUP_CHILDREN cold set-ups, one fresh process each
        (``--setup-only``), one after the other, with no JVM of this run
        alive. A child that overruns is killed with its JVM and workers
        (its own process group)."""
        cmd = [sys.executable, os.path.abspath(__file__),
               "--workload", self.args.workload,
               "--seed", str(self.args.seed), "--seconds", "0",
               "--setup-only"] + (["--smoke"] if self.args.smoke else [])
        out = []
        for _ in range(SETUP_CHILDREN):
            p = subprocess.Popen(cmd, cwd=env.ROOT, stdout=subprocess.PIPE,
                                 text=True, start_new_session=True)
            try:
                stdout, _ = p.communicate(timeout=CHILD_TIMEOUT_S)
                if p.returncode != 0:
                    raise RuntimeError(f"exit code {p.returncode}")
                child = json.loads(stdout.strip().splitlines()[-1])
                self.detail.setdefault("setup_children", []).append(child)
                out.append(child["setup_s"])
                self.w.op(True)
            except Exception:  # noqa: BLE001 - a failed set-up is counted
                log(f"set-up child failed:\n{traceback.format_exc()}")
                self.w.op(False)
            finally:
                if p.poll() is None:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
        return out

    def restart(self, extra_conf=None) -> None:
        """A new session in the running JVM (traced runs: event log on)."""
        env.stop_session(self.spark)
        self.session(extra_conf)
        self.prepare()

    # -- measurement --------------------------------------------------
    def warm_up(self, seconds: float) -> None:
        """Untimed jobs for `seconds` (at least WARMUP_JOBS), so that the
        window measures JIT-compiled code paths and warm Python workers.
        Their times are ``warm_up_job_s`` in the detail record."""
        from perfbench.trace import NullTracer
        end = time.perf_counter() + seconds
        n_min = 1 if self.args.smoke else WARMUP_JOBS
        for n in itertools.count(1):
            t0 = time.perf_counter()
            try:
                self.w.job(NullTracer())
            except Exception:  # noqa: BLE001 - a failed job is counted
                log(f"warm-up job failed:\n{traceback.format_exc()}")
                self.w.op(False)
                return
            self.detail.setdefault("warm_up_job_s", []).append(
                time.perf_counter() - t0)
            if time.perf_counter() >= end and n >= n_min:
                return

    def measure(self, tracer, seconds: float) -> tuple[list, int, list]:
        """Run jobs back to back for `seconds`, at least MIN_JOBS."""
        times, rows, job_spans = [], 0, []
        failed = 0
        deadline = time.perf_counter() + seconds
        n_min = 1 if self.args.smoke else MIN_JOBS
        while True:
            t0 = time.perf_counter()
            try:
                with tracer.span("bench:job") as sp:
                    r = self.w.job(tracer)
                times.append(time.perf_counter() - t0)
                rows += r
                self.w.op(True)
                if sp is not None:
                    job_spans.append(sp.id)
            except Exception:  # noqa: BLE001 - a failed job is counted
                log(f"job failed:\n{traceback.format_exc()}")
                self.w.op(False)
                failed += 1
                if failed >= MAX_FAILED_JOBS:
                    break
            if time.perf_counter() >= deadline and \
                    len(times) + failed >= n_min:
                break
        return times, rows, job_spans

    def check(self) -> None:
        try:
            results = self.w.check(self.spark)
        except Exception as e:  # noqa: BLE001 - a crashed check is a failure
            log(f"check failed:\n{traceback.format_exc()}")
            results = [("check", False, f"{type(e).__name__}: {e}")]
        for name, ok, info in results:
            self.w.op(ok)
            if not ok:
                log(f"CHECK FAILED {name}: {info}")
        self.checks = [{"name": n, "ok": ok, "info": info}
                       for n, ok, info in results]

    # -- the two modes -------------------------------------------------
    def end_to_end(self) -> dict:
        from perfbench.trace import NullTracer
        setups = [self.cold_setup()]
        self.warm_up(self.warmup_s)
        loop = [env.host_loop_s()]
        with self.mem.on():
            times, rows, _ = self.measure(NullTracer(), self.args.seconds)
        self.detail["host_loop_s"] = loop + [env.host_loop_s()]
        self.check()
        env.stop_session(self.spark)
        self.spark = None
        env.shutdown_jvm()
        setups += self.child_setups()
        self.detail["setup_samples_s"] = setups
        self.detail.update(job_stats(times))
        return {
            "setup_s": median(setups),
            "job_s_p50": median(times),
            "rows_per_s": rows / sum(times) if times else 0.0,
            "peak_pss_mb": self.mem.peak_mb,
        }

    def setup_only(self) -> dict:
        """One cold set-up in this fresh process (a child of a run)."""
        return {"setup_s": self.cold_setup(),
                "session_start_s": self.detail["session_start_s"],
                "worker_warm_s": self.detail["worker_warm_s"]}

    def traced(self) -> dict:
        from perfbench import kernels
        from perfbench.trace import EventLog, NullTracer, Tracer
        self.cold_setup()
        self.warm_up(self.warmup_s)
        base, _rows, _ = self.measure(NullTracer(), self.args.seconds)
        evdir = os.path.join(self.workdir, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        tracer = Tracer()
        tracer.install()
        try:
            self.restart({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file://" + evdir,
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false"})
            tracer.attach(self.spark)
            times, _rows, jobs = self.measure(tracer, self.args.seconds)
            iso = self.w.isolate(self.spark, tracer)
            lon, lat = self.w.points()
            ring = zone_ring()
            rates = kernels.probe(lon, lat, ring, tracer)
            self.check()
        finally:
            tracer.uninstall()
        env.stop_session(self.spark)
        self.spark = None
        ev = EventLog(os.path.join(evdir, "*"))
        spans = os.path.join(env.CACHE, "traces",
                             f"{self.args.workload}-{self.args.seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        tracer.dump(spans)
        self.detail["spans_file"] = os.path.relpath(spans, env.ROOT)
        eff = self.weak_scaling(median(base))
        self.detail.update(job_stats(times))
        self.detail["untraced_job_s_p50"] = median(base)
        self.detail["spans"] = len(tracer.spans)
        self.detail["jobs_without_span"] = ev.jobs_without_span
        m = layer_metrics(self, tracer, ev, jobs, times, base, iso, rates)
        m["spark.scale_eff_1to4"] = eff
        return m

    def weak_scaling(self, t_full: float) -> float:
        """Weak-scaling efficiency from 4 CPUs to 1: the whole process
        tree moves to one CPU, a local[1] session runs the jobs on a
        quarter of the input, and (pages/s at 4) / (4 x pages/s at 1)
        = t_quarter_1cpu / t_full_4cpu. 0 for workloads without a
        quarter-size input."""
        if not t_full or not self.w.weak_scaling:
            return 0.0
        cpus = sorted(os.sched_getaffinity(0))
        env.pin_tree(cpus[:1])
        try:
            self.spark = env.start_session(1, {"spark.eventLog.enabled": None})
            self.warm(self.spark)
            self.prepare()
            self.w.quarter(self.spark)
            from perfbench.trace import NullTracer
            self.warm_up(0.0)
            times, _rows, _ = self.measure(NullTracer(), 0.0)
            self.detail["scaling_1cpu_quarter_job_s"] = times
            return median(times) / t_full
        finally:
            env.pin_tree(cpus)


def zone_ring():
    """Ring of zone 0 (a hot-city polygon) for the PIP kernel probe."""
    import numpy as np

    from pyproj_spark.sources.zones import make_zone_rings
    ring = make_zone_rings(1)[0][2]
    return (np.array([p[0] for p in ring]), np.array([p[1] for p in ring]))


def job_stats(times: list[float]) -> dict:
    """Median and the highest percentile with >= 10 samples beyond it."""
    out = {"jobs": len(times), "job_s": times}
    n = len(times)
    if n >= 20:
        q = int(100 * (n - 10) / n)
        xs = sorted(times)
        out[f"job_s_p{q}"] = xs[max(0, int(q / 100 * n) - 1)]
    return out


def layer_metrics(run: Run, tracer, ev, jobs, times, base, iso, rates):
    kids = tracer.children()
    spans = tracer.spans
    w = run.w
    sub = {j: tracer.subtree(j, kids) for j in jobs}

    def per_job(fn) -> float:
        return median([fn(j) for j in jobs])

    def named(sids, *names):
        return [s for s in sids if spans[s].name in names]

    def dur_sum(sids):
        return sum(spans[s].dur for s in sids)

    def under(*names):
        """Subtrees of every span with one of `names`, within the jobs."""
        roots = [s for j in jobs for s in named(sub[j], *names)]
        return roots, [tracer.subtree(r, kids) for r in roots]

    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.jvm_start_s"] = run.detail["session_start_s"]
    m["session.worker_warm_s"] = run.detail["worker_warm_s"]
    m["sources.scan_s"] = iso.get("scan_s", 0.0)
    scan_spans = [s.id for s in spans if s.name == "isolate:scan_s"]
    if scan_spans:
        from perfbench.workloads import ISOLATE_REPS
        m["sources.scan_bytes"] = ev.total(
            tracer.subtree(scan_spans[0], kids), "input_bytes") / ISOLATE_REPS
    m["extract.regex_s"] = iso.get("regex_s", 0.0)
    m["extract.anchors_out"] = iso.get("anchors_out", 0.0)
    m["crossing.udf_stage_s"] = iso.get("udf_stage_s", 0.0)
    m["crossing.grouped_udf_s"] = iso.get("grouped_udf_s", 0.0)
    m["crossing.python_worker_s"] = per_job(
        lambda j: ev.total(sub[j], "py_run_s"))
    m["crossing.bytes_to_python"] = per_job(
        lambda j: ev.total(sub[j], "py_bytes_to"))
    m["crossing.bytes_from_python"] = per_job(
        lambda j: ev.total(sub[j], "py_bytes_from"))
    m["crossing.rows_to_python"] = per_job(
        lambda j: ev.total(sub[j], "py_rows_to"))
    for k, rate in rates.items():
        m[f"kernels.{k}_pts_per_s"] = rate
    # pip / knn: counters of the workload's own timed join jobs
    roots, trees = under("pip:join")
    if roots:
        m["pip.join_s"] = median([spans[r].dur for r in roots])
        m["pip.driver_s"] = median([dur_sum(named(t, "pip:pip_join"))
                                    for t in trees])
        # rows into the exact-test pandas UDF = the exact tests run
        m["pip.candidates"] = median([ev.total(t, "py_rows_to")
                                      for t in trees])
        m["pip.hits"] = w.counts.get("pip_hits", 0.0)
        if m["pip.candidates"]:
            m["pip.hit_ratio"] = m["pip.hits"] / m["pip.candidates"]
        # the crossing of the exact test: its Python-worker time
        m["crossing.udf_stage_s"] = median([ev.total(t, "py_run_s")
                                            for t in trees])
    roots, trees = under("knn:join")
    if roots:
        m["knn.s"] = median([spans[r].dur for r in roots])
        m["knn.candidates"] = median([ev.total(t, "generate_rows")
                                      for t in trees])
        m["knn.geod_calls"] = median([ev.total(t, "py_rows_to")
                                      for t in trees])
    m["kernels.est_core_s"] = sum(
        pts / rates[k] for k, pts in w.kernel_points(m).items())
    m["tiling.raster_s"] = iso.get("raster_s", 0.0)
    m["tiling.tiles_out"] = iso.get("tiles_out", 0.0)
    m["tiling.files_written"] = iso.get("files_written", 0.0)
    m["tiling.bytes_written"] = iso.get("bytes_written", 0.0)
    chunk_runs = [s.dur for s in spans if s.name == "checkpoint:run" and (
        s.parent is None or spans[s.parent].name != "checkpoint:resume")]
    m["checkpoint.chunk_s_p50"] = median(chunk_runs)
    m["checkpoint.chunks_skipped"] = iso.get("chunks_skipped", 0.0)
    m["checkpoint.resume_s"] = iso.get("resume_s", 0.0)
    m["skew.max_over_median_task_s"] = per_job(
        lambda j: max([max(d) / statistics.median(d)
                       for d in ev.task_durs(sub[j]) if len(d) >= 2]
                      or [1.0]))
    for phase in ("build", "plan", "exec"):
        m[f"driver.{phase}_s"] = per_job(
            lambda j, p=phase: dur_sum(named(sub[j], f"driver:{p}")))
    m["driver.jobs_per_query"] = per_job(lambda j: ev.total(sub[j], "jobs"))
    m["driver.tasks_per_query"] = per_job(lambda j: ev.total(sub[j], "tasks"))
    for name, key in (("stages", "stages"), ("tasks", "tasks"),
                      ("shuffle_write_bytes", "shuffle_write_bytes"),
                      ("spill_bytes", "spill_bytes"), ("gc_s", "gc_s"),
                      ("executor_cpu_s", "cpu_s")):
        m[f"spark.{name}"] = per_job(lambda j, k=key: ev.total(sub[j], k))
    if base and times:
        m["trace.overhead_frac"] = median(times) / median(base) - 1.0
    return m


# ------------------------------------------------------------------ main

def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, one job: checks the plumbing")
    p.add_argument("--setup-only", action="store_true",
                   help="internal: one cold set-up, as a child of a run")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}")
        return 2
    if args.smoke:
        args.seconds = 0.0
    try:
        env.preflight()
        cpus = env.pin(CORES)
    except env.BenchError as e:
        log(str(e))
        return 2
    env.export_env(CORES)
    run = Run(args)
    run.detail["cpus"] = cpus
    steal0 = env.steal_s()
    try:
        with run.mem:
            if args.setup_only:
                metrics = run.setup_only()
            elif args.trace:
                metrics = run.traced()
            else:
                metrics = run.end_to_end()
    finally:
        if run.spark is not None:
            env.stop_session(run.spark)
        env.shutdown_jvm()
        shutil.rmtree(run.workdir, ignore_errors=True)
    if args.setup_only:
        print(json.dumps(metrics))
        return 0
    units = PER_LAYER if args.trace else END_TO_END
    run.detail["checks"] = run.checks
    run.detail["machine_steal_s"] = env.steal_s() - steal0
    run.detail["wall_s"] = time.perf_counter() - _T_IMPORT
    print(json.dumps({"detail": run.detail}, default=float))
    w = run.w
    print(json.dumps({
        "correct": w.ops_failed == 0,
        "attempted": max(1, w.ops_attempted),
        "failed": w.ops_failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
