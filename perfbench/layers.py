"""Per-layer tracing for the traced benchmark run (``--trace 1``).

Layers are the package's modules.  The tracer replaces a fixed list of
their public functions at run time -- in the defining module and in every
package module that imported the same function object by name -- with a
wrapper that

- times the call into a per-phase, per-layer bucket (``calls``), and
- pushes the layer onto a thread-local span stack whose ``/``-joined path
  becomes the Spark local property ``perfbench.span``, so every job the
  call submits carries the layer in Spark's event log.

``functions.jobs.run_overlapped`` thunks run on pool threads that do not
inherit local properties, so each thunk is wrapped to install its
caller's span path on its own thread.  After the session stops, ``fold``
reads the uncompressed event log and returns one record per job
(span path, submit/end times, stage totals) plus the SQL "files read"
metric of JSON scans; ``layer_metrics`` turns both into per-operation
layer figures.  Nothing in the program is edited.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"
PKG = "engineering_school_bigdata_project_f1_weather_spark"


def producer(path: str) -> str | None:
    """The layer whose plan a ``pipeline.run`` lake write executes: its
    frames are lazy, so the ergast and weather scans run inside the sink."""
    parts = path.rstrip("/").split("/")
    if parts[-2:] == ["formatted", "ergastF1"]:
        return "sources.ergast"
    if parts[-2:] == ["formatted", "meteostat"]:
        return "sources.weather"
    if parts[-1] == "combined":
        return "sources.weather.combine"
    if len(parts) >= 3 and parts[-3] == "usage":
        return "operators.marts_sql"
    return None


def _sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


def tree_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; hard links counted once."""
    files = size = 0
    seen = set()
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(root, n))
            if (st.st_dev, st.st_ino) in seen:
                continue
            seen.add((st.st_dev, st.st_ino))
            files += 1
            size += st.st_size
    return files, size


@dataclass
class Bucket:
    """Call counts, wall seconds and counters of one phase."""

    calls: dict = field(default_factory=lambda: defaultdict(int))
    wall: dict = field(default_factory=lambda: defaultdict(float))
    count: dict = field(default_factory=lambda: defaultdict(float))


class Tracer:
    """Span stack, per-phase call figures and the patches installed."""

    def __init__(self) -> None:
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.phase = "setup"
        self.buckets: dict[str, Bucket] = defaultdict(Bucket)

    # ---------------------------------------------------------- spans
    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _publish(self) -> None:
        sc = _sc()
        if sc is not None:
            stack = self._stack()
            sc.setLocalProperty(SPAN_PROP, "/".join(stack) if stack else None)

    def add(self, key: str, secs: float = 0.0, n: int = 1) -> None:
        with self._lock:
            b = self.buckets[self.phase]
            b.calls[key] += n
            b.wall[key] += secs

    def count(self, key: str, v: float) -> None:
        with self._lock:
            self.buckets[self.phase].count[key] += v

    def in_span(self, key: str) -> bool:
        return key in self._stack()

    @contextmanager
    def span(self, key: str):
        stack = self._stack()
        stack.append(key)
        self._publish()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(key, time.perf_counter() - t0)
            stack.pop()
            self._publish()

    # ------------------------------------------------------- patching
    def _replace(self, orig, new) -> None:
        import sys

        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._patched.append((mod, attr, orig))
                    setattr(mod, attr, new)

    def wrap(self, module: str, func: str, key: str, before=None, after=None) -> None:
        """Trace ``module.func`` as span ``key``.  ``after(args, result,
        before(args))`` may record counters.  Re-entrant calls (recursion,
        or one wrapped function calling another under the same key) run
        inside the outer span only."""
        from importlib import import_module

        orig = getattr(import_module(f"{PKG}.{module}"), func)
        tracer = self

        def wrapped(*args, **kwargs):
            stack = tracer._stack()
            if stack and stack[-1] == key:
                return orig(*args, **kwargs)
            state = before(args) if before else None
            with tracer.span(key):
                result = orig(*args, **kwargs)
            if after:
                after(args, result, state)
            return result

        self._replace(orig, wrapped)

    def wrap_overlapped(self) -> None:
        """``run_overlapped``: time the whole call and each leg, and run
        every leg under its caller's span path on the leg's thread."""
        from importlib import import_module

        orig = import_module(f"{PKG}.functions.jobs").run_overlapped
        tracer = self

        def wrapped(*thunks):
            parent = list(tracer._stack()) + ["functions.jobs"]

            def leg(thunk):
                def run():
                    saved = list(tracer._stack())
                    tracer._local.stack = list(parent)
                    tracer._publish()
                    t0 = time.perf_counter()
                    try:
                        return thunk()
                    finally:
                        tracer.add("functions.jobs.leg", time.perf_counter() - t0)
                        tracer._local.stack = saved
                        tracer._publish()

                return run

            with tracer.span("functions.jobs"):
                return orig(*[leg(t) for t in thunks])

        self._replace(orig, wrapped)

    def wrap_to_local_iterator(self) -> None:
        """Count rows the driver streams in via ``toLocalIterator`` while
        inside the ER closure span (its driver union-find input)."""
        from pyspark.sql.classic.dataframe import DataFrame

        orig = DataFrame.toLocalIterator
        tracer = self

        def wrapped(df, *args, **kwargs):
            for row in orig(df, *args, **kwargs):
                if tracer.in_span("operators.dedup.er_closure"):
                    tracer.count("er_closure_edges", 1)
                yield row

        self._patched.append((DataFrame, "toLocalIterator", orig))
        DataFrame.toLocalIterator = wrapped

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            setattr(obj, attr, orig)
        self._patched.clear()


def install(tracer: Tracer) -> None:
    """Wrap the layer functions the workloads reach."""
    from contextlib import nullcontext
    from importlib import import_module

    def linked(path):
        return tree_files(path)[0] if os.path.isdir(path) else 0

    tracer.wrap("session", "get_spark", "session.get_spark")
    tracer.wrap("pipeline", "run", "pipeline.run")
    tracer.wrap("operators.dedup", "_er_closure", "operators.dedup.er_closure")
    tracer.wrap("functions.snapshots", "snap_commit", "functions.snapshots.commit")
    tracer.wrap(
        "functions.snapshots", "write_sized", "functions.snapshots.write_sized",
        after=lambda args, n, _: tracer.count("snap_files_written", n),
    )
    tracer.wrap(
        "functions.snapshots", "link_parquet_files", "functions.snapshots.link",
        before=lambda args: linked(args[1]),
        after=lambda args, _, n0: tracer.count("snap_linked_files", linked(args[1]) - n0),
    )
    tracer.wrap("functions.localrel", "local_rows", "functions.localrel")
    tracer.wrap("functions.localrel", "empty_rel", "functions.localrel")
    tracer.wrap_overlapped()
    tracer.wrap_to_local_iterator()

    # Lake writes: span sources.sinks, then the layer that produced the
    # dataset; count what landed on disk.
    write_parquet = import_module(f"{PKG}.sources.sinks").write_parquet

    def traced_write(df, path, *args, **kwargs):
        layer = producer(path)
        with tracer.span("sources.sinks"), tracer.span(layer) if layer else nullcontext():
            write_parquet(df, path, *args, **kwargs)
        files, size = tree_files(path)
        tracer.count("sink_files", files)
        tracer.count("sink_bytes", size)

    tracer._replace(write_parquet, traced_write)


# ------------------------------------------------------------- event log


@dataclass
class Job:
    path: tuple[str, ...]
    t0: float  # epoch seconds
    t1: float = 0.0
    stages: list = field(default_factory=list)
    sql: int | None = None


def fold(event_dir: str) -> tuple[list[Job], dict[int, int]]:
    """Jobs (with their completed stages' totals) and, per SQL
    execution, the JSON-scan "number of files read", from the event log
    under ``event_dir``."""
    files = sorted(
        glob.glob(os.path.join(event_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    scan_ids: dict[int, int] = {}  # accumulator id -> SQL execution id
    acc_val: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerTask'):
                    continue
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    span = props.get(SPAN_PROP)
                    sql = props.get("spark.sql.execution.id")
                    job = Job(tuple(span.split("/")) if span else (), e["Submission Time"] / 1e3,
                              sql=int(sql) if sql is not None else None)
                    jobs[e["Job ID"]] = job
                    for s in e["Stage IDs"]:
                        stage_job.setdefault(s, e["Job ID"])
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].t1 = e["Completion Time"] / 1e3
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    job = jobs.get(stage_job.get(si["Stage ID"]))
                    if job is None:
                        continue
                    acc = {a["Name"]: a.get("Value", 0) for a in si.get("Accumulables", [])}
                    job.stages.append({
                        "tasks": si["Number of Tasks"],
                        "wall": (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1e3,
                        "run": float(acc.get("internal.metrics.executorRunTime", 0)) / 1e3,
                        "cpu": float(acc.get("internal.metrics.executorCpuTime", 0)) / 1e9,
                        "gc": float(acc.get("internal.metrics.jvmGCTime", 0)) / 1e3,
                        "shuffle_w": float(acc.get("internal.metrics.shuffle.write.bytesWritten", 0)),
                    })
                elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _scan_accums(e["sparkPlanInfo"], e["executionId"], scan_ids)
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, v in e["accumUpdates"]:
                        if acc_id in scan_ids:
                            acc_val[acc_id] = max(acc_val.get(acc_id, 0), int(v))
    files_read: dict[int, int] = defaultdict(int)
    for acc_id, v in acc_val.items():
        files_read[scan_ids[acc_id]] += v
    return sorted(jobs.values(), key=lambda j: j.t0), files_read


def _scan_accums(node: dict, exec_id: int, out: dict[int, int]) -> None:
    if node.get("nodeName", "").startswith("Scan json"):
        for m in node.get("metrics", []):
            if m.get("name") == "number of files read":
                out[m["accumulatorId"]] = exec_id
    for child in node.get("children", []):
        _scan_accums(child, exec_id, out)


def _union_wall(jobs: list[Job]) -> float:
    """Wall seconds covered by the jobs' [submit, end] intervals."""
    total, end = 0.0, float("-inf")
    for j in sorted(jobs, key=lambda j: j.t0):
        t1 = max(j.t1, j.t0)
        if j.t0 > end:
            total += t1 - j.t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total


def in_windows(jobs: list[Job], windows: list[tuple[float, float]]) -> list[Job]:
    return [j for j in jobs if any(a <= j.t0 <= b for a, b in windows)]


def layer_metrics(
    jobs: list[Job],
    files_read: dict[int, int],
    op_windows: list[tuple[float, float]],
    setup_windows: list[tuple[float, float]],
    query_windows: list[tuple[float, float]],
    tracer: Tracer,
    cores: int,
) -> dict[str, float]:
    """The per-layer metrics: per measured operation, except the session
    and model-staging figures (per set-up) and the marts figures (per
    checked Q1-Q9 query, run during the warm-up)."""
    n = max(1, len(op_windows))
    reps = max(1, len(setup_windows))
    nq = max(1, len(query_windows))
    op_jobs = in_windows(jobs, op_windows)
    setup_jobs = in_windows(jobs, setup_windows)
    op = tracer.buckets["op"]
    setup = tracer.buckets["setup"]

    def under(js, layer):
        return [j for j in js if layer in j.path]

    def st(js, k):
        return sum(s[k] for j in js for s in j.stages)

    def tasks(js):
        return sum(s["tasks"] for j in js for s in j.stages)

    marts = under(in_windows(jobs, query_windows), "operators.marts")
    ergast = under(op_jobs, "sources.ergast")
    weather = under(op_jobs, "sources.weather")
    msql = under(op_jobs, "operators.marts_sql")
    counts = [j for j in op_jobs if j.path and j.path[-1] == "pipeline.run"]
    closure = under(op_jobs, "operators.dedup.er_closure")
    op_sql = {j.sql for j in op_jobs if j.sql is not None}
    m = {
        "session.get_spark_s": setup.wall["session.get_spark"],
        "plans.f1_model.stage_s": setup.wall["plans.f1_model"] / reps,
        "plans.f1_model.jobs": len(under(setup_jobs, "plans.f1_model")) / reps,
        "operators.marts.jobs_per_query": len(marts) / nq,
        "operators.marts.tasks_per_query": tasks(marts) / nq,
        "operators.marts.exec_run_s": st(marts, "run") / nq,
        "operators.marts.sched_gap_s": max(
            0.0, (tracer.buckets["warm"].wall["operators.marts"] - st(marts, "run") / cores) / nq
        ) if marts else 0.0,
        "sources.ergast.wall_s": _union_wall(ergast) / n,
        "sources.ergast.tasks": tasks(ergast) / n,
        "sources.ergast.files_read": sum(files_read.get(s, 0) for s in op_sql) / n,
        "sources.weather.wall_s": _union_wall(weather) / n,
        "sources.weather.tasks": tasks(weather) / n,
        "sources.sinks.write_s": op.wall["sources.sinks"] / n,
        "sources.sinks.files_written": op.count["sink_files"] / n,
        "sources.sinks.bytes_written": op.count["sink_bytes"] / n,
        "operators.marts_sql.wall_s": _union_wall(msql) / n,
        "operators.marts_sql.jobs": len(msql) / n,
        "pipeline.result_counts_s": _union_wall(counts) / n,
        "operators.curate_index.update_s": op.wall["operators.curate_index.update"] / n,
        "operators.curate_index.resolve_s": op.wall["operators.curate_index.resolve"] / n,
        "operators.dedup.er_update_s": op.wall["operators.dedup.er_update"] / n,
        "operators.dedup.er_resolve_s": op.wall["operators.dedup.er_resolve"] / n,
        "operators.dedup.er_closure_s": op.wall["operators.dedup.er_closure"] / n,
        "operators.dedup.er_closure_jobs": len(closure) / n,
        "operators.dedup.er_closure_edges": op.count["er_closure_edges"] / n,
        "functions.jobs.overlap_wall_s": op.wall["functions.jobs"] / n,
        "functions.jobs.leg_sum_s": op.wall["functions.jobs.leg"] / n,
        "functions.jobs.legs": op.calls["functions.jobs.leg"] / n,
        "functions.snapshots.commits": op.calls["functions.snapshots.commit"] / n,
        "functions.snapshots.commit_s": op.wall["functions.snapshots.commit"] / n,
        "functions.snapshots.write_sized_s": op.wall["functions.snapshots.write_sized"] / n,
        "functions.snapshots.files_written": op.count["snap_files_written"] / n,
        "functions.snapshots.linked_files": op.count["snap_linked_files"] / n,
        "functions.snapshots.bytes_on_disk": op.count["index_bytes_on_disk"]
        / max(1, op.calls["index_bytes_on_disk"]),
        "functions.localrel.calls": op.calls["functions.localrel"] / n,
        "functions.localrel.s": op.wall["functions.localrel"] / n,
        "spark.jobs": len(op_jobs) / n,
        "spark.stages": sum(len(j.stages) for j in op_jobs) / n,
        "spark.tasks": tasks(op_jobs) / n,
        "spark.exec_run_s": st(op_jobs, "run") / n,
        "spark.exec_cpu_s": st(op_jobs, "cpu") / n,
        "spark.jvm_gc_s": st(op_jobs, "gc") / n,
        "spark.stage_wall_s": st(op_jobs, "wall") / n,
        "spark.shuffle_write_mb": st(op_jobs, "shuffle_w") / 1e6 / n,
        "spark.unattributed_jobs": sum(1 for j in op_jobs if not j.path) / n,
    }
    return m
