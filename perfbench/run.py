"""Benchmark entry point.

    python3 perfbench/run.py --workload f1_etl --seed 1 --seconds 10 --trace 0

Runs one workload of ``BENCHMARK.json`` from the root of a source
checkout: generates its inputs from ``--seed``, starts the package's
session at ``local[nproc]``, sets up, warms up, measures closed-loop
operations for ``--seconds`` and checks every output.  The last stdout
line is one JSON object ``{correct, attempted, failed, metrics}``; the
metrics are the end-to-end ones with ``--trace 0`` and the per-layer ones
with ``--trace 1`` (Spark event log on, layer functions wrapped; see
``layers.py``).  The tracing overhead is the traced run's
``traced.op_p50_ms`` / ``traced.setup_s`` minus the untraced run's
``op_p50_ms`` / ``setup_s``.

``--workload all`` runs every workload in turn (and, with ``--trace 1``,
each one traced as well), prints the end-to-end metrics under their
workload-specific names with units plus the tracing overhead, and exits
nonzero if any output check failed.

Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at exit, including Spark's local and event-log
directories.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "engineering_school_bigdata_project_f1_weather_spark"


def _rss_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of a live process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _prepare_env(work: str, trace: bool) -> str:
    """Benchmark-owned Spark conf, local and event-log directories, and a
    PYTHONPATH that lets Python UDF workers import the package."""
    conf = os.path.join(work, "conf")
    events = os.path.join(work, "events")
    for d in (conf, events, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        # Keep the JVM's temporary and perf-data files inside the checkout.
        f.write(f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData\n")
        if trace:
            # Uncompressed: Spark 4 defaults to zstd, which Python cannot read
            # without a module this environment lacks.
            f.write(
                "spark.eventLog.enabled true\n"
                f"spark.eventLog.dir file://{events}\n"
                "spark.eventLog.compress false\n"
            )
    os.environ["SPARK_CONF_DIR"] = conf
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() caches; a later run in this process gets its own
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return events


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    events = _prepare_env(work, trace)
    sys.path.insert(0, ROOT)
    try:
        return _measure(workloads, workload, seed, seconds, trace, work, events)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there


def _measure(workloads, workload, seed, seconds, trace, work, events) -> dict:
    from importlib import import_module

    for mod in ("session", "pipeline", "plans.f1_model", "operators.marts",
                "operators.curate_index", "operators.dedup", "sources.tables"):
        import_module(f"{PKG}.{mod}")
    tracer = None
    if trace:
        import layers

        tracer = layers.Tracer()
        layers.install(tracer)

    w = workloads.WORKLOADS[workload]()
    w.prepare(seed, work)
    cores = len(os.sched_getaffinity(0))
    session = import_module(f"{PKG}.session")
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", cpus=cores)
    session_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    rec = workloads.Record()
    try:
        setup_times, setup_windows = [], []
        for _ in range(w.SETUP_REPS):
            t0 = time.perf_counter()
            w.setup(spark, tracer)
            setup_times.append(time.perf_counter() - t0)
            setup_windows.append((t0 + rec._epoch, t0 + rec._epoch + setup_times[-1]))
        phases = {}
        for phase, step in (
            ("warm", lambda: w.warm(spark, tracer)),
            ("op", lambda: w.measure(spark, tracer, time.perf_counter() + seconds, rec)),
        ):
            if tracer:
                tracer.phase = phase
            t0 = time.perf_counter()
            step()
            phases[phase] = round(time.perf_counter() - t0, 2)
        jvm_kb = _rss_kb(spark._jvm.java.lang.ProcessHandle.current().pid())
    finally:
        t0 = time.perf_counter()
        spark.stop()
        _stop_jvm(gateway)
    phases["stop"] = round(time.perf_counter() - t0, 2)
    metrics = end_to_end(session_s, setup_times, rec.latencies)
    peak_rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + jvm_kb) / 1024
    if tracer:
        import layers

        tracer.uninstall()
        jobs, files_read = layers.fold(events)
        traced = metrics
        queries = getattr(w, "queries", workloads.Record()).windows
        metrics = layers.layer_metrics(
            jobs, files_read, rec.windows, setup_windows, queries, tracer, cores
        )
        metrics["traced.op_p50_ms"] = traced["op_p50_ms"]
        metrics["traced.setup_s"] = traced["setup_s"]
        metrics["process.peak_rss_mb"] = peak_rss_mb
    print(
        f"{workload}: {len(rec.latencies)} operations, {rec.failed} failed, "
        f"session {session_s:.2f} s, set-ups {[round(t, 2) for t in setup_times]} s, "
        f"phases {phases}, latencies {[round(x, 3) for x in rec.latencies]} s",
        file=sys.stderr,
    )
    return {"attempted": len(rec.latencies), "failed": rec.failed, "metrics": metrics,
            "peak_rss_mb": peak_rss_mb}


def end_to_end(session_s: float, setup_times: list[float],
               latencies: list[float]) -> dict[str, float]:
    """The end-to-end metrics of one run.  No tail percentile: a run holds
    only a few operations, so its p90 is close to its slowest one."""
    return {
        "setup_s": session_s + statistics.median(setup_times),
        "op_p50_ms": statistics.median(latencies) * 1e3,
    }


def _stop_jvm(gateway) -> None:
    """End the gateway JVM this process launched and wait for it."""
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    from pyspark import SparkContext

    SparkContext._gateway = SparkContext._jvm = None  # a later session relaunches


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


# The end-to-end metric of each workload under its workload-specific name.
SUMMARY_NAMES = {
    "f1_etl": [("etl_run_p50_s", "op_p50_ms", 1e-3, "s")],
    "index_ingest": [("batch_p50_s", "op_p50_ms", 1e-3, "s")],
}


def run_all(seed: int, seconds: int, trace: bool) -> int:
    """Every workload in turn (each with its own JVM), printed under the
    workload-specific metric names; nonzero exit if any check failed.
    Peak RSS (driver Python plus JVM) varies too much between runs to
    carry a regression bound, so it is printed here but is not one of
    ``BENCHMARK.json``'s end-to-end metrics."""
    ok = True
    for name, named in SUMMARY_NAMES.items():
        res = run_one(name, seed, seconds, False)
        m = res["metrics"]
        rows = [(k, m[src] * scale, unit) for k, src, scale, unit in named]
        rows += [("setup_s", m["setup_s"], "s"),
                 ("failed_ratio", res["failed"] / res["attempted"], "ratio"),
                 ("peak_rss_mb", res["peak_rss_mb"], "MB")]
        for k, v, unit in rows:
            print(f"{name:13s} {k:40s} {v:14.4f} {unit}")
        ok &= res["failed"] == 0
        if trace:
            lm = run_one(name, seed, seconds, True)["metrics"]
            units = _units()
            for k, v in sorted(lm.items()):
                print(f"{name:13s} {k:40s} {v:14.4f} {units[k]}")
            print(f"{name:13s} tracing overhead: op_p50 "
                  f"{lm['traced.op_p50_ms'] - m['op_p50_ms']:+.1f} ms, setup "
                  f"{lm['traced.setup_s'] - m['setup_s']:+.2f} s")
    print("all output checks passed" if ok else "OUTPUT CHECK FAILED")
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*SUMMARY_NAMES, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"no {PKG}/ beside {os.path.basename(HERE)}/: run from a source checkout",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args.seed, args.seconds, bool(args.trace))
    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    units = _units()
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
