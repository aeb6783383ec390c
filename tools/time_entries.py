"""Quiet per-entry timing: for each named queries() entry, spawn a FRESH
interpreter+session, run the entry twice (first = codegen warm-up, second =
the reported time), and print the median of N fresh-session warm runs —
the protocol the round-12 bench addenda used, for apples-to-apples
re-measurement of suspected movers without the 234-entry session's
ordering/JIT noise.

A name that is not a queries() entry runs as its ``bench.EXTRA_BENCH``
row (the ``*_index_update`` and ``*_dist`` rows among them); when the row
returns its own span (an index row excludes its untimed init), that span
is the time reported.

Usage: python tools/time_entries.py [-n RUNS] entry [entry ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

from selfcheck import checkout_pythonpath

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from engineering_school_bigdata_project_f1_weather_spark import get_spark
import __spark_entry__ as entrymod

name = {name!r}
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("time-entries", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
spark.sparkContext.setLogLevel("ERROR")
queries = entrymod.queries()
if name in queries:
    def run():
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
else:
    import bench

    def run():
        return bench.EXTRA_BENCH[name](spark, sf_dir)
times = []
for i in range(2):
    spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(f"time: {{name}} run{{i}}")
    t0 = time.perf_counter()
    span = run()
    times.append(round(time.perf_counter() - t0 if span is None else span, 3))
print("TIMES_JSON=" + json.dumps(times))
spark.stop()
"""


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    if args and args[0] == "-n":
        runs = int(args[1])
        args = args[2:]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = {}
    for name in args:
        cold, warm = [], []
        for _ in range(runs):
            p = subprocess.run(
                [sys.executable, "-c", _CHILD.format(repo=repo, name=name)],
                capture_output=True, text=True,
                env=dict(os.environ, PYTHONPATH=checkout_pythonpath(repo)),
            )
            line = [ln for ln in p.stdout.splitlines() if ln.startswith("TIMES_JSON=")]
            if not line:
                print(f"{name}: child failed\n{p.stderr[-2000:]}", file=sys.stderr)
                continue
            t = json.loads(line[0].split("=", 1)[1])
            cold.append(t[0])
            warm.append(t[1])
        if warm:
            out[name] = {
                "cold_median": round(statistics.median(cold), 3),
                "warm_median": round(statistics.median(warm), 3),
                "warm_all": warm,
            }
            print(f"{name}: cold_med={out[name]['cold_median']} "
                  f"warm_med={out[name]['warm_median']} warm_all={warm}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
