"""Dump ``explain('formatted')`` for named queries() entries to files —
the per-round before/after plan artifacts (plans/r{N}/<query>_{tag}.txt).

Usage: python tools/dump_plans.py OUT_DIR TAG query [query ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS

Note: composed entries (incremental indexes) EXECUTE their bootstrap/update
stages while the serving frame is built; the dumped plan is the serving
plan, which is the re-executable query shape.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from engineering_school_bigdata_project_f1_weather_spark import get_spark
import __spark_entry__ as entrymod
from selfcheck import checkout_pythonpath


def main() -> None:
    out_dir, tag, *names = sys.argv[1:]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ["PYTHONPATH"] = checkout_pythonpath(REPO)
    spark = get_spark("dump-plans", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    for name in names:
        spark.catalog.clearCache()
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
