"""Dump ``explain('formatted')`` for named queries() entries to files —
the per-round before/after plan artifacts (plans/r{N}/<query>_{tag}.txt).

Usage: python tools/dump_plans.py [--mask] OUT_DIR TAG query [query ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS

``--mask`` replaces what differs between two runs of the same plan —
expression ids (``#123``), lambda-variable ids, ``plan_id``s, RDD ids,
UUIDs, application ids and temp paths — with fixed tokens, so a ``diff``
of a before and an after dump shows only real plan changes.

Note: composed entries (incremental indexes) EXECUTE their bootstrap/update
stages while the serving frame is built; the dumped plan is the serving
plan, which is the re-executable query shape.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from engineering_school_bigdata_project_f1_weather_spark import get_spark
import __spark_entry__ as entrymod
from selfcheck import checkout_pythonpath


_MASKS = [
    (re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"local-\d+"), "local-<app>"),
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1_<id>"),
    (re.compile(r"#\d+"), "#<id>"),
    (re.compile(r"plan_id=\d+"), "plan_id=<id>"),
    (re.compile(r"RDD\[\d+\]"), "RDD[<id>]"),
    (re.compile(r"rdd_\d+"), "rdd_<id>"),
]


def mask(plan: str, tmp: str | None = None) -> str:
    """``plan`` with its run-specific tokens replaced (see ``--mask``);
    paths under ``tmp`` (default: the temp directory) become ``<tmp>``."""
    tmp = re.escape((tmp or tempfile.gettempdir()).rstrip("/"))
    plan = re.sub(rf"(file:)?{tmp}/[^\s,\]\)]*", "<tmp>", plan)
    for pattern, token in _MASKS:
        plan = pattern.sub(token, plan)
    return plan


def main() -> None:
    args = sys.argv[1:]
    masked = "--mask" in args
    if masked:
        args.remove("--mask")
    out_dir, tag, *names = args
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
            f.write(mask(plan) if masked else plan)
        print(f"wrote {path} ({len(plan)} chars)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
