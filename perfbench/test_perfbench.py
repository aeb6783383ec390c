"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

Generator determinism and the metric names need no Spark; the smoke tests
run each workload on tiny inputs (one JVM each), once traced.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

import gen
import layers
import run
import workloads

SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
E2E = {m["name"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"] for m in SPEC["per_layer"]}


def _digest(path: str) -> dict[str, str]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("make", [
    lambda seed, d: gen.raw_zone(seed, d, 2, 4, 6),
    lambda seed, d: gen.tpch_lake(seed, d, 0.001),
    lambda seed, d: gen.corpus(seed, d, 60),
])
def test_generators_are_seed_deterministic(make, tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    assert make(7, a) == make(7, b)
    assert _digest(a) == _digest(b) and _digest(a)
    make(8, c)
    assert _digest(a) != _digest(c)


def test_raw_zone_carries_the_edge_cases(tmp_path):
    z = gen.raw_zone(3, str(tmp_path), 2, 4, 6)
    files = os.listdir(tmp_path)
    assert z.files == len(files)
    assert os.path.getsize(tmp_path / "METEO2_data_Suzuka.csv") == 0
    assert "METEO2_data_Singapore.csv" not in files
    assert "METEO2_data_Zandvoort.csv" in files
    years = sorted({int(f.split("_")[1]) for f in files if f.startswith("races_")})
    first, last = years[0], years[-1]
    results = json.load(open(tmp_path / f"results_{first}_2.json"))
    assert results["MRData"]["RaceTable"]["Races"] == []
    assert json.load(open(tmp_path / f"pitstops_{last}_3.json"))["MRData"]["RaceTable"] == {}
    assert 0 < z.combined_rows < z.formatted_rows


def test_metric_names_match_benchmark_json():
    assert set(run.end_to_end(1.0, [1.0, 2.0], [0.1, 0.2])) == E2E
    traced = set(layers.layer_metrics([], {}, [], [], [], layers.Tracer(), 4))
    assert traced | {"traced.op_p50_ms", "traced.setup_s", "process.peak_rss_mb"} == PER_LAYER
    assert {w["name"] for w in SPEC["workloads"]} == set(workloads.WORKLOADS)


def test_union_wall_merges_overlapping_jobs():
    jobs = [layers.Job((), 0.0, 2.0), layers.Job((), 1.0, 3.0), layers.Job((), 5.0, 6.0)]
    assert layers._union_wall(jobs) == 4.0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(run.HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "f1_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(workloads.F1Etl, "SEASONS", 1)
    monkeypatch.setattr(workloads.F1Etl, "ROUNDS", 4)
    monkeypatch.setattr(workloads.F1Etl, "WARM", 0)
    monkeypatch.setattr(workloads.F1Etl, "SF", 0.001)
    monkeypatch.setattr(workloads.IndexIngest, "DOCS", 90)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_workload_smoke(name, tiny):
    res = run.run_one(name, seed=5, seconds=1, trace=False)
    assert res["attempted"] >= 1 and res["failed"] == 0
    assert set(res["metrics"]) == E2E and all(v > 0 for v in res["metrics"].values())


def test_traced_smoke_attributes_every_job(tiny):
    res = run.run_one("f1_etl", seed=5, seconds=1, trace=True)
    m = res["metrics"]
    assert res["failed"] == 0 and set(m) == PER_LAYER
    assert m["spark.jobs"] > 0 and m["spark.unattributed_jobs"] == 0
    assert m["sources.ergast.files_read"] > 0 and m["sources.sinks.files_written"] > 0
    assert m["operators.marts_sql.jobs"] > 0 and m["pipeline.result_counts_s"] > 0
    assert m["plans.f1_model.jobs"] > 0 and m["operators.marts.jobs_per_query"] > 0


def test_failed_output_check_is_counted(tiny, monkeypatch):
    real = gen.raw_zone

    def wrong(*args):
        z = real(*args)
        return gen.RawZone(z.formatted_rows + 1, z.weather_rows, z.combined_rows, z.files)

    monkeypatch.setattr(gen, "raw_zone", wrong)
    res = run.run_one("f1_etl", seed=5, seconds=1, trace=False)
    assert res["failed"] == res["attempted"] >= 1
