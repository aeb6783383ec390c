"""Unit tests for the round-4 harness surface: the bench regression gate,
the forced-distributed bench rows, and the selfcheck canonicalizer the
correctness artifacts depend on."""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_compare_gate(tmp_path):
    sys.path.insert(0, ROOT)
    import bench

    prior = tmp_path / "prior.json"
    prior.write_text(json.dumps({"queries": {"a": 1.0, "b": 2.0}}))

    # within factor → pass
    assert bench.compare(str(prior), {"a": 1.4, "b": 2.9, "new": 9.9}) == 0
    # headline query beyond factor AND the 0.2 s additive slack → fail
    assert bench.compare(str(prior), {"a": 1.75, "b": 1.0}) == 1
    # beyond factor but inside the additive slack → jitter, pass
    # (tiered gate, ADVICE r9: median-of-3 headline entries absorb
    # scheduler/GC noise additively instead of via a blanket 1 s floor)
    assert bench.compare(str(prior), {"a": 1.6, "b": 1.0}) == 0
    # sub-second plan-shape regression on a headline query still gates
    # (the case the old absolute floor silenced: 0.05 s -> 0.95 s = 19x)
    fast = tmp_path / "fast.json"
    fast.write_text(json.dumps({"queries": {"a": 0.05}}))
    assert bench.compare(str(fast), {"a": 0.95}) == 1
    # TAIL entries are single-run: under the 1 s floor any ratio passes,
    # at/above it the factor gates
    tail_name = bench.TAIL_BENCH[0]
    tprior = tmp_path / "tail.json"
    tprior.write_text(json.dumps({"queries": {tail_name: 0.1}}))
    assert bench.compare(str(tprior), {tail_name: 0.9}) == 0
    assert bench.compare(str(tprior), {tail_name: 1.1}) == 1
    # driver-wrapped {"parsed": {...}} form also accepted
    wrapped = tmp_path / "wrapped.json"
    wrapped.write_text(
        json.dumps({"parsed": {"queries": {"a": 1.0}}, "tail": "..."})
    )
    assert bench.compare(str(wrapped), {"a": 1.2}) == 0
    assert bench.compare(str(wrapped), {"a": 2.0}) == 1


def test_bench_compare_drift_normalization(tmp_path):
    """Round 12 (VERDICT r11 item 3): the calibration probes normalize
    the gate — uniform session drift passes, a real regression on top of
    drift fails, and a FASTER box can't hide a regression."""
    sys.path.insert(0, ROOT)
    import bench

    prior = tmp_path / "prior.json"
    prior.write_text(
        json.dumps(
            {
                "queries": {
                    "calib_cpu": 1.0, "calib_shuffle": 1.0,
                    "a": 1.0, "b": 10.0,
                }
            }
        )
    )
    # uniform 1.4x session drift, every query incl. calibration → pass
    assert bench.compare(
        str(prior),
        {"calib_cpu": 1.4, "calib_shuffle": 1.4, "a": 1.4, "b": 14.0},
    ) == 0
    # a real 2.5x mover on a 1.4x-drifted session → adjusted 1.79x, fail
    assert bench.compare(
        str(prior),
        {"calib_cpu": 1.4, "calib_shuffle": 1.4, "a": 1.4, "b": 25.0},
    ) == 1
    # faster box (0.7x calibration): a raw 1.1x mover is 1.57x adjusted
    assert bench.compare(
        str(prior),
        {"calib_cpu": 0.7, "calib_shuffle": 0.7, "a": 0.7, "b": 11.0},
    ) == 1
    # prior without calibration rows (pre-r12 artifact) gates raw
    old = tmp_path / "old.json"
    old.write_text(json.dumps({"queries": {"a": 1.0}}))
    assert bench.compare(str(old), {"a": 1.1, "calib_cpu": 9.9}) == 0


def test_bench_tail_recovery_scans_whole_tail(tmp_path):
    """ADVICE r12 (medium): compare() must recover per-query floats from
    the ENTIRE stored tail, not just from the first '\"queries\"' key —
    which lands on the trailing compact-summary line and discards every
    big-line timing before it."""
    sys.path.insert(0, ROOT)
    import bench

    # a driver-style artifact: front-truncated big line (its own
    # "queries" key cut off), then the compact summary line
    tail = (
        '": 1.0, "big_only": 3.0, "sf": 0.1}\n'
        '{"metric": "headline_queries_total", "value": 4.0, "unit": "sec",'
        ' "n_queries": 2, "queries": {"compact_q": 1.0}, "sf": 0.1}'
    )
    wrapped = tmp_path / "trunc.json"
    wrapped.write_text(json.dumps({"parsed": None, "tail": tail}))
    # big_only lives BEFORE the compact line's "queries" anchor — the
    # whole-tail scan must still see it
    assert bench.compare(str(wrapped), {"big_only": 3.2, "compact_q": 1.1}) == 0
    assert bench.compare(str(wrapped), {"big_only": 9.0}) == 1


def test_selfcheck_canonicalizer_is_order_and_rep_stable():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import math

    import numpy as np
    from selfcheck import canon_cell, canon_rows

    # row order and column order must not affect the hash
    h1, _ = canon_rows(["b", "a"], [(2, 1), (4, 3)])
    h2, _ = canon_rows(["a", "b"], [(3, 4), (1, 2)])
    assert h1 == h2

    # value representations that the two engines legitimately produce
    assert canon_cell(True) == canon_cell(np.bool_(True)) == "1"
    assert canon_cell(float("nan")) == "NaN" and canon_cell(math.nan) == "NaN"
    assert canon_cell(0.1) == canon_cell(np.float64(0.1))
    assert canon_cell(None) == "NULL"
    assert canon_cell(b"\x01\xff") == "01ff"
    assert canon_cell([1, 2]) == canon_cell(np.array([1, 2], dtype=np.int64))
    # but genuinely different doubles stay different (bit-exact contract)
    assert canon_cell(0.1) != canon_cell(0.1 + 1e-16)


def test_bench_forced_distributed_row_refuses_entries_without_a_twin(
    spark, sf_dir
):
    """A ``*_dist`` bench row must time a distributed branch: an entry
    that never reaches ``localrel.pull`` raises, and the real pull is
    back in place afterwards."""
    import bench
    from engineering_school_bigdata_project_f1_weather_spark.functions import (
        localrel,
    )

    real_pull = localrel.pull
    with pytest.raises(RuntimeError, match="never reached localrel.pull"):
        bench._bench_forced_distributed("dedup_exact")(spark, sf_dir)
    assert localrel.pull is real_pull


TOOLS = os.path.join(ROOT, "tools")


def test_tools_put_the_checkout_on_the_workers_pythonpath(monkeypatch, tmp_path):
    """time_entries' child and dump_plans' session hand the checkout to
    Spark's Python workers through PYTHONPATH (not only the driver's
    sys.path), so both run from any working directory."""
    sys.path.insert(0, TOOLS)
    import dump_plans
    import time_entries

    repo = os.path.dirname(TOOLS)
    monkeypatch.setenv("PYTHONPATH", "/elsewhere")
    seen = []

    class Child:
        stdout, stderr = "TIMES_JSON=[1.0, 0.5]", ""

    def fake_run(cmd, **kwargs):
        seen.append(kwargs["env"]["PYTHONPATH"])
        return Child()

    monkeypatch.setattr(time_entries.subprocess, "run", fake_run)
    monkeypatch.setattr(sys, "argv", ["time_entries.py", "-n", "1", "entry"])
    time_entries.main()
    assert seen == [os.pathsep.join([repo, "/elsewhere"])]

    def no_session(*args, **kwargs):
        seen.append(os.environ["PYTHONPATH"])
        raise RuntimeError("no session in this test")

    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.setattr(dump_plans, "get_spark", no_session)
    monkeypatch.setattr(sys, "argv", ["dump_plans.py", str(tmp_path), "tag"])
    with pytest.raises(RuntimeError, match="no session"):
        dump_plans.main()
    assert seen[-1] == repo


def test_dump_plans_mask_keeps_only_the_plan():
    """``dump_plans --mask`` replaces the tokens that differ between two
    runs of one plan (expression, lambda-variable, plan and RDD ids,
    UUIDs, application ids, temp paths) and keeps everything else."""
    sys.path.insert(0, TOOLS)
    from dump_plans import mask

    def plan(n, uuid, app):
        return (
            f"+- Exchange hashpartitioning(vec_id#{n}L, 4), [plan_id={n + 7}]\n"
            f"   +- Project [transform(q#{n + 1}, lambdafunction(lambda x_{n}#{n + 2}L, "
            f"lambda x_{n}#{n + 2}L, false)) AS cq#{n + 3}]\n"
            f"      +- Scan ExistingRDD[vec_id#{n}L] MapPartitionsRDD[{n}] rdd_{n}_0\n"
            f"         +- Scan parquet [Location: file:/tmp/spark_drain_{app}_{uuid}/part-0]\n"
            f"            +- {app} id={uuid} keep=vec_id#{n}L sim_v0 2097152\n"
        )

    a = plan(12, "0f8e2c1a-1b2c-4d5e-8f90-a1b2c3d4e5f6", "local-1760900000000")
    b = plan(345, "9a8b7c6d-5e4f-4a3b-9c2d-1e0f9a8b7c6d", "local-1760911111111")
    assert a != b
    assert mask(a, "/tmp") == mask(b, "/tmp")
    m = mask(a, "/tmp")
    assert "vec_id#<id>L" in m and "[plan_id=<id>]" in m
    assert "lambda x_<id>#<id>L" in m and "MapPartitionsRDD[<id>]" in m
    assert "rdd_<id>_0" in m and "Location: <tmp>]" in m
    assert "local-<app> id=<uuid>" in m
    # plan content is kept: constants, node shapes, names with digits
    assert "hashpartitioning(" in m and ", 4)" in m
    assert "sim_v0 2097152" in m
    # a real difference survives masking
    assert mask(a.replace("4)", "8)"), "/tmp") != m
