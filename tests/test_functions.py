"""Cross-engine kernels in functions/ — exactness pins — and the
driver-side helpers there (overlapped legs, local relations, meta rows)."""

from __future__ import annotations

import math
import warnings

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from engineering_school_bigdata_project_f1_weather_spark.functions import intlog
from engineering_school_bigdata_project_f1_weather_spark.functions.jobs import run_overlapped
from engineering_school_bigdata_project_f1_weather_spark.functions.localrel import (
    empty_rel,
    local_rows,
)
from engineering_school_bigdata_project_f1_weather_spark.functions.snapshots import meta_row


def _duck_ilog2(vals: list[int]) -> dict[int, int]:
    con = duckdb.connect()
    con.sql("CREATE TABLE t(k INT, x BIGINT)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", list(enumerate(vals))
    )
    q = intlog.ilog2_steps_sql("t", {"l": "x"}, ["k"])
    return dict(con.sql(f"SELECT k, l FROM {q} _q").fetchall())


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62 - 1),
                min_size=1, max_size=40))
def test_ilog2_python_equals_duckdb(vals):
    got = _duck_ilog2(vals)
    for k, v in enumerate(vals):
        assert got[k] == intlog.ilog2_q16(v), v


def test_ilog2_edge_values_and_precision():
    # powers of two are exact: log2(2^k) = k << 16
    for k in range(0, 62):
        assert intlog.ilog2_q16(1 << k) == k << intlog.LOG2_FRAC_BITS
    # defined 0 at 0 (both realizations — the degenerate-count guard)
    assert intlog.ilog2_q16(0) == 0
    assert _duck_ilog2([0])[0] == 0
    # precision: within 2**-16 + normalization truncation of true log2
    for v in (3, 7, 1000, 123456789, 2**40 + 12345, 2**61 + 99):
        q = intlog.ilog2_q16(v) / intlog.LOG2_ONE
        assert abs(q - math.log2(v)) < 2e-5, v


def test_run_overlapped_legs_inherit_job_group(spark):
    """Pool-thread legs carry the caller's local properties (job group,
    description, scheduler pool) under pinned-thread mode, and wrapping
    them with the session emits no "session is not provided" warning."""
    sc = spark.sparkContext
    sc.setJobGroup("overlap_legs", "run_overlapped inheritance")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            counts = run_overlapped(
                lambda: spark.range(10).count(), lambda: spark.range(10).count()
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert counts == [10, 10]
    assert len(sc.statusTracker().getJobIdsForGroup("overlap_legs")) >= 2
    assert not [w for w in caught if issubclass(w.category, UserWarning)]


def test_local_rows_accepts_iterators(spark):
    schema = "k long, s string"
    rows = [(1, "a"), (2, "b"), (3, None)]
    empty = local_rows(spark, (r for r in []), schema)
    assert empty.schema == empty_rel(spark, schema).schema
    assert empty.collect() == []
    # empty_rel's zero-row JVM range, not an (empty) Python-RDD scan
    plan = empty._jdf.queryExecution().optimizedPlan().toString()
    assert "Range (0, 0" in plan and "LogicalRDD" not in plan
    from_gen = local_rows(spark, (r for r in rows), schema)
    from_list = local_rows(spark, rows, schema)
    assert from_gen.schema == from_list.schema
    assert from_gen.collect() == from_list.collect()
    assert sorted(tuple(r) for r in from_gen.collect()) == rows


def test_meta_row_arity_mismatch_raises(spark):
    assert meta_row(spark, "a long, b string", (1, "x")).collect()[0] == (1, "x")
    with pytest.raises(ValueError, match="1 values for 2 fields"):
        meta_row(spark, "a long, b string", (1,))
    with pytest.raises(ValueError):
        meta_row(spark, "a long", (1, 2))
