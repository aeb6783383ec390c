"""Cross-engine kernels in functions/ — exactness pins — and the
driver-side helpers there (overlapped legs, local relations, bounded
driver pulls, meta rows), with the driver-twin parity of every
size-dispatched operator that reads its input through ``pull``."""

from __future__ import annotations

import math
import warnings

import duckdb
import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from engineering_school_bigdata_project_f1_weather_spark.functions import intlog, localrel
from engineering_school_bigdata_project_f1_weather_spark.functions.jobs import (
    leg,
    loop_conf,
    run_overlapped,
)
from engineering_school_bigdata_project_f1_weather_spark.functions.localrel import (
    empty_rel,
    local_rows,
)
from engineering_school_bigdata_project_f1_weather_spark.functions.snapshots import (
    meta_row,
    read_meta_row,
)
from engineering_school_bigdata_project_f1_weather_spark.operators import (
    dedup,
    indexes,
    quality,
    similarity,
)
from engineering_school_bigdata_project_f1_weather_spark.sources.tables import (
    load_table_spread,
)


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


def test_named_leg_nests_its_description(spark):
    """A thunk wrapped with ``leg`` runs its jobs under "<caller's
    description>/<name>" (just the name when the caller set none), on a
    ``run_overlapped`` pool thread as inline, and leaves the caller's
    description unchanged."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    seen: set = set()

    def new_descriptions():
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are async
        ids = set(sc.statusTracker().getJobIdsForGroup("named_legs")) - seen
        seen.update(ids)
        return {store.job(j).description().get() for j in ids}

    sc.setJobGroup("named_legs", "caller")
    try:
        run_overlapped(
            leg("a", lambda: spark.range(3).count()),
            leg("b", lambda: spark.range(4).count()),
        )
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert new_descriptions() == {"caller/a", "caller/b"}
        leg("c", lambda: spark.range(5).count())()
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert new_descriptions() == {"caller/c"}
        sc.setLocalProperty("spark.job.description", None)
        leg("d", lambda: spark.range(6).count())()
        assert sc.getLocalProperty("spark.job.description") is None
        assert new_descriptions() == {"d"}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


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


def test_meta_row_arity_mismatch_raises(spark, tmp_path):
    assert meta_row(spark, "a long, b string", (1, "x")).collect()[0] == (1, "x")
    with pytest.raises(ValueError, match="1 values for 2 fields"):
        meta_row(spark, "a long, b string", (1,))
    with pytest.raises(ValueError):
        meta_row(spark, "a long", (1, 2))
    row = meta_row(spark, "a long, b string", (1, "x"))
    assert row.rdd.getNumPartitions() == 1
    row.write.parquet(str(tmp_path / "meta"))
    assert len(list((tmp_path / "meta").glob("part-*"))) == 1


def test_read_meta_row_returns_the_written_row_without_a_job(spark, tmp_path):
    """``read_meta_row`` gives back the values ``meta_row`` wrote, and
    reads them on the driver: no Spark job runs."""
    path = str(tmp_path / "meta")
    meta_row(spark, "c_q16 long, tag string", (-12345, "x")).write.parquet(path)
    got, jobs = _jobs_in_group(spark, "read_meta_row", lambda: read_meta_row(path))
    assert got == {"c_q16": -12345, "tag": "x"}
    assert jobs == 0


def _jobs_in_group(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_pull_returns_table_up_to_limit(spark):
    df = spark.range(0, 10, 1, 4).selectExpr("id AS a", "array(id, -id) AS q")
    n, tbl = localrel.pull(df, 10)
    assert n == 10 and tbl.num_rows == 10
    assert sorted(tbl.column("a").to_pylist()) == list(range(10))
    assert sorted(tbl.column("q").to_pylist()) == [[i, -i] for i in range(10)]
    assert localrel.pull(df, 9) == (10, None)


def test_pull_empty_frame_keeps_schema(spark):
    df = spark.range(0).selectExpr("id AS a", "CAST(NULL AS STRING) AS s")
    n, tbl = localrel.pull(df, 0)
    assert n == 0 and tbl.num_rows == 0
    assert tbl.schema.names == ["a", "s"]
    assert [str(t) for t in tbl.schema.types] == ["int64", "string"]


def test_pull_is_one_job_after_the_count(spark):
    """toArrow is one Spark job whatever the partition count (a
    toLocalIterator pull would run one per partition)."""
    df = spark.range(0, 800, 1, 8)
    n, count_jobs = _jobs_in_group(spark, "pull_count", df.count)
    (n2, tbl), pull_jobs = _jobs_in_group(
        spark, "pull_pull", lambda: localrel.pull(df, n)
    )
    assert n == n2 == tbl.num_rows == 800
    assert pull_jobs == count_jobs + 1


def test_loop_conf_sizes_partitions_from_n_and_restores_on_error(spark):
    """``loop_conf`` sets ``max(4, min(session, n // rows_per_part + 1))``
    shuffle partitions (and AQE when asked) inside the block, and both
    session values come back on exit — also when the block raises."""
    parts, aqe = "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"
    before = (spark.conf.get(parts), spark.conf.get(aqe))
    session = int(before[0])
    for n, want in [
        (0, 4),  # the floor
        (10 * 1_000 - 1, max(4, min(session, 10))),
        (10**9, session),  # never above the session value
    ]:
        with loop_conf(spark, n, 1_000):
            assert spark.conf.get(parts) == str(want), n
            assert spark.conf.get(aqe) == before[1]
        assert (spark.conf.get(parts), spark.conf.get(aqe)) == before
    with pytest.raises(RuntimeError, match="inside the loop"):
        with loop_conf(spark, 6_000, 1_000, aqe=False):
            assert spark.conf.get(parts) == str(max(4, min(session, 7)))
            assert spark.conf.get(aqe) == "false"
            raise RuntimeError("inside the loop")
    assert (spark.conf.get(parts), spark.conf.get(aqe)) == before


# ------------------------------------------------- driver-twin parity
# Each size-dispatched operator runs its public dispatching function
# twice: as is (the fixture is below every threshold, so the driver twin
# runs) and with ``localrel.pull`` patched to always decline, which
# forces the distributed branch.  The twins are exact-integer (or
# order-free IEEE-754) ports of their loops, so the outputs must match.


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _closure(spark, sf_dir):
    return _rows(dedup.dedup_components(spark, sf_dir))


def _pagerank(spark, sf_dir):
    return _rows(dedup.doc_pagerank(spark, sf_dir))


def _kmeans(k, zero_norm):
    """k-means at ``k`` (the serving k takes the Arrow assignment path,
    k=5 the JVM expression path), on the fixture or on a variant whose
    vector 21 has zero norm."""

    def run(spark, sf_dir):
        base = similarity._quantized(spark, sf_dir)
        if zero_norm:
            z = F.col("vec_id") == 21
            base = base.withColumn(
                "q",
                F.when(
                    z, F.transform("q", lambda _: F.lit(0).cast("long"))
                ).otherwise(F.col("q")),
            ).withColumn("n2", F.when(z, F.lit(0)).otherwise(F.col("n2")))
        return _rows(similarity._train_centroids(spark, base.cache(), k, 3))

    return run


def _pq(spark, sf_dir):
    return _rows(similarity.pq_train_codebooks(spark, sf_dir))


def _lr(spark, sf_dir):
    wide = quality._quality_scored_wide(
        load_table_spread(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
    )
    lab = wide.select("doc_id", quality._qc_label_col().alias("train_label"))
    fb = quality._qc_featbuckets(wide).localCheckpoint()
    model, bias = quality.lr_train_model(spark, fb, lab)
    assert model.where(F.col("w") != 0).count() > 0  # it learned something
    return _rows(model), bias


def _semdedup_update(spark, sf_dir):
    """The SemDeDup index's init(A) + update(B): the update's newly
    dominated rows and the serve rows (the update's touched-cluster
    verify is size-dispatched too)."""
    f = indexes.FAMILIES["semdedup"]
    a, b = f.split(spark, sf_dir)
    with indexes.scratch_path("semdedup_twin") as path:
        f.init(spark, *a, path)
        newly_dom = _rows(f.update(spark, *b, path))
        assert newly_dom, "fixture must dominate some vectors in the update"
        return newly_dom, _rows(f.serve(spark, path))


TWINS = {
    "closure": _closure,
    "pagerank": _pagerank,
    "kmeans_k16": _kmeans(similarity.K_CENTROIDS, False),
    "kmeans_k5": _kmeans(5, False),
    "kmeans_k16_zero_norm": _kmeans(similarity.K_CENTROIDS, True),
    "kmeans_k5_zero_norm": _kmeans(5, True),
    "pq_codebooks": _pq,
    "lr": _lr,
    "semdedup_update": _semdedup_update,
}


@pytest.mark.parametrize("site", list(TWINS))
def test_driver_twin_equals_distributed(spark, sf_dir, monkeypatch, site):
    real_pull = localrel.pull
    took_driver = []

    def spy(df, limit):
        n, tbl = real_pull(df, limit)
        took_driver.append(tbl is not None)
        return n, tbl

    monkeypatch.setattr(localrel, "pull", spy)
    driver = TWINS[site](spark, sf_dir)
    assert took_driver and all(took_driver), took_driver
    assert driver, "fixture must give the twin a non-empty output"

    monkeypatch.setattr(localrel, "pull", lambda df, limit: (df.count(), None))
    assert TWINS[site](spark, sf_dir) == driver
