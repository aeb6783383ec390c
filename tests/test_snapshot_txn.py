"""The snapshot transaction every incremental index family commits through
(``functions.snapshots.txn``).

The first half is Spark-free: it drives ``txn`` over plain files and
injects a fault at each commit point by monkeypatching the call that
fails there.  After every fault, ``CURRENT`` must still name a complete
version, and the next transaction must clean up.

``snapshots.read`` is checked against a plain parquet read on a few
hand-built layouts.

The second half runs the 13 index families of ``indexes.FAMILIES`` on
the test fixtures: a failed commit leaves the serving view unchanged, a
retry converges to the clean-run serving view, and re-running a
bootstrap on a committed index writes a new version instead of the live
one.  The same holds for a failed compaction of the append-only
families."""

from __future__ import annotations

import os

import pytest

from engineering_school_bigdata_project_f1_weather_spark.functions import snapshots
from engineering_school_bigdata_project_f1_weather_spark.operators.indexes import (
    FAMILIES,
)
from tools.selfcheck import canon_rows

P = "x_v"


def _commit(path, payload, carry=False):
    """One transaction writing ``payload`` as the next version's own
    file (plus the live files when ``carry``); returns the txn."""
    with snapshots.txn(path, P) as t:
        os.makedirs(t.dir)
        with open(os.path.join(t.dir, f"part-{payload}"), "w") as f:
            f.write(payload)
        if carry:
            t.carry()
    return t


def _versions(path):
    return sorted(d for d in os.listdir(path) if d.startswith(P))


def _files(path):
    return sorted(os.listdir(os.path.join(path, snapshots.snap_live(path))))


class Boom(RuntimeError):
    pass


def _boom(*args, **kwargs):
    raise Boom("injected fault")


def test_txn_bootstrap_without_current(tmp_path):
    """No CURRENT yet: ``t.live`` is None, the first version is
    ``{prefix}0``, and the commit creates CURRENT."""
    path = str(tmp_path / "idx")
    os.makedirs(path)
    t = _commit(path, "a")
    assert t.live is None
    assert t.dir == os.path.join(path, "x_v0")
    assert snapshots.snap_live(path) == "x_v0"
    t = _commit(path, "b", carry=True)
    assert t.live == os.path.join(path, "x_v0")
    assert snapshots.snap_live(path) == "x_v1"
    assert _versions(path) == ["x_v1"]
    assert _files(path) == ["part-a", "part-b"]


def test_txn_body_raises_after_partial_write(tmp_path):
    """An exception after a partial write commits nothing; the orphan is
    cleared by the next transaction."""
    path = str(tmp_path / "idx")
    _commit(path, "a")
    with pytest.raises(Boom):
        with snapshots.txn(path, P) as t:
            os.makedirs(t.dir)
            open(os.path.join(t.dir, "part-junk"), "w").close()
            raise Boom("mid-write")
    assert snapshots.snap_live(path) == "x_v0"
    assert _files(path) == ["part-a"]
    assert _versions(path) == ["x_v0", "x_v1"]  # the orphan
    _commit(path, "b", carry=True)
    assert snapshots.snap_live(path) == "x_v1"
    assert _versions(path) == ["x_v1"]
    assert _files(path) == ["part-a", "part-b"]  # no junk carried over


def test_txn_replace_fails_before_swap(tmp_path, monkeypatch):
    """The pointer swap itself fails: CURRENT still names the previous
    version, and the retry commits normally."""
    path = str(tmp_path / "idx")
    _commit(path, "a")
    with monkeypatch.context() as m:
        m.setattr(snapshots.os, "replace", _boom)
        with pytest.raises(Boom):
            _commit(path, "b", carry=True)
    assert snapshots.snap_live(path) == "x_v0"
    assert _files(path) == ["part-a"]
    _commit(path, "b", carry=True)
    assert snapshots.snap_live(path) == "x_v1"
    assert _versions(path) == ["x_v1"]
    assert _files(path) == ["part-a", "part-b"]
    assert "CURRENT.tmp" not in os.listdir(path)


def test_txn_gc_fails_after_swap(tmp_path, monkeypatch):
    """The swap succeeds and the GC of the old version fails: CURRENT
    names the new, complete version; the next commit collects both
    older versions."""
    path = str(tmp_path / "idx")
    _commit(path, "a")
    with pytest.raises(Boom):
        with snapshots.txn(path, P) as t:
            os.makedirs(t.dir)
            open(os.path.join(t.dir, "part-b"), "w").close()
            t.carry()
            monkeypatch.setattr(snapshots.shutil, "rmtree", _boom)
    monkeypatch.undo()
    assert snapshots.snap_live(path) == "x_v1"
    assert _files(path) == ["part-a", "part-b"]
    assert _versions(path) == ["x_v0", "x_v1"]
    _commit(path, "c", carry=True)
    assert snapshots.snap_live(path) == "x_v2"
    assert _versions(path) == ["x_v2"]
    assert _files(path) == ["part-a", "part-b", "part-c"]


def test_txn_return_without_write_raises(tmp_path):
    """A ``return`` inside the block, before anything was written, raises
    instead of pointing CURRENT at a missing directory."""
    path = str(tmp_path / "idx")
    _commit(path, "a")

    def early_return():
        with snapshots.txn(path, P):
            return "no-op"

    with pytest.raises(RuntimeError, match="wrote nothing"):
        early_return()
    assert snapshots.snap_live(path) == "x_v0"
    assert _files(path) == ["part-a"]
    _commit(path, "b", carry=True)
    assert snapshots.snap_live(path) == "x_v1"
    assert _versions(path) == ["x_v1"]


def test_txn_carry_hard_links(tmp_path):
    """``t.carry(sub)`` shares the live files by hard link, keeping a
    hive-partitioned sub-tree, and skips non-data markers."""
    path = str(tmp_path / "idx")
    with snapshots.txn(path, P) as t:
        os.makedirs(os.path.join(t.dir, "occ", "hb=b0"))
        for name in ("occ/hb=b0/part-0", "occ/_SUCCESS"):
            open(os.path.join(t.dir, name), "w").close()
    src = os.path.join(path, "x_v0", "occ", "hb=b0", "part-0")
    with snapshots.txn(path, P) as t:
        t.carry("occ")
        dst = os.path.join(t.dir, "occ", "hb=b0", "part-0")
        assert os.stat(dst).st_ino == os.stat(src).st_ino
    assert snapshots.snap_live(path) == "x_v1"
    assert _versions(path) == ["x_v1"]
    assert not os.path.exists(os.path.join(t.dir, "occ", "_SUCCESS"))


# ------------------------------------------------------ snapshots.read


def _flat(spark, path):
    df = spark.range(4).selectExpr("id AS a", "CAST(id * 2 AS STRING) AS s")
    df.write.parquet(path)


def _partitioned(spark, path):
    spark.range(6).selectExpr(
        "id AS vec_id", "array(id, -id) AS q", "concat('c', id % 3) AS cb"
    ).write.partitionBy("cb").parquet(path)


def _two_writes(spark, path):
    """A version made of its own write plus the live version's files,
    hard-linked; the two writes differ in nullability."""
    live = path + "_live"
    spark.range(3).selectExpr("id AS a", "'x' AS s").write.parquet(live)
    spark.range(3, 5).selectExpr(
        "id AS a", "CASE WHEN id > 3 THEN 'y' END AS s"
    ).write.parquet(path)
    snapshots.link_parquet_files(live, path)


def _no_part_file(spark, path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    pq.write_table(pa.table({"a": [1, 2], "s": ["u", None]}), f"{path}/data.parquet")


def _no_spark_key(spark, path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    pq.write_table(pa.table({"a": [3], "s": ["v"]}), f"{path}/part-0.parquet")


def _read_jobs(spark, read, path):
    """(frame, jobs launched while building it)."""
    sc = spark.sparkContext
    group = f"snapshots_read_{os.path.basename(path)}_{id(read)}"
    sc.setJobGroup(group, group)
    try:
        df = read(path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are async
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "layout",
    [_flat, _partitioned, _two_writes, _no_part_file, _no_spark_key],
    ids=lambda f: f.__name__.strip("_"),
)
def test_read_matches_plain_read_without_a_job(spark, tmp_path, layout):
    """``snapshots.read`` gives the schema and rows of a plain parquet
    read.  With a Spark footer it launches no job while building the
    frame; without one it falls back to the plain read, inference job
    included."""
    path = str(tmp_path / layout.__name__.strip("_"))
    layout(spark, path)
    footer = layout not in (_no_part_file, _no_spark_key)
    got, jobs = _read_jobs(spark, lambda p: snapshots.read(spark, p), path)
    want, plain_jobs = _read_jobs(spark, spark.read.parquet, path)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert plain_jobs >= 1  # the inference job the footer schema skips
    assert jobs == (0 if footer else plain_jobs)


# ----------------------------------------------------- the 13 families


def _hash(df):
    return canon_rows(df.columns, [tuple(r) for r in df.collect()])[0]


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_index_commit_fault_retry_and_reinit(
    spark, sf_dir, tmp_path, monkeypatch, family
):
    """Per family, on the fixture corpus split into halves A and B:

    - re-running init(A) on a committed index moves CURRENT to
      ``{prefix}1``, collects ``{prefix}0`` and serves what one init
      serves (a bootstrap never rewrites the live version);
    - an update(B) whose commit fails raises, and leaves CURRENT and the
      serving view unchanged;
    - the retry serves exactly what a clean init(A) + update(B) serves.
    For the curation index the failing commit is the sub-indexes' own
    (inside the overlapped legs), so this also pins that a failed leg
    never reaches the top-level commit."""
    f = FAMILIES[family]
    prefix, serve = f.prefix, f.serve
    a, b = f.split(spark, sf_dir)
    idx, clean = str(tmp_path / "idx"), str(tmp_path / "clean")

    f.init(spark, *a, idx)
    assert snapshots.snap_live(idx) == f"{prefix}0"
    h_init = _hash(serve(spark, idx))
    f.init(spark, *a, idx)
    assert snapshots.snap_live(idx) == f"{prefix}1"
    assert not os.path.exists(os.path.join(idx, f"{prefix}0"))
    assert _hash(serve(spark, idx)) == h_init

    with monkeypatch.context() as m:
        m.setattr(snapshots, "snap_commit", _boom)
        with pytest.raises(Boom):
            f.update(spark, *b, idx)
    assert snapshots.snap_live(idx) == f"{prefix}1"
    assert _hash(serve(spark, idx)) == h_init

    f.update(spark, *b, idx)
    assert snapshots.snap_live(idx) == f"{prefix}2"
    f.init(spark, *a, clean)
    f.update(spark, *b, clean)
    assert _hash(serve(spark, idx)) == _hash(serve(spark, clean))


COMPACTING = sorted(n for n, f in FAMILIES.items() if f.compact is not None)


@pytest.mark.parametrize("family", COMPACTING)
def test_index_compact_fault_and_retry(
    spark, sf_dir, tmp_path, monkeypatch, family
):
    """Per append-only family, after init(A) + update(B): a compaction
    whose commit of the index's own version fails raises, and leaves
    CURRENT and the serving view unchanged; the retried compaction
    serves exactly the pre-compaction view.  Sub-index commits are let
    through, so for the curation index this pins that a SemDeDup
    compaction that committed before the failed top-level commit is
    harmless."""
    f = FAMILIES[family]
    a, b = f.split(spark, sf_dir)
    idx = str(tmp_path / "idx")
    f.init(spark, *a, idx)
    f.update(spark, *b, idx)
    live = snapshots.snap_live(idx)
    h_pre = _hash(f.serve(spark, idx))

    real_commit = snapshots.snap_commit

    def fail_top(path, snap, prefix):
        if path == idx:
            raise Boom("injected fault")
        real_commit(path, snap, prefix)

    with monkeypatch.context() as m:
        m.setattr(snapshots, "snap_commit", fail_top)
        with pytest.raises(Boom):
            f.compact(spark, idx)
    assert snapshots.snap_live(idx) == live
    assert _hash(f.serve(spark, idx)) == h_pre

    f.compact(spark, idx)
    assert snapshots.snap_live(idx) != live
    assert _hash(f.serve(spark, idx)) == h_pre


def test_every_index_family_is_in_the_table():
    """Every ``*_index_init`` in the operator modules belongs to a
    family of ``indexes.FAMILIES``, so a new family cannot skip the
    fault matrix or the bench rows."""
    import importlib
    import pkgutil

    from engineering_school_bigdata_project_f1_weather_spark import operators

    inits = set()
    for mod in pkgutil.iter_modules(operators.__path__):
        m = importlib.import_module(f"{operators.__name__}.{mod.name}")
        inits |= {
            fn
            for name, fn in vars(m).items()
            if name.endswith("_index_init")
            and callable(fn)
            and fn.__module__ == m.__name__
        }
    assert inits == {f.init for f in FAMILIES.values()}
