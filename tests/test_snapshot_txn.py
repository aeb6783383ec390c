"""The snapshot transaction every incremental index family commits through
(``functions.snapshots.txn``).

The first half is Spark-free: it drives ``txn`` over plain files and
injects a fault at each commit point by monkeypatching the call that
fails there.  After every fault, ``CURRENT`` must still name a complete
version, and the next transaction must clean up.

The second half runs the 13 index families on the test fixtures: a
failed commit leaves the serving view unchanged, a retry converges to
the clean-run serving view, and re-running a bootstrap on a committed
index writes a new version instead of the live one."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from engineering_school_bigdata_project_f1_weather_spark.functions import snapshots
from engineering_school_bigdata_project_f1_weather_spark.operators import (
    curate_index,
    dedup,
    search,
    similarity,
    sketch,
)
from engineering_school_bigdata_project_f1_weather_spark.operators.events import (
    load_events,
)
from engineering_school_bigdata_project_f1_weather_spark.sources.tables import (
    load_table,
    load_table_spread,
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


# ----------------------------------------------------- the 13 families


def _docs(spark, sf_dir):
    return load_table_spread(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )


def _vecs(spark, sf_dir):
    return load_table_spread(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )


def _halves(df, col):
    """First half (``col <= max/2``, where the frozen models of the
    curation and SemDeDup indexes are defined) and second half."""
    half = df.agg(F.expr(f"div(max({col}), 2)")).first()[0]
    return df.where(F.col(col) <= half), df.where(F.col(col) > half)


def _events(spark, sf_dir):
    e = load_events(spark, sf_dir)
    return e.where(F.col("ts_us") % 2 == 0), e.where(F.col("ts_us") % 2 == 1)


def _state(sub=""):
    """Serving view for a family without one: its live state table."""
    return lambda spark, path: spark.read.parquet(
        os.path.join(path, snapshots.snap_live(path), sub)
    )


def _curate_inputs(spark, sf_dir):
    da, db = _halves(_docs(spark, sf_dir), "doc_id")
    va, vb = _halves(_vecs(spark, sf_dir), "vec_id")
    return (da, va), (db, vb)


# family: (prefix, inputs(spark, sf_dir) -> (A, B), init, update, serve)
FAMILIES = {
    "minhash": (
        "sig_v",
        lambda s, d: _halves(_docs(s, d).select("doc_id", "text"), "doc_id"),
        dedup.minhash_index_init,
        dedup.minhash_index_update,
        lambda s, p: _state()(s, p).drop("xs"),
    ),
    "er": (
        "er_v",
        lambda s, d: _halves(_docs(s, d), "doc_id"),
        dedup.er_index_init,
        dedup.er_index_update,
        dedup.er_resolve,
    ),
    "substr": (
        "sub_v",
        lambda s, d: _halves(_docs(s, d).select("doc_id", "text"), "doc_id"),
        dedup.substr_index_init,
        dedup.substr_index_update,
        dedup.substr_resolve,
    ),
    "ann": (
        "state_v",
        lambda s, d: _halves(_vecs(s, d), "vec_id"),
        similarity.ann_index_init,
        similarity.ann_index_update,
        _state("assign"),
    ),
    "semdedup": (
        "sem_v",
        lambda s, d: _halves(_vecs(s, d), "vec_id"),
        similarity.semdedup_index_init,
        similarity.semdedup_index_update,
        similarity.semdedup_resolve,
    ),
    "search": (
        "si_v",
        lambda s, d: _halves(_docs(s, d).select("doc_id", "text"), "doc_id"),
        search.search_index_init,
        search.search_index_update,
        search.search_index_serve,
    ),
    "curate": (
        "cur_v",
        _curate_inputs,
        lambda s, ab, p: curate_index.curate_index_init(s, *ab, p),
        lambda s, ab, p: curate_index.curate_index_update(s, *ab, p),
        curate_index.curate_resolve,
    ),
    "bloom": (
        "bits_v",
        _events,
        sketch.bloom_index_init,
        sketch.bloom_index_update,
        _state(),
    ),
    "hll": (
        "registers_v",
        _events,
        sketch.hll_index_init,
        sketch.hll_index_update,
        _state(),
    ),
    "hist": (
        "hist_v",
        _events,
        sketch.hist_index_init,
        lambda s, b, p: sketch.hist_index_update(s, b, p, "b1"),
        _state("counts"),
    ),
    "kmv": (
        "kmv_v",
        _events,
        sketch.kmv_index_init,
        sketch.kmv_index_update,
        _state(),
    ),
    "qsample": (
        "qs_v",
        _events,
        sketch.qsample_index_init,
        sketch.qsample_index_update,
        _state(),
    ),
    "ndv": (
        "ndv_v",
        lambda s, d: _halves(load_table(s, d, "lineitem"), "l_orderkey"),
        sketch.ndv_index_init,
        lambda s, b, p: sketch.ndv_index_update(s, b, p, "b1"),
        sketch.ndv_index_profile,
    ),
}


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
    prefix, inputs, init, update, serve = FAMILIES[family]
    a, b = inputs(spark, sf_dir)
    idx, clean = str(tmp_path / "idx"), str(tmp_path / "clean")

    init(spark, a, idx)
    assert snapshots.snap_live(idx) == f"{prefix}0"
    h_init = _hash(serve(spark, idx))
    init(spark, a, idx)
    assert snapshots.snap_live(idx) == f"{prefix}1"
    assert not os.path.exists(os.path.join(idx, f"{prefix}0"))
    assert _hash(serve(spark, idx)) == h_init

    with monkeypatch.context() as m:
        m.setattr(snapshots, "snap_commit", _boom)
        with pytest.raises(Boom):
            update(spark, b, idx)
    assert snapshots.snap_live(idx) == f"{prefix}1"
    assert _hash(serve(spark, idx)) == h_init

    update(spark, b, idx)
    assert snapshots.snap_live(idx) == f"{prefix}2"
    init(spark, a, clean)
    update(spark, b, clean)
    assert _hash(serve(spark, idx)) == _hash(serve(spark, clean))
