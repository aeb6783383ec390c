"""The incremental snapshot-index families, as one table.

Each family keeps its state under one index path through
``functions.snapshots.txn``: ``init`` bootstraps it, ``update`` ingests
a later batch, ``serve`` reads a view of everything ingested, and the
append-only families ``compact`` their per-batch files.  The snapshot
fault matrix, the bench's ``*_index_update`` rows and the
``*_incremental`` registry entries all read :data:`FAMILIES`.

Each family has one fixture split into a bootstrap side A and an update
side B, each the tuple of inputs ``init`` / ``update`` take before the
index path.  Documents and vectors split at ``id <= max/2``, where the
frozen models of the curation and SemDeDup indexes are seeded; events
split on ``ts_us`` parity, so the update merges into every stored day.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
from dataclasses import dataclass
from functools import partial
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions import snapshots
from ..sources.tables import load_table, load_table_spread
from . import curate_index, dedup, search, similarity, sketch
from .events import load_events


@dataclass(frozen=True)
class Family:
    prefix: str  # snapshot version prefix, ``{prefix}{n}``
    split: Callable  # (spark, sf_dir) -> (A, B)
    init: Callable  # (spark, *A, path)
    update: Callable  # (spark, *B, path)
    serve: Callable  # (spark, path) -> DataFrame
    compact: Callable | None = None  # (spark, path)


def _halves(df: DataFrame, col: str) -> tuple:
    """``((col <= max/2,), (col > max/2,))``."""
    half = df.agg(F.expr(f"div(max({col}), 2)")).first()[0]
    return (df.where(F.col(col) <= half),), (df.where(F.col(col) > half),)


def _doc_halves(*cols: str) -> Callable:
    return lambda spark, sf_dir: _halves(
        load_table_spread(spark, sf_dir, "documents").select(*cols), "doc_id"
    )


def _vec_halves(spark: SparkSession, sf_dir: str) -> tuple:
    vecs = load_table_spread(spark, sf_dir, "embeddings")
    return _halves(vecs.select("vec_id", "embedding"), "vec_id")


def _curate_halves(spark: SparkSession, sf_dir: str) -> tuple:
    (da,), (db,) = _doc_halves("doc_id", "lang", "text")(spark, sf_dir)
    (va,), (vb,) = _vec_halves(spark, sf_dir)
    return (da, va), (db, vb)


def _events(spark: SparkSession, sf_dir: str) -> tuple:
    e = load_events(spark, sf_dir)
    return (e.where(F.col("ts_us") % 2 == 0),), (e.where(F.col("ts_us") % 2 == 1),)


def _lineitem_halves(spark: SparkSession, sf_dir: str) -> tuple:
    return _halves(load_table(spark, sf_dir, "lineitem"), "l_orderkey")


def _state(sub: str = "") -> Callable:
    """Serving view for a family without one: its live state table."""
    return lambda spark, path: snapshots.read(
        spark, os.path.join(path, snapshots.snap_live(path), sub)
    )


FAMILIES = {
    "minhash": Family(
        "sig_v",
        _doc_halves("doc_id", "text"),
        dedup.minhash_index_init,
        dedup.minhash_index_update,
        lambda spark, path: _state()(spark, path).drop("xs"),
    ),
    "er": Family(
        "er_v",
        _doc_halves("doc_id", "lang", "text"),
        dedup.er_index_init,
        dedup.er_index_update,
        dedup.er_resolve,
    ),
    "substr": Family(
        "sub_v",
        _doc_halves("doc_id", "text"),
        dedup.substr_index_init,
        dedup.substr_index_update,
        dedup.substr_resolve,
        dedup.substr_index_compact,
    ),
    "ann": Family(
        "state_v",
        _vec_halves,
        similarity.ann_index_init,
        similarity.ann_index_update,
        _state("assign"),
    ),
    "semdedup": Family(
        "sem_v",
        _vec_halves,
        similarity.semdedup_index_init,
        similarity.semdedup_index_update,
        similarity.semdedup_resolve,
        similarity.semdedup_index_compact,
    ),
    "search": Family(
        "si_v",
        _doc_halves("doc_id", "text"),
        search.search_index_init,
        search.search_index_update,
        search.search_index_serve,
        search.search_index_compact,
    ),
    "curate": Family(
        "cur_v",
        _curate_halves,
        curate_index.curate_index_init,
        curate_index.curate_index_update,
        curate_index.curate_resolve,
        curate_index.curate_index_compact,
    ),
    "bloom": Family(
        "bits_v", _events, sketch.bloom_index_init, sketch.bloom_index_update, _state()
    ),
    "hll": Family(
        "registers_v", _events, sketch.hll_index_init, sketch.hll_index_update, _state()
    ),
    "hist": Family(
        "hist_v",
        _events,
        sketch.hist_index_init,
        partial(sketch.hist_index_update, batch_id="b1"),
        _state("counts"),
    ),
    "kmv": Family(
        "kmv_v", _events, sketch.kmv_index_init, sketch.kmv_index_update, _state()
    ),
    "qsample": Family(
        "qs_v",
        _events,
        sketch.qsample_index_init,
        sketch.qsample_index_update,
        _state(),
    ),
    "ndv": Family(
        "ndv_v",
        _lineitem_halves,
        sketch.ndv_index_init,
        partial(sketch.ndv_index_update, batch_id="b1"),
        sketch.ndv_index_profile,
    ),
}


@contextlib.contextmanager
def scratch_path(name: str):
    """A fresh index path in a temporary directory, removed on exit."""
    tmp = tempfile.mkdtemp(prefix=f"{name}_idx_")
    try:
        yield os.path.join(tmp, "idx")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def incremental(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Family ``name`` end to end on ``sf_dir``: init(A), update(B), and
    the serving view, checkpointed before the scratch index is
    removed."""
    f = FAMILIES[name]
    a, b = f.split(spark, sf_dir)
    with scratch_path(name) as path:
        f.init(spark, *a, path)
        f.update(spark, *b, path)
        return f.serve(spark, path).localCheckpoint()
