"""Versioned-snapshot durability for persisted incremental indexes.

The shared convention (round 7 for the sketch index twins, round 8 for
the minhash / ANN dedup indexes — VERDICT r7 item 1): updates never
overwrite or append to the live state in place.  Each state version
lives in its own ``{prefix}{n}`` directory under the index path; a
``CURRENT`` pointer file names the live one and is swapped atomically
(write-temp + ``os.replace`` — POSIX rename atomicity), so a crash or
executor loss at ANY point leaves CURRENT pointing at a complete,
readable snapshot.  A failed update's half-written version directory is
an orphan that the next successful commit garbage-collects.

For BOUNDED state (the sketch registers/counters) each snapshot is a
full rewrite — the state is m-rows-sized, so that's free.  For
CORPUS-SIZED state (minhash signatures, ANN vectors/assign lists) a
full rewrite per batch would break the per-batch-work ∝ batch contract,
so :func:`link_parquet_files` carries the previous snapshot's immutable
data files into the new version directory by hard link (falling back to
copy across filesystems): per-batch I/O stays ∝ batch while every
snapshot remains a plain self-contained parquet directory.  This is the
local-filesystem analogue of a table-format commit (Iceberg/Delta: new
manifest referencing old data files + atomic pointer swap); on an
object store the pointer swap becomes the table-format commit and the
layout is unchanged.
"""

from __future__ import annotations

import os
import shutil

# Target rows per output file for index-state writes (round 12
# optimization, guide §6: small files hurt twice — task overhead on
# write, file-count growth on every snapshot hard-link and probe read).
# The index frames here are narrow (tens of bytes/row), so 4M rows land
# in the 128 MB–1 GB sweet spot; the knob is env-tunable per deployment.
SNAP_ROWS_PER_FILE = int(
    os.environ.get("SPARK_GRAFT_SNAP_ROWS_PER_FILE", "4000000")
)


def write_sized(df, path: str, rows: int | None = None) -> int:
    """Parquet-write ``df`` with the output file count derived from its
    row count (⌈rows / SNAP_ROWS_PER_FILE⌉ — implicitly capped by
    coalesce semantics, which never increase the partition count)
    instead of one file per task — a 2,500-row index
    snapshot leg was writing 32 near-empty files per sub-table and
    paying ~0.4 s of task + commit overhead each (measured, round 12).
    Scale-adaptive by construction: file count grows with the data, so
    a 100 TB snapshot still writes many parallel files.

    ``df`` must be cheap to count — materialized (localCheckpoint) or a
    plain parquet read — or ``rows`` passed explicitly; returns the file
    count used."""
    if rows is None:
        rows = df.count()
    # No partition-count cap needed: coalesce() never INCREASES the
    # partition count, and asking for it (df.rdd) would convert to a
    # Python RDD plan and, under AQE, materialize throwaway stages.
    n = max(1, (rows + SNAP_ROWS_PER_FILE - 1) // SNAP_ROWS_PER_FILE)
    df.coalesce(n).write.mode("overwrite").parquet(path)
    return n


def meta_row(spark, schema: str, values: tuple):
    """One-row metadata frame built as a pure-JVM relation (single
    partition).  ``createDataFrame([row])`` parallelizes the local list
    into defaultParallelism Python-RDD slices — a 32-task Python-worker
    job and up to 32 files for ONE row (guide §4/§6); ``spark.range(1)``
    + literals stays in the JVM and writes one file.

    ``schema`` is the same DDL string the createDataFrame call took,
    e.g. ``"c_q16 long"``; values positional.  Parsed via StructType
    (ADVICE r12: the old ``rsplit(' ', 1)`` silently mis-split any type
    containing a space, e.g. ``decimal(10, 2)``).  Raises ``ValueError``
    when ``values`` and ``schema`` differ in arity."""
    import pyspark.sql.functions as F  # local: this module is imported early
    from pyspark.sql.types import StructType

    fields = StructType.fromDDL(schema).fields
    if len(fields) != len(values):
        raise ValueError(
            f"meta_row: {len(values)} values for {len(fields)} fields "
            f"({schema!r}, {values!r})"
        )
    cols = [
        F.lit(v).cast(f.dataType).alias(f.name)
        for f, v in zip(fields, values)
    ]
    return spark.range(1).select(*cols)


def snap_live(path: str) -> str:
    """Name of the live snapshot directory under ``path``."""
    with open(os.path.join(path, "CURRENT")) as f:
        return f.read().strip()


def snap_next(live: str, prefix: str) -> str:
    """``{prefix}{n+1}`` for a live ``{prefix}{n}``."""
    return f"{prefix}{int(live[len(prefix):]) + 1}"


def snap_commit(path: str, snap: str, prefix: str) -> None:
    """Atomically point CURRENT at ``snap`` and GC every other
    ``prefix``-versioned directory (the predecessor, plus any orphan a
    crashed earlier update left behind)."""
    tmp = os.path.join(path, "CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(snap)
        f.flush()
        os.fsync(f.fileno())  # temp durable before the rename is visible
    os.replace(tmp, os.path.join(path, "CURRENT"))
    # Persist the rename itself: fsync the parent directory so a power
    # loss after commit can't roll CURRENT back to the prior (possibly
    # GC'd) snapshot.  Best-effort on filesystems that reject dir fsync.
    try:
        dfd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass
    for d in os.listdir(path):
        if d.startswith(prefix) and d != snap:
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)


def link_parquet_files(src_dir: str, dst_dir: str) -> None:
    """Carry ``src_dir``'s parquet data files into ``dst_dir`` by hard
    link (copy fallback).  Data files are immutable once written, so
    sharing them across snapshot versions is safe; only ``part-*`` files
    are carried (markers like _SUCCESS are per-write).  Hive-partitioned
    layouts (``col=value`` subdirectories — round 10: the substring occ
    log is h-bucket partitioned for probe-time pruning) are carried
    recursively, preserving the partition tree.  Collisions are
    impossible in practice (Spark part-file names embed a UUID) but are
    skipped defensively — a skipped link would surface as a row-count
    mismatch in the idempotency tests, never as corruption."""
    os.makedirs(dst_dir, exist_ok=True)
    for name in os.listdir(src_dir):
        if "=" in name and os.path.isdir(os.path.join(src_dir, name)):
            link_parquet_files(
                os.path.join(src_dir, name), os.path.join(dst_dir, name)
            )
            continue
        if not name.startswith("part-"):
            continue
        src = os.path.join(src_dir, name)
        dst = os.path.join(dst_dir, name)
        if os.path.exists(dst):
            continue
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)
