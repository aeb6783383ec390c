"""Versioned-snapshot durability for persisted incremental indexes.

Every incremental index family (minhash, ER, substring, ANN, SemDeDup,
search, curation and the six sketch tables) stores its mutable state the
same way: each version lives in its own ``{prefix}{n}`` directory under
the index path, and a ``CURRENT`` pointer file names the live one.
Updates never overwrite or append to the live state in place.  One
primitive, :class:`txn`, owns that protocol::

    with snapshots.txn(index_path, "sig_v") as t:
        old = spark.read.parquet(t.live)   # the live version
        write_sized(delta, t.dir)          # the batch, as the next version
        t.carry()                          # + the live files, hard-linked

- ``t.live`` is the live version's directory, or ``None`` when the path
  has no ``CURRENT`` yet (a bootstrap writes ``{prefix}0``; re-running a
  bootstrap on a committed index writes the next version, so a retried
  init never rewrites the directory serving reads).  ``t.dir`` is the
  next version's directory, ``{prefix}{n+1}``, cleared of any debris a
  failed attempt left under that name.  ``t.carry(*subs)`` hard-links
  the live version's parquet files (the named sub-directories, or the
  whole version when none are named) into ``t.dir``; it runs after the
  writes, because an overwrite-mode write into a directory deletes what
  was linked there.
- A clean exit commits: :func:`snap_commit` swaps ``CURRENT`` atomically
  (write-temp + ``os.replace`` — POSIX rename atomicity) and
  garbage-collects every other ``{prefix}*`` directory.
- An exception commits nothing.  ``CURRENT`` still names the complete
  previous version, and the half-written ``t.dir`` is an orphan that the
  next transaction clears.
- An exit that wrote nothing into ``t.dir`` raises instead of pointing
  ``CURRENT`` at a missing directory.  A no-op path (a batch that is
  already applied, an empty batch) therefore returns BEFORE the ``with``,
  never from inside it.

For BOUNDED state (the sketch registers/counters) each version is a
full rewrite — the state is m-rows-sized, so that's free.  For
CORPUS-SIZED state (minhash signatures, ANN vectors/assign lists) a full
rewrite per batch would break the per-batch-work ∝ batch contract, so
the batch writes only its delta and ``t.carry`` shares the previous
version's immutable data files by hard link (falling back to copy across
filesystems): per-batch I/O stays ∝ batch while every version remains a
plain self-contained parquet directory.  This is the local-filesystem
analogue of a table-format commit (Iceberg/Delta: new manifest
referencing old data files + atomic pointer swap); on an object store
the pointer swap becomes the table-format commit and the layout is
unchanged.
"""

from __future__ import annotations

import os
import shutil

# Target rows per output file for index-state writes (round 12
# optimization, guide §6: small files hurt twice — task overhead on
# write, file-count growth on every snapshot hard-link and probe read).
# The index frames here are narrow (tens of bytes/row), so 4M rows land
# in the 128 MB–1 GB sweet spot.
SNAP_ROWS_PER_FILE = 4_000_000


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


class txn:
    """One snapshot transaction on the index at ``path`` (module note):
    ``t.live``, ``t.dir`` and ``t.carry`` inside the block, a commit on
    clean exit, nothing on an exception.  The module-level
    :func:`snap_commit` and :func:`link_parquet_files` are looked up at
    call time, so wrappers installed on them see every commit and link."""

    def __init__(self, path: str, prefix: str) -> None:
        self.path, self.prefix = path, prefix

    def __enter__(self) -> "txn":
        try:
            live = snap_live(self.path)
        except FileNotFoundError:
            live = None
        n = 0 if live is None else int(live[len(self.prefix):]) + 1
        self.live = None if live is None else os.path.join(self.path, live)
        self.dir = os.path.join(self.path, f"{self.prefix}{n}")
        # debris of a failed attempt at this version (never the live one)
        shutil.rmtree(self.dir, ignore_errors=True)
        return self

    def carry(self, *subs: str) -> None:
        """Hard-link the live version's files under each of ``subs``
        (the whole version when none are named) into ``t.dir``."""
        for sub in subs or ("",):
            link_parquet_files(
                os.path.join(self.live, sub), os.path.join(self.dir, sub)
            )

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            return  # t.dir stays an orphan; the next transaction clears it
        if not (os.path.isdir(self.dir) and os.listdir(self.dir)):
            raise RuntimeError(
                f"snapshot txn on {self.path!r} wrote nothing to {self.dir!r}; "
                "a no-op path must return before the `with`"
            )
        snap_commit(self.path, os.path.basename(self.dir), self.prefix)
