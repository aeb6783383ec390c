"""Driver-side overlap of independent Spark jobs (guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; the composed index entries (curation, ER) were only
sequential because their driver code called each sub-index's actions
sequentially — at local bench scale that serialism is 6-8 legs × job
latency, and on a cluster it leaves executors idle through every leg's
task tail.  Submitting independent legs from a small thread pool lets
the next leg's tasks back-fill executors freed by the current leg's
stragglers, with FIFO scheduling giving exactly the back-fill behaviour
the guide describes.

Only INDEPENDENT legs may overlap: callers keep every ordering the
commit/retry contracts need (e.g. a pair delta that must read a
sub-index's COMMITTED state runs inside the same thunk, after that
sub-index's update).  Each sub-index self-commits into its own
directory, so concurrent legs never race on files; the caller's
top-level snapshot commit stays strictly after every leg.

Pool threads are fresh Python threads, and under PySpark's pinned-thread
mode (the 4.x default) each one maps to its own JVM thread that starts
with no local properties.  Every leg is therefore wrapped on the caller
thread with ``inheritable_thread_target``, so its jobs carry the
caller's job group, description and scheduler pool.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

# 2-3 jobs in flight is plenty (guide §2.6): enough to fill each leg's
# task tail, not so many that they fight for executors.
MAX_OVERLAP = 3


def run_overlapped(*thunks):
    """Run independent driver thunks — each submitting its own Spark
    jobs — concurrently; return their results in call order.  The first
    failure re-raises in the caller (remaining legs run to completion
    inside the pool's shutdown join, keeping the session's job state
    coherent).  A single thunk runs inline: no pool, no thread."""
    if len(thunks) == 1:
        return [thunks[0]()]
    # One wrap per leg: each captures its own copy of the caller's local
    # properties, so a leg that sets a property cannot leak it to another.
    session = SparkSession.active()
    legs = [inheritable_thread_target(session)(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=min(MAX_OVERLAP, len(legs))) as pool:
        futures = [pool.submit(t) for t in legs]
        return [f.result() for f in futures]
