"""Structured-Streaming queries exposed as oracle-checked registry entries.

The streaming surfaces (watermarked tumbling windows, session windows —
``streaming/events_stream.py``) were previously witnessed only by pytest
batch-parity tests; these entries drain them with the ``availableNow``
trigger and return the materialized result, so the external driver
hash-compares STREAMING output against a plain batch SQL oracle. The
equivalence is exact: an availableNow drain of an immutable file source
replays every row before the final watermark close, so the drained
aggregate equals the batch aggregate bit-for-bit.

Scale notes live with the stream builders: watermark-bounded state,
complete-mode windowed aggs, file-source micro-batching. The drain here
goes through a FILE sink (foreachBatch parquet writes, complete or append
mode) so the result is executor-written and read back lazily — no
driver-resident copy at any scale. Each twin keeps only what is its own
— the streaming aggregation or GroupState fold and its output mode — and
calls the batch code in ``sketch.py`` / ``dedup.py`` for the rest.

Boundary note (MEASURED, round 4): the previously-documented suspicion
that ``session_window`` diverges from the batch ``delta > gap`` rule at
delta == gap is wrong — Spark merges touching session windows, so both
engines keep one session at exactly the gap and both split at gap+1 µs.
Batch/stream parity is exact at the boundary; pinned by
tests/test_streaming.py::test_session_window_exact_gap_boundary.
"""

from __future__ import annotations

import contextlib
import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..streaming import events_stream
from . import sketch as _sketch
from .corpus import EVAL_STRIDE
from .dedup import DECON_W_GATE

HOUR_US = 3_600_000_000
GAP_US = 1_800_000_000  # streaming/events_stream.py SESSION_GAP

# State-store partition count for the drained entries (round 7).  A
# stateful streaming query pins its state partitioning at FIRST start
# (spark.sql.shuffle.partitions at that moment — rebalancing state later
# means a state-store migration), so unlike batch shuffles AQE never
# right-sizes it: the deployment must.  At bench SF the per-partition
# state-store overhead (provider init, commit, maintenance) dominates the
# drains — measured on stream_view_purchase_full at sf0.1: 8.3 s with 32
# state partitions → 3.3 s with 8, same result hash.  A 100 TB
# deployment sets this to match key cardinality × executor count
# (hundreds+) — a capacity decision, not a semantic one, made by
# editing this constant.
STREAM_STATE_PARTITIONS = 8


@contextlib.contextmanager
def _state_sized(spark: SparkSession):
    """Start streams under the drain's state-partition sizing, restoring
    the session's batch shuffle sizing afterwards (the streaming plan
    captures the conf at start; batch queries never see the change)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS)
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _drain(
    df: DataFrame, prefix: str, spark: SparkSession, mode: str = "complete"
) -> DataFrame:
    """availableNow drain through a FILE sink into a per-(session, entry)
    temp parquet directory; ``mode`` is the stream's output mode
    (``"append"`` for stateful non-aggregations, see
    ``events_stream.run_available_now_to_parquet``).

    The drained result is written by the executors and read back lazily —
    no result row is ever driver-resident, so the drain harness itself is
    scale-safe (the previous memory-sink drain copied the full result to
    the driver, which for per-user-session output grows with the data).
    The directory is keyed by (Spark application id, entry name) and
    OVERWRITTEN per call rather than uniquely named (round-4 review): a
    driver/bench loop calls each entry many times per session, and
    uuid-suffixed dirs leaked one full result copy per call — disk use is
    now bounded at one result per entry. A handle returned by a PREVIOUS
    call of the same entry is invalidated by the next call's overwrite;
    callers (driver comparator, bench, selfcheck) all materialize before
    re-invoking."""
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_drain_{spark.sparkContext.applicationId}_{prefix}",
    )
    with _state_sized(spark):
        return events_stream.run_available_now_to_parquet(df, path, spark, mode)


def stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling 1-hour windowed counts, drained to completion.
    Same cents arithmetic as the batch ``events_hourly``; the window start
    is reported as epoch micros so the schema is engine-neutral."""
    out = _drain(
        events_stream.hourly_counts_stream(
            events_stream.stream_events(spark, sf_dir)
        ),
        "stream_hourly",
        spark,
    )
    return out.select(
        F.unix_micros(F.col("hour")).alias("hour_us"),
        "event_type",
        "n_events",
        "value_cents_sum",
    )


_HOURLY_ORACLE = f"""
SELECT epoch_us(ts) - epoch_us(ts) % {HOUR_US} AS hour_us, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS value_cents_sum
FROM events GROUP BY 1, 2
"""


def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window (30-min gap) aggregation per user, drained to
    completion. ``session_window.end`` is last-event + gap, so the batch
    session end is recovered by subtracting the gap — making the output
    directly comparable to the batch sessionize shape."""
    out = _drain(
        events_stream.sessions_stream(
            events_stream.stream_events(spark, sf_dir)
        ),
        "stream_sessions",
        spark,
    )
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_start")).alias("session_start_us"),
        (F.unix_micros(F.col("session_end")) - F.lit(GAP_US)).alias(
            "session_end_us"
        ),
        "n_events",
    )


_SESSIONS_ORACLE = f"""
WITH flagged AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {GAP_US}
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
sess AS (
    SELECT *, CAST(SUM(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts_us, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS session_seq
    FROM flagged
)
SELECT user_id,
       MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, session_seq
"""


def stream_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join + windowed rollup, drained to completion: each
    event is tagged with the user's market segment from the (static,
    broadcast) customer dimension, then counted per (hour, segment) —
    the canonical continuous-ingest enrichment shape
    (``events_stream.enriched_counts_stream``). The static side is
    re-read per micro-batch and broadcast to every task, so the stream
    side never shuffles for the join; events with no matching customer
    keep a NULL segment (left join) in both engines."""
    from ..sources.tables import load_table

    out = _drain(
        events_stream.enriched_counts_stream(
            events_stream.stream_events(spark, sf_dir),
            load_table(spark, sf_dir, "customer"),
        ),
        "stream_enriched",
        spark,
    )
    return out.select(
        F.unix_micros(F.col("hour")).alias("hour_us"),
        "segment",
        "n_events",
    )


_ENRICHED_ORACLE = f"""
SELECT epoch_us(ts) - epoch_us(ts) % {HOUR_US} AS hour_us,
       c.c_mktsegment AS segment,
       COUNT(*) AS n_events
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once output from an at-least-once source: the events
    stream is unioned with a SECOND independent stream over the same
    files filtered to ``event_id % 7 == 0`` — an in-plan, deterministic
    simulation of upstream re-delivery (~14% duplicate rate) — then
    deduped with ``events_stream.dedup_stream``
    (``dropDuplicatesWithinWatermark`` on event_id: state holds one
    watermark delay of keys, not history, so the state store is bounded
    at any ingest rate; re-deliveries inside the delay — including
    same-micro-batch copies, as here — are dropped against state).

    Drained through the APPEND-mode file sink (dedup is not an
    aggregation, so complete mode is illegal; each surviving row is
    emitted exactly once and appended). The drained result must equal
    the original events exactly — the oracle is a plain projection of
    the events table, so the hash check proves the dedup removed every
    injected duplicate and nothing else."""
    base = events_stream.stream_events(spark, sf_dir)
    redelivery = events_stream.stream_events(spark, sf_dir).where(
        F.col("event_id") % 7 == 0
    )
    deduped = events_stream.dedup_stream(base.unionByName(redelivery))
    out = _drain(deduped, "stream_dedup", spark, mode="append")
    return out.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
    )


_DEDUP_ORACLE = """
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
       CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS value_cents
FROM events
"""


# Covers any (user, day) recurrence in the fixtures (30-day event span)
# with margin; see the exactness contract in stream_dau's docstring.
DAU_DEDUP_WATERMARK = "90 days"


def dau_pipeline(ev: DataFrame) -> DataFrame:
    """The dedup→count DAU rewrite over an arbitrary event stream —
    shared by the registry entry and the multi-micro-batch exactness
    test (tests/test_streaming.py), so the contract the test enforces is
    the plan the entry runs."""
    return (
        ev.withWatermark("event_time", DAU_DEDUP_WATERMARK)
        .withColumn("day", F.date_trunc("DAY", F.col("event_time")))
        .dropDuplicatesWithinWatermark(["user_id", "day"])
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("dau"))
    )


def stream_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming daily-active-users: CHAINED stateful operators —
    ``dropDuplicatesWithinWatermark`` on (user, day) followed by a
    per-day count — because distinct aggregates are not supported on
    streams; dedup-then-count is the standard streaming rewrite of
    COUNT(DISTINCT).  Drained complete-mode to the file sink and
    hash-compared against the exact batch DAU (the batch twin is
    ``events.events_dau_mau``'s day grain).

    Exactness contract (ENFORCED, ADVICE r4): within-watermark dedup
    holds a key only for the watermark delay past its event time, so a
    (user, day) pair re-appearing more than the delay later in EVENT
    time would recount once the stream splits into multiple micro-batches
    (multi-file source, maxFilesPerTrigger). The delay for THIS entry is
    therefore sized to cover the whole (user, day) recurrence horizon —
    DAU_DEDUP_WATERMARK, greater than the fixture's full event-time span
    — rather than assuming the single-batch availableNow property. A
    production deployment does exactly this: delay = the maximum
    out-of-orderness a key can recur across (one day + allowed lateness
    for daily ingest), trading state size |users × days inside the
    delay| for exactness, or merges idempotently downstream.
    """
    agg = dau_pipeline(events_stream.stream_events(spark, sf_dir))
    out = _drain(agg, "stream_dau", spark)
    return out.select(
        F.unix_micros(F.col("day")).alias("day_us"), "dau"
    ).orderBy("day_us")


_DAU_ORACLE = """
SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_us,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
FROM events GROUP BY 1 ORDER BY 1
"""


def stream_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Markov transition matrix via CUSTOM state
    (``applyInPandasWithState``): each user's consecutive event pairs are
    extracted per micro-batch with the last event carried in GroupState
    (cross-batch bridging is what the declarative API cannot express —
    lead() needs the next row, state hands it the previous one).  The
    drained pair facts are aggregated to the same (from_type, to_type,
    n, p_ppm) shape as the batch ``events_transitions`` and share its
    oracle — the hard batch-parity signal for the arbitrary-state
    surface (the pytest twin additionally drains file-by-file to prove
    the state actually bridges micro-batches).
    """
    from ..streaming import stateful

    ev = events_stream.stream_events(spark, sf_dir).withColumn(
        "ts_us", F.unix_micros("ts")
    )
    pairs = stateful.transitions_stream(ev)
    out = _drain(pairs, "stream_transitions", spark, mode="append")
    from pyspark.sql import Window

    m = out.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    per_from = Window.partitionBy("from_type")
    return (
        m.withColumn("from_total", F.sum("n").over(per_from))
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("div(n * 1000000, from_total)").alias("p_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


# Generous both-side watermark so a multi-micro-batch replay (multi-file
# source) cannot expire buffered join state mid-stream — the same
# exactness-by-construction move as DAU_DEDUP_WATERMARK; production sizes
# this to the real out-of-orderness bound + the join window.
JOIN_WATERMARK = "90 days"
VIEW_PURCHASE_WINDOW = "1 hour"


def view_purchase_pipeline(
    ev: DataFrame, how: str = "inner", watermark: str = JOIN_WATERMARK
) -> DataFrame:
    """The stream-stream interval join over an arbitrary event stream —
    shared by the registry entries and the multi-micro-batch tests, so
    the cross-batch buffering the tests prove is the plan the entries
    run.  ``how='left_outer'`` adds watermark-driven null emission: an
    unmatched view row is held in join state until the global watermark
    passes its match window, then emitted once with null purchase
    columns — for that variant the watermark must be FINITE (the outer
    entries use OUTER_WATERMARK), since null emission only happens when
    the watermark actually closes windows.  ``how='full_outer'``
    additionally emits unmatched PURCHASES (null view columns) once the
    watermark passes the purchase's own time — for that variant the
    output user_id coalesces across the two legs (identity for
    inner/left, where the view leg is always present)."""
    views = (
        ev.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("event_time").alias("view_time"),
        )
        .withWatermark("view_time", watermark)
    )
    buys = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("buy_user"),
            F.col("event_time").alias("purchase_time"),
        )
        .withWatermark("purchase_time", watermark)
    )
    return (
        views.join(
            buys,
            (F.col("user_id") == F.col("buy_user"))
            & (F.col("purchase_time") > F.col("view_time"))
            & (
                F.col("purchase_time")
                <= F.col("view_time")
                + F.expr(f"INTERVAL {VIEW_PURCHASE_WINDOW}")
            ),
            how,
        )
        .select(
            (
                F.coalesce(F.col("user_id"), F.col("buy_user"))
                if how == "full_outer"
                else F.col("user_id")
            ).alias("user_id"),
            "view_id",
            "purchase_id",
            (
                F.unix_micros(F.col("purchase_time"))
                - F.unix_micros(F.col("view_time"))
            ).alias("delay_us"),
        )
    )


def stream_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join — the Structured Streaming surface the
    other drains don't exercise (they are stream-static or single-input
    stateful): views joined to the same user's purchases within the next
    hour, both sides watermarked, the attribution primitive of every
    clickstream pipeline.

    Engine mechanics this entry pins: both input legs buffer rows in join
    state keyed by (user, event-time range); the range condition
    (purchase_time in (view_time, view_time + 1h]) is what lets the state
    store evict a row once the OTHER side's watermark passes its window —
    without the range bound a stream-stream join must hold both streams
    forever. Inner joins emit in append mode, so the drain appends each
    match exactly once.  The oracle is the batch interval self-join with
    the identical predicate; timestamps subtract in exact micros.
    """
    joined = view_purchase_pipeline(
        events_stream.stream_events(spark, sf_dir)
    )
    out = _drain(joined, "stream_vp_join", spark, mode="append")
    return out.orderBy("user_id", "view_id", "purchase_id")


_VP_JOIN_ORACLE = """
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       epoch_us(p.ts) - epoch_us(v.ts) AS delay_us
FROM events v
JOIN events p
  ON p.user_id = v.user_id
 AND v.event_type = 'view'
 AND p.event_type = 'purchase'
 AND p.ts > v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
ORDER BY v.user_id, view_id, purchase_id
"""


# Finite watermark for the OUTER variant: null emission happens only when
# the watermark passes a view's match window, so the infinite-horizon
# 90-day delay of the inner entry would suppress every null row on a
# bounded replay. 1 hour matches the join window; the entry's single-file
# source makes one data micro-batch, so no mid-replay row can arrive
# late (the multi-file ordering concern JOIN_WATERMARK exists for).
OUTER_WATERMARK = "1 hour"


def stream_view_purchase_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join (round 6, VERDICT r5 item
    4) — the other half of the attribution primitive: views that did NOT
    convert within the hour are emitted with null purchase columns, but
    only once the global watermark proves no matching purchase can still
    arrive.  This pins the watermark-driven null-emission semantics no
    other entry covers: an unmatched view sits in join state until
    watermark > view_time + window, then emits EXACTLY once (the
    multi-micro-batch test drives a row through that lifecycle across
    batches).

    The oracle replicates the close rule bit-exactly: Spark tracks each
    leg's max event time in whole milliseconds, so the global watermark
    is ``min_leg(floor(max_leg_us/1000) − delay_ms)·1000`` (an unset leg
    contributes watermark 0 — the oracle COALESCEs each leg's subquery
    to that sentinel, ADVICE r6); a view emits null iff unmatched AND
    ``view_time_us ≤ wm_us − window_us − 1000``.  The −1 ms term was
    pinned by round-7 boundary probes (crafted events at ±1 µs / ±1 ms
    around every candidate threshold, full- and left-outer): the state
    eviction bound Spark derives from the interval condition subtracts
    one whole millisecond on the view side, so a view exactly AT
    wm − window is retained and one at wm − window − 1 ms emits — the
    r6 strict-< µs rule was correct on all real data (no view ever
    landed in the 999 µs gap) but not at the exact boundary.  The
    matched rows are the same batch interval join as the inner entry.
    At scale the finite watermark is exactly what bounds join state:
    view rows evict (and emit) one window past the watermark, purchase
    rows evict at the watermark (see stream_view_purchase_full)."""
    joined = view_purchase_pipeline(
        events_stream.stream_events(spark, sf_dir),
        how="left_outer",
        watermark=OUTER_WATERMARK,
    )
    out = _drain(joined, "stream_vp_outer", spark, mode="append")
    return out.orderBy("user_id", "view_id", "purchase_id")


# Shared oracle CTEs: the ms-floored per-leg watermark (COALESCE to the
# 0 sentinel = Spark's unset-leg watermark, so degenerate one-leg streams
# emit no null rows in BOTH engines — ADVICE r6), the matched interval
# pairs, and the unmatched-view close rule (≤ wm − window − 1 ms,
# boundary-probed — see stream_view_purchase_outer's docstring).
_VP_WM_CTES = """
wm AS (
  SELECT LEAST(
    COALESCE((SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) * 1000
       FROM events WHERE event_type = 'view'), 0),
    COALESCE((SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) * 1000
       FROM events WHERE event_type = 'purchase'), 0)
  ) AS wm_us
),
pairs AS (
  SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
         epoch_us(p.ts) - epoch_us(v.ts) AS delay_us
  FROM events v
  JOIN events p
    ON p.user_id = v.user_id
   AND v.event_type = 'view'
   AND p.event_type = 'purchase'
   AND p.ts > v.ts
   AND p.ts <= v.ts + INTERVAL 1 HOUR
),
unmatched_views AS (
  SELECT v.user_id, v.event_id AS view_id,
         CAST(NULL AS BIGINT) AS purchase_id,
         CAST(NULL AS BIGINT) AS delay_us
  FROM events v, wm
  WHERE v.event_type = 'view'
    AND epoch_us(v.ts) <= wm.wm_us - 3600001000
    AND NOT EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
        AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
)
"""

_VP_OUTER_ORACLE = f"""
WITH {_VP_WM_CTES}
SELECT * FROM pairs
UNION ALL
SELECT * FROM unmatched_views
ORDER BY user_id, view_id, purchase_id
"""


def stream_view_purchase_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-OUTER stream-stream interval join (round 7, VERDICT r6 item
    7) — both unmatched sides: views that never converted (null purchase
    columns, the left-outer entry's rule) AND purchases with no
    preceding view (null view columns), each emitted exactly once when
    the watermark proves no match can arrive.

    What this entry pins beyond the left-outer one is the PURCHASE
    side's close rule, which is DIFFERENT from the view side's: a
    purchase matches views in [purchase_time − window, purchase_time),
    so its state evicts AT the watermark — boundary-probed this round
    (±1 µs / ±1 ms around every candidate threshold): an unmatched
    purchase emits iff ``purchase_time_us ≤ wm_us`` exactly (at wm:
    emitted; at wm + 1 µs: held), with NO −1 ms term, while the view
    side keeps ≤ wm − window − 1 ms.  The asymmetry is Spark's state
    watermark derivation from the two interval inequalities; the oracle
    replicates both rules bit-exactly.  A two-batch pytest drives an
    unmatched purchase through buffered→closed→emitted and asserts
    exactly-once emission AND non-emission of a still-open trailing
    purchase (tests/test_streaming.py)."""
    joined = view_purchase_pipeline(
        events_stream.stream_events(spark, sf_dir),
        how="full_outer",
        watermark=OUTER_WATERMARK,
    )
    out = _drain(joined, "stream_vp_full", spark, mode="append")
    return out.orderBy("user_id", "view_id", "purchase_id")


_VP_FULL_ORACLE = f"""
WITH {_VP_WM_CTES},
unmatched_purchases AS (
  SELECT p.user_id, CAST(NULL AS BIGINT) AS view_id,
         p.event_id AS purchase_id,
         CAST(NULL AS BIGINT) AS delay_us
  FROM events p, wm
  WHERE p.event_type = 'purchase'
    AND epoch_us(p.ts) <= wm.wm_us
    AND NOT EXISTS (
      SELECT 1 FROM events v
      WHERE v.event_type = 'view' AND v.user_id = p.user_id
        AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
)
SELECT * FROM pairs
UNION ALL
SELECT * FROM unmatched_views
UNION ALL
SELECT * FROM unmatched_purchases
ORDER BY user_id, view_id, purchase_id
"""


def stream_dau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming daily-distinct-users where the MERGEABLE SUMMARY IS THE
    STREAMING STATE (round 7): per-(day, register) ``MAX(rho)`` as the
    streaming aggregation, drained complete-mode, the FFGM raw estimator
    applied to the drained registers.

    This is the state-size counterpoint to ``stream_dau``: the
    dedup-then-count rewrite holds one state row per (user, day) inside
    the watermark delay — state grows with USER cardinality — while the
    HLL form's state is ≤ m = 512 register rows per day REGARDLESS of
    user count, because each micro-batch's partial registers fold into
    the store by the same register-MAX merge law the batch/monthly/index
    entries prove.  No watermark is needed at all: MAX is insensitive to
    late or replayed rows (max(a, a) = a), so the aggregation is both
    exactly mergeable across micro-batches and idempotent under
    re-delivery — the sketch gives the stream the commutative-monoid
    state that COUNT(DISTINCT) lacks.  Oracle: the SAME `_HLL_ORACLE`
    as the batch ``events_dau_hll`` — streaming/batch parity and the
    cross-engine sketch contract in one hash gate.

    The streaming aggregation IS the batch register pipeline
    (``sketch._registers_of`` over the stream), so the two cannot drift.
    """
    ev = events_stream.stream_events(spark, sf_dir)
    out = _drain(_sketch._registers_of(ev), "stream_dau_hll", spark)
    return _sketch._hll_estimate(out, "day_us").orderBy("day_us")


def stream_user_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-frequency where the CMS COUNTER TABLE IS THE
    STREAMING STATE (round 8, VERDICT r7 item 4): per-(r, bucket) COUNT
    as the streaming aggregation, drained complete-mode, point queries
    served from the drained counters — the counter-SUM analog of
    ``stream_dau_hll``'s register-MAX.

    State is ≤ d·w = 1536 counter rows REGARDLESS of user cardinality
    (the linearity that makes CMS the streaming frequency summary:
    each micro-batch's partial counts fold into the store by per-cell
    SUM — the same merge law ``events_user_cms_monthly`` proves across
    day→month grains, here across MICRO-BATCHES).  No watermark: SUM
    over an exactly-once replay is insensitive to batch boundaries.
    The query/serving side (stride users joined for their exact counts)
    is batch post-processing of the drained state, same split as
    stream_dau_hll's estimator.  Oracle: ``_CMS_ORACLE`` verbatim —
    streaming/batch parity and the cross-engine sketch contract in one
    hash gate."""
    ev = events_stream.stream_events(spark, sf_dir)
    counters = _drain(cms_pipeline(ev), "stream_user_cms", spark)
    per_user = _sketch._user_counts(_load_events_batch(spark, sf_dir))
    return _sketch._cms_serve(per_user, counters)


def cms_pipeline(events: DataFrame) -> DataFrame:
    """(r, bucket, cnt) streaming CMS counter aggregation — the same
    exact-integer bucket function as the batch ``sketch._cms_expand``,
    as a single streaming groupBy so each micro-batch's partials
    SUM-merge into the state store (factored for the multi-micro-batch
    replay pytest).  The batch entry's per-user pre-aggregation is a
    chained agg (unsupported on streams); the map-side partial combine
    of the single groupBy bounds the per-batch shuffle at d·w rows
    either way."""
    return (
        _sketch._cms_expand(events.select("user_id"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _load_events_batch(spark: SparkSession, sf_dir: str):
    from .events import load_events

    return load_events(spark, sf_dir)


def stream_user_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming membership summary where the BLOOM BIT SET IS THE
    STREAMING STATE (round 8): distinct (day, bit-position) rows as the
    streaming aggregation — the presence of a row IS the set bit, so
    each micro-batch folds in by set union (bitwise OR in bitmap form),
    idempotent under re-delivery because a∪a=a; no watermark needed.
    State is ≤ m·d rows per day REGARDLESS of user cardinality.  The
    month merge + membership/probe census serve from the drained bits
    through the SAME factored code as the batch entry, and the oracle
    is the batch month-grain Bloom SQL verbatim."""
    ev = events_stream.stream_events(spark, sf_dir)
    day_bits = _drain(bloom_bits_pipeline(ev), "stream_user_bloom", spark)
    day_user = (
        _load_events_batch(spark, sf_dir)
        .select(_sketch._day_us().alias("day_us"), "user_id")
        .distinct()
    )
    return _sketch._bloom_monthly_serve(spark, day_bits, day_user)


def bloom_bits_pipeline(events: DataFrame) -> DataFrame:
    """(day_us, pos) distinct streaming bit rows — the same exact-integer
    position function as the batch ``sketch._bloom_positions`` (factored
    for the replay pytest).  Expressed as a groupBy so the state store
    holds one row per set bit; the count column is dropped at serve."""
    keyed = events.select(_sketch._day_us().alias("day_us"), "user_id")
    return (
        _sketch._bloom_positions(keyed, "user_id")
        .groupBy("day_us", "pos")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select("day_us", "pos")
    )


def stream_value_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming percentiles where the EQUI-WIDTH HISTOGRAM IS THE
    STREAMING STATE (round 8): per-(day, bin) COUNT as the streaming
    aggregation — bin counts are linear in the input, so micro-batch
    partials SUM-merge into the store (the same merge law the batch
    month entry proves across grains); state ≤ B rows per day.  The
    month merge + exact-integer percentile extraction serve from the
    drained frame through the SAME factored code as the batch entry, and
    the streaming aggregation is the batch ``sketch._daily_hist_of``
    itself; oracle = the batch month-grain histogram SQL verbatim."""
    ev = events_stream.stream_events(spark, sf_dir)
    daily = _drain(_sketch._daily_hist_of(ev), "stream_value_hist", spark)
    return _sketch._hist_monthly_serve(daily)


def bottomk_state_stream(rows: DataFrame, k: int) -> DataFrame:
    """Per-day bottom-k GroupState fold (round 8): the order-statistic
    streaming state shared by the KMV and quantile-sample twins.  Input
    is a stream of (day_us, h, *payload) rows, every column a bigint —
    no payload for KMV's ``sketch._kmv_rows``, ``cents`` for the row
    sample's ``sketch._qsample_rows``.  Each micro-batch min-k-merges
    into the day's ≤ k-row state (a semilattice — min-k(S∪S) =
    min-k(S) — so re-delivery is absorbed and NO watermark is needed;
    a re-delivered hash keeps its latest payload), and the group emits
    a VERSIONED snapshot of its surviving rows (append-mode file sinks
    can't retract; the max-ver snapshot per day is the final sketch —
    the same convention as mg_state_stream).  State is ≤ k rows per day
    FOREVER regardless of volume."""
    import pyspark.sql.types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    cols = [c for c in rows.columns if c != "day_us"]  # h, *payload
    out_schema = T.StructType(
        [T.StructField(c, T.LongType()) for c in ("day_us", "ver", *cols)]
    )
    state_schema = T.StructType(
        [T.StructField("ver", T.LongType())]
        + [T.StructField(c, T.ArrayType(T.LongType())) for c in cols]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (day_us,) = key
        ver, *held = state.get if state.exists else (0, *[[] for _ in cols])
        pool = (
            pd.concat(
                [pd.DataFrame(dict(zip(cols, held)), dtype="int64")]
                + [pdf[cols].astype("int64") for pdf in pdfs]
            )
            .drop_duplicates("h", keep="last")
            .sort_values("h")
            .head(k)
        )
        ver += 1
        state.update((ver, *[pool[c].tolist() for c in cols]))
        yield pool.assign(day_us=day_us, ver=ver)[["day_us", "ver", *cols]]

    return rows.groupBy("day_us").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _latest_snapshot(drained: DataFrame, key: str, cols: list) -> DataFrame:
    """Distinct ``cols`` of the max-``ver`` rows per ``key`` from a
    versioned append drain (the final state of each GroupState group)."""
    from pyspark.sql import Window

    wv = Window.partitionBy(key)
    return (
        drained.withColumn("mv", F.max("ver").over(wv))
        .where(F.col("ver") == F.col("mv"))
        .select(*cols)
        .distinct()
    )


def _bottomk_daily(
    spark: SparkSession, sf_dir: str, rows, k: int, name: str
) -> DataFrame:
    """The final per-day bottom-k sketch of the event stream: the
    :func:`bottomk_state_stream` fold of ``rows(stream)``, drained and
    cut to each day's latest snapshot (same columns as ``rows``)."""
    folded = rows(events_stream.stream_events(spark, sf_dir))
    drained = _drain(
        bottomk_state_stream(folded, k), name, spark, mode="append"
    )
    return _latest_snapshot(drained, "day_us", folded.columns)


def stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count where the KMV BOTTOM-K SKETCH IS THE
    STREAMING STATE (round 8): per-day k-smallest user-day hashes in
    GroupState, min-k-merged per micro-batch — the order-statistic
    member completing the sketch-as-streaming-state family (HLL
    register-MAX r7; CMS counter-SUM, MG truncating-union, Bloom
    bit-OR, histogram bin-SUM r8).  The folded rows are the batch
    sketch's own ``sketch._kmv_rows``; the drained daily sketches serve
    the month grain through the SAME factored code as the batch entry;
    oracle = the batch month-grain KMV SQL verbatim (min-k is a
    semilattice, so the final state equals the batch daily sketch under
    ANY batching — bit-deterministic, unlike MG's candidates)."""
    daily = _bottomk_daily(
        spark, sf_dir, _sketch._kmv_rows, _sketch.KMV_K, "stream_kmv"
    )
    return _sketch._kmv_monthly_serve(
        spark, daily, _load_events_batch(spark, sf_dir)
    )


def stream_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantiles where the BOTTOM-K ROW SAMPLE IS THE
    STREAMING STATE (round 8): per-day k-smallest (60-bit hash, cents)
    rows in GroupState — the payload-carrying min-k that turns the
    membership sketch into a quantile sketch, min-k-merged per
    micro-batch (semilattice, re-delivery absorbed, no watermark); the
    folded rows are the batch sample's own ``sketch._qsample_rows``.
    Month merge + exact-integer rank quantiles serve through the SAME
    factored code as the batch entry; oracle = the batch month-grain
    quantile-sample SQL verbatim."""
    daily = _bottomk_daily(
        spark, sf_dir, _sketch._qsample_rows, _sketch.QSAMPLE_K,
        "stream_value_quantiles",
    )
    return _sketch._qsample_monthly_serve(
        daily, _load_events_batch(spark, sf_dir)
    )


# --------------------------- streaming Misra-Gries state (round 8)
# Key space is partitioned into MG_STREAM_GROUPS by user-id hash; each
# group holds ONE Misra-Gries summary of capacity MG_CAPACITY in
# GroupState, folded per micro-batch by the truncating union.  State is
# bounded at GROUPS × CAPACITY rows forever.
MG_STREAM_GROUPS = 8


def mg_state_stream(events: DataFrame, capacity: int = _sketch.MG_CAPACITY) -> DataFrame:
    """Streaming MG candidate generation: (grp, ver, user_id) rows, one
    snapshot of each group's surviving keys per micro-batch the group
    appears in (``ver`` increments per fold; the LATEST version is the
    final summary — append-mode file sinks can't retract, so snapshots
    are versioned instead).  Factored for the replay pytest."""
    import pyspark.sql.types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("grp", T.IntegerType()),
            T.StructField("ver", T.LongType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ver", T.LongType()),
            T.StructField("keys", T.ArrayType(T.LongType())),
            T.StructField("counts", T.ArrayType(T.LongType())),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (grp,) = key
        if state.exists:
            ver, keys, counts = state.get
            counters = dict(zip(keys, counts))
        else:
            ver, counters = 0, {}
        for pdf in pdfs:
            counters = _sketch._mg_merge(counters, pdf["key"], capacity)
        ver += 1
        state.update((ver, list(counters), list(counters.values())))
        yield pd.DataFrame(
            {
                "grp": grp,
                "ver": ver,
                "user_id": pd.Series(list(counters), dtype="int64"),
            }
        )

    grouped = events.select(
        F.pmod(F.col("user_id"), F.lit(MG_STREAM_GROUPS))
        .cast("int")
        .alias("grp"),
        F.col("user_id").alias("key"),
    )
    return grouped.groupBy("grp").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters where the MISRA-GRIES SUMMARY IS THE
    STREAMING STATE (round 8, VERDICT r7 item 4 — the MG analog of
    stream_dau_hll, completing streaming twins for the mergeable-summary
    family): per-group MG summaries of capacity MG_CAPACITY folded by
    the truncating union across micro-batches in ``GroupState``
    (``applyInPandasWithState`` — MG's subtract step is not an SQL
    aggregate), state bounded at GROUPS × C rows forever.

    Determinism despite MG's batch-boundary sensitivity: the drained
    summary is only the CANDIDATE set, and it is a guaranteed SUPERSET
    of the true heavy hitters under ANY batching — a user's events all
    hash to one group, so its group count equals its total count, and
    the mergeable-summaries bound (Agarwal et al., PODS'12) keeps every
    key with count > N_grp/(C+1) ≥ its survival threshold in the
    summary.  The exact verify pass (the same second pass the batch
    ``events_heavy_hitters`` runs) then counts candidates exactly and
    thresholds at N/(C+1) — so the OUTPUT is deterministic and the
    oracle is the batch ``_HH_ORACLE`` verbatim: streaming/batch parity
    and the superset guarantee in one hash gate."""
    ev = events_stream.stream_events(spark, sf_dir).select("user_id")
    drained = _drain(
        mg_state_stream(ev), "stream_heavy_hitters", spark, mode="append"
    )
    cand = _latest_snapshot(drained, "grp", ["user_id"])
    e = _load_events_batch(spark, sf_dir).select("user_id")
    return _sketch._hh_verify(e, cand)


def _corpus_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The document stream minus the held-out eval split (the eval
    documents are the contamination registry, not corpus)."""
    return events_stream.stream_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % EVAL_STRIDE != 0
    )


def _eval_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct DECON_W_GATE-gram digests of the eval split — the static,
    broadcast side of the online contamination probes, built by the batch
    ``dedup._substr_occ``."""
    from ..sources.tables import load_table
    from .dedup import _substr_occ

    ev_docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % EVAL_STRIDE == 0)
        .select("doc_id", "text")
    )
    return _substr_occ(ev_docs, DECON_W_GATE).select("h").distinct()


def _wgram_md5s(tokens: str):
    """Stream-side twin of ``_substr_occ``'s digests: md5 of every
    space-joined DECON_W_GATE-token window of the ``tokens`` array, via
    ``transform`` + ``slice`` (the batch ``lead()`` window is illegal on
    a stream) — bit-identical digests, in position order."""
    w = DECON_W_GATE
    return F.transform(
        F.sequence(F.lit(1), F.size(tokens) - (w - 1)),
        lambda p: F.md5(F.concat_ws(" ", F.slice(F.col(tokens), p, w))),
    )


def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE eval-set decontamination: the continuous-crawl twin of
    ``dedup.text_decontaminate`` — an incoming DOCUMENT stream is checked
    per micro-batch against the held-out eval split's w-gram digests, so
    contaminated docs are flagged at ingest time instead of by a later
    batch sweep (the shape a training-data pipeline runs in front of its
    landing zone). Output: per flagged doc, the collision census
    (n_hits, first_pos, last_pos).

    Plan: the static side (distinct eval digests — small by construction,
    the same asymmetry the batch entry exploits) is broadcast into every
    task; the stream side is a STATELESS narrow pipeline — tokenize,
    rolling w-gram digests via ``transform`` + ``slice`` over the token
    array (the batch path's ``lead()`` window is illegal on a stream;
    the array form is the same md5-over-space-joined-tokens digest,
    bit-identical), then the broadcast join. No watermark, no state
    store: memory is bounded per micro-batch at ANY ingest rate, and the
    static side is re-read per batch so a growing eval registry is
    picked up for free (same contract as stream_enriched). The per-doc
    rollup runs on the drained frame — seed hits are
    output-proportional, orders smaller than the corpus. Gate window
    w = DECON_W_GATE (fixture-scale, non-vacuous; see the batch gate's
    note); deployments pass the GPT-3 default through the batch entry."""
    from ..functions import texts

    d = (
        _corpus_stream(spark, sf_dir)
        .select("doc_id", texts.tokens(F.col("text")).alias("t"))
        .where(F.size("t") >= DECON_W_GATE)
    )
    occ = d.select(
        "doc_id", F.posexplode(_wgram_md5s("t")).alias("i", "h")
    ).select("doc_id", (F.col("i") + 1).cast("long").alias("pos"), "h")
    seeds = occ.join(F.broadcast(_eval_digests(spark, sf_dir)), "h").select(
        "doc_id", "pos"
    )

    drained = _drain(seeds, "stream_decontaminate", spark, mode="append")
    return drained.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min("pos").alias("first_pos"),
        F.max("pos").alias("last_pos"),
    )


def stream_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE curation funnel — the streaming twin of the batch
    ``corpus_curate`` gates plus the online decontamination flag, per
    document: the shape a training-data pipeline runs in front of its
    landing zone so every crawl batch lands already labeled.  Three
    drains over the same document stream, composed post-drain into the
    per-doc ledger (doc_id, lang, n_tokens, q_keep, exact_keep,
    contaminated, kept):

    - **gate rows** (STATELESS, append): per-doc token count, TTR and
      content hash — narrow projections, bounded per micro-batch at any
      ingest rate.
    - **exact keeper** (STATEFUL aggregation, complete): ``min(doc_id)``
      per content hash.  State is one row per DISTINCT content — the
      same state a batch exact-dedup shuffles, maintained continuously;
      ``min`` is order-insensitive, so arrival order never matters and
      the drained result equals the batch window keeper bit-for-bit.
    - **contamination seeds** (STATELESS, append): the
      ``stream_decontaminate`` digest probe — w-gram md5s joined against
      the BROADCAST eval-split digest registry, no watermark, no state.

    The eval split (doc_id % EVAL_STRIDE == 0) is held out of the
    curated stream (it is the registry, not corpus).  ``kept`` =
    quality ∧ exact-keeper ∧ ¬contaminated — the near-dup/SemDeDup gates
    are index lookups in production (their incremental indexes,
    ``curate_index.py``) rather than stream state: LSH banding needs the
    accumulated signature store, which is exactly what the nightly
    ``curate_index_update`` maintains; this entry is the per-arrival
    half of that split.  Reference parity: the reference
    (`Lucas files/finalversion`) has no streaming or curation surface —
    extension for the training-data mandate."""
    from ..functions import texts
    from .curate import QUALITY_MIN_TTR_E6
    from .text import QUALITY_MAX_TOKENS, QUALITY_MIN_TOKENS

    d = (
        _corpus_stream(spark, sf_dir)
        .select(
            "doc_id",
            "lang",
            texts.tokens(F.col("text")).alias("t"),
            F.md5("text").alias("h"),
        )
    )

    flags = d.select(
        "doc_id",
        "lang",
        "h",
        F.size("t").cast("long").alias("n_tokens"),
        F.expr("div(size(array_distinct(t)) * 1000000, size(t))").alias(
            "ttr_e6"
        ),
    )
    fl = _drain(flags, "stream_curate_flags", spark, mode="append")

    keeper = d.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    kp = _drain(keeper, "stream_curate_keeper", spark)

    seeds = (
        d.where(F.size("t") >= DECON_W_GATE)
        .select("doc_id", F.explode(_wgram_md5s("t")).alias("sh"))
        .join(
            F.broadcast(_eval_digests(spark, sf_dir)),
            F.col("sh") == F.col("h"),
        )
        .select("doc_id")
    )
    cont = (
        _drain(seeds, "stream_curate_seeds", spark, mode="append")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )

    return (
        fl.join(kp, "h")
        .join(cont, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            (
                (F.col("n_tokens") >= QUALITY_MIN_TOKENS)
                & (F.col("n_tokens") <= QUALITY_MAX_TOKENS)
                & (F.col("ttr_e6") > QUALITY_MIN_TTR_E6)
            ).alias("q_keep"),
            (F.col("doc_id") == F.col("keeper")).alias("exact_keep"),
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
        )
        .withColumn(
            "kept",
            F.col("q_keep") & F.col("exact_keep") & ~F.col("contaminated"),
        )
    )


def stream_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE ANN serving: query vectors arrive as a STREAM and are
    answered against the frozen IVF index — the shape a retrieval
    service runs in front of a vector store.  Per micro-batch,
    STATELESS end-to-end:

    - **probe selection**: each query row's NPROBE nearest lists, by
      the batch entry's own retrieve (``similarity._ivf_retrieve``).
      Its ``_nearest`` is a stateless ``mapInPandas`` map against the
      k-row centroid table that ``similarity._ivf_lists`` collects once
      at plan-build time (steering-sized), so it runs on the append
      stream unchanged and without a window (windows are illegal on an
      un-watermarked stream).
    - **list search**: the (query, cluster) probes join the static
      inverted-list frame (corpus assignment, localCheckpointed so
      per-batch re-planning reads computed blocks, never re-runs the
      assignment) and verify with the exact integer cosine.

    The query frame is the batch ``similarity._queries`` over the
    quantized stream.  Candidates drain through the append file sink;
    the per-query top-k cut (``similarity._top_n``) runs on the drained
    frame (output-proportional — the stream_decontaminate rollup
    precedent).  The oracle is the batch ``sim_ivf`` serving path
    VERBATIM (``_ivf_oracle_sql``): the hash gate pins that streaming
    arrival changes nothing."""
    from .similarity import (
        TOPK,
        _ivf_lists,
        _ivf_retrieve,
        _quantize_vectors,
        _quantized,
        _queries,
        _query_sim,
        _seed_centroids,
        _top_n,
    )

    base = _quantized(spark, sf_dir).cache()
    cents, lists = _ivf_lists(base, _seed_centroids(base), 1)
    # static inverted lists: corpus assignment under the frozen seeds
    members = lists.join(base, "vec_id").localCheckpoint()
    qstream = _queries(
        _quantize_vectors(events_stream.stream_table(spark, sf_dir, "embeddings"))
    )
    cand = _ivf_retrieve(qstream, cents, members).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _query_sim().alias("sim_e6"),
    )
    drained = _drain(cand, "stream_ann_probe", spark, mode="append")
    return _top_n(
        drained, "query_id", TOPK, F.desc("sim_e6"), F.asc("neighbor_id")
    ).select("query_id", "neighbor_id", "sim_e6", F.col("rank").cast("int").alias("rank"))


def _curate_stream_oracle_sql() -> str:
    from .corpus import EVAL_STRIDE
    from .curate import QUALITY_MIN_TTR_E6
    from .dedup import DECON_W_GATE
    from .text import QUALITY_MAX_TOKENS, QUALITY_MIN_TOKENS

    w = DECON_W_GATE
    return f"""
WITH corpus AS (
    SELECT doc_id, lang, text, string_split(text, ' ') AS t
    FROM documents WHERE doc_id % {EVAL_STRIDE} <> 0
),
ev AS (
    SELECT DISTINCT md5(array_to_string(t[p:p+{w - 1}], ' ')) AS h
    FROM (SELECT string_split(text, ' ') AS t FROM documents
          WHERE doc_id % {EVAL_STRIDE} = 0),
         unnest(range(1, len(t) - {w} + 2)) AS u(p)
    WHERE len(t) >= {w}
),
cont AS (
    SELECT DISTINCT doc_id
    FROM corpus, unnest(range(1, len(t) - {w} + 2)) AS u(p)
    WHERE len(t) >= {w}
      AND md5(array_to_string(t[p:p+{w - 1}], ' ')) IN (SELECT h FROM ev)
),
base AS (
    SELECT doc_id, lang,
           CAST(len(t) AS BIGINT) AS n_tokens,
           (len(list_distinct(t)) * 1000000) // len(t) AS ttr_e6,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
    FROM corpus
)
SELECT b.doc_id, b.lang, b.n_tokens,
       (b.n_tokens BETWEEN {QUALITY_MIN_TOKENS} AND {QUALITY_MAX_TOKENS}
        AND b.ttr_e6 > {QUALITY_MIN_TTR_E6}) AS q_keep,
       b.doc_id = b.keeper AS exact_keep,
       c.doc_id IS NOT NULL AS contaminated,
       ((b.n_tokens BETWEEN {QUALITY_MIN_TOKENS} AND {QUALITY_MAX_TOKENS}
         AND b.ttr_e6 > {QUALITY_MIN_TTR_E6})
        AND b.doc_id = b.keeper
        AND c.doc_id IS NULL) AS kept
FROM base b LEFT JOIN cont c USING (doc_id)
"""


def _decontaminate_stream_oracle_sql() -> str:
    from .corpus import EVAL_STRIDE
    from .dedup import DECON_W_GATE

    w = DECON_W_GATE
    return f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
occ AS (
    SELECT doc_id, CAST(p AS BIGINT) AS pos,
           md5(array_to_string(t[p:p+{w - 1}], ' ')) AS h
    FROM toks, unnest(range(1, len(t) - {w} + 2)) AS u(p)
    WHERE len(t) >= {w}
),
ev AS (SELECT DISTINCT h FROM occ WHERE doc_id % {EVAL_STRIDE} = 0),
seeds AS (
    SELECT doc_id, pos FROM occ
    WHERE doc_id % {EVAL_STRIDE} <> 0 AND h IN (SELECT h FROM ev)
)
SELECT doc_id, COUNT(*) AS n_hits,
       MIN(pos) AS first_pos, MAX(pos) AS last_pos
FROM seeds GROUP BY doc_id
"""


QUERIES = {
    "stream_transitions": stream_transitions,
    "stream_decontaminate": stream_decontaminate,
    "stream_curate": stream_curate,
    "stream_ann_probe": stream_ann_probe,
    "stream_view_purchase_join": stream_view_purchase_join,
    "stream_view_purchase_outer": stream_view_purchase_outer,
    "stream_view_purchase_full": stream_view_purchase_full,
    "stream_dau": stream_dau,
    "stream_hourly": stream_hourly,
    "stream_sessions": stream_sessions,
    "stream_enriched": stream_enriched,
    "stream_dedup": stream_dedup,
    "stream_dau_hll": stream_dau_hll,
    "stream_user_cms": stream_user_cms,
    "stream_heavy_hitters": stream_heavy_hitters,
    "stream_user_bloom": stream_user_bloom,
    "stream_value_hist": stream_value_hist,
    "stream_kmv": stream_kmv,
    "stream_value_quantiles": stream_value_quantiles,
}

# stream_transitions "shares its oracle" with the batch twin — make
# that literal: reference events_transitions' SQL instead of a copy,
# so an edit to the batch oracle reaches the streaming parity check.
from .events import ORACLE_SQL as _EVENTS_ORACLE_SQL
from . import similarity as _similarity

_TRANSITIONS_ORACLE = _EVENTS_ORACLE_SQL["events_transitions"]

ORACLE_SQL = {
    "stream_transitions": _TRANSITIONS_ORACLE,
    "stream_decontaminate": _decontaminate_stream_oracle_sql(),
    "stream_curate": _curate_stream_oracle_sql(),
    # the batch IVF serving-path oracle, verbatim: streaming arrival
    # must change nothing (see stream_ann_probe's docstring).
    "stream_ann_probe": _similarity._ivf_oracle_sql(),
    "stream_view_purchase_join": _VP_JOIN_ORACLE,
    "stream_view_purchase_outer": _VP_OUTER_ORACLE,
    "stream_view_purchase_full": _VP_FULL_ORACLE,
    "stream_dau": _DAU_ORACLE,
    "stream_hourly": _HOURLY_ORACLE,
    "stream_sessions": _SESSIONS_ORACLE,
    "stream_enriched": _ENRICHED_ORACLE,
    "stream_dedup": _DEDUP_ORACLE,
    # the batch HLL oracle, verbatim: streaming/batch parity and the
    # cross-engine register contract in one gate (see stream_dau_hll).
    "stream_dau_hll": _sketch._HLL_ORACLE,
    # the batch CMS / heavy-hitter oracles, verbatim (round 8): the
    # streaming sketch-state twins must reproduce the batch results
    # bit-for-bit (see the entries' docstrings for why that holds
    # despite MG's batch-boundary sensitivity).
    "stream_user_cms": _sketch._CMS_ORACLE,
    "stream_heavy_hitters": _sketch._HH_ORACLE,
    "stream_user_bloom": _sketch._BLOOM_MONTHLY_ORACLE,
    "stream_value_hist": _sketch._HIST_MONTHLY_ORACLE,
    "stream_kmv": _sketch._KMV_MONTHLY_ORACLE,
    "stream_value_quantiles": _sketch._qsample_monthly_oracle_sql(),
}
