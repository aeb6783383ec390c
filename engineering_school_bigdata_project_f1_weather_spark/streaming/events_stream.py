"""Structured Streaming ingest of the testdata tables.

The reference is pure batch (SURVEY §2.10 — an @monthly Airflow DAG is its
only notion of time), so this module is the streaming *extension* surface
(SURVEY §7.1 step 6): the same event analytics as ``operators/events.py``
expressed as an incremental plan:

- ``stream_table``         : file-source stream over one testdata parquet.
- ``stream_events``        : the events stream plus its ``event_time``.
- ``hourly_counts_stream`` : watermarked tumbling-window agg.
- ``sessions_stream``      : watermarked session_window (30-min gap) agg.
- ``dedup_stream``         : exactly-once event dedup with bounded state
                             (``dropDuplicatesWithinWatermark``).
- ``enriched_counts_stream``: stream-static join against a dimension
                             table + windowed rollup.
- ``run_available_now_to_parquet``: the one drain — availableNow through
                             a parquet file sink, complete or append mode.

Batch/stream parity runs through the file-sink drain: the ``stream_*``
registry entries (``operators/streamq.py``) drain these plans and are
hash-checked against the batch SQL oracles, and tests/test_streaming.py
replays them file by file against the batch operators. The memory sink
(``run_available_now``) remains only for small test results.

Scale notes: file-source streams list incrementally (maxFilesPerTrigger),
the window aggs are stateful with watermark-based eviction — state size is
bounded by (windows in flight × keys), not history. On a cluster this is
the standard continuous-ingest shape; checkpointing makes it exactly-once.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.localrel import empty_rel
from ..schemas import TESTDATA_SCHEMAS

WATERMARK = "1 hour"
SESSION_GAP = "30 minutes"


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over the ``name`` parquet under ``sf_dir`` —
    the continuous-ingest shape of any testdata table (documents for the
    online curation drains, embeddings for the streaming ANN probe)."""
    return (
        spark.readStream.schema(TESTDATA_SCHEMAS[name])
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of events with an ``event_time`` timestamp.

    The parquet stores TIMESTAMP(MICROS) (see operators/events.py);
    ``event_time`` aliases it for the windowing APIs.
    """
    return stream_table(spark, sf_dir, "events").withColumn(
        "event_time", F.col("ts")
    )


def hourly_counts_stream(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windowed counts with late-data watermark."""
    return (
        events.withWatermark("event_time", WATERMARK)
        .groupBy(F.window("event_time", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
            ).alias("value_cents_sum"),
        )
        .select(
            F.col("window.start").alias("hour"),
            "event_type",
            "n_events",
            "value_cents_sum",
        )
    )


def sessions_stream(events: DataFrame) -> DataFrame:
    """Session-window (30-min inactivity gap) aggregation per user."""
    return (
        events.withWatermark("event_time", WATERMARK)
        .groupBy(F.session_window("event_time", SESSION_GAP), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on ``event_id`` with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps each key in state only for the
    watermark delay — at 100 TB/day ingest the state store holds one delay
    window of keys, not the full history (a plain ``dropDuplicates`` on a
    stream would grow state forever). Re-deliveries inside the delay are
    deduped against state; rows older than the watermark are dropped as
    late, so an at-least-once upstream source still yields exactly-once
    rows downstream."""
    return events.withWatermark("event_time", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def enriched_counts_stream(events: DataFrame, users: DataFrame) -> DataFrame:
    """Stream-static join + windowed rollup: tag each event with the
    user's market segment from a static dimension, then count per
    (hour, segment). The static side is broadcast to every task — no
    stream-side shuffle for the join, and the dimension is re-read per
    micro-batch so slowly-changing updates are picked up for free."""
    dim = F.broadcast(users.select("c_custkey", "c_mktsegment"))
    return (
        events.withWatermark("event_time", WATERMARK)
        .join(dim, events.user_id == dim.c_custkey, "left")
        .groupBy(F.window("event_time", "1 hour"), F.col("c_mktsegment"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("hour"),
            F.col("c_mktsegment").alias("segment"),
            "n_events",
        )
    )


def run_available_now(df: DataFrame, table_name: str, spark: SparkSession) -> DataFrame:
    """Drain the stream with the availableNow trigger into a memory sink and
    return the materialized result (test/dev helper; the memory sink holds
    the full result on the driver — use ``run_available_now_to_parquet``
    for anything whose result scales with the data)."""
    q = (
        df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(table_name)


def run_available_now_to_parquet(
    df: DataFrame, path: str, spark: SparkSession, mode: str = "complete"
) -> DataFrame:
    """Drain the stream with the availableNow trigger through a file sink
    and return a lazy reader over the drained directory.

    ``mode="complete"`` (aggregations): each micro-batch overwrites the
    directory with the full current result, so after the final batch it
    holds the completed aggregate (the native parquet sink is
    append-only, which with availableNow can leave the final watermark
    window unemitted). ``mode="append"`` (stateful non-aggregations —
    dedup, stream-stream joins, GroupState folds — where complete mode
    is illegal): each surviving row is emitted exactly once, so per-batch
    appends accumulate precisely the final result. Either way the write
    is a normal distributed parquet write — executors write their own
    partitions and no result row ever lands on the driver, at any scale.
    The returned DataFrame is a plain ``spark.read.parquet`` over the
    drained files."""

    import os
    import shutil

    write_mode = {"complete": "overwrite", "append": "append"}[mode]
    # Callers may reuse a drain directory across invocations; a stale
    # result must never survive into a run whose source fires no batch.
    shutil.rmtree(path, ignore_errors=True)

    def _write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode(write_mode).parquet(path)

    q = (
        df.writeStream.foreachBatch(_write_batch)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not os.path.isdir(path):  # empty source: no batch ever fired
        return empty_rel(spark, df.schema)
    return spark.read.parquet(path)
