"""Batch/stream parity: the streaming plans must produce the same results
as the batch operators when drained with availableNow."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from engineering_school_bigdata_project_f1_weather_spark.operators.events import (
    events_hourly,
    load_events,
)
from engineering_school_bigdata_project_f1_weather_spark.streaming import (
    events_stream,
    stateful,
)

from tests.test_etl import raw_dir  # noqa: F401


def test_hourly_stream_matches_batch(spark, sf_dir):
    stream = events_stream.stream_events(spark, sf_dir)
    out = events_stream.run_available_now(
        events_stream.hourly_counts_stream(stream), "hourly_mem", spark
    )
    got = {
        (r.hour, r.event_type): (r.n_events, r.value_cents_sum)
        for r in out.collect()
    }
    batch = events_hourly(spark, sf_dir).collect()
    # batch hour_us is epoch-micros; stream hour is a session-tz timestamp of
    # the same instant — compare via epoch micros.
    exp = {}
    for r in batch:
        exp[(r.hour_us, r.event_type)] = (r.n_events, r.value_cents_sum)
    got_us = {
        (int(k[0].timestamp() * 1_000_000), k[1]): v for k, v in got.items()
    }
    assert got_us == exp


def test_session_stream_matches_batch_session_window(spark, sf_dir):
    stream = events_stream.stream_events(spark, sf_dir)
    out = events_stream.run_available_now(
        events_stream.sessions_stream(stream), "sessions_mem", spark
    )
    streamed = {
        (r.user_id, r.session_start, r.n_events) for r in out.collect()
    }
    # batch equivalent with the same session_window operator
    batch_events = load_events(spark, sf_dir).withColumn(
        "event_time", F.col("ts")
    )
    batch = (
        batch_events.groupBy(
            F.session_window("event_time", events_stream.SESSION_GAP),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id",
            "n_events",
        )
        .collect()
    )
    batched = {(r.user_id, r.session_start, r.n_events) for r in batch}
    assert streamed == batched
    assert len(streamed) > 0


def test_dedup_stream_drops_redelivered_events(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark: feed every event TWICE (two identical
    parquet files, one micro-batch each — an at-least-once source) and
    assert the deduped stream emits each event_id exactly once."""
    from engineering_school_bigdata_project_f1_weather_spark.schemas import TESTDATA_SCHEMAS

    src = load_events(spark, sf_dir).drop("ts_us")
    dup_dir = str(tmp_path / "redelivered")
    src.coalesce(1).write.parquet(dup_dir, mode="overwrite")
    src.coalesce(1).write.parquet(dup_dir, mode="append")

    stream = (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(dup_dir)
        .withColumn("event_time", F.col("ts"))
    )
    q = (
        events_stream.dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("dedup_mem")
    n_unique = src.select("event_id").distinct().count()
    assert out.count() == n_unique
    assert out.select("event_id").distinct().count() == n_unique


def test_stream_dedup_entry_injection_not_vacuous(spark, sf_dir):
    """The stream_dedup registry entry simulates re-delivery in-plan; this
    pins that the injected union really does carry duplicates (else the
    dedup proves nothing) and that the drained result restores the
    original row count exactly."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import streamq

    n_events = load_events(spark, sf_dir).count()
    n_injected = load_events(spark, sf_dir).where(F.col("event_id") % 7 == 0).count()
    assert n_injected > 0
    out = streamq.stream_dedup(spark, sf_dir)
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_enriched_stream_matches_batch_join(spark, sf_dir):
    """Stream-static join parity: hourly per-segment counts from the
    stream must equal the same join+agg computed in batch."""
    from engineering_school_bigdata_project_f1_weather_spark.sources.tables import load_table

    users = load_table(spark, sf_dir, "customer")
    stream = events_stream.stream_events(spark, sf_dir)
    out = events_stream.run_available_now(
        events_stream.enriched_counts_stream(stream, users), "enriched_mem", spark
    )
    streamed = {
        (int(r.hour.timestamp() * 1_000_000), r.segment): r.n_events
        for r in out.collect()
    }
    batch_events = load_events(spark, sf_dir).withColumn(
        "event_time", F.col("ts")
    )
    dim = users.select("c_custkey", "c_mktsegment")
    batch = (
        batch_events.join(dim, batch_events.user_id == dim.c_custkey, "left")
        .groupBy(
            F.window("event_time", "1 hour"), F.col("c_mktsegment").alias("segment")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("hour"), "segment", "n_events")
        .collect()
    )
    batched = {
        (int(r.hour.timestamp() * 1_000_000), r.segment): r.n_events for r in batch
    }
    assert streamed == batched
    assert len(streamed) > 0


def test_stateful_user_totals_carry_across_microbatches(spark, sf_dir, tmp_path):
    """applyInPandasWithState: drain the events table file-by-file (two
    parquet halves, maxFilesPerTrigger=1) — the final per-user totals must
    equal one batch groupBy over the whole table, which requires GroupState
    to survive between micro-batches."""
    src = load_events(spark, sf_dir)  # ts timestamp + ts_us bigint micros
    half_dir = str(tmp_path / "halves")
    base = src.drop("ts_us")
    base.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        half_dir, mode="overwrite"
    )
    base.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        half_dir, mode="append"
    )

    from engineering_school_bigdata_project_f1_weather_spark.schemas import TESTDATA_SCHEMAS

    stream = (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(half_dir)
        .withColumn("ts_us", F.unix_micros("ts"))
    )
    q = (
        stateful.user_totals_stream(stream)
        .writeStream.format("memory")
        .queryName("user_totals_mem")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.recentProgress
    assert len(progress) >= 2, "expected >= 2 micro-batches (one per file)"

    # update-mode memory sink appends one row per (user, batch); totals are
    # monotone so the final state is the max-n_events row per user.
    out = spark.table("user_totals_mem").collect()
    final: dict[int, tuple[int, int, int]] = {}
    for r in out:
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            final[r.user_id] = (r.n_events, r.value_cents_sum, r.last_seen_us)

    batch = (
        src.withColumn(
            "value_cents", F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_cents").alias("value_cents_sum"),
            F.max("ts_us").alias("last_seen_us"),
        )
        .collect()
    )
    expected = {
        r.user_id: (r.n_events, r.value_cents_sum, r.last_seen_us) for r in batch
    }
    assert final == expected
    assert len(final) > 0


def test_hourly_stream_drops_late_microbatch(spark, sf_dir, tmp_path):
    """VERDICT r1 item 6: prove the 1-hour watermark actually fires.

    Micro-batches 1+2 = every event AFTER the earliest hour (two files);
    micro-batch 3 = that earliest hour, now hopelessly late (older than
    max(on-time) - 1h). THREE batches, not two: since Spark 3.4
    (statefulOperator.allowMultiple=true) late records are filtered against
    the watermark of the PREVIOUS micro-batch, so the watermark must have
    been committed one full batch before the late file arrives.
    Update-mode output: the late rows must be dropped by the watermark
    (numRowsDroppedByWatermark == n_late), so the final counts equal the
    batch aggregation over the on-time files only — and differ from the
    full table's aggregation."""
    from engineering_school_bigdata_project_f1_weather_spark.operators.events import HOUR_US
    from engineering_school_bigdata_project_f1_weather_spark.schemas import TESTDATA_SCHEMAS

    src = load_events(spark, sf_dir)
    h0_end = (
        src.agg(F.min("ts_us")).collect()[0][0] // HOUR_US
    ) * HOUR_US + HOUR_US
    late = src.where(F.col("ts_us") < h0_end)
    ontime = src.where(F.col("ts_us") >= h0_end)
    n_late = late.count()
    assert n_late > 0
    max_ontime = ontime.agg(F.max("ts_us")).collect()[0][0]
    # guarantee the late file is beyond the watermark horizon
    assert max_ontime - 3_600_000_000 > h0_end

    split_dir = str(tmp_path / "late_split")
    ontime.drop("ts_us").where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        split_dir, mode="overwrite"
    )
    ontime.drop("ts_us").where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        split_dir, mode="append"
    )
    late.drop("ts_us").coalesce(1).write.parquet(split_dir, mode="append")

    stream = (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(split_dir)
        .withColumn("event_time", F.col("ts"))
    )
    q = (
        events_stream.hourly_counts_stream(stream)
        .writeStream.format("memory")
        .queryName("late_hourly_mem")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert dropped == n_late, f"watermark dropped {dropped}, expected {n_late}"

    # update-mode sink: one row per (key, emission); counts are monotone so
    # the final value per key is the max.
    final = {}
    for r in spark.table("late_hourly_mem").collect():
        k = (int(r.hour.timestamp() * 1_000_000), r.event_type)
        v = (r.n_events, r.value_cents_sum)
        if k not in final or v[0] > final[k][0]:
            final[k] = v

    def _hourly(df):
        return {
            (r.hour_us, r.event_type): (r.n_events, r.value_cents_sum)
            for r in df.withColumn(
                "value_cents", F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
            )
            .groupBy(
                (F.col("ts_us") - F.col("ts_us") % HOUR_US).alias("hour_us"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value_cents").alias("value_cents_sum"),
            )
            .collect()
        }

    assert final == _hourly(ontime)
    assert final != _hourly(src), "late rows should be missing from the stream result"


def test_transformwithstate_matches_applyinpandaswithstate(spark, sf_dir, tmp_path):
    """The Spark 4 transformWithStateInPandas twin carries identical state
    across micro-batches: final totals equal the applyInPandasWithState
    path and the batch ground truth.

    Requires protobuf (the TWS state-server wire protocol); skipped where
    the runtime lacks it — the applyInPandasWithState path above is the
    fully-exercised stateful surface there."""
    import pytest

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        pytest.skip("transformWithStateInPandas needs protobuf (not in container)")
    src = load_events(spark, sf_dir)
    half_dir = str(tmp_path / "tws_halves")
    base = src.drop("ts_us")
    base.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        half_dir, mode="overwrite"
    )
    base.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        half_dir, mode="append"
    )

    from engineering_school_bigdata_project_f1_weather_spark.schemas import TESTDATA_SCHEMAS

    stream = (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(half_dir)
        .withColumn("ts_us", F.unix_micros("ts"))
    )
    q = (
        stateful.user_totals_stream_tws(stream)
        .writeStream.format("memory")
        .queryName("user_totals_tws_mem")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 2

    out = spark.table("user_totals_tws_mem").collect()
    final: dict[int, tuple[int, int, int]] = {}
    for r in out:
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            final[r.user_id] = (r.n_events, r.value_cents_sum, r.last_seen_us)

    batch = (
        src.withColumn(
            "value_cents", F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_cents").alias("value_cents_sum"),
            F.max("ts_us").alias("last_seen_us"),
        )
        .collect()
    )
    expected = {
        r.user_id: (r.n_events, r.value_cents_sum, r.last_seen_us) for r in batch
    }
    assert final == expected and len(final) > 0


def test_replay_datasource_streams_documents_in_batches(spark, sf_dir, tmp_path):
    """Python Data Source streaming connector: the documents parquet
    replayed in bounded micro-batches equals the batch table, with a
    streaming exact-dedup agg on top matching dedup_exact."""
    from engineering_school_bigdata_project_f1_weather_spark.sources.replay_datasource import (
        ReplayDataSource,
    )

    spark.dataSource.register(ReplayDataSource)
    path = f"{sf_dir}/documents.parquet"
    stream = (
        spark.readStream.format("replay")
        .option("path", path)
        .option("rowsPerBatch", "200")
        .load()
    )
    counts = (
        stream.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_id"))
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("replay_mem")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "replay_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 2, "expected multiple bounded micro-batches"

    got = {
        (r.content_hash, r.n_docs, r.keeper_id)
        for r in spark.table("replay_mem").collect()
    }
    from engineering_school_bigdata_project_f1_weather_spark.operators.dedup import dedup_exact

    exp = {
        (r.content_hash, r.n_docs, r.keeper_id)
        for r in dedup_exact(spark, sf_dir).collect()
    }
    assert got == exp and len(got) > 0


def test_weather_csv_stream_matches_batch(spark, raw_dir, tmp_path):  # noqa: F811
    """S3 streaming twin: the per-city weather CSVs ingested as a file
    stream (one micro-batch per file) equal the batch glob scan."""
    from engineering_school_bigdata_project_f1_weather_spark.sources import weather as weather_src
    from tests.test_etl import CITIES, WEATHER_ONLY_CITY

    stations = spark.createDataFrame(
        [(c, CITIES[c][0]) for c in CITIES if CITIES[c][1]] + [WEATHER_ONLY_CITY],
        ["city", "country"],
    )
    q = (
        weather_src.stream_weather(spark, raw_dir, stations)
        .writeStream.format("memory")
        .queryName("weather_stream_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2

    streamed = {tuple(r) for r in spark.table("weather_stream_mem").collect()}
    batch = {
        tuple(r) for r in weather_src.read_weather(spark, raw_dir, stations).collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Exactly-once across RESTARTS: drain half the source with a
    checkpointed file sink, stop, add the second half, restart from the
    same checkpoint — the sink must hold every event exactly once (no
    reprocessing of batch 1, no gaps)."""
    from engineering_school_bigdata_project_f1_weather_spark.schemas import TESTDATA_SCHEMAS

    src = load_events(spark, sf_dir).drop("ts_us")
    src_dir = str(tmp_path / "src")
    sink_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    src.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        src_dir, mode="overwrite"
    )

    def run_once():
        q = (
            spark.readStream.schema(TESTDATA_SCHEMAS["events"])
            .parquet(src_dir)
            .writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_half = spark.read.parquet(sink_dir).count()
    assert n_half == src.where(F.col("event_id") % 2 == 0).count()

    # second half arrives; restart from the same checkpoint
    src.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        src_dir, mode="append"
    )
    run_once()

    out = spark.read.parquet(sink_dir)
    assert out.count() == src.count()  # no duplicates from re-running batch 1
    assert out.select("event_id").distinct().count() == src.count()


def test_session_window_exact_gap_boundary(spark, tmp_path):
    """Boundary property probe (VERDICT r3 item 8): streamq.py documented a
    suspected half-open-gap divergence — that ``session_window`` starts a
    NEW session when an inter-event delta EQUALS the gap while the batch
    rule (``delta > gap`` starts one) keeps it in-session. Measured on a
    synthetic exact-boundary fixture: Spark MERGES touching session
    windows, so at delta == gap both engines keep ONE session and at
    delta == gap + 1 µs both start a SECOND — batch/stream parity is
    exact at the boundary. This test pins that fact so a future Spark
    behavior change (or a regression to the suspected semantics) surfaces
    here instead of as a silent oracle mismatch."""
    import datetime as dt

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from engineering_school_bigdata_project_f1_weather_spark.streaming import events_stream

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    gap = dt.timedelta(minutes=30)  # == events_stream.SESSION_GAP
    us = dt.timedelta(microseconds=1)

    def sessions_both_ways(rows, name):
        src_dir = str(tmp_path / name)
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        ).coalesce(1).write.parquet(src_dir)
        # stream_events pins pathGlobFilter=events.parquet; build the
        # stream directly over the fixture with the same shape.
        raw = (
            spark.readStream.schema(spark.read.parquet(src_dir).schema)
            .parquet(src_dir)
            .withColumn("event_time", F.col("ts"))
        )
        drained = events_stream.run_available_now(
            events_stream.sessions_stream(raw), f"boundary_{name}", spark
        ).collect()
        spark.catalog.dropTempView(f"boundary_{name}")

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        batch_starts = (
            spark.read.parquet(src_dir)
            .withColumn(
                "delta_us",
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)),
            )
            .where(
                F.col("delta_us").isNull()
                | (F.col("delta_us") > 30 * 60 * 1_000_000)
            )
            .count()
        )
        return len(drained), batch_starts

    exact = [
        (1, t0, 7, "view", 1.0, "{}"),
        (2, t0 + gap, 7, "view", 1.0, "{}"),  # delta == gap exactly
    ]
    over = [
        (1, t0, 7, "view", 1.0, "{}"),
        (2, t0 + gap + us, 7, "view", 1.0, "{}"),  # delta == gap + 1 µs
    ]
    stream_exact, batch_exact = sessions_both_ways(exact, "exact")
    stream_over, batch_over = sessions_both_ways(over, "over")

    assert (stream_exact, batch_exact) == (1, 1)  # touching windows merge
    assert (stream_over, batch_over) == (2, 2)  # past the gap: both split


def test_stream_dau_matches_batch_distinct(spark, sf_dir):
    """Chained dedup→count drain equals the exact batch COUNT(DISTINCT)
    per day (the streaming rewrite is lossless under the one-batch
    availableNow drain)."""
    import pyspark.sql.functions as F

    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        events as ev,
        streamq,
    )

    got = {
        r.day_us: r.dau for r in streamq.stream_dau(spark, sf_dir).collect()
    }
    want = {
        r.day_us: r.dau
        for r in (
            ev.load_events(spark, sf_dir)
            .groupBy(
                (F.col("ts_us") - F.col("ts_us") % (24 * ev.HOUR_US)).alias(
                    "day_us"
                )
            )
            .agg(F.count_distinct("user_id").alias("dau"))
            .collect()
        )
    }
    assert got == want


def test_stream_dau_exact_across_microbatches(spark, sf_dir, tmp_path):
    """ADVICE r4: stream_dau's exactness must not depend on the fixture
    arriving in ONE micro-batch. Split the events into two time halves
    (the boundary lands mid-day, so (user, day) pairs straddle it),
    replay with maxFilesPerTrigger=1, and the DAU must still equal the
    batch COUNT(DISTINCT) — which holds only because the dedup watermark
    (DAU_DEDUP_WATERMARK) covers the full recurrence horizon instead of
    assuming the single-batch drain."""
    import glob
    import os

    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        events as ev,
        streamq,
    )
    from engineering_school_bigdata_project_f1_weather_spark.schemas import (
        TESTDATA_SCHEMAS,
    )
    from engineering_school_bigdata_project_f1_weather_spark.streaming import (
        events_stream,
    )

    src = ev.load_events(spark, sf_dir)
    mid = src.agg(
        F.expr("percentile_approx(ts_us, 0.5, 10000)")
    ).collect()[0][0]
    half_dir = str(tmp_path / "dau_halves")
    base = src.drop("ts_us")
    base.where(F.unix_micros("ts") < mid).coalesce(1).write.parquet(
        half_dir, mode="overwrite"
    )
    base.where(F.unix_micros("ts") >= mid).coalesce(1).write.parquet(
        half_dir, mode="append"
    )
    parts = glob.glob(f"{half_dir}/part-*.parquet")
    assert len(parts) == 2, parts

    def _max_ts(p):
        return spark.read.parquet(p).agg(
            F.max(F.unix_micros("ts"))
        ).collect()[0][0]

    early, late = sorted(parts, key=_max_ts)
    os.utime(early, (1_000_000_000, 1_000_000_000))
    os.utime(late, (1_000_000_100, 1_000_000_100))

    stream = (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(half_dir)
        .withColumn("event_time", F.col("ts"))
    )
    out_dir = str(tmp_path / "dau_out")
    got_df = events_stream.run_available_now_to_parquet(
        streamq.dau_pipeline(stream), out_dir, spark
    )
    got = {
        r.day_us: r.dau
        for r in got_df.select(
            F.unix_micros(F.col("day")).alias("day_us"), "dau"
        ).collect()
    }
    want = {
        r.day_us: r.dau
        for r in (
            src.groupBy(
                (F.col("ts_us") - F.col("ts_us") % (24 * ev.HOUR_US)).alias(
                    "day_us"
                )
            )
            .agg(F.count_distinct("user_id").alias("dau"))
            .collect()
        )
    }
    assert got == want


def test_stream_stream_join_bridges_microbatches(spark, sf_dir, tmp_path):
    """Stream-stream interval join: split the events mid-stream into two
    time-half files and replay one file per micro-batch — every (view →
    purchase within 1h) pair that STRADDLES the boundary can only match
    if the join state buffers the first half's views until the second
    half's purchases arrive. Result must equal the batch interval
    self-join exactly."""
    import glob
    import os

    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        events as ev,
        streamq,
    )
    from engineering_school_bigdata_project_f1_weather_spark.schemas import (
        TESTDATA_SCHEMAS,
    )
    from engineering_school_bigdata_project_f1_weather_spark.streaming import (
        events_stream,
    )

    src = ev.load_events(spark, sf_dir)
    # choose the split point INSIDE a matched pair's (view, purchase)
    # interval so at least one match is guaranteed to straddle the
    # micro-batch boundary (a median split may land between all pairs at
    # small SF)
    v0 = src.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts_us").alias("v_us"),
    )
    p0 = src.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts_us").alias("p_us"),
    )
    a_pair = (
        v0.join(p0, "user_id")
        .where(
            (F.col("p_us") > F.col("v_us"))
            & (F.col("p_us") <= F.col("v_us") + 3600 * 1_000_000)
        )
        .orderBy("v_us")
        .limit(1)
        .collect()
    )
    assert a_pair, "fixture must contain at least one view->purchase match"
    mid = a_pair[0]["p_us"]  # view lands in half 1, purchase in half 2
    half_dir = str(tmp_path / "vp_halves")
    base = src.drop("ts_us")
    base.where(F.unix_micros("ts") < mid).coalesce(1).write.parquet(
        half_dir, mode="overwrite"
    )
    base.where(F.unix_micros("ts") >= mid).coalesce(1).write.parquet(
        half_dir, mode="append"
    )
    parts = glob.glob(f"{half_dir}/part-*.parquet")
    assert len(parts) == 2, parts

    def _max_ts(p):
        return spark.read.parquet(p).agg(
            F.max(F.unix_micros("ts"))
        ).collect()[0][0]

    early, late = sorted(parts, key=_max_ts)
    os.utime(early, (1_000_000_000, 1_000_000_000))
    os.utime(late, (1_000_000_100, 1_000_000_100))

    stream = (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(half_dir)
        .withColumn("event_time", F.col("ts"))
    )
    out_dir = str(tmp_path / "vp_out")
    got_df = events_stream.run_available_now_to_parquet(
        streamq.view_purchase_pipeline(stream), out_dir, spark, mode="append"
    )
    got = {
        (r.view_id, r.purchase_id): r.delay_us for r in got_df.collect()
    }

    v = src.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts_us").alias("v_us"),
    )
    p = src.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts_us").alias("p_us"),
    )
    want_rows = (
        v.join(p, "user_id")
        .where(
            (F.col("p_us") > F.col("v_us"))
            & (F.col("p_us") <= F.col("v_us") + 3600 * 1_000_000)
        )
        .collect()
    )
    want = {
        (r.view_id, r.purchase_id): r.p_us - r.v_us for r in want_rows
    }
    assert got == want
    # and at least one pair genuinely straddles the boundary, otherwise
    # the test isn't exercising cross-batch buffering
    straddle = [
        r for r in want_rows if r.v_us < mid <= r.p_us
    ]
    assert straddle, "fixture must produce at least one cross-batch match"


def test_stream_transitions_state_bridges_microbatches(spark, sf_dir, tmp_path):
    """applyInPandasWithState transitions: drain the events TIME-SPLIT
    into two parquet halves (maxFilesPerTrigger=1, event-time order
    preserved across batches — the operator's documented contract); the
    aggregated pair counts must equal the batch lead() matrix, which
    requires the carried last-event state to bridge the split boundary."""
    from engineering_school_bigdata_project_f1_weather_spark.schemas import (
        TESTDATA_SCHEMAS,
    )
    from engineering_school_bigdata_project_f1_weather_spark.streaming import (
        events_stream,
    )

    src = load_events(spark, sf_dir)
    mid = src.agg(
        F.expr("percentile_approx(ts_us, 0.5, 10000)")
    ).collect()[0][0]
    half_dir = str(tmp_path / "time_halves")
    base = src.drop("ts_us")
    base.where(F.unix_micros("ts") < mid).coalesce(1).write.parquet(
        half_dir, mode="overwrite"
    )
    base.where(F.unix_micros("ts") >= mid).coalesce(1).write.parquet(
        half_dir, mode="append"
    )
    # FileStreamSource orders files by MODIFICATION TIME — the two write
    # jobs usually finish far enough apart, but coarse mtime granularity
    # or a fast filesystem could tie (or invert) them and silently test
    # the no-bridge path (ADVICE r4). Pin the replay order explicitly:
    # the first-half part file gets a strictly older mtime.
    import glob
    import os

    parts = glob.glob(f"{half_dir}/part-*.parquet")
    assert len(parts) == 2, parts
    # identify the halves by CONTENT (mtime may already be tied/inverted)
    def _max_ts(p):
        return spark.read.parquet(p).agg(
            F.max(F.unix_micros("ts"))
        ).collect()[0][0]

    early, late = sorted(parts, key=_max_ts)
    os.utime(early, (1_000_000_000, 1_000_000_000))
    os.utime(late, (1_000_000_100, 1_000_000_100))
    # file order must follow time order for the replay; glob lists both
    stream = (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(half_dir)
        .withColumn("ts_us", F.unix_micros("ts"))
    )
    out_dir = str(tmp_path / "pairs")
    got_df = events_stream.run_available_now_to_parquet(
        stateful.transitions_stream(stream), out_dir, spark, mode="append"
    )
    got = {
        (r.from_type, r.to_type): r.n
        for r in got_df.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    from pyspark.sql import Window

    order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    want = {
        (r.from_type, r.to_type): r.n
        for r in src.withColumn("to_type", F.lead("event_type").over(order))
        .where(F.col("to_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stream_vp_outer_null_emits_exactly_once(spark, tmp_path):
    """Left-outer stream-stream join (round 6): an unmatched view must be
    emitted with null purchase columns EXACTLY ONCE, and only after the
    global watermark passes its match window — driven across two
    micro-batches (mtime-pinned replay, maxFilesPerTrigger=1) so the
    null row's full state lifecycle is exercised: buffered in batch 1,
    closed and emitted by batch 2's watermark advance.  A trailing
    unmatched view whose window the final watermark does NOT pass must
    not emit at all (that is the semantic difference from a batch left
    join, and exactly what the registry oracle's wm CTE replicates)."""
    import datetime as dt
    import glob
    import os

    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        streamq,
    )
    from engineering_school_bigdata_project_f1_weather_spark.schemas import (
        TESTDATA_SCHEMAS,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, minutes, user, etype):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, etype, 1.0, "{}")

    # file 1: user 1 converts in 30 min; user 2's view never converts
    half1 = [
        ev(1, 0, 1, "view"),
        ev(2, 30, 1, "purchase"),
        ev(3, 10, 2, "view"),
    ]
    # file 2: ~6 h later — advances both legs' watermarks (1 h delay)
    # far past user 2's window [t+10m, t+70m]; user 3's trailing view is
    # unmatched but its window is NOT closed by the final watermark
    # (view at 360 m, window ends 420 m, final wm = 400 - 60 = 340 m
    # on the view leg / purchase leg max 370 - 60 = 310 m -> global wm
    # 310 m < 420 m), so it must NOT emit.
    half2 = [
        ev(4, 360, 3, "view"),
        ev(5, 370, 3, "purchase"),  # 10 min later: matches user 3's view
        ev(6, 400, 4, "view"),
    ]
    half_dir = str(tmp_path / "vp_outer_halves")
    schema = TESTDATA_SCHEMAS["events"]
    spark.createDataFrame(half1, schema).coalesce(1).write.parquet(
        half_dir, mode="overwrite"
    )
    spark.createDataFrame(half2, schema).coalesce(1).write.parquet(
        half_dir, mode="append"
    )
    parts = glob.glob(f"{half_dir}/part-*.parquet")
    assert len(parts) == 2, parts

    def _max_ts(p):
        return spark.read.parquet(p).agg(
            F.max(F.unix_micros("ts"))
        ).collect()[0][0]

    early, late = sorted(parts, key=_max_ts)
    os.utime(early, (1_000_000_000, 1_000_000_000))
    os.utime(late, (1_000_000_100, 1_000_000_100))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(half_dir)
        .withColumn("event_time", F.col("ts"))
    )
    out_dir = str(tmp_path / "vp_outer_out")
    got_df = events_stream.run_available_now_to_parquet(
        streamq.view_purchase_pipeline(
            stream, how="left_outer", watermark=streamq.OUTER_WATERMARK
        ),
        out_dir,
        spark,
        mode="append",
    )
    rows = got_df.collect()
    # user 1: matched pair, exactly once, exact delay
    matched = [r for r in rows if r.view_id == 1]
    assert len(matched) == 1 and matched[0].purchase_id == 2
    assert matched[0].delay_us == 30 * 60 * 1_000_000
    # user 2: the null row, EXACTLY once (not once per micro-batch)
    nulls = [r for r in rows if r.view_id == 3]
    assert len(nulls) == 1, rows
    assert nulls[0].purchase_id is None and nulls[0].delay_us is None
    # user 3: matched within file 2
    m3 = [r for r in rows if r.view_id == 4]
    assert len(m3) == 1 and m3[0].purchase_id == 5
    # user 4: unmatched but window NOT closed by the final watermark:
    # must be absent entirely
    assert not [r for r in rows if r.view_id == 6], rows
    assert len(rows) == 3, rows


def test_stream_vp_full_purchase_null_emits_exactly_once(spark, tmp_path):
    """Full-outer stream-stream join (round 7): an unmatched PURCHASE
    must be emitted with null view columns EXACTLY ONCE, and only after
    the global watermark passes its own event time (the purchase side's
    close rule — AT the watermark, no window offset, unlike the view
    side) — driven across two micro-batches so the purchase's state
    lifecycle is exercised: buffered in batch 1, closed and emitted by
    batch 2's watermark advance.  A trailing unmatched purchase past the
    final watermark must NOT emit."""
    import datetime as dt
    import glob
    import os

    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        streamq,
    )
    from engineering_school_bigdata_project_f1_weather_spark.schemas import (
        TESTDATA_SCHEMAS,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, minutes, user, etype):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, etype, 1.0, "{}")

    # file 1: user 1 converts in 30 min; user 2's purchase has no view
    half1 = [
        ev(1, 0, 1, "view"),
        ev(2, 30, 1, "purchase"),
        ev(3, 10, 2, "purchase"),
    ]
    # file 2: ~6 h later — view leg max 360 m -> wm 300 m; purchase leg
    # max 400 m -> wm 340 m; global wm 300 m.  User 2's purchase (10 m)
    # is <= 300 m -> emits null-view exactly once.  User 4's trailing
    # purchase (400 m) is past the final wm -> must NOT emit.
    half2 = [
        ev(4, 360, 3, "view"),
        ev(5, 370, 3, "purchase"),  # matches user 3's view
        ev(6, 400, 4, "purchase"),
    ]
    half_dir = str(tmp_path / "vp_full_halves")
    schema = TESTDATA_SCHEMAS["events"]
    spark.createDataFrame(half1, schema).coalesce(1).write.parquet(
        half_dir, mode="overwrite"
    )
    spark.createDataFrame(half2, schema).coalesce(1).write.parquet(
        half_dir, mode="append"
    )
    parts = glob.glob(f"{half_dir}/part-*.parquet")
    assert len(parts) == 2, parts

    def _max_ts(p):
        return spark.read.parquet(p).agg(
            F.max(F.unix_micros("ts"))
        ).collect()[0][0]

    early, late = sorted(parts, key=_max_ts)
    os.utime(early, (1_000_000_000, 1_000_000_000))
    os.utime(late, (1_000_000_100, 1_000_000_100))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(half_dir)
        .withColumn("event_time", F.col("ts"))
    )
    out_dir = str(tmp_path / "vp_full_out")
    got_df = events_stream.run_available_now_to_parquet(
        streamq.view_purchase_pipeline(
            stream, how="full_outer", watermark=streamq.OUTER_WATERMARK
        ),
        out_dir,
        spark,
        mode="append",
    )
    rows = got_df.collect()
    # matched pairs, exactly once each
    assert len([r for r in rows if r.view_id == 1 and r.purchase_id == 2]) == 1
    assert len([r for r in rows if r.view_id == 4 and r.purchase_id == 5]) == 1
    # user 2: the null-view row, EXACTLY once, with the coalesced user_id
    nulls = [r for r in rows if r.purchase_id == 3]
    assert len(nulls) == 1, rows
    assert nulls[0].view_id is None and nulls[0].delay_us is None
    assert nulls[0].user_id == 2  # coalesced from the purchase leg
    # user 4's trailing purchase: still open -> not emitted
    assert not [r for r in rows if r.purchase_id == 6], rows


def test_stream_vp_outer_degenerate_one_leg_stream(spark, tmp_path):
    """ADVICE r6: with one leg EMPTY (a views-only stream), Spark's
    unset purchase-leg watermark stays 0, the global watermark stays 0,
    and NO null rows emit — the oracle's per-leg COALESCE(…, 0)
    sentinel must reproduce that (pre-fix, DuckDB's LEAST over a NULL
    leg could take the non-null leg's watermark and emit every view).
    Checked for both outer variants against the registry oracles run on
    the same one-leg data."""
    import duckdb

    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        streamq,
    )
    from engineering_school_bigdata_project_f1_weather_spark.schemas import (
        TESTDATA_SCHEMAS,
    )
    from engineering_school_bigdata_project_f1_weather_spark.sources.tables import (
        load_table,
    )

    one_leg_dir = str(tmp_path / "views_only")
    (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .where(F.col("event_type") != "purchase")
        .coalesce(1)
        .write.parquet(one_leg_dir, mode="overwrite")
    )
    # rename part file so the stream's pathGlobFilter finds it
    import glob
    import os
    import shutil

    part = glob.glob(f"{one_leg_dir}/part-*.parquet")[0]
    shutil.move(part, f"{one_leg_dir}/events.parquet")

    spark.createDataFrame([], TESTDATA_SCHEMAS["events"])  # schema sanity

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{one_leg_dir}/events.parquet')"
    )
    for how, entry_name in [
        ("left_outer", "stream_view_purchase_outer"),
        ("full_outer", "stream_view_purchase_full"),
    ]:
        joined = streamq.view_purchase_pipeline(
            events_stream.stream_events(spark, one_leg_dir),
            how=how,
            watermark=streamq.OUTER_WATERMARK,
        )
        out_dir = str(tmp_path / f"degenerate_{how}")
        got = events_stream.run_available_now_to_parquet(
            joined, out_dir, spark, mode="append"
        ).count()
        oracle = len(
            con.execute(streamq.ORACLE_SQL[entry_name]).fetchall()
        )
        # Spark: unset leg -> watermark 0 -> nothing closes -> 0 rows.
        # The COALESCE sentinel must make the oracle agree.
        assert got == oracle == 0, (how, got, oracle)


def test_stream_dau_hll_registers_merge_across_microbatches(spark, sf_dir, tmp_path):
    """stream_dau_hll (round 7): the register aggregation must merge
    across micro-batches by register MAX with NO watermark — split the
    events into two time halves (days straddle the boundary), replay
    with maxFilesPerTrigger=1, and the drained (day, reg, m_reg) frame
    must BIT-EQUAL the batch registers over the whole corpus.  This is
    the commutative-monoid-state property the entry's docstring claims:
    ≤ m rows/day of state, late/replayed rows absorbed by max."""
    import glob
    import os

    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        events as ev,
        sketch,
        streamq,
    )
    from engineering_school_bigdata_project_f1_weather_spark.schemas import (
        TESTDATA_SCHEMAS,
    )
    from engineering_school_bigdata_project_f1_weather_spark.streaming import (
        events_stream,
    )

    src = ev.load_events(spark, sf_dir)
    mid = src.agg(
        F.expr("percentile_approx(ts_us, 0.5, 10000)")
    ).collect()[0][0]
    half_dir = str(tmp_path / "hll_halves")
    base = src.drop("ts_us")
    base.where(F.unix_micros("ts") < mid).coalesce(1).write.parquet(
        half_dir, mode="overwrite"
    )
    base.where(F.unix_micros("ts") >= mid).coalesce(1).write.parquet(
        half_dir, mode="append"
    )
    parts = glob.glob(f"{half_dir}/part-*.parquet")
    assert len(parts) == 2, parts

    def _max_ts(p):
        return spark.read.parquet(p).agg(
            F.max(F.unix_micros("ts"))
        ).collect()[0][0]

    early, late = sorted(parts, key=_max_ts)
    os.utime(early, (1_000_000_000, 1_000_000_000))
    os.utime(late, (1_000_000_100, 1_000_000_100))

    stream = (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(half_dir)
        .withColumn("event_time", F.col("ts"))
    )
    out_dir = str(tmp_path / "hll_out")
    got_df = events_stream.run_available_now_to_parquet(
        sketch._registers_of(stream), out_dir, spark
    )
    got = {(r.day_us, r.reg): r.m_reg for r in got_df.collect()}
    want = {
        (r.day_us, r.reg): r.m_reg
        for r in sketch._daily_registers(spark, sf_dir).collect()
    }
    assert got == want


def _two_time_halves(spark, sf_dir, tmp_path, name):
    """Split events into two event-time halves as separate parquet files
    with pinned mtimes so maxFilesPerTrigger=1 replays them as two
    ordered micro-batches (the shared fixture move of the replay tests)."""
    import glob
    import os

    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        events as ev,
    )

    src_df = ev.load_events(spark, sf_dir)
    mid = src_df.agg(
        F.expr("percentile_approx(ts_us, 0.5, 10000)")
    ).collect()[0][0]
    half_dir = str(tmp_path / name)
    base = src_df.drop("ts_us")
    base.where(F.unix_micros("ts") < mid).coalesce(1).write.parquet(
        half_dir, mode="overwrite"
    )
    base.where(F.unix_micros("ts") >= mid).coalesce(1).write.parquet(
        half_dir, mode="append"
    )
    parts = glob.glob(f"{half_dir}/part-*.parquet")
    assert len(parts) == 2, parts

    def _max_ts(p):
        return spark.read.parquet(p).agg(
            F.max(F.unix_micros("ts"))
        ).collect()[0][0]

    early, late = sorted(parts, key=_max_ts)
    os.utime(early, (1_000_000_000, 1_000_000_000))
    os.utime(late, (1_000_000_100, 1_000_000_100))
    return half_dir


def test_stream_cms_counters_merge_across_microbatches(spark, sf_dir, tmp_path):
    """stream_user_cms (round 8): replaying the events as two event-time
    micro-batches must leave the state store holding EXACTLY the
    whole-corpus counter table — each batch's partial counts SUM-merge
    into the store (the CMS linearity/merge law as streaming state)."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        sketch,
        streamq,
    )
    from engineering_school_bigdata_project_f1_weather_spark.schemas import (
        TESTDATA_SCHEMAS,
    )
    from engineering_school_bigdata_project_f1_weather_spark.streaming import (
        events_stream,
    )

    half_dir = _two_time_halves(spark, sf_dir, tmp_path, "cms_halves")
    stream = (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(half_dir)
    )
    out_dir = str(tmp_path / "cms_out")
    got = {
        (r.r, r.bucket): r.cnt
        for r in events_stream.run_available_now_to_parquet(
            streamq.cms_pipeline(stream), out_dir, spark
        ).collect()
    }
    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        events as ev,
    )

    want = {
        (r.r, r.bucket): r.cnt
        for r in sketch._cms_expand(
            ev.load_events(spark, sf_dir).select("user_id")
        )
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_mg_state_folds_across_microbatches(spark, sf_dir, tmp_path):
    """stream_heavy_hitters (round 8): replay the events as two
    micro-batches with a DELIBERATELY small capacity so the truncating
    union is real, and pin (a) state actually bridges batches (groups
    re-emit a higher version in batch 2), (b) every group's final
    summary is within capacity, (c) the final candidate set is a
    SUPERSET of the true heavy hitters at that capacity's N/(C+1)
    threshold — the guarantee that makes the entry's exact verify pass
    deterministic under any batching."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        streamq,
    )
    from engineering_school_bigdata_project_f1_weather_spark.streaming import (
        events_stream,
    )

    import os

    cap = 4  # tiny: forces real truncation on the synthetic skew below
    # Synthetic skewed corpus (the sf0.001 fixture has only ~15 users —
    # too few to truncate): one dominant user plus a long tail, split
    # into two mtime-ordered files so each is one micro-batch.
    half_dir = str(tmp_path / "mg_halves")
    spark.createDataFrame(
        [(7,)] * 50 + [(100 + i,) for i in range(20) for _ in range(3)],
        "user_id long",
    ).coalesce(1).write.parquet(half_dir, mode="overwrite")
    spark.createDataFrame(
        [(7,)] * 40 + [(200 + i,) for i in range(20) for _ in range(2)],
        "user_id long",
    ).coalesce(1).write.parquet(half_dir, mode="append")
    import glob

    parts = sorted(glob.glob(f"{half_dir}/part-*.parquet"))
    assert len(parts) == 2

    def _n_rows(pth):
        return spark.read.parquet(pth).count()

    first, second = sorted(parts, key=_n_rows, reverse=True)  # 110 vs 80
    os.utime(first, (1_000_000_000, 1_000_000_000))
    os.utime(second, (1_000_000_100, 1_000_000_100))

    stream = (
        spark.readStream.schema("user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(half_dir)
    )
    out_dir = str(tmp_path / "mg_out")
    drained = events_stream.run_available_now_to_parquet(
        streamq.mg_state_stream(stream, capacity=cap),
        out_dir,
        spark,
        mode="append",
    ).collect()
    by_grp: dict = {}
    for r in drained:
        by_grp.setdefault(r.grp, {}).setdefault(r.ver, set()).add(r.user_id)
    # (a) at least one group saw both batches (ver reaches 2), and ver
    # only ever increments by 1 per appearance
    assert any(max(vers) == 2 for vers in by_grp.values())
    for vers in by_grp.values():
        assert set(vers) == set(range(1, max(vers) + 1))
        # (b) every snapshot within capacity
        for users in vers.values():
            assert len(users) <= cap
    final_cand = set()
    for vers in by_grp.values():
        final_cand |= vers[max(vers)]

    counts = {
        r.user_id: r.n
        for r in spark.read.parquet(half_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_total = sum(counts.values())
    heavy = {u for u, n in counts.items() if n * (cap + 1) > n_total}
    # (c) superset guarantee, non-vacuously: the dominant user IS heavy,
    # and the truncating union really dropped tail users somewhere
    assert heavy and heavy <= final_cand
    assert len(final_cand) < len(counts), "no truncation: capacity too big"


def test_stream_bloom_bits_merge_across_microbatches(spark, sf_dir, tmp_path):
    """stream_user_bloom (round 8): replaying the events as two
    event-time micro-batches must leave the state store holding EXACTLY
    the whole-corpus per-day bit sets — set union (bitwise OR) as
    streaming state, idempotent because a∪a=a."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        events as ev,
        sketch,
        streamq,
    )
    from engineering_school_bigdata_project_f1_weather_spark.schemas import (
        TESTDATA_SCHEMAS,
    )
    from engineering_school_bigdata_project_f1_weather_spark.streaming import (
        events_stream,
    )

    half_dir = _two_time_halves(spark, sf_dir, tmp_path, "bloom_halves")
    stream = (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(half_dir)
    )
    out_dir = str(tmp_path / "bloom_out")
    got = {
        (r.day_us, r.pos)
        for r in events_stream.run_available_now_to_parquet(
            streamq.bloom_bits_pipeline(stream), out_dir, spark
        ).collect()
    }
    day_us = F.unix_micros("ts") - F.unix_micros("ts") % (24 * 3600 * 1_000_000)
    day_user = (
        ev.load_events(spark, sf_dir)
        .select(day_us.alias("day_us"), "user_id")
        .distinct()
    )
    want = {
        (r.day_us, r.pos)
        for r in sketch._bloom_positions(day_user, "user_id")
        .select("day_us", "pos")
        .distinct()
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_hist_counts_merge_across_microbatches(spark, sf_dir, tmp_path):
    """stream_value_hist (round 8): two-micro-batch replay must leave
    the state store holding exactly the whole-corpus per-day bin counts
    (the histogram SUM-merge law as streaming state)."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        events as ev,
        sketch,
        streamq,
    )
    from engineering_school_bigdata_project_f1_weather_spark.schemas import (
        TESTDATA_SCHEMAS,
    )
    from engineering_school_bigdata_project_f1_weather_spark.streaming import (
        events_stream,
    )

    half_dir = _two_time_halves(spark, sf_dir, tmp_path, "hist_halves")
    stream = (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(half_dir)
    )
    out_dir = str(tmp_path / "hist_out")
    got = {
        (r.day_us, r.bin): r.cnt
        for r in events_stream.run_available_now_to_parquet(
            sketch._daily_hist_of(stream), out_dir, spark
        ).collect()
    }
    want = {
        (r.day_us, r.bin): r.cnt
        for r in sketch._daily_hist_of(ev.load_events(spark, sf_dir)).collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.parametrize("sample", [False, True], ids=["kmv", "qsample"])
def test_stream_bottomk_state_folds_across_microbatches(
    spark, sf_dir, tmp_path, sample
):
    """stream_kmv / stream_value_quantiles (round 8): the per-day
    bottom-k GroupState fold is a SEMILATTICE — replaying the events as
    two event-time micro-batches must leave every day's final snapshot
    BIT-EQUAL to the batch daily sketch (unlike MG, where only the
    superset survives batching).  Also pins version monotonicity and
    the ≤ k state bound on every intermediate snapshot."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        events as ev,
        sketch,
        streamq,
    )
    from engineering_school_bigdata_project_f1_weather_spark.schemas import (
        TESTDATA_SCHEMAS,
    )
    from engineering_school_bigdata_project_f1_weather_spark.streaming import (
        events_stream,
    )

    half_dir = _two_time_halves(spark, sf_dir, tmp_path, "kmv_halves")
    stream = (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(half_dir)
    )
    day_us = F.unix_micros("ts") - F.unix_micros("ts") % (24 * 3600 * 1_000_000)
    if sample:  # the (day_us, h, cents) row-sample rows
        rows = stream.select(
            day_us.alias("day_us"),
            sketch._row_hash60().alias("h"),
            ev._cents("value").alias("cents"),
        )
        k, daily = sketch.QSAMPLE_K, sketch._daily_qsample_of
    else:
        rows = stream.select(
            day_us.alias("day_us"), sketch._user_day_hash().alias("h")
        )
        k, daily = sketch.KMV_K, sketch._daily_kmv_of
    out_dir = str(tmp_path / "kmv_out")
    drained = events_stream.run_available_now_to_parquet(
        streamq.bottomk_state_stream(rows, k),
        out_dir,
        spark,
        mode="append",
    ).collect()
    by_day: dict = {}
    for r in drained:  # (day_us, ver, h, *payload)
        by_day.setdefault(r.day_us, {}).setdefault(r.ver, set()).add(tuple(r)[2:])
    assert any(max(vers) == 2 for vers in by_day.values())
    for vers in by_day.values():
        assert set(vers) == set(range(1, max(vers) + 1))
        for hs in vers.values():
            assert len(hs) <= k
    got = {
        (d, *h) for d, vers in by_day.items() for h in vers[max(vers)]
    }
    want = {
        tuple(r) for r in daily(ev.load_events(spark, sf_dir)).collect()
    }
    assert got == want and len(got) > 0


def test_stream_decontaminate_matches_batch_census(spark, sf_dir):
    """The window-free streaming digest (transform+slice over the token
    array) must be bit-identical to the batch lead-chain digest: the
    drained per-doc collision census equals one recomputed from
    dedup._substr_occ on the same data, and is non-empty at the gate
    window."""
    import pyspark.sql.functions as F

    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        corpus,
        dedup,
        streamq,
    )

    got = {
        r.doc_id: (r.n_hits, r.first_pos, r.last_pos)
        for r in streamq.stream_decontaminate(spark, sf_dir).collect()
    }

    occ = dedup._substr_occ(
        dedup._docs(spark, sf_dir).select("doc_id", "text"),
        dedup.DECON_W_GATE,
    )
    eval_h = (
        occ.where(F.col("doc_id") % corpus.EVAL_STRIDE == 0)
        .select("h")
        .distinct()
    )
    batch = {
        r.doc_id: (r.n_hits, r.first_pos, r.last_pos)
        for r in (
            occ.where(F.col("doc_id") % corpus.EVAL_STRIDE != 0)
            .join(F.broadcast(eval_h), "h", "left_semi")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_hits"),
                F.min("pos").alias("first_pos"),
                F.max("pos").alias("last_pos"),
            )
            .collect()
        )
    }
    assert got == batch
    assert got  # the gate window is non-vacuous at fixture scale


def test_stream_curate_matches_batch_funnel(spark, sf_dir):
    """The online curation ledger (three drains composed post-drain) must
    equal the same funnel computed in batch: quality gate + exact-keeper
    window + decontamination flag over the non-eval corpus — and each
    gate must be non-vacuous at fixture scale (at least one doc dropped
    BY EACH gate, else the parity proves nothing)."""
    from pyspark.sql import Window

    from engineering_school_bigdata_project_f1_weather_spark.functions import texts
    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        corpus,
        curate,
        dedup,
        streamq,
        text as textq,
    )
    from engineering_school_bigdata_project_f1_weather_spark.sources.tables import load_table

    got = {
        r.doc_id: (r.lang, r.n_tokens, r.q_keep, r.exact_keep,
                   r.contaminated, r.kept)
        for r in streamq.stream_curate(spark, sf_dir).collect()
    }

    docs = load_table(spark, sf_dir, "documents")
    ncorp = docs.where(F.col("doc_id") % corpus.EVAL_STRIDE != 0)
    occ = dedup._substr_occ(docs.select("doc_id", "text"), dedup.DECON_W_GATE)
    eval_h = (
        occ.where(F.col("doc_id") % corpus.EVAL_STRIDE == 0)
        .select("h").distinct()
    )
    cont_ids = {
        r.doc_id
        for r in occ.where(F.col("doc_id") % corpus.EVAL_STRIDE != 0)
        .join(eval_h, "h").select("doc_id").distinct().collect()
    }
    base = ncorp.select(
        "doc_id", "lang",
        texts.tokens(F.col("text")).alias("t"),
        F.md5("text").alias("h"),
    ).select(
        "doc_id", "lang", "h",
        F.size("t").cast("long").alias("n_tokens"),
        F.expr("div(size(array_distinct(t)) * 1000000, size(t))").alias("ttr_e6"),
    ).withColumn(
        "keeper", F.min("doc_id").over(Window.partitionBy("h"))
    )
    batch = {}
    for r in base.collect():
        q = (textq.QUALITY_MIN_TOKENS <= r.n_tokens <= textq.QUALITY_MAX_TOKENS
             and r.ttr_e6 > curate.QUALITY_MIN_TTR_E6)
        ek = r.doc_id == r.keeper
        c = r.doc_id in cont_ids
        batch[r.doc_id] = (r.lang, r.n_tokens, q, ek, c, q and ek and not c)
    assert got == batch
    # gates that the driver fixture exercises (exact dups don't occur in
    # the generated corpus — the injection test below covers that gate)
    assert any(not v[2] for v in got.values()), "quality gate vacuous"
    assert any(v[4] for v in got.values()), "decontamination gate vacuous"
    assert any(v[5] for v in got.values()), "nothing kept"


def test_stream_curate_exact_keeper_on_injected_duplicates(spark, tmp_path):
    """The stateful exact-keeper leg on a corpus WITH content duplicates
    (the driver fixture has none): min(doc_id) survives per content
    hash regardless of arrival order, a short doc fails quality, and a
    doc sharing a w-gram window with the eval split is flagged."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import streamq

    body = " ".join(f"w{i}" for i in range(30))  # 30 distinct tokens
    dup = "dup " + body
    evalgrams = "e1 e2 e3 e4"  # one DECON_W_GATE window
    rows = [
        # eval doc (doc_id % 100 == 0): registry side, held out — filler
        # tokens are unique to it, so only the e1..e4 window collides
        (100, evalgrams + " " + " ".join(f"x{i}" for i in range(26)), "en"),
        # duplicated content — 7 arrives after 3 in doc_id order but the
        # keeper is order-insensitive min()
        (3, dup, "en"),
        (7, dup, "en"),
        # contaminated: contains the eval w-gram window
        (11, body + " " + evalgrams, "en"),
        # quality fail: under QUALITY_MIN_TOKENS
        (13, "too short", "en"),
        # clean keep
        (17, "k " + body, "en"),
    ]
    df = spark.createDataFrame(
        [(i, t, lang, "src0", len(t)) for i, t, lang in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "mini")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    # stream source globs {dir}/documents.parquet — a DIRECTORY works
    import shutil

    part = next((tmp_path / "mini").glob("part-*.parquet"))
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(part, sf / "documents.parquet")

    got = {
        r.doc_id: (r.q_keep, r.exact_keep, r.contaminated, r.kept)
        for r in streamq.stream_curate(spark, str(sf)).collect()
    }
    assert got == {
        3: (True, True, False, True),
        7: (True, False, False, False),  # exact-dup loser
        11: (True, True, True, False),  # contaminated
        13: (False, True, False, False),  # quality fail
        17: (True, True, False, True),
    }


def test_stream_ann_probe_equals_batch_ivf(spark, sf_dir):
    """The streaming ANN probe must equal the batch sim_ivf serving path
    row-for-row: literal-array probe selection ≡ the window rank (the
    ordering key is injective), and drained candidates rank identically."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        similarity,
        streamq,
    )

    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim_e6)
        for r in streamq.stream_ann_probe(spark, sf_dir).collect()
    }
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim_e6)
        for r in similarity.sim_ivf(spark, sf_dir).collect()
    }
    assert got == want
    assert got  # non-vacuous at fixture scale


@pytest.mark.parametrize("mode", ["complete", "append"])
def test_drain_empty_source_and_stale_dir(spark, tmp_path, mode):
    """The one drain's contract in both output modes: a source that
    fires no batch drains to 0 rows with the stream's schema, and the
    result an earlier call left at the same path never survives into
    the next call's result."""
    schema = "k long"
    full, empty = tmp_path / "full", tmp_path / "empty"
    spark.createDataFrame([(1,), (2,), (2,)], schema).coalesce(1).write.parquet(
        str(full)
    )
    empty.mkdir()

    def plan(src):
        s = spark.readStream.schema(schema).parquet(str(src))
        if mode == "complete":
            return s.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        return s.select("k", F.lit(1).cast("long").alias("n"))

    path = str(tmp_path / "drain")
    first = events_stream.run_available_now_to_parquet(
        plan(full), path, spark, mode=mode
    )
    assert first.count() == (2 if mode == "complete" else 3)

    df = plan(empty)
    got = events_stream.run_available_now_to_parquet(df, path, spark, mode=mode)
    assert got.count() == 0
    # empty_rel keeps names and types (nullability is not part of it)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
