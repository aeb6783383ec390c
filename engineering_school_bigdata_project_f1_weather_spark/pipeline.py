"""The full reference pipeline as one callable DAG (SURVEY §3.1) — the
Airflow-free runner: raw zone → formatted zone → combined → usage marts.

The reference ran each stage as a separate Airflow PythonOperator with its
own SparkSession (`finalversion:428-530`, quirk 10 — no plan/cache reuse);
here one session runs the whole DAG, the combined table is computed once
and cached across the nine mart writes, and every stage is a distributed
plan (no driver-side loops).

At bench scale each write is mostly fixed per-job overhead (planning,
scheduling, commit), and back-to-back writes leave executors idle through
every job's planning and commit tail.  So the independent actions run as
concurrent legs of ``functions.jobs.run_overlapped`` (at most
``MAX_OVERLAP`` in flight), in two groups:

1. the two formatted zones (``formatted/ergastF1``, ``formatted/meteostat``),
   each leg planning and writing its zone;
2. after both zones are read back on the caller thread, the ``combined``
   write first — it materializes the cache of their join — then the nine
   marts (planned on the caller thread by ``spark.sql`` over the ``races``
   view) and the three ``PipelineResult`` counts.  A mart task that needs
   a combined block still being cached waits on the block manager's lock
   for that block and then reads it, so the join runs once.

The counts come from the lake: ``formatted_rows`` and ``weather_rows``
count the formatted parquet just written rather than re-running the raw
JSON/CSV scans, the two windows and the pit-stop aggregation, and
``combined_rows`` counts the cached combined table.  The cache is released
even when a leg fails.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from .functions.jobs import run_overlapped
from .operators import marts_sql
from .sources import ergast
from .sources import weather as weather_src
from .sources.sinks import write_mart, write_parquet


@dataclass
class PipelineResult:
    formatted_rows: int
    weather_rows: int
    combined_rows: int
    mart_paths: dict[str, str] = field(default_factory=dict)


def mart_sql(name: str) -> str:
    """Reference SQL text of mart ``name`` for the lake's combined table.
    The texts run unchanged except for the ``_rk`` tie-breakers, which
    exist only in the test model (the lake table doesn't need them)."""
    return marts_sql.SQL_MARTS[name].replace(
        ", _rk1, _rk2, _rk3, _rk4, _rk5", ", driverId"
    )


def run(
    spark: SparkSession,
    raw_dir: str,
    out_dir: str,
    stations: DataFrame,
    compat_single_file: bool = False,
) -> PipelineResult:
    """raw JSON/CSV → formatted parquet → combined parquet → 9 marts.

    Legs, in order: the two formatted-zone writes; then the combined
    write, the two formatted counts, the nine mart writes and the
    combined count.
    ``formatted_rows`` and ``weather_rows`` are counted from the formatted
    parquet, not by re-scanning the raw zone; the first failing leg
    re-raises here."""

    f1_path = f"{out_dir}/formatted/ergastF1"
    w_path = f"{out_dir}/formatted/meteostat"
    # Each leg also plans its frame, so the weather leg's jobs run while
    # the F1 plan is still being built on the other thread.
    run_overlapped(
        # P1: F1 normalization (distributed; replaces finalversion:107-192)
        lambda: write_parquet(
            ergast.normalize(spark, raw_dir), f1_path, ["year"], compat_single_file
        ),
        # P2: weather normalization (one glob scan; replaces :253-272)
        lambda: write_parquet(
            weather_src.read_weather(spark, raw_dir, stations),
            w_path, None, compat_single_file,
        ),
    )

    # P3: combine join (J1, broadcast weather; replaces :283-293) over the
    # zones read back from the lake
    f1_lake = spark.read.parquet(f1_path)
    w_lake = spark.read.parquet(w_path)
    combined = weather_src.combine(f1_lake, w_lake).cache()
    try:
        # P4: usage marts via the SQL surface (reference entry point 2).
        # The combined view here comes from the lake, not the test tables,
        # so register it directly.
        combined.createOrReplaceTempView(marts_sql.VIEW)
        marts = {name: spark.sql(mart_sql(name)) for name in marts_sql.SQL_MARTS}
        _, formatted_rows, weather_rows, *paths, combined_rows = run_overlapped(
            # first, so its jobs lead the queue: it fills the cache the
            # mart legs read
            lambda: write_parquet(combined, f"{out_dir}/combined", None, compat_single_file),
            f1_lake.count,
            w_lake.count,
            *[
                partial(write_mart, mart, f"{out_dir}/usage", name, compat_single_file)
                for name, mart in marts.items()
            ],
            combined.count,
        )
    finally:
        combined.unpersist()
    return PipelineResult(
        formatted_rows=formatted_rows,
        weather_rows=weather_rows,
        combined_rows=combined_rows,
        mart_paths=dict(zip(marts, paths)),
    )
