"""SQL-surface parity (marts_sql vs marts DataFrame builders), sink
behavior (quirk-7 path mapping, compat single file), and the end-to-end
pipeline runner over raw fixtures: output identity with the un-overlapped
plans, and cache release when a write fails."""

from __future__ import annotations

import os

import pytest

from tools.selfcheck import canon_rows

from engineering_school_bigdata_project_f1_weather_spark.operators import marts, marts_sql
from engineering_school_bigdata_project_f1_weather_spark.sources import ergast
from engineering_school_bigdata_project_f1_weather_spark.sources import weather as weather_src
from engineering_school_bigdata_project_f1_weather_spark.sources.sinks import mart_path
from engineering_school_bigdata_project_f1_weather_spark import pipeline

from tests.test_etl import CITIES, WEATHER_ONLY_CITY, raw_dir  # noqa: F401

SQL_TO_DF = {
    "wins": marts.q1_wins,
    "fastestlap": marts.q2_fastestlap,
    "filter": marts.q3_filter,
    "evopoints": marts.q5_evopoints,
    "constructor": marts.q6_constructor,
    "pitstop": marts.q7_pitstops,
    "top10": marts.q9_top10,
}


@pytest.mark.parametrize("name", sorted(SQL_TO_DF))
def test_sql_surface_matches_dataframe_builders(name, spark, sf_dir):
    sql_df = marts_sql.run_sql_mart(spark, sf_dir, name)
    df_df = SQL_TO_DF[name](spark, sf_dir)
    h1, _ = canon_rows(sql_df.columns, [tuple(r) for r in sql_df.collect()])
    h2, _ = canon_rows(df_df.columns, [tuple(r) for r in df_df.collect()])
    assert sorted(c.lower() for c in sql_df.columns) == sorted(
        c.lower() for c in df_df.columns
    )
    assert h1 == h2


def test_mart_path_quirk7():
    assert mart_path("/u", "wins") == "/u/analysis_1/wins.parquet"
    assert mart_path("/u", "filter") == "/u/analysis_3/filter.parquet"
    # quirk 7 preserved: filter written into the fastest-lap folder
    assert mart_path("/u", "filter", preserve_path_bug=True) == "/u/analysis_2/filter.parquet"


@pytest.fixture
def stations(spark):
    return spark.createDataFrame(
        [(c, CITIES[c][0]) for c in CITIES if CITIES[c][1]] + [WEATHER_ONLY_CITY],
        ["city", "country"],
    )


def _hash(df):
    return canon_rows(df.columns, [tuple(r) for r in df.collect()])[0]


def test_pipeline_end_to_end(spark, raw_dir, stations, tmp_path):  # noqa: F811
    out = str(tmp_path / "lake")
    res = pipeline.run(spark, raw_dir, out, stations)
    # Counts taken from the lake equal the raw-zone plans' counts, and each
    # zone holds exactly the rows of its plan run in one piece.
    f1 = ergast.normalize(spark, raw_dir)
    w = weather_src.read_weather(spark, raw_dir, stations)
    assert res.formatted_rows == f1.count() > 0
    assert res.weather_rows == w.count()
    combined = spark.read.parquet(f"{out}/combined")
    assert res.combined_rows == combined.count() > 0
    assert _hash(spark.read.parquet(f"{out}/formatted/ergastF1")) == _hash(f1)
    assert _hash(spark.read.parquet(f"{out}/formatted/meteostat")) == _hash(w)
    assert _hash(combined) == _hash(weather_src.combine(f1, w))
    assert len(res.mart_paths) == 9
    # Every mart written by an overlapped leg holds exactly the rows its
    # SQL gives over the combined table read back.
    combined.createOrReplaceTempView(marts_sql.VIEW)
    for name, path in res.mart_paths.items():
        assert path == mart_path(f"{out}/usage", name)
        assert _hash(spark.read.parquet(path)) == _hash(
            spark.sql(pipeline.mart_sql(name))
        ), name
    wins = spark.read.parquet(res.mart_paths["wins"])
    assert set(wins.columns) == {"driverFullName", "year", "city", "wins"}
    # partition pruning layout: formatted zone is year-partitioned
    assert any(
        p.startswith("year=") for p in os.listdir(f"{out}/formatted/ergastF1")
    )


def test_pipeline_computes_combined_once(spark, raw_dir, stations, tmp_path, monkeypatch):  # noqa: F811
    """The mart legs start while the combined write is still filling the
    cache; they must wait for its blocks, not recompute the join input."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import BooleanType

    seen = spark.sparkContext.accumulator(0)

    def count_row(_):
        seen.add(1)
        return True

    count_udf = F.udf(count_row, BooleanType())
    combine = weather_src.combine
    monkeypatch.setattr(
        pipeline.weather_src, "combine",
        lambda f1, w: combine(f1, w).filter(count_udf(F.lit(1))),
    )
    res = pipeline.run(spark, raw_dir, str(tmp_path / "lake"), stations)
    # the deterministic filter is pushed below the join onto the F1 side
    assert seen.value == res.formatted_rows


def test_pipeline_releases_cache_when_a_mart_write_fails(
    spark, raw_dir, stations, tmp_path, monkeypatch  # noqa: F811
):
    real = pipeline.write_mart

    def write_mart(df, usage_dir, name, *args, **kwargs):
        if name == "stats":
            raise RuntimeError("injected mart failure")
        return real(df, usage_dir, name, *args, **kwargs)

    monkeypatch.setattr(pipeline, "write_mart", write_mart)
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    with pytest.raises(RuntimeError, match="injected mart failure"):
        pipeline.run(spark, raw_dir, str(tmp_path / "lake"), stations)
    assert cache.numCachedEntries() <= before


def test_compat_single_file_roundtrip(spark, sf_dir, tmp_path):
    """Quirk 9 end-to-end (VERDICT r1 item 8): compat mode writes the mart
    as the reference's coalesce(1) single-file layout; re-reading it yields
    the same rows as the in-memory mart."""
    from engineering_school_bigdata_project_f1_weather_spark.sources.sinks import write_mart

    df = marts.q1_wins(spark, sf_dir)
    path = write_mart(df, str(tmp_path / "usage"), "wins", compat_single_file=True)
    parts = [p for p in os.listdir(path) if p.startswith("part-")]
    assert len(parts) == 1, f"expected single part file, got {parts}"

    back = spark.read.parquet(path)
    h1, _ = canon_rows(df.columns, [tuple(r) for r in df.collect()])
    h2, _ = canon_rows(back.columns, [tuple(r) for r in back.collect()])
    assert sorted(back.columns) == sorted(df.columns)
    assert h1 == h2
