"""The benchmark workloads: closed loop, one client, ``local[nproc]``.

Each workload writes its seeded inputs under its work directory
(``prepare``, untimed), sets up ``SETUP_REPS`` times (``setup``, timed:
the median plus session start is ``setup_s``), warms the JVM (``warm``,
untimed) and then runs timed operations until the deadline (``measure``).
Every output check runs outside the timed spans and counts the
operations it covers as failed.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import gen


@dataclass
class Record:
    """Timed operations of one run and their outcome."""

    latencies: list[float] = field(default_factory=list)
    # Epoch-second windows, matched against Spark's event-log timestamps.
    windows: list[tuple[float, float]] = field(default_factory=list)
    failed: int = 0
    _epoch: float = field(default_factory=lambda: time.time() - time.perf_counter())

    def add(self, t0: float, t1: float) -> None:
        """One operation timed by ``perf_counter`` from ``t0`` to ``t1``."""
        self.latencies.append(t1 - t0)
        self.windows.append((t0 + self._epoch, t1 + self._epoch))

    def timed(self, op) -> bool:
        """Time ``op()``; an operation that raises counts as failed.
        Returns whether it completed."""
        t0 = time.perf_counter()
        try:
            op()
            return True
        except Exception:  # noqa: BLE001 -- a failed operation, not a failed run
            traceback.print_exc()
            self.failed += 1
            return False
        finally:
            self.add(t0, time.perf_counter())


def span(tracer, key: str):
    """The tracer's span, or a no-op when untraced."""
    from contextlib import nullcontext

    return tracer.span(key) if tracer else nullcontext()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


MARTS = [
    "q1_wins", "q2_fastestlap", "q3_filter", "q4_weather", "q5_evopoints",
    "q6_constructor", "q7_pitstops", "q8_circuit_stats", "q9_top10",
]


class F1Etl:
    """The paper's F1 path.  Timed operation: one ``pipeline.run`` into a
    fresh lake over a seeded raw zone.  Set-up also stages the analysts'
    F1 model (``plans.f1_model``) from a seeded TPC-H-ish lake, and the
    warm-up checks Q1-Q9 (``operators.marts``) on it against their DuckDB
    oracles, so those layers are traced as well."""

    SEASONS, ROUNDS, DRIVERS = 4, 10, 20
    SF = 0.005
    SETUP_REPS = 3
    WARM = 2

    def prepare(self, seed: int, work: str) -> None:
        self.work = work
        self.raw = os.path.join(work, "raw")
        self.expect = gen.raw_zone(seed, self.raw, self.SEASONS, self.ROUNDS, self.DRIVERS)
        self.lake = os.path.join(work, "lake")
        gen.tpch_lake(seed, self.lake, self.SF)
        self.n = 0
        self.queries = Record()  # the checked Q1-Q9 runs

    def setup(self, spark, tracer) -> None:
        import pandas as pd

        from engineering_school_bigdata_project_f1_weather_spark.plans import f1_model

        spark.catalog.clearCache()
        with span(tracer, "plans.f1_model"):
            f1_model.combined(spark, self.lake).count()
        self.stations = spark.createDataFrame(
            pd.DataFrame(gen.stations(), columns=["city", "country"])
        )

    def _run(self, spark, rec: Record) -> None:
        """One pipeline run into a fresh lake, then its output check."""
        from engineering_school_bigdata_project_f1_weather_spark import pipeline

        self.n += 1
        out = os.path.join(self.work, f"run{self.n}")
        res = []
        if rec.timed(lambda: res.append(pipeline.run(spark, self.raw, out, self.stations))):
            r = res[0]
            e = self.expect
            if (r.formatted_rows, r.weather_rows, r.combined_rows) != (
                e.formatted_rows, e.weather_rows, e.combined_rows
            ) or len(r.mart_paths) != 9 or not all(map(os.path.isdir, r.mart_paths.values())):
                print(f"check failed: {r} expected {e}", file=sys.stderr)
                rec.failed += 1
        shutil.rmtree(out, ignore_errors=True)

    def _check_marts(self, spark, tracer) -> bool:
        """Whether each of Q1-Q9 has the canonical hash of its DuckDB
        oracle (the registry's ``oracle_sql()`` entry)."""
        import duckdb

        from engineering_school_bigdata_project_f1_weather_spark.operators import marts
        from tools.selfcheck import canon_rows

        ok = True
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "orders", "lineitem"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.lake}/{t}.parquet')"
            )
        for q in MARTS:
            got = []

            def query():
                with span(tracer, "operators.marts"):
                    got.append(marts.QUERIES[q](spark, self.lake).toPandas())

            if not self.queries.timed(query):
                ok = False
                continue
            s, d = got[0], con.execute(marts.ORACLE_SQL[q]).df()
            sh, _ = canon_rows(list(s.columns), list(s.itertuples(index=False, name=None)))
            dh, _ = canon_rows(list(d.columns), list(d.itertuples(index=False, name=None)))
            if sh != dh or len(s) == 0:
                print(f"check failed: {q} spark={sh} duckdb={dh} rows={len(s)}", file=sys.stderr)
                ok = False
        con.close()
        return ok

    def warm(self, spark, tracer) -> None:
        """The Q1-Q9 check, then ``WARM`` untimed pipeline runs without
        the staged model."""
        self.marts_ok = self._check_marts(spark, tracer)
        spark.catalog.clearCache()
        for _ in range(self.WARM):
            self._run(spark, Record())

    def measure(self, spark, tracer, deadline: float, rec: Record) -> None:
        """Pipeline runs until the deadline; a failed Q1-Q9 check fails
        them all."""
        while time.perf_counter() < deadline or not rec.latencies:
            self._run(spark, rec)
        if not self.marts_ok:
            rec.failed = len(rec.latencies)


class IndexIngest:
    """Bootstrap the curation and ER indexes on the first half of a seeded
    corpus, then ingest the second half in fixed-size batches; each batch
    updates both indexes and refreshes both serving views."""

    DOCS, BATCHES = 160, 2
    SETUP_REPS = 1

    def prepare(self, seed: int, work: str) -> None:
        self.work = work
        self.corpus = os.path.join(work, "corpus")
        gen.corpus(seed, self.corpus, self.DOCS)
        self.base = os.path.join(work, "base")
        self.live = os.path.join(work, "live")
        # The bootstrap half is doc_id <= max // 2, the split the curation
        # index's frozen models are defined on.
        half = self.DOCS // 2
        cuts = [half + (self.DOCS - half) * i // self.BATCHES for i in range(self.BATCHES + 1)]
        self.batches = list(zip(cuts, cuts[1:]))

    def _frames(self, lo: int, hi: int):
        where = f"doc_id >= {lo} AND doc_id < {hi}"
        return (
            self.docs.where(where),
            self.vecs.where(where.replace("doc_id", "vec_id")),
        )

    def setup(self, spark, tracer) -> None:
        from engineering_school_bigdata_project_f1_weather_spark.operators import (
            curate_index,
            dedup,
        )
        from engineering_school_bigdata_project_f1_weather_spark.sources.tables import (
            load_table_spread,
        )

        self.docs = load_table_spread(spark, self.corpus, "documents").select(
            "doc_id", "lang", "text"
        )
        self.vecs = load_table_spread(spark, self.corpus, "embeddings").select(
            "vec_id", "embedding"
        )
        shutil.rmtree(self.base, ignore_errors=True)
        d, v = self._frames(0, self.DOCS // 2)
        with span(tracer, "operators.curate_index.init"):
            curate_index.curate_index_init(spark, d, v, f"{self.base}/cur")
        with span(tracer, "operators.dedup.er_init"):
            dedup.er_index_init(spark, d, f"{self.base}/er")

    def _restore(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.base, self.live)

    def _ingest(self, spark, tracer, lo: int, hi: int) -> None:
        from engineering_school_bigdata_project_f1_weather_spark.operators import (
            curate_index,
            dedup,
        )

        d, v = self._frames(lo, hi)
        with span(tracer, "operators.curate_index.update"):
            curate_index.curate_index_update(spark, d, v, f"{self.live}/cur")
        with span(tracer, "operators.dedup.er_update"):
            dedup.er_index_update(spark, d, f"{self.live}/er")
        with span(tracer, "operators.curate_index.resolve"):
            _noop(curate_index.curate_resolve(spark, f"{self.live}/cur"))
        with span(tracer, "operators.dedup.er_resolve"):
            _noop(dedup.er_resolve(spark, f"{self.live}/er"))

    def _hashes(self, spark) -> tuple[str, str]:
        from engineering_school_bigdata_project_f1_weather_spark.operators import (
            curate_index,
            dedup,
        )
        from tools.selfcheck import canon_rows

        out = []
        for view in (
            curate_index.curate_resolve(spark, f"{self.live}/cur"),
            dedup.er_resolve(spark, f"{self.live}/er"),
        ):
            p = view.toPandas()
            out.append(canon_rows(list(p.columns), list(p.itertuples(index=False, name=None)))[0])
        return out[0], out[1]

    def warm(self, spark, tracer) -> None:
        """Single-batch ingest of the whole second half: the reference
        the incremental passes must reproduce."""
        self._restore()
        self._ingest(spark, tracer, self.batches[0][0], self.batches[-1][1])
        self.expect = self._hashes(spark)

    def measure(self, spark, tracer, deadline: float, rec: Record) -> None:
        from layers import tree_files

        while time.perf_counter() < deadline or not rec.latencies:
            self._restore()
            for lo, hi in self.batches:
                rec.timed(lambda: self._ingest(spark, tracer, lo, hi))
            if tracer:
                tracer.add("index_bytes_on_disk")
                tracer.count("index_bytes_on_disk", tree_files(self.live)[1])
                tracer.phase = "check"  # keep the check's calls out of the layer figures
            got = self._hashes(spark)
            if tracer:
                tracer.phase = "op"
            if got != self.expect:
                print(f"check failed: serving views {got} != single-batch {self.expect}", file=sys.stderr)
                rec.failed += len(self.batches)


WORKLOADS = {"f1_etl": F1Etl, "index_ingest": IndexIngest}
