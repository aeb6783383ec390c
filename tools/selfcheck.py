"""Driver-style correctness self-check.

Runs every ``queries()`` entry from ``__spark_entry__`` on Spark and the
matching ``oracle_sql()`` on DuckDB over the same parquet tables, then
compares row count, column names, and an order-insensitive canonical value
hash — a local replica of the driver's CORRECTNESS gate so mismatches are
caught before a round ends.

Usage: python tools/selfcheck.py [--ansi] [--json OUT.json] [sf_dir] [query ...]

``--json OUT.json`` additionally writes the per-entry results as a JSON
artifact ({name: {rows, hash, pass, oracle}} + a summary header) — the
committed per-round full-registry correctness record
(``SELFCHECK_r{N}.json``, VERDICT r3 item 1): the driver's CORRECTNESS
window covers only the first 50 registry entries and testdata regenerates
every round, so this artifact is what proves ALL entries green on
CURRENT-round data.

``--ansi`` runs on a VANILLA SparkSession (ANSI on, default confs) instead
of the package factory — the driver builds its own session, so this mode
is the faithful replica: it catches implicit-cast reliance and any result
that depends on our session config.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Entries whose gate row is only meaningful when NON-EMPTY (round 10,
# VERDICT r9 item 3): a 0-row-vs-0-row oracle match is the hash of
# nothing and pins no behavior.  text_decontaminate's registry binding
# runs at the fixture-scale window (DECON_W_GATE) precisely so this
# holds; if testdata regenerates into a shape with zero eval collisions,
# fail loudly instead of going vacuously green.
NONZERO_EXPECTED = {"text_decontaminate"}


def canon_cell(v) -> str:
    import math

    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, float):  # includes np.float64
        if math.isnan(v):
            return "NaN"
        # repr round-trips doubles exactly; bit-identical values match.
        return repr(float(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> tuple[str, list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(canon_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, lines


def checkout_pythonpath(repo: str) -> str:
    """``PYTHONPATH`` with the checkout first: the Python workers Spark
    starts import the package too, from any working directory."""
    return os.pathsep.join(p for p in (repo, os.environ.get("PYTHONPATH")) if p)


def main() -> int:
    args = sys.argv[1:]
    ansi = "--ansi" in args
    if ansi:
        args.remove("--ansi")
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    results: dict[str, dict] = {}

    sys.path.insert(0, REPO)
    os.environ["PYTHONPATH"] = checkout_pythonpath(REPO)
    import __spark_entry__ as entrymod
    from engineering_school_bigdata_project_f1_weather_spark import get_spark

    if ansi:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("selfcheck-ansi")
            .config("spark.sql.shuffle.partitions", "32")
            .getOrCreate()
        )
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    else:
        spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        # Several operators persist shared frames in-plan (graph, sparse
        # sim, recall audits); without an explicit unpersist those cache
        # entries would accumulate across the 140+ entry sweep and squeeze
        # later entries' executor memory — evict between entries.
        spark.catalog.clearCache()
        try:
            sdf = fn(spark, sf_dir)
            # toPandas (Arrow) — same materialization path as the driver, so
            # dtype-level drift (e.g. int64 vs float64) is caught here too.
            spdf = sdf.toPandas()
            scols = list(spdf.columns)
            srows = list(spdf.itertuples(index=False, name=None))
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"pass": False, "err": f"spark: {e}"[:300]}
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            h, _ = canon_rows(scols, srows)
            results[name] = {
                "pass": True, "oracle": False, "rows": len(srows), "hash": h,
            }
            print(f"ok?  {name}: rows-only check, {len(srows)} rows (no oracle)")
            continue
        try:
            # .df() (pandas), not fetchall(): the driver compares via pandas,
            # where DuckDB HUGEINT becomes float64 — fetchall()'s Python ints
            # would mask that class of hash mismatch.
            dpdf = con.execute(oracles[name]).df()
            dcols = list(dpdf.columns)
            drows = list(dpdf.itertuples(index=False, name=None))
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"pass": False, "err": f"duckdb: {e}"[:300]}
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        sh, slines = canon_rows(scols, srows)
        dh, dlines = canon_rows(dcols, drows)
        status = []
        if len(srows) != len(drows):
            status.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if name in NONZERO_EXPECTED and len(srows) == 0:
            status.append("vacuous: 0 rows where a non-empty gate is required")
        if sorted(scols) != sorted(dcols):
            status.append(f"schema spark={sorted(scols)} duck={sorted(dcols)}")
        if sh != dh:
            status.append(f"hash spark={sh} duck={dh}")
        if status:
            failures.append(name)
            results[name] = {
                "pass": False, "oracle": True, "rows": len(srows),
                "hash": sh, "err": "; ".join(status)[:300],
            }
            print(f"FAIL {name}: {'; '.join(status)}")
            sset, dset = set(slines), set(dlines)
            for line in list(sset - dset)[:3]:
                print(f"  spark-only: {line[:200]}")
            for line in list(dset - sset)[:3]:
                print(f"  duck-only : {line[:200]}")
        else:
            results[name] = {
                "pass": True, "oracle": True, "rows": len(srows), "hash": sh,
            }
            print(f"PASS {name}: {len(srows)} rows, hash {sh}")

    spark.stop()
    if json_out:
        import json as _json

        payload = {
            "sf_dir": sf_dir,
            "ansi": ansi,
            "n_entries": len(results),
            "n_pass": sum(1 for r in results.values() if r.get("pass")),
            "n_fail": len(failures),
            "entries": results,
        }
        with open(json_out, "w") as f:
            _json.dump(payload, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}: {payload['n_pass']}/{payload['n_entries']} pass")
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
