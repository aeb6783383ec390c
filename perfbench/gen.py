"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and an output directory and writes only
there; the same seed writes byte-identical files.  The program under test
receives nothing but these files.

- ``raw_zone``: the paper's raw zone -- Ergast-shaped
  ``races_/results_/pitstops_{year}_{round}.json`` plus Meteostat-shaped
  ``METEO2_data_{city}.csv`` -- carrying the FIXTURES.md section 6 edge
  cases, and the row counts ``pipeline.run`` must produce from it.
- ``tpch_lake``: the TPC-H-ish star schema the F1 model is derived from,
  with the value laws of the shipped test lake (uniform keys, 25 nations in
  5 regions, order dates 1995-01-01..2001-08-01, linenumbers 1..7, three
  return flags, two line statuses).
- ``corpus``: documents + embeddings for the incremental indexes, with the
  laws the shipped corpus follows (31-word vocabulary, 10..100 words per
  document, fixed language mix, unit-norm 64-dim gaussian embeddings) plus
  planted exact and one-character near duplicates, so the dedup closure
  and entity remap have work to do.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ----------------------------------------------------------------- raw zone

# (city, country, has_weather_csv): cities with races.  One race city has
# no weather file at all and one has an empty weather file, so their races
# drop out of the combine join.  Two cities share a country.
RACE_CITIES = [
    ("Melbourne", "Australia", True),
    ("Sakhir", "Bahrain", True),
    ("Shanghai", "China", True),
    ("Baku", "Azerbaijan", True),
    ("Barcelona", "Spain", True),
    ("Monte-Carlo", "Monaco", True),
    ("Montreal", "Canada", True),
    ("Castellet", "France", True),
    ("Spielberg", "Austria", True),
    ("Silverstone", "UK", True),
    ("Budapest", "Hungary", True),
    ("Spa", "Belgium", True),
    ("Monza", "Italy", True),
    ("Imola", "Italy", True),
    ("Singapore", "Singapore", False),  # race city with no weather file
    ("Suzuka", "Japan", "empty"),  # an empty (0-byte) weather file
]
WEATHER_ONLY_CITY = ("Zandvoort", "Netherlands")  # weather, never a race
WEATHER_COLS = ["tavg", "tmin", "tmax", "prcp", "snow", "wdir", "wspd", "wpgt", "pres", "tsun"]
POINTS = [25, 18, 15, 12, 10, 8, 6, 4, 2, 1]


@dataclass(frozen=True)
class RawZone:
    """What ``pipeline.run`` must report for a generated raw zone."""

    formatted_rows: int
    weather_rows: int
    combined_rows: int
    files: int


def _lap(rng: np.random.Generator) -> str:
    # 'M:SS.mmm' with single-digit minutes (lexicographic = temporal order)
    return f"1:{int(rng.integers(10, 40)):02d}.{int(rng.integers(0, 1000)):03d}"


def raw_zone(seed: int, out_dir: str, seasons: int, rounds: int, drivers: int) -> RawZone:
    """Write a raw zone of ``seasons x rounds`` races with ``drivers``
    entries each; return the counts the pipeline must produce."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    years = list(range(2024 - seasons + 1, 2025))
    day0 = {y: dt.date(y, 3, 1) for y in years}
    formatted = combined = files = 0
    weather_dates: dict[str, set[str]] = {}
    # Weather covers each season from March to November, every day.
    for city, _, has in RACE_CITIES + [WEATHER_ONLY_CITY + (True,)]:
        if has is True:
            weather_dates[city] = {
                (day0[y] + dt.timedelta(days=d)).isoformat()
                for y in years for d in range(275)
            }
    empty_results = (years[0], 2)  # an empty Races array
    no_races_pits = (years[-1], 3)  # a pitstops file without Races
    for y in years:
        for r in range(1, rounds + 1):
            city, country, _ = RACE_CITIES[int(rng.integers(0, len(RACE_CITIES)))]
            date = (day0[y] + dt.timedelta(days=12 * (r - 1) + int(rng.integers(0, 3)))).isoformat()
            meta = {
                "round": str(r), "raceName": f"{city} Grand Prix", "date": date,
                "Circuit": {"circuitId": city.lower(), "circuitName": f"{city} Circuit"},
                "city": city, "country": country,
            }
            order = rng.permutation(drivers)
            winner = 5400 + int(rng.integers(0, 1800))
            results = []
            for pos, d in enumerate(order, start=1):
                res = {
                    "Driver": {"driverId": f"d{d:02d}", "givenName": f"Given{d:02d}",
                               "familyName": f"Family{d:02d}"},
                    "Constructor": {"name": f"Team{d // 2:02d}"},
                    "points": str(POINTS[pos - 1] if pos <= len(POINTS) else 0),
                    "position": str(pos) if rng.random() > 0.1 else "N/A",
                    "grid": str(int(rng.integers(1, drivers + 1))),
                    "laps": str(int(rng.integers(44, 79))),
                    "status": "Finished" if pos <= drivers // 2 else "+1 Lap",
                }
                if pos == 1:
                    h, m, s = winner // 3600, winner % 3600 // 60, winner % 60
                    res["Time"] = {"time": f"{h}:{m:02d}:{s:02d}.{int(rng.integers(0, 1000)):03d}"}
                elif pos <= drivers // 2:
                    res["Time"] = {"time": f"+{int(rng.integers(1, 90))}.{int(rng.integers(0, 10))}"}
                if rng.random() > 0.1:
                    res["FastestLap"] = {"Time": {"time": _lap(rng)}}
                results.append(res)
            races = [] if (y, r) == empty_results else [{"Results": results}]
            stops = [
                {"driverId": f"d{d:02d}", "stop": str(k + 1), "lap": str(10 + 15 * k),
                 "time": "14:05:00", "duration": f"2{k}.5"}
                for d in range(drivers) for k in range(int(rng.integers(0, 4)))
            ]
            pit_table = {} if (y, r) == no_races_pits else {"Races": [{"PitStops": stops}]}
            docs = {
                "races": meta,
                "results": {"MRData": {"RaceTable": {"Races": races}}},
                "pitstops": {"MRData": {"RaceTable": pit_table}},
            }
            for kind, doc in docs.items():
                with open(os.path.join(out_dir, f"{kind}_{y}_{r}.json"), "w") as f:
                    json.dump(doc, f)
            files += 3
            n = len(results) if races else 0
            formatted += n
            if date in weather_dates.get(city, ()):
                combined += n
    weather_rows = 0
    for city, _, has in RACE_CITIES + [WEATHER_ONLY_CITY + (True,)]:
        if has is False:
            continue
        lines = [",".join(["date"] + WEATHER_COLS)]
        for date in sorted(weather_dates.get(city, ())):
            tavg = round(float(rng.normal(18, 7)), 1)
            vals = [tavg, tavg - 4.5, tavg + 6.0, max(0.0, round(float(rng.normal(1, 3)), 1)),
                    0.0, float(rng.integers(0, 360)), round(float(rng.uniform(2, 30)), 1),
                    "", round(float(rng.uniform(995, 1030)), 1), ""]
            lines.append(",".join([date] + [str(v) for v in vals]))
        weather_rows += len(lines) - 1
        with open(os.path.join(out_dir, f"METEO2_data_{city}.csv"), "w") as f:
            if has is True:
                f.write("\n".join(lines) + "\n")
        files += 1
    return RawZone(formatted, weather_rows, combined, files)


def stations() -> list[tuple[str, str]]:
    """The (city, country) station dimension: every city with weather."""
    return [(c, k) for c, k, has in RACE_CITIES if has] + [WEATHER_ONLY_CITY]


# ---------------------------------------------------------------- TPC-H lake

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EPOCH = dt.datetime(1970, 1, 1)
_D_LO = (dt.datetime(1995, 1, 1) - _EPOCH).days
_D_HI = (dt.datetime(2001, 8, 1) - _EPOCH).days


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * 86_400_000_000, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def tpch_lake(seed: int, out_dir: str, sf: float) -> int:
    """Write region/nation/customer/supplier/orders/lineitem parquet at
    scale factor ``sf``; return the lineitem row count."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_c, n_s = round(150_000 * sf), round(10_000 * sf)
    n_o, n_l, n_p = round(1_500_000 * sf), round(6_000_000 * sf), round(200_000 * sf)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), type=pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": pa.array([k % 5 for k in range(25)], type=pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_c), type=pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), type=pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_c)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_s), type=pa.int64()),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_s)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), type=pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_o), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), type=pa.int64()),
            "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_o)]),
            "o_totalprice": _money(rng, 900.0, 500_000.0, n_o),
            "o_orderdate": _days_to_ts(rng.integers(_D_LO, _D_HI + 1, n_o)),
            "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n_o)]),
        }),
    }
    okey = rng.integers(0, n_o, n_l)
    pkey = rng.integers(0, n_p, n_l)
    skey = rng.integers(0, n_s, n_l)
    line = rng.integers(1, 8, n_l)
    status = rng.integers(0, 2, n_l)
    # The model's row key (orderkey, linenumber, partkey, suppkey,
    # linestatus) must be unique: it breaks ties in Q2 and Q9.
    key = np.stack([okey, line, pkey, skey, status], axis=1)
    _, first = np.unique(key, axis=0, return_index=True)
    keep = np.sort(first)
    n_l = len(keep)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey[keep], type=pa.int64()),
        "l_partkey": pa.array(pkey[keep], type=pa.int64()),
        "l_suppkey": pa.array(skey[keep], type=pa.int64()),
        "l_linenumber": pa.array(line[keep], type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_l),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_l)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in status[keep]]),
        "l_shipdate": _days_to_ts(rng.integers(_D_LO, _D_HI + 122, n_l)),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return n_l


# ------------------------------------------------------------------- corpus

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64


def corpus(seed: int, out_dir: str, n_docs: int, dup_share: float = 0.1) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` with
    ``n_docs`` rows each (doc_id == vec_id).  A ``dup_share`` of the
    documents copies an earlier one -- half verbatim, half with one
    character deleted -- and its embedding is the source's plus small
    noise."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    texts: list[str] = []
    vecs = rng.standard_normal((n_docs, EMBED_DIM))
    for i in range(n_docs):
        if i > 0 and rng.random() < dup_share:
            src = int(rng.integers(0, i))
            t = texts[src]
            if rng.random() < 0.5:
                cut = int(rng.integers(0, len(t)))
                t = t[:cut] + t[cut + 1:]
            vecs[i] = vecs[src] + rng.normal(0, 0.05, EMBED_DIM)
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            t = " ".join(VOCAB[w] for w in words)
        texts.append(t)
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), type=pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in langs]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_docs), type=pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), type=pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
