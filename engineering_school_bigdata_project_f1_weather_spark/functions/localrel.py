"""Driver-computed rows as JVM local relations (guide §4).

``spark.createDataFrame(list_of_tuples)`` parallelizes the list into a
Python RDD: every downstream action re-evaluates a ``Scan ExistingRDD``
whose partitions each pay a Python-worker round trip (measured ~0.8 s
per action for a 5k-row/32-slice frame; the round-12 empty-remap fix
found a 5 s worst case when such a frame was coalesced).  The driver
twins (closure, pagerank, k-means/PQ codebooks, classifier weights)
return exactly such bounded frames, and several are consumed by more
than one action.

With Arrow enabled (the session factory sets
``spark.sql.execution.arrow.pyspark.enabled``), ``createDataFrame`` on
a pandas frame instead serializes the rows ONCE into a JVM
``LocalTableScan`` — no Python workers at execution, ~4x cheaper per
action (measured), bit-identical values and schema (pinned by the
driver-twin parity test in tests/test_functions.py).  Empty input is the
one exception: the Arrow path falls back to a Python-RDD scan there, so
empty relations are built as a zero-row ``spark.range`` projection.
"""

from __future__ import annotations

from pyspark.sql.types import StructType


def _struct(schema) -> StructType:
    return schema if isinstance(schema, StructType) else StructType.fromDDL(schema)


def empty_rel(spark, schema):
    """Zero-row frame with ``schema`` (DDL string or StructType) as a
    pure-JVM relation — ``createDataFrame([], schema)`` builds a Python
    RDD whose empty partitions still each pay a worker round trip.

    Every field comes back nullable, whatever ``schema`` says: each
    column is a ``NULL`` literal cast to its type.  Column names and
    types match ``schema``; a ``StructType``'s non-null flags do not.
    Callers that compare schemas must compare names and types only
    (a parquet round trip makes every field nullable anyway)."""
    import pyspark.sql.functions as F

    st = _struct(schema)
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in st.fields]
    )


def local_rows(spark, rows, schema):
    """Bounded list-of-tuples ``rows`` (any iterable of tuples) as one
    Arrow ``LocalTableScan`` with ``schema`` (DDL string or StructType)."""
    rows = list(rows)  # a generator is truthy even when empty
    if not rows:
        return empty_rel(spark, schema)
    import pandas as pd

    st = _struct(schema)
    pdf = pd.DataFrame(rows, columns=[f.name for f in st.fields])
    return spark.createDataFrame(pdf, schema=st)


def pull(df, limit: int):
    """``(n, table)``: ``df``'s row count and, when ``n <= limit``, its
    rows as one ``pyarrow.Table`` from a single ``toArrow`` job (not a
    job per partition, nor ``Row`` objects); ``None`` above ``limit``,
    where the caller runs its distributed twin.  ``limit`` bounds the
    driver twin's heap.  ``df`` is read twice: pass a cached or
    checkpointed frame."""
    n = df.count()
    return n, (df.toArrow() if n <= limit else None)
