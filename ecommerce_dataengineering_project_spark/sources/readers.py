"""Batch sources (SURVEY §2a: S2, S3, S4).

The reference reads CSV dims (producer.py:82-113), Delta silver
(delta_to_iceberg.py:23-25), and catalog tables (fct_purchases.sql:22).
Spark-first equivalents: schema-declared ``spark.read`` so Catalyst gets
column pruning + predicate pushdown into the scan for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Per-process memo of each fixture file's INFERRED schema (the raw
# on-disk schema, pre-NTZ-normalization), keyed by absolute path and
# stamped with the file's (st_mtime_ns, st_size). Schema inference is
# driver-side footer work (~125 ms/call measured on local[32]); with
# hundreds of registered queries each calling load_table 1-3x per run
# it was the single largest fixed cost in the suite. Passing the
# memoized schema back to the reader skips the inference (20 ms/call)
# and changes nothing else — the declared schema IS the inferred one.
# This is the production posture too: at 100 TB the schema comes from
# the catalog/table format, never from per-query footer sniffing. A
# file rewritten at the same path changes its stamp and is inferred
# again, so the memo costs one os.stat per call and never goes stale.
_SCHEMA_CACHE: dict[str, tuple[tuple[int, int] | None, StructType]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one fixture table (S3-analog: Delta batch scan).

    Plain parquet scan — vectorized reader, pushdown-capable. At 100 TB
    the same call reads a partitioned lake directory; nothing changes in
    caller code.

    Timestamp normalization: the fixtures store timestamps as parquet
    µs with ``isAdjustedToUTC=false``, which a default-config session
    (``spark.sql.parquet.inferTimestampNTZ.enabled=true`` on PySpark
    4.x) reads as TIMESTAMP_NTZ. Downstream operators use instant
    semantics — ``unix_micros`` rejects NTZ outright, and ``to_json``'s
    ``timestampFormat`` does not apply to NTZ (silently truncating to
    milliseconds) — so every NTZ column is cast to TIMESTAMP here, at
    the single choke point all queries read through. In the UTC
    sessions both this repo and the oracle harness use, the cast is
    value-preserving.
    """
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    try:
        st = os.stat(path)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:  # missing: the reader below raises its own error
        stamp = None
    hit = _SCHEMA_CACHE.get(path)
    if hit is not None and hit[0] == stamp:
        df = spark.read.schema(hit[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = (stamp, df.schema)
    return normalize_ntz(df)


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP (session-tz
    interpretation; value-preserving under UTC sessions) — including
    NTZ fields NESTED in structs/arrays/maps, so an evolved fixture
    can't resurrect the r3 bug one nesting level down."""
    from pyspark.sql import functions as F

    changed = False
    cols = []
    for f in df.schema.fields:
        swapped = _swap_ntz(f.dataType)
        if swapped is f.dataType:
            cols.append(F.col(f.name))
        else:
            changed = True
            cols.append(F.col(f.name).cast(swapped).alias(f.name))
    return df.select(*cols) if changed else df


def _swap_ntz(dt):
    """Rewrite a DataType replacing TimestampNTZType with
    TimestampType recursively; returns the SAME object when nothing
    changes (identity signals no cast needed)."""
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    if isinstance(dt, TimestampNTZType):
        return TimestampType()
    if isinstance(dt, StructType):
        fields = [
            StructField(f.name, _swap_ntz(f.dataType), f.nullable, f.metadata)
            for f in dt.fields
        ]
        if all(a.dataType is b.dataType for a, b in zip(fields, dt.fields)):
            return dt
        return StructType(fields)
    if isinstance(dt, ArrayType):
        el = _swap_ntz(dt.elementType)
        return dt if el is dt.elementType else ArrayType(el, dt.containsNull)
    if isinstance(dt, MapType):
        k, v = _swap_ntz(dt.keyType), _swap_ntz(dt.valueType)
        if k is dt.keyType and v is dt.valueType:
            return dt
        return MapType(k, v, dt.valueContainsNull)
    return dt


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table keyed by name."""
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """CSV dimension load with declared schema (S2).

    The reference parses the products CSV by hand, casting each column
    in Python (producer.py:82-113, models/product.py:18-30); declaring
    the StructType pushes those casts into the scan.
    """
    return spark.read.csv(path, header=True, schema=schema)


def read_json_lines(
    spark: SparkSession,
    path: str,
    schema: StructType,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """JSON-lines source with schema enforcement (bronze-analog).

    Equivalent of consuming the Kafka JSON topic in batch: schema
    declared up front so malformed rows null out instead of failing,
    matching ``from_json`` semantics (streaming_consumer.py:69-71).
    Pass ``{"timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS"}`` to
    round-trip microsecond timestamps written by ``write_json_lines``.
    """
    return spark.read.options(**(options or {})).schema(schema).json(path)
