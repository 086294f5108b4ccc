"""load_table's per-process schema memo (r15 optimization): the second
read of a fixture table must skip driver-side schema inference (the
memo supplies the declared schema) while producing an identical frame
— same schema (post-NTZ-normalization) and same rows as a fresh
inference read. A file rewritten at the same path is inferred again."""

from __future__ import annotations

import os

from ecommerce_dataengineering_project_spark.sources.readers import (
    _SCHEMA_CACHE,
    load_table,
    normalize_ntz,
)


def test_memoized_read_identical_to_inference(spark, sf_dir):
    path = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    _SCHEMA_CACHE.pop(path, None)
    first = load_table(spark, sf_dir, "events")  # inference, fills memo
    assert path in _SCHEMA_CACHE
    second = load_table(spark, sf_dir, "events")  # memoized
    assert second.schema == first.schema
    # the memo stores the RAW on-disk schema; normalization still runs
    fresh = normalize_ntz(spark.read.parquet(path))
    assert second.schema == fresh.schema
    a = sorted(map(tuple, second.limit(50).collect()))
    b = sorted(map(tuple, fresh.limit(50).collect()))
    assert a == b


def test_memo_keys_per_path(spark, sf_dir):
    load_table(spark, sf_dir, "orders")
    load_table(spark, sf_dir, "documents")
    keys = {k for k in _SCHEMA_CACHE if k.endswith(("orders.parquet", "documents.parquet"))}
    assert len(keys) == 2  # one entry per file, never shared


def test_memo_reinfers_a_rewritten_file(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)  # same path, new schema
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]
