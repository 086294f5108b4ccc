"""Each bounded stream owns its session and directory.

1. Two inputs that share a basename (``A/sf_x``, ``B/sf_x``) get
   separate work directories: each query result equals the DuckDB
   oracle over its OWN input, for the streaming arms and for the
   range-committed txlog table (``txlog_pruned_read``).
2. Two bounded streams run at once in one session: each keeps its own
   state-partition count, each output equals its sequential run, and
   the caller's session confs are unchanged.
"""

from __future__ import annotations

import os
import threading

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.oracle_harness import TABLES, compare, duck_connection

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


def _fixture(base: str, root: str, events_where: str, orders_where: str) -> str:
    """An input dir named ``sf_x`` under ``root``: the tables of
    ``base``, with events and orders filtered."""
    d = os.path.join(root, "sf_x")
    os.makedirs(d)
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(base, f"{t}.parquet")
        where = {"events": events_where, "orders": orders_where}.get(t)
        if where is None:
            os.symlink(src, os.path.join(d, f"{t}.parquet"))
        else:
            con.sql(
                f"COPY (SELECT * FROM '{src}' WHERE {where}) "
                f"TO '{os.path.join(d, f'{t}.parquet')}' (FORMAT PARQUET)"
            )
    con.close()
    return d


@pytest.fixture(scope="module")
def same_basename_inputs(sf_dir, tmp_path_factory):
    """A: every event and order. B: the even events and orders (500 of
    the 1000 events at sf0.001) — same basename, different content."""
    root = tmp_path_factory.mktemp("same_basename")
    a = _fixture(sf_dir, str(root / "A"), "true", "true")
    b = _fixture(sf_dir, str(root / "B"), "event_id % 2 = 0", "o_orderkey % 2 = 0")
    con = duckdb.connect()
    n_a, n_b = (
        con.sql(f"SELECT COUNT(*) FROM '{d}/events.parquet'").fetchone()[0]
        for d in (a, b)
    )
    con.close()
    assert 0 < n_b < n_a
    return a, b


@pytest.mark.parametrize(
    "name", ["stream_bronze_silver", "stream_tumbling_revenue", "txlog_pruned_read"]
)
def test_same_basename_inputs_stay_apart(spark, same_basename_inputs, name):
    for sf_dir in same_basename_inputs:
        con = duck_connection(sf_dir)
        try:
            errors = compare(_QUERIES[name](spark, sf_dir), con, _ORACLES[name])
        finally:
            con.close()
        assert not errors, f"{name} over {sf_dir}: " + "; ".join(errors)


def _dedup_stream(spark, work_dir: str, state_partitions: int):
    from ecommerce_dataengineering_project_spark.streaming.harness import (
        run_bounded_stream,
    )

    batches = [
        spark.createDataFrame([(k % 7, k) for k in range(lo, lo + 20)], "k long, v long")
        for lo in (0, 10)
    ]
    out = run_bounded_stream(
        spark,
        work_dir,
        batches,
        lambda s: s.dropDuplicates(["k", "v"]),
        state_partitions=state_partitions,
    )
    return sorted(map(tuple, out.collect()))


def _state_partitions(work_dir: str) -> int:
    state = os.path.join(work_dir, "checkpoint", "state", "0")
    return sum(1 for p in os.listdir(state) if p.isdigit())


def test_concurrent_streams_keep_their_own_session_confs(spark, tmp_path):
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    parts = {"p2": 2, "p3": 3}
    sequential = {
        tag: _dedup_stream(spark, str(tmp_path / f"seq_{tag}"), n)
        for tag, n in parts.items()
    }
    got, errors = {}, []

    def run(tag: str, n: int) -> None:
        try:
            got[tag] = _dedup_stream(spark, str(tmp_path / f"par_{tag}"), n)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run, args=item) for item in parts.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert got == sequential
    assert len(got["p2"]) == 30  # one row per distinct v in 0..29
    for tag, n in parts.items():
        assert _state_partitions(str(tmp_path / f"par_{tag}")) == n
    assert {k: spark.conf.get(k, None) for k in keys} == before
