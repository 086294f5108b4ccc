"""State-store backend + introspection contracts (streaming_queries
stream_dedup_rocksdb / statestore_inspect).

Oracle parity runs registry-wide; these pin what parity can't: the
RocksDB provider actually engages (and the caller's conf is untouched), state
time travel across micro-batches via the batchId option, and that
state is partition-distributed rather than driver-held.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ecommerce_dataengineering_project_spark.queries.streaming_queries import (
    ROCKSDB_PROVIDER,
    q_statestore_inspect,
    q_stream_dedup,
    q_stream_dedup_rocksdb,
)
from ecommerce_dataengineering_project_spark.streaming.harness import scratch_dir


def _checkpoint(query: str, sf_dir: str) -> str:
    return os.path.join(scratch_dir(f"streams/{query}", sf_dir), "checkpoint")


def test_rocksdb_results_match_default_provider(spark, sf_dir):
    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    rock = {tuple(r) for r in q_stream_dedup_rocksdb(spark, sf_dir).collect()}
    assert spark.conf.get(key, None) == before  # set on the run's session only
    hdfs = {tuple(r) for r in q_stream_dedup(spark, sf_dir).collect()}
    assert rock == hdfs and len(rock) > 0


def test_rocksdb_provider_actually_engaged(spark, sf_dir):
    """The checkpoint's offset metadata records the provider class —
    proof the run used RocksDB rather than silently falling back."""
    q_stream_dedup_rocksdb(spark, sf_dir)
    ckpt = _checkpoint("stream_dedup_rocksdb", sf_dir)
    import glob
    import json

    [offset0] = sorted(glob.glob(f"{ckpt}/offsets/*"))[:1]
    with open(offset0) as f:
        lines = f.read().splitlines()
    conf = json.loads(lines[1])["conf"]
    assert conf["spark.sql.streaming.stateStore.providerClass"] == ROCKSDB_PROVIDER


def test_state_time_travel_across_batches(spark, sf_dir):
    """batchId=N reads the state AS OF micro-batch N: dedup state only
    grows across the replayed batches."""
    q_statestore_inspect(spark, sf_dir)
    ckpt = _checkpoint("statestore_inspect", sf_dir)
    latest = spark.read.format("statestore").load(ckpt)
    n_latest = latest.count()
    early = (
        spark.read.format("statestore").option("batchId", 0).load(ckpt)
    )
    n_early = early.count()
    assert 0 < n_early < n_latest
    # early keys are a subset of final keys
    assert early.join(latest, ["key"], "left_anti").count() == 0


def test_state_is_partition_distributed(spark, sf_dir):
    q_statestore_inspect(spark, sf_dir)
    ckpt = _checkpoint("statestore_inspect", sf_dir)
    st = spark.read.format("statestore").load(ckpt)
    parts = {r.partition_id for r in st.select("partition_id").distinct().collect()}
    assert len(parts) > 1  # state sharded across store instances


def test_join_state_readable_per_side(spark, sf_dir):
    """The statestore source reads stream-stream JOIN state with the
    joinSide option — the ops surface for 'why is my join state
    growing': each side's buffered rows come back as a relation."""
    from ecommerce_dataengineering_project_spark.queries.streaming_queries import (
        q_stream_stream_join,
    )

    q_stream_stream_join(spark, sf_dir)
    ckpt = _checkpoint("stream_stream_join", sf_dir)
    left = (
        spark.read.format("statestore").option("joinSide", "left").load(ckpt)
    )
    right = (
        spark.read.format("statestore").option("joinSide", "right").load(ckpt)
    )
    # both sides hold watermark-bounded buffers keyed by the join key
    assert "key" in left.columns and "value" in right.columns
    lc, rc = left.count(), right.count()
    assert lc >= 0 and rc > 0  # click side always buffers recent rows


def test_window_agg_state_keys_are_windows(spark, sf_dir):
    """Aggregation state of the chained dedup->window query: the agg
    operator's state keys are the event-time windows with count/sum
    values (operator id 0; id 1 is the upstream dedup, keyed by
    event_id). Windows still open at the end of the bounded run (the
    flush rows' own days) are exactly the state residue."""
    from ecommerce_dataengineering_project_spark.queries.streaming_queries import (
        q_stream_dedup_then_window,
    )

    emitted = q_stream_dedup_then_window(spark, sf_dir)
    ckpt = _checkpoint("stream_dedup_then_window", sf_dir)
    agg_state = (
        spark.read.format("statestore").option("operatorId", 0).load(ckpt)
    )
    starts = {r["key"]["window"]["start"] for r in agg_state.collect()}
    assert len(starts) >= 1  # the unemitted flush-day windows
    emitted_days = {r.day_start for r in emitted.collect()}
    assert starts.isdisjoint(emitted_days)  # open windows were NOT emitted
