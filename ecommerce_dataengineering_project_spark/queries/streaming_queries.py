"""Streaming queries (SURVEY §2i) — real Structured Streaming runs,
bounded with availableNow, oracle-checked against batch SQL.

Each query stages the ``events`` table as an ordered multi-file stream
(time-partitioned so the watermark never drops an in-order row), runs
the streaming plan through a checkpointed parquet sink, and returns the
sink. Every call restages its input in the query's own directory for
that input (``harness.scratch_dir``), so no run reads another's files.
Because every pipeline is deterministic, batch SQL over the same rows
is an exact oracle — the strongest possible check of streaming
semantics (window assignment, watermark finalization, state
transitions).

Flush rows: append-mode windowed aggregations only emit a window after
the watermark passes its end, so two far-future flush rows are staged
as the last two micro-batches (see harness docstring). Flush rows are
synthetic (`user_id=-1`) and their own windows are provably never
finalized, so the sink contains exactly the real windows.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dataengineering_project_spark.functions.scalars import (
    round_half_up,
    sql_round_half_up,
)
from ecommerce_dataengineering_project_spark.sources.readers import load_table
from ecommerce_dataengineering_project_spark.streaming.bronze_silver import (
    EVENT_JSON_OPTIONS,
    EVENT_SCHEMA,
    events_to_kafka,
    parse_events,
)
from ecommerce_dataengineering_project_spark.streaming.event_windows import (
    session_agg,
    sliding_agg,
    tumbling_agg,
)
from ecommerce_dataengineering_project_spark.streaming.harness import (
    _capture_plan as _harness_capture,
    adaptive_state_partitions,
    run_bounded_foreach,
    run_bounded_stream,
    scratch_dir,
)
from ecommerce_dataengineering_project_spark.streaming.stateful import (
    INITIAL_LEVEL,
    MIN_LEVEL,
    RESTOCK_AMOUNT,
    inventory_restock_stream,
)

# Event-time cut points for the staged micro-batch splits. n_data=3 is
# the original three 10-day ranges; n_data=1/2 are the CONSOLIDATED
# stagings (guide §2.2's fewer-larger-partitions lever applied to
# micro-batches): every batch is still a time-ordered range, so the
# replay stays in event-time order and the watermark never drops an
# on-time row. Only arms whose RESULT is provably independent of the
# batch boundaries opt in (windowed aggs, joins, stateless parses, and
# the order-insensitive stateful folds) — arms whose oracle or contract
# encodes the batch structure (idle_timer_flush's islands oracle,
# scd2's per-batch merge loop, the drift fixture splits) keep n_data=3.
_DATA_CUTS = {1: (), 2: ("2024-01-21",), 3: ("2024-01-11", "2024-01-21")}


def _tagged_events(spark: SparkSession, sf_dir: str, n_data: int = 3) -> DataFrame:
    """Events with a micro-batch id column: ``n_data`` time-ordered
    ranges, so the bounded replay is multi-batch and in event-time
    order (the watermark never drops an on-time row)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    cuts = _DATA_CUTS[n_data]
    tag = F.lit(0)
    if cuts:
        expr = None
        for i, cut in enumerate(cuts):
            c = F.lit(cut).cast("timestamp")
            expr = (
                F.when(F.col("ts") < c, i)
                if expr is None
                else expr.when(F.col("ts") < c, i)
            )
        tag = expr.otherwise(len(cuts))
    return ev.withColumn("__batch", tag.cast("int"))


def _flush_rows(n_flush: int):
    """Far-future watermark-flush rows as a pyarrow Table (one trailing
    micro-batch each; see harness docstring)."""
    import pyarrow as pa

    base = _dt.datetime(2024, 3, 1)
    return pa.table(
        {
            "event_id": pa.array([-1 - i for i in range(n_flush)], pa.int64()),
            "ts": pa.array(
                [base + _dt.timedelta(days=i) for i in range(n_flush)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([-1] * n_flush, pa.int64()),
            "event_type": pa.array(["__flush"] * n_flush),
            "value": pa.array([0.0] * n_flush, pa.float64()),
            "props": pa.array([None] * n_flush, pa.string()),
        }
    )


def _events_source(spark: SparkSession, sf_dir: str, n_flush: int, n_data: int = 3):
    """The harness ``source`` for the events stream: ``n_data``
    time-ordered batches, then ``n_flush`` flush batches."""
    return (
        _tagged_events(spark, sf_dir, n_data),
        n_data,
        _flush_rows(n_flush) if n_flush else None,
    )


def _events_dup_source(spark: SparkSession, sf_dir: str, n_flush: int = 0):
    """The double-replay source for the dedup family: the full event set
    split in TWO time-ordered batches, then replayed whole as a THIRD
    batch — duplicates always arrive in a later micro-batch than their
    originals, so cross-batch exactly-once is exercised, and dedup
    state GROWS from batch 0 to batch 1 (the statestore time-travel
    contract, tests/test_statestore.py). Consolidated r16 from the
    original six batches (two replays of the 3-range staging): each
    extra micro-batch paid ~0.5-1 s of addBatch + offset/commit-log
    fsync for no additional semantics."""
    ev = _tagged_events(spark, sf_dir, n_data=2)
    dup = _tagged_events(spark, sf_dir, n_data=1).withColumn("__batch", F.lit(2))
    return ev.unionByName(dup), 3, _flush_rows(n_flush) if n_flush else None


def q_stream_bronze_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/P1-P3 end-to-end: events -> JSON 'value' strings (Kafka
    shape) -> streaming from_json parse with drift-tolerant schema ->
    append sink. Stateless, so no flush rows needed."""
    # stateless parse: one consolidated micro-batch (r16 — each extra
    # batch paid a full trigger of addBatch + commit fsync for a
    # pipeline with no state to carry between batches)
    kafka = events_to_kafka(_tagged_events(spark, sf_dir, n_data=1), "__batch")
    return run_bounded_stream(
        spark,
        scratch_dir("streams/stream_bronze_silver", sf_dir),
        None,
        parse_events,
        source=(kafka, 1),
    )


def q_stream_tumbling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 tumbling: daily revenue/count per event_type, watermarked."""
    src = _events_source(spark, sf_dir, n_flush=2, n_data=1)

    def transform(stream: DataFrame) -> DataFrame:
        return tumbling_agg(stream, "ts", "1 day", ["event_type"], "value")

    # Flush rows are removed AFTER the stream: a filter on the group key
    # inside the streaming plan would be pushed down into the scan by
    # Catalyst, and the watermark would never see the flush timestamps.
    return run_bounded_stream(
        spark,
        scratch_dir("streams/stream_tumbling_revenue", sf_dir),
        None,
        transform,
        source=src,
    ).where(F.col("event_type") != "__flush")


def q_stream_sliding_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 sliding: 24 h window every 12 h per event_type."""
    src = _events_source(spark, sf_dir, n_flush=2, n_data=1)

    def transform(stream: DataFrame) -> DataFrame:
        return sliding_agg(stream, "ts", "1 day", "12 hours", ["event_type"], "value")

    return run_bounded_stream(
        spark,
        scratch_dir("streams/stream_sliding_activity", sf_dir),
        None,
        transform,
        source=src,
    ).where(F.col("event_type") != "__flush")


def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 session: per-user sessions closed by 6 h of silence."""
    src = _events_source(spark, sf_dir, n_flush=2, n_data=1)

    def transform(stream: DataFrame) -> DataFrame:
        return session_agg(stream, "ts", "6 hours", ["user_id"], "value")

    return run_bounded_stream(
        spark,
        scratch_dir("streams/stream_session_windows", sf_dir),
        None,
        transform,
        source=src,
    ).where(F.col("user_id") >= 0)


def q_stream_inventory_restock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/T7: per-user stateful inventory scan with restock rule,
    state carried across micro-batches via GroupState.

    Cost floor (profiled r7, sf0.1, local[32]): the SAME bounded run
    with a no-op pass-through applyInPandasWithState (no scan, no
    state.update) measures ~3.4 s vs ~3.5 s for this operator, and the
    stateless identity pipeline measures ~1.35 s — i.e. the operator's
    own Python work is ~0.1 s and the rest is Spark's stateful-runner +
    state-store machinery (16 stores x 3 batches) plus the micro-batch
    harness. Per-group costs were already driven to the floor (r7: the
    per-group output frame no longer pays pandas' columns= reindex —
    0.33 ms/group on 2-row groups). Remaining wall-clock is
    framework-fixed at this scale (addBatch ~1.0 s/batch at 33 k rows
    with per-row work measured in microseconds), so it amortizes as
    rows per batch grow — the state machinery, not the data, is the
    cost at test scale."""
    # TWO time-ordered batches (r16, was 3): cross-batch GroupState
    # carry-over is still exercised across the one boundary, and the
    # fold is order-deterministic (per-batch (ts, event_id) sort over
    # time-range batches == the global order), so the result is
    # identical while one whole trigger's fixed cost (addBatch +
    # state-store commit wave + log fsyncs) is saved.
    qty = _tagged_events(spark, sf_dir, n_data=2).select(
        "event_id",
        "ts",
        "user_id",
        (F.col("event_id") % 3 + 1).cast("int").alias("qty"),
        "__batch",
    )
    # Unlike the commit-bound aggregations, the restock scan does real
    # per-group Python work — give it parallelism, not fewer commits
    # (measured sf0.1: 16 partitions ~30% faster than 4 on local[32]),
    # derived from the session's parallelism so a smaller session
    # doesn't pay extra commit waves (adaptive_state_partitions note).
    return run_bounded_stream(
        spark,
        scratch_dir("streams/stream_inventory_restock", sf_dir),
        None,
        inventory_restock_stream,
        state_partitions=adaptive_state_partitions(spark),
        source=(qty, 2),
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (A3 as a stream): the source replays every
    event TWICE (adjacent batches), dropDuplicates on the key keeps
    state per seen id and emits each exactly once. At 100 TB you bound
    that state with dropDuplicatesWithinWatermark; here the bounded
    replay checks exact-once emission across batch boundaries."""

    src = _events_dup_source(spark, sf_dir)

    def transform(stream: DataFrame) -> DataFrame:
        return stream.dropDuplicates(["event_id"]).select(
            "event_id", "ts", "user_id", "event_type", "value"
        )

    return run_bounded_stream(
        spark,
        scratch_dir("streams/stream_dedup", sf_dir),
        None,
        transform,
        source=src,
    )


def q_stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-state twin of stream_dedup:
    ``dropDuplicatesWithinWatermark`` keys state by event_id but EVICTS
    entries once the watermark passes them — at 100 TB this is the only
    viable streaming dedup (plain dropDuplicates keeps every key ever
    seen). The watermark delay here (40 days) covers the fixture's whole
    event-time span, so the double replay still dedups exactly-once and
    the batch oracle holds; in production the delay is the dedup
    horizon SLA."""

    src = _events_dup_source(spark, sf_dir)

    def transform(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "40 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "ts", "user_id", "event_type", "value")
        )

    return run_bounded_stream(
        spark,
        scratch_dir("streams/stream_dedup_watermarked", sf_dir),
        None,
        transform,
        source=src,
    )


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's clicks in the preceding hour. Both sides are watermarked so
    Spark can discard buffered rows once the interval provably passed
    — the state-bounding condition for stream-stream joins."""
    src = _events_source(spark, sf_dir, n_flush=2, n_data=1)

    def transform(stream: DataFrame) -> DataFrame:
        clicks = (
            stream.where(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "1 hour")
        )
        purchases = (
            stream.where(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "1 hour")
        )
        joined = purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("click_ts") < F.col("purchase_ts")),
        )
        return joined.select("purchase_id", "click_id", F.col("p_user").alias("user_id"))

    return run_bounded_stream(
        spark,
        scratch_dir("streams/stream_stream_join", sf_dir),
        None,
        transform,
        source=src,
    )


def q_stream_upsert_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3/K4 as a live streaming MERGE: each micro-batch reduces to
    its latest event per user (deterministic ts/event_id order) and
    upserts into a path-backed gold table via foreachBatch — the
    reference's Kafka->Delta MERGE pattern (streaming_consumer.py:
    81-88) on the parquet stand-in. Because the staged batches are
    event-time ranges, later batches carry later timestamps and the
    final table is exactly "each user's last event" — which makes the
    whole streaming upsert loop batch-oracle-checkable."""
    import shutil

    from ecommerce_dataengineering_project_spark.operators.aggregates import (
        dedup_keep_first,
    )
    from ecommerce_dataengineering_project_spark.sources.maintenance import (
        merge_upsert_path,
    )

    src = _events_source(spark, sf_dir, n_flush=0)
    work_dir = scratch_dir("streams/stream_upsert_gold", sf_dir)
    gold_dir = os.path.join(work_dir, "gold")
    shutil.rmtree(gold_dir, ignore_errors=True)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        latest = dedup_keep_first(
            batch_df,
            ["user_id"],
            [F.col("ts").desc(), F.col("event_id").desc()],
        ).select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
        merge_upsert_path(spark, gold_dir, latest, ["user_id"])

    run_bounded_foreach(spark, work_dir, None, lambda s: s, upsert, source=src)
    return spark.read.parquet(gold_dir)


def q_stream_scd2_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 maintenance: the customer dimension's
    tracked-attribute change events (first order of each customer-day,
    as in the batch `scd2_customer_dim`) replay as three event-time-
    ordered micro-batches, each applied with operators/scd.py
    scd2_apply via foreachBatch onto a path-backed dim table.

    Incremental-apply == one-shot-apply by induction: change
    suppression only looks backward and every later batch carries
    strictly later event dates, so the final table equals the batch
    SCD2 build — which is exactly what the oracle checks. This is the
    Delta-style `MERGE`-maintained dimension loop on the parquet
    stand-in."""
    import shutil

    from ecommerce_dataengineering_project_spark.operators.scd import scd2_apply
    from pyspark.sql import Window

    work_dir = scratch_dir("streams/stream_scd2_dim", sf_dir)
    dim_dir = os.path.join(work_dir, "dim")
    shutil.rmtree(dim_dir, ignore_errors=True)

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", F.to_date("o_orderdate")).orderBy(
        F.col("o_orderkey").asc()
    )
    upd = (
        orders.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderpriority").alias("segment"),
            F.to_date("o_orderdate").alias("effective_from"),
        )
    )
    y97 = F.lit("1997-01-01").cast("date")
    y99 = F.lit("1999-01-01").cast("date")
    tag = (
        F.when(F.col("effective_from") < y97, 0)
        .when(F.col("effective_from") < y99, 1)
        .otherwise(2)
    )
    src = (upd.withColumn("__batch", tag.cast("int")), 3)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.isdir(dim_dir):
            dim = spark.read.parquet(dim_dir)
        else:
            cust = load_table(spark, sf_dir, "customer")
            dim = cust.select(
                "c_custkey",
                F.col("c_mktsegment").alias("segment"),
                F.lit("1990-01-01").cast("date").alias("effective_from"),
                F.lit(None).cast("date").alias("effective_to"),
                F.lit(True).alias("is_current"),
            )
        # stage-then-swap (r16, same commit as merge_upsert_path): the
        # new dim version is computed READING the current dim_dir and
        # written to a sibling dir, then renamed over it — one job per
        # batch where the eager checkpoint + overwrite paid two.
        new_state = scd2_apply(
            dim, batch_df, key_cols=["c_custkey"], attr_cols=["segment"]
        )
        stage = dim_dir + ".stage"
        new_state.write.mode("overwrite").parquet(stage)
        old = dim_dir + ".old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(dim_dir):
            os.rename(dim_dir, old)
        os.rename(stage, dim_dir)
        shutil.rmtree(old, ignore_errors=True)

    run_bounded_foreach(spark, work_dir, None, lambda s: s, apply_batch, source=src)
    return spark.read.parquet(dim_dir)


def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (§2i): the event stream enriched per
    micro-batch against a static dimension (customer segment + nation
    name, pre-joined once on the batch side).  Stateless — the static
    side is re-broadcast to each micro-batch, no streaming state, no
    watermark, so at 100 TB/day this costs exactly one broadcast per
    batch and the stream never shuffles.  LEFT join: a user with no
    dimension row passes through with NULL attributes rather than
    silently dropping the event."""
    src = _events_source(spark, sf_dir, n_flush=0, n_data=1)
    dim = (
        load_table(spark, sf_dir, "customer")
        .join(
            load_table(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.col("n_name").alias("nation_name"),
        )
    )

    def transform(stream: DataFrame) -> DataFrame:
        return stream.join(F.broadcast(dim), on="user_id", how="left").select(
            "event_id", "user_id", "event_type", "value", "mktsegment", "nation_name"
        )

    return run_bounded_stream(
        spark,
        scratch_dir("streams/stream_static_enrich", sf_dir),
        None,
        transform,
        source=src,
    )


def q_stream_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bad-data path as a STREAM: every ~7th Kafka-shaped payload
    is corrupted at the source; the streaming hop parses with
    PERMISSIVE + corrupt-record capture (bronze_silver.parse_quarantine
    — the same narrow projection as batch, zero state), so malformed
    messages keep their original bytes and flag ``quarantined``
    instead of silently nulling into silver (the reference's actual
    failure mode). Downstream a foreachBatch sink would route the two
    legs; here the flagged sink itself is the oracle-checked result.
    Corrupt payloads are id-derived strings so the oracle can rebuild
    them verbatim (double re-serialization is not engine-portable)."""
    from pyspark.sql.types import StructField, StructType

    from ecommerce_dataengineering_project_spark.streaming.bronze_silver import (
        parse_quarantine,
    )

    # stateless corrupt-capture parse: one consolidated batch (r16)
    tagged = _tagged_events(spark, sf_dir, n_data=1)
    data_cols = [c for c in tagged.columns if c not in ("__batch", "event_id")]
    kafka = tagged.select(
        "event_id",
        F.when(
            F.col("event_id") % 7 == 0,
            F.concat(F.lit("corrupt:"), F.col("event_id").cast("string")),
        )
        .otherwise(F.to_json(F.struct(*data_cols), EVENT_JSON_OPTIONS))
        .alias("value"),
        "__batch",
    )
    src = (kafka, 1)
    parse_schema = StructType(
        [f for f in EVENT_SCHEMA.fields if f.name != "event_id"]
    )

    def transform(stream: DataFrame) -> DataFrame:
        return parse_quarantine(stream, parse_schema, options=EVENT_JSON_OPTIONS)

    return run_bounded_stream(
        spark,
        scratch_dir("streams/stream_quarantine", sf_dir),
        None,
        transform,
        source=src,
    )


DRIFT_BUCKETS = 8
DRIFT_WIDTH = 64.0
# In-process memo keyed by (sf_dir, content fingerprint) — NOT path
# alone (the r10 IVF-cache staleness class, ADVICE/VERDICT r12): if
# the events table under the same path changes, the fingerprint
# changes and the baseline refits. The fingerprint rides the SAME
# single-scan aggregation as the fit, so keying by content costs no
# extra job ON THE FIRST FIT — but every later call still pays that
# one scan to re-derive the key before the memo/artifact can answer
# (ADVICE r13). That repeat scan IS the content-addressing trade: a
# key the data cannot lie to has to look at the data. Deliberate —
# the baseline consumer here is a bounded monitor run, not a hot
# loop; a deployment that polls the baseline per micro-batch should
# read the persisted artifact by name and trust its embedded
# fingerprint instead of re-deriving it.
_DRIFT_BASELINE: dict[tuple[str, str], list[float]] = {}


def _drift_bucket(col: str) -> F.Column:
    return F.least(
        F.lit(DRIFT_BUCKETS - 1), F.floor(F.col(col) / F.lit(DRIFT_WIDTH))
    ).cast("int")


def drift_baseline(spark: SparkSession, sf_dir: str) -> list[float]:
    """Fit (or fetch) the drift monitor's baseline distribution: the
    add-one-smoothed bucket histogram of the batch events table.

    Production shape (VERDICT r12 item 4): the fitted baseline is an
    explicit, inspectable JSON ARTIFACT persisted under
    .tmp/drift_baseline/, keyed — like the persisted IVF index — by a
    content fingerprint (bucket counts + ``bit_xor(xxhash64(value))``
    per bucket, folded in the same one-scan aggregation that fits the
    histogram). A monitor fleet reads the artifact instead of
    re-fitting; a mutated corpus lands at a new key and refits; a
    STALE artifact can never be served because the key IS the content.
    """
    import hashlib
    import json

    ev = load_table(spark, sf_dir, "events")
    rows = (
        ev.groupBy(_drift_bucket("value").alias("b"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.expr("bit_xor(xxhash64(value))").alias("sig"),
        )
        .collect()
    )
    fp = hashlib.sha256(
        repr(
            (DRIFT_BUCKETS, DRIFT_WIDTH, sorted((r["b"], r["c"], r["sig"]) for r in rows))
        ).encode()
    ).hexdigest()[:12]
    key = (sf_dir, fp)
    if key not in _DRIFT_BASELINE:
        art_dir = scratch_dir("drift_baseline", sf_dir)
        art = os.path.join(art_dir, f"baseline_{fp}.json")
        if os.path.exists(art):
            with open(art) as f:
                q = json.load(f)["q"]
        else:
            counts = {r["b"]: r["c"] for r in rows}
            n_total = sum(counts.values())
            q = [
                (counts.get(i, 0) + 1) / (n_total + DRIFT_BUCKETS)
                for i in range(DRIFT_BUCKETS)
            ]
            os.makedirs(art_dir, exist_ok=True)
            tmp = art + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "buckets": DRIFT_BUCKETS,
                        "width": DRIFT_WIDTH,
                        "fingerprint": fp,
                        "q": q,
                    },
                    f,
                )
            os.replace(tmp, art)  # atomic: readers never see a partial fit
        _DRIFT_BASELINE[key] = q
    return _DRIFT_BASELINE[key]


def q_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X40's STREAMING side: per-window, per-source drift of the value
    distribution against a FIXED baseline — the monitor a training-data
    ingest runs continuously (the batch `mixture_divergence` answers
    "has this source drifted over the whole corpus"; this answers "is
    it drifting RIGHT NOW"). Per (1-day window, event_type): add-one
    smoothed KL of the bucketed value histogram against the corpus
    baseline distribution, fitted once batch-side (8+1 scalars riding
    the plan as literals, like the LSH planes).

    Scale shape: ONE streaming aggregation (the window/key groupBy
    with 8 conditional counts — bucket counts as columns, not rows,
    because append-mode streams allow a single aggregation), then the
    KL is a stateless post-agg projection. State per key is 9 longs;
    the baseline is plan-literal, no join. Float policy: integer-ratio
    double divisions, left-associated term sum, 1e-6 half-up rounding
    after — the mixture_divergence contract, bit-exact vs DuckDB.

    The baseline comes from ``drift_baseline``: a content-fingerprinted
    persisted artifact (the IVF-index invalidation model), so a
    mutated corpus refits instead of serving a stale fit.
    """
    src = _events_source(spark, sf_dir, n_flush=2, n_data=1)
    q = drift_baseline(spark, sf_dir)

    def transform(stream: DataFrame) -> DataFrame:
        b = _drift_bucket("value")
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window(F.col("ts"), "1 day"), "event_type")
            .agg(
                *[
                    F.count(F.when(b == i, 1)).alias(f"c{i}")
                    for i in range(DRIFT_BUCKETS)
                ],
                F.count(F.lit(1)).alias("n_rows"),
            )
        )
        kl = None
        for i in range(DRIFT_BUCKETS):
            p = (F.col(f"c{i}") + F.lit(1)).cast("double") / (
                F.col("n_rows") + F.lit(DRIFT_BUCKETS)
            )
            term = p * F.log(p / F.lit(q[i]))
            kl = term if kl is None else kl + term
        return agg.select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_rows",
            round_half_up(kl, 6).alias("kl"),
        )

    return run_bounded_stream(
        spark,
        scratch_dir("streams/stream_drift_monitor", sf_dir),
        None,
        transform,
        source=src,
    ).where(F.col("event_type") != "__flush")


QUERIES = {
    "stream_bronze_silver": q_stream_bronze_silver,
    "stream_drift_monitor": q_stream_drift_monitor,
    "stream_tumbling_revenue": q_stream_tumbling_revenue,
    "stream_sliding_activity": q_stream_sliding_activity,
    "stream_session_windows": q_stream_session_windows,
    "stream_inventory_restock": q_stream_inventory_restock,
    "stream_dedup": q_stream_dedup,
    "stream_dedup_watermarked": q_stream_dedup_watermarked,
    "stream_stream_join": q_stream_stream_join,
    "stream_upsert_gold": q_stream_upsert_gold,
    "stream_scd2_dim": q_stream_scd2_dim,
    "stream_static_enrich": q_stream_static_enrich,
    "stream_quarantine": q_stream_quarantine,
}

_REV = sql_round_half_up("SUM(value)", 2)


def _drift_oracle_sql() -> str:
    bucket = (
        f"LEAST({DRIFT_BUCKETS - 1}, "
        f"CAST(FLOOR(value / {DRIFT_WIDTH!r}) AS INTEGER))"
    )

    def q_i(i: int) -> str:
        return (
            f"(((SELECT COUNT(*) FILTER ({bucket} = {i}) FROM events) + 1)"
            f" / ((SELECT COUNT(*) FROM events) + {DRIFT_BUCKETS}))"
        )

    c_cols = ",\n               ".join(
        f"COUNT(*) FILTER ({bucket} = {i}) AS c{i}"
        for i in range(DRIFT_BUCKETS)
    )
    terms = " + ".join(
        f"((c{i} + 1) / (n_rows + {DRIFT_BUCKETS}))"
        f" * LN(((c{i} + 1) / (n_rows + {DRIFT_BUCKETS})) / {q_i(i)})"
        for i in range(DRIFT_BUCKETS)
    )
    return f"""
        WITH cnt AS (
            SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS window_start,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS window_end,
               event_type,
               {c_cols},
               COUNT(*) AS n_rows
            FROM events
            GROUP BY 1, 2, 3
        )
        SELECT window_start, window_end, event_type, n_rows,
               {sql_round_half_up(terms, 6)} AS kl
        FROM cnt
    """


ORACLES = {
    # Stateless parse: clean rows round-trip unchanged (µs format),
    # corrupt rows null out with their original payload preserved.
    "stream_quarantine": """
        SELECT event_id,
               CASE WHEN bad THEN NULL ELSE ts END AS ts,
               CASE WHEN bad THEN NULL ELSE user_id END AS user_id,
               CASE WHEN bad THEN NULL ELSE event_type END AS event_type,
               CASE WHEN bad THEN NULL ELSE value END AS value,
               CASE WHEN bad THEN NULL ELSE props END AS props,
               CASE WHEN bad
                    THEN 'corrupt:' || CAST(event_id AS VARCHAR) END
                   AS corrupt_payload,
               bad AS quarantined
        FROM (SELECT *, event_id % 7 = 0 AS bad FROM events)
    """,
    # Stream-static join is stateless and per-batch: the union of the
    # per-batch joins IS the batch join over all events.
    "stream_static_enrich": """
        SELECT e.event_id, e.user_id, e.event_type, e.value,
               d.mktsegment, d.nation_name
        FROM events e
        LEFT JOIN (
            SELECT c_custkey AS user_id, c_mktsegment AS mktsegment,
                   n_name AS nation_name
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        ) d USING (user_id)
    """,
    # Round-trip parse returns the rows unchanged (ts serialized with
    # microsecond precision; drift alias coalesces to the same value).
    "stream_bronze_silver": """
        SELECT event_id, ts, user_id, event_type, value, props
        FROM events
    """,
    "stream_tumbling_revenue": f"""
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS window_start,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS window_end,
               event_type,
               {_REV} AS window_revenue,
               COUNT(*) AS window_events
        FROM events
        GROUP BY 1, 2, 3
    """,
    # Same fit + same float op order as the streaming side: baseline
    # q_i as double divisions of exact counts, per-window p_i likewise,
    # KL as the left-associated 8-term sum, 1e-6 half-up at the end.
    "stream_drift_monitor": _drift_oracle_sql(),
    # Every event lands in exactly two 24h/12h windows: the one starting
    # at its 12 h bucket and the one 12 h earlier.
    "stream_sliding_activity": f"""
        WITH w AS (
            SELECT e.*,
                   CAST(TO_TIMESTAMP(FLOOR(EPOCH(ts) / 43200) * 43200
                                     - offs.i * 43200) AS TIMESTAMP) AS window_start
            FROM events e, (SELECT UNNEST([0, 1]) AS i) offs
        )
        SELECT window_start,
               window_start + INTERVAL 24 HOUR AS window_end,
               event_type,
               {_REV} AS window_revenue,
               COUNT(*) AS window_events
        FROM w
        GROUP BY 1, 2, 3
    """,
    # Gaps-and-islands: a new session starts when the per-user gap is
    # >= 6 h (Spark session windows are [start, last+gap)).
    "stream_session_windows": f"""
        WITH o AS (
            SELECT user_id, ts, value,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w >= INTERVAL 6 HOUR
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT *, SUM(new_sess) OVER (
                PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM o
        )
        SELECT MIN(ts) AS window_start,
               MAX(ts) + INTERVAL 6 HOUR AS window_end,
               user_id,
               {_REV} AS session_revenue,
               COUNT(*) AS session_events
        FROM s GROUP BY user_id, sess_id
    """,
    # Double replay in, each event out exactly once.
    "stream_dedup": """
        SELECT event_id, ts, user_id, event_type, value FROM events
    """,
    # Same contract; the watermark delay covers the replay span.
    "stream_dedup_watermarked": """
        SELECT event_id, ts, user_id, event_type, value FROM events
    """,
    "stream_stream_join": """
        SELECT p.event_id AS purchase_id,
               c.event_id AS click_id,
               p.user_id
        FROM events p
        JOIN events c
          ON p.event_type = 'purchase' AND c.event_type = 'click'
         AND p.user_id = c.user_id
         AND c.ts >= p.ts - INTERVAL 1 HOUR
         AND c.ts < p.ts
    """,
    # Final merged state == each user's globally latest event: the
    # staged batches are disjoint event-time ranges, so the per-batch
    # keep-latest + MERGE composition reduces to one global argmax.
    "stream_upsert_gold": """
        SELECT user_id,
               event_id AS last_event_id,
               ts AS last_ts,
               event_type AS last_type,
               value AS last_value
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    # The restock scan is non-associative, so the oracle replays it as
    # a per-key recursive CTE over row_number order.
    "stream_inventory_restock": f"""
        WITH RECURSIVE e AS (
            SELECT event_id, user_id,
                   CAST(event_id % 3 + 1 AS INT) AS qty,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events
        ),
        s AS (
            SELECT user_id, rn, event_id, qty,
                   CAST({INITIAL_LEVEL} - qty
                        + CASE WHEN {INITIAL_LEVEL} - qty <= {MIN_LEVEL}
                               THEN {RESTOCK_AMOUNT} ELSE 0 END AS INT)
                       AS level_after,
                   ({INITIAL_LEVEL} - qty <= {MIN_LEVEL}) AS restocked
            FROM e WHERE rn = 1
            UNION ALL
            SELECT e.user_id, e.rn, e.event_id, e.qty,
                   CAST(s.level_after - e.qty
                        + CASE WHEN s.level_after - e.qty <= {MIN_LEVEL}
                               THEN {RESTOCK_AMOUNT} ELSE 0 END AS INT),
                   (s.level_after - e.qty <= {MIN_LEVEL})
            FROM s JOIN e ON e.user_id = s.user_id AND e.rn = s.rn + 1
        )
        SELECT event_id, user_id, qty, level_after, restocked FROM s
    """,
}

# The streaming SCD2 loop converges to the same table the batch build
# produces (incremental-apply == one-shot-apply; see q_stream_scd2_dim
# docstring), so it shares the batch oracle verbatim.
from ecommerce_dataengineering_project_spark.queries.ext_commerce import (  # noqa: E402
    ORACLES as _COMMERCE_ORACLES,
)

ORACLES["stream_scd2_dim"] = _COMMERCE_ORACLES["scd2_customer_dim"]


def q_stream_txlog_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3/K4 with a REAL atomic commit per micro-batch: each batch of
    the bounded event replay appends to the parquet transaction log
    (sources/txlog.py) — manifest-rename publication closes the
    non-atomicity window `merge_upsert_path` documents, giving the
    exactly-Delta-shaped streaming loop (data files first, atomic log
    entry second, readers only ever see committed snapshots). The
    final snapshot is the whole replayed stream, which the oracle
    checks against the source table; version count == batch count is
    pinned in tests/test_txlog.py's streaming twin below the query
    layer (each append is one snapshot)."""

    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    src = _events_source(spark, sf_dir, n_flush=0)
    work_dir = scratch_dir("streams/stream_txlog_append", sf_dir)
    table = recreate(os.path.join(work_dir, "table"))

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select("event_id", "user_id", "ts", "event_type", "value")
        if batch.isEmpty():
            return
        # idempotent exactly-once: foreachBatch is at-least-once, so a
        # retried batch must SKIP, not double-append — the manifest's
        # SetTransaction watermark (append_txn) detects the replay
        table.append_txn(batch, "stream_txlog_append", batch_id)

    run_bounded_foreach(spark, work_dir, None, lambda s: s, commit, source=src)
    return table.read(spark)


QUERIES["stream_txlog_append"] = q_stream_txlog_append

ORACLES["stream_txlog_append"] = """
    SELECT event_id, user_id, ts, event_type, value FROM events
"""


GEN_STREAM_ROWS = 3_000
# Two productive drains (3000/1500) still exercise the checkpointed
# restart-resume path — the second query run MUST resume from offset
# 1500 or the hash check fails — while each extra drain costs a full
# streaming-query start (~1.5 s of JVM+Python-source spin-up, the
# dominant term in this query's wall-clock).
GEN_STREAM_BATCH = 1_500


def q_stream_generator_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 via the Spark 4 Python streaming DataSource API: the
    deterministic event generator (sources/pyds.py) consumed as a REAL
    custom streaming source — position offsets, checkpointed progress,
    `readBetweenOffsets` replay — not a file-staged stand-in.

    availableNow snapshots only the offsets already prefetched at
    start, so the bounded drain restarts the query on the RETAINED
    checkpoint until the sink holds every row: each restart resumes
    from the last committed offset, which exercises exactly the
    recovery path a crashed ingest job takes. Generation is
    integer-hash deterministic, so the final sink is hash-checked
    against DuckDB's RANGE()."""
    import shutil

    from ecommerce_dataengineering_project_spark.sources import pyds

    pyds.register(spark)
    base = scratch_dir("streams/stream_generator_ingest", sf_dir)
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)

    stream = (
        spark.readStream.format("ecommerce_events")
        .option("batchRows", GEN_STREAM_BATCH)
        .option("maxRows", GEN_STREAM_ROWS)
        .load()
    )
    # ceil(rows/batch) productive drains, with headroom for no-op
    # passes where availableNow snapshotted before the prefetch landed.
    # Drain progress is read from recentProgress (driver-side, emitted
    # per COMMITTED batch) instead of a Spark count() job over the sink
    # after every drain — two scheduled jobs for a number the query
    # already reported (r16, guide §5 driver work; a drain that races
    # the prefetcher just reports 0 rows and the loop keeps draining).
    rows_committed = 0
    for _ in range(2 * (GEN_STREAM_ROWS // GEN_STREAM_BATCH) + 4):
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        _harness_capture(base, q)
        rows_committed += sum(p.numInputRows for p in q.recentProgress)
        if rows_committed >= GEN_STREAM_ROWS:
            break
    return spark.read.parquet(sink)


QUERIES["stream_generator_ingest"] = q_stream_generator_ingest

ORACLES["stream_generator_ingest"] = f"""
    WITH ids AS (SELECT UNNEST(RANGE(0, {GEN_STREAM_ROWS})) AS event_id),
    h AS (
        SELECT event_id,
               ((event_id % 999983) * 1000003) % 999983 AS h
        FROM ids
    )
    SELECT event_id,
           h % 1000 AS user_id,
           CASE ((h // 1000) % 5)
               WHEN 0 THEN 'view' WHEN 1 THEN 'click' WHEN 2 THEN 'cart'
               WHEN 3 THEN 'purchase' ELSE 'refund' END AS event_type,
           h % 100000 AS amount_cents
    FROM h
"""


# -------------------------------------------------- socket ingest (S1)
SOCKET_STREAM_ROWS = 1_000


def q_stream_socket_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1's NETWORK arm as a driver-checkable query: a local TCP server
    (streaming/socket_ingest.LineServer) emits deterministic
    newline-JSON events — half under the drifted ``quantity`` spelling
    (the reference's add_supplement(s) drift, streaming_consumer.py:33)
    — Spark's built-in ``socket`` source crosses the real network hop,
    and the same drift-tolerant parse the Kafka value column takes
    lands typed rows in a checkpointed parquet sink. The payload is
    integer-hash deterministic, so DuckDB reproduces it from RANGE()
    and the sink hash-checks end-to-end THROUGH the TCP boundary."""
    import json

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ecommerce_dataengineering_project_spark.streaming.socket_ingest import (
        LineServer,
        run_socket_ingest,
    )

    kinds = ["view", "click", "cart", "purchase", "refund"]
    lines = []
    for i in range(SOCKET_STREAM_ROWS):
        h = ((i % 999983) * 1000003) % 999983
        lines.append(
            json.dumps(
                {
                    "event_id": i,
                    "user_id": h % 1000,
                    ("qty" if i % 2 == 0 else "quantity"): h % 7 + 1,
                    "kind": kinds[(h // 1000) % 5],
                },
                separators=(",", ":"),
            )
        )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("qty", LongType()),
            StructField("kind", StringType()),
        ]
    )
    base = scratch_dir("streams/stream_socket_ingest", sf_dir)
    server = LineServer(lines)
    try:
        return run_socket_ingest(
            spark,
            server,
            schema,
            sink_dir=os.path.join(base, "sink"),
            ckpt_dir=os.path.join(base, "ckpt"),
            expected_rows=SOCKET_STREAM_ROWS,
            aliases={"qty": ["qty", "quantity"]},
        )
    finally:
        server.close()


QUERIES["stream_socket_ingest"] = q_stream_socket_ingest

ORACLES["stream_socket_ingest"] = f"""
    WITH ids AS (SELECT UNNEST(RANGE(0, {SOCKET_STREAM_ROWS})) AS event_id),
    h AS (
        SELECT event_id,
               ((event_id % 999983) * 1000003) % 999983 AS h
        FROM ids
    )
    SELECT event_id,
           h % 1000 AS user_id,
           h % 7 + 1 AS qty,
           CASE ((h // 1000) % 5)
               WHEN 0 THEN 'view' WHEN 1 THEN 'click' WHEN 2 THEN 'cart'
               WHEN 3 THEN 'purchase' ELSE 'refund' END AS kind
    FROM h
"""


# ------------------------------------------- txlog as a streaming source
def q_stream_txlog_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream a transaction-log TABLE (sources/pyds_txlog.py) — Delta's
    ``readStream.format("delta")`` consumption mode over the engine's
    own log: offsets are versions, each micro-batch is the files added
    by the commits in (start, end], checkpoint replay re-derives
    identical batches from the immutable manifests. The staged table
    holds events split across three append commits; the bounded drain
    lands every committed row in a parquet sink, hash-checked against
    the plain events fixture."""
    import shutil

    from ecommerce_dataengineering_project_spark.sources import pyds_txlog
    from ecommerce_dataengineering_project_spark.sources.readers import load_table
    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    base = scratch_dir("streams/stream_txlog_source", sf_dir)
    root = os.path.join(base, "table")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    table = recreate(root)
    ev = load_table(spark, sf_dir, "events")
    for i in range(3):
        table.append(ev.where(F.col("event_id") % 3 == i))
    pyds_txlog.register(spark)
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = spark.readStream.format("txlog_stream").option("path", root).load()
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    _harness_capture(base, q)
    return spark.read.schema(stream.schema).parquet(sink)


QUERIES["stream_txlog_source"] = q_stream_txlog_source

ORACLES["stream_txlog_source"] = """
    SELECT event_id, ts, user_id, event_type, value, props FROM events
"""


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def q_stream_dedup_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_dedup under the RocksDB state store provider — the
    backend that makes per-key state viable at 100 TB (off-heap,
    spills to local disk, changelog-checkpointed) where the default
    HDFS-backed provider keeps every key on the executor heap. Same
    double-replay source, same exactly-once contract, same oracle: the
    provider must be invisible in the results. The provider conf is set
    on this run's session only and captured into its checkpoint at
    first start."""

    src = _events_dup_source(spark, sf_dir)

    def transform(stream: DataFrame) -> DataFrame:
        return stream.dropDuplicates(["event_id"]).select(
            "event_id", "ts", "user_id", "event_type", "value"
        )

    return run_bounded_stream(
        spark,
        scratch_dir("streams/stream_dedup_rocksdb", sf_dir),
        None,
        transform,
        source=src,
        extra_confs={"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER},
    )


QUERIES["stream_dedup_rocksdb"] = q_stream_dedup_rocksdb

ORACLES["stream_dedup_rocksdb"] = """
    SELECT event_id, ts, user_id, event_type, value FROM events
"""


def q_statestore_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational state introspection via Spark's ``statestore`` data
    source (SPARK-45511): after a bounded dedup run, the operator's
    state store is read back as a DataFrame — the keys of a
    dropDuplicates operator ARE the distinct event ids, so the state
    itself is oracle-checkable against the base table. This is the
    debugging/ops surface for stuck streaming state (what Delta users
    get from the state reader on a checkpoint) — no reprocessing, the
    checkpoint is the source."""

    src = _events_dup_source(spark, sf_dir)

    def transform(stream: DataFrame) -> DataFrame:
        return stream.dropDuplicates(["event_id"]).select("event_id")

    work_dir = scratch_dir("streams/statestore_inspect", sf_dir)
    run_bounded_stream(spark, work_dir, None, transform, source=src)
    state = spark.read.format("statestore").load(os.path.join(work_dir, "checkpoint"))
    return state.select(F.col("key.event_id").alias("event_id"))


QUERIES["statestore_inspect"] = q_statestore_inspect

ORACLES["statestore_inspect"] = """
    SELECT event_id FROM events
"""


def q_stream_fanout_two_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table streaming fan-out with per-table exactly-once: one
    bounded replay, each micro-batch committed to TWO transaction-log
    tables inside one foreachBatch — raw detail rows AND mergeable
    per-type partials (count + integer-cent sum). Both appends are
    SetTransaction-idempotent (append_txn keyed by table x batch id),
    so foreachBatch's at-least-once replay cannot double-commit either
    table, and a crash BETWEEN the two commits heals on retry: the
    already-committed table skips, the missed one lands (per-table
    exactly-once, cross-table eventually-consistent — Delta's own
    foreachBatch multi-table contract). The returned relation checks
    BOTH arms at once: per-type counts from the raw table joined to
    counts and sums re-aggregated from the partials, all oracle-checked
    against the base events table."""

    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    src = _events_source(spark, sf_dir, n_flush=0)
    work_dir = scratch_dir("streams/stream_fanout_two_tables", sf_dir)
    raw = recreate(os.path.join(work_dir, "raw"))
    agg = recreate(os.path.join(work_dir, "agg"))

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        detail = batch_df.select("event_id", "user_id", "event_type", "value")
        if detail.isEmpty():
            return
        partials = detail.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("partial_n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")).alias(
                "partial_cents"
            ),
        )
        raw.append_txn(detail, "fanout_raw", batch_id)
        agg.append_txn(partials, "fanout_agg", batch_id)

    run_bounded_foreach(spark, work_dir, None, lambda s: s, commit, source=src)
    from_raw = raw.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_raw")
    )
    from_agg = agg.read(spark).groupBy("event_type").agg(
        F.sum("partial_n").alias("n_agg"),
        F.sum("partial_cents").alias("total_cents"),
    )
    return from_raw.join(from_agg, "event_type")


QUERIES["stream_fanout_two_tables"] = q_stream_fanout_two_tables

ORACLES["stream_fanout_two_tables"] = """
    SELECT event_type,
           COUNT(*) AS n_raw,
           COUNT(*) AS n_agg,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY event_type
"""


def q_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantically hard
    arm beside the inner join: a purchase with no click in its
    preceding hour must STILL emit (click_id NULL), but only once the
    watermark proves no matching click can arrive. The far-future
    flush rows advance the watermark past every real purchase, so the
    bounded run emits the complete outer result; state for both sides
    is discarded as the interval provably passes (same bounding
    condition as the inner join)."""
    src = _events_source(spark, sf_dir, n_flush=2, n_data=1)

    def transform(stream: DataFrame) -> DataFrame:
        # the flush rows must ride a JOIN BRANCH: Catalyst pushes each
        # branch's event-type filter below the watermark node, so a
        # row matching neither filter never reaches it and the
        # watermark stalls 1 hour short of the data max — the last
        # hour's outer-null rows would then never release (caught by
        # the oracle: rows short; pinned by the checkpoint's frozen
        # batchWatermarkMs during diagnosis). Flush rows join the
        # click side with user_id=-1 (no purchase carries it), so
        # they advance the watermark and can never match.
        wm = stream.withWatermark("ts", "1 hour")
        clicks = wm.where(F.col("event_type").isin("click", "__flush")).select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        purchases = wm.where(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        joined = purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("click_ts") < F.col("purchase_ts")),
            "leftOuter",
        )
        return joined.select(
            "purchase_id", "click_id", F.col("p_user").alias("user_id")
        )

    return run_bounded_stream(
        spark,
        scratch_dir("streams/stream_stream_left_join", sf_dir),
        None,
        transform,
        source=src,
    )


QUERIES["stream_stream_left_join"] = q_stream_stream_left_join

ORACLES["stream_stream_left_join"] = """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, user_id, ts
          FROM events WHERE event_type = 'click')
    SELECT p.purchase_id, c.click_id, p.user_id
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts < p.ts
"""


def q_stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the
    streaming join-type matrix (inner r6, left outer r9): a purchase
    with no click in its preceding hour emits (click_id NULL), AND a
    click with no purchase in its following hour emits (purchase_id
    NULL) — each only once the watermark proves no match can arrive
    (purchase side releases at wm >= purchase_ts; click side at
    wm >= click_ts + 1h, the interval's far edge).

    Flush rows ride the click branch (same single-watermark/branch
    structure as the left-outer arm — a row matching neither branch
    filter would stall the watermark below the branch-pushed filters).
    Under FULL outer they could themselves emit as unmatched clicks
    once the watermark passes flush_ts + 1h, so the post-join filter
    drops click-side flush emissions by their negative event_id — a
    stateless filter, invisible to the join's state bounds."""
    src = _events_source(spark, sf_dir, n_flush=2, n_data=1)

    def transform(stream: DataFrame) -> DataFrame:
        wm = stream.withWatermark("ts", "1 hour")
        clicks = wm.where(F.col("event_type").isin("click", "__flush")).select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        purchases = wm.where(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        joined = purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("click_ts") < F.col("purchase_ts")),
            "fullOuter",
        )
        return joined.where(
            F.col("click_id").isNull() | (F.col("click_id") >= 0)
        ).select(
            "purchase_id",
            "click_id",
            F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
        )

    return run_bounded_stream(
        spark,
        scratch_dir("streams/stream_stream_full_outer", sf_dir),
        None,
        transform,
        source=src,
    )


QUERIES["stream_stream_full_outer"] = q_stream_stream_full_outer

ORACLES["stream_stream_full_outer"] = """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, user_id, ts
          FROM events WHERE event_type = 'click')
    SELECT p.purchase_id, c.click_id,
           COALESCE(p.user_id, c.user_id) AS user_id
    FROM p FULL JOIN c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts < p.ts
"""


def q_stream_dedup_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark 4's
    multi-stateful support): exactly-once dedup of a double-replayed
    source FEEDING a watermarked tumbling daily aggregate, both holding
    state in the same run with correct watermark propagation between
    them. The flush rows close every real day-window; their own
    windows stay (correctly) unemitted. Oracle: distinct events,
    bucketed by day."""

    src = _events_dup_source(spark, sf_dir, n_flush=2)

    def transform(stream: DataFrame) -> DataFrame:
        deduped = stream.withWatermark("ts", "1 day").dropDuplicates(["event_id"])
        return (
            deduped.groupBy(F.window("ts", "1 day").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
                ).alias("total_cents"),
            )
            .select(
                F.col("w.start").alias("day_start"),
                "n_events",
                "total_cents",
            )
        )

    return run_bounded_stream(
        spark,
        scratch_dir("streams/stream_dedup_then_window", sf_dir),
        None,
        transform,
        source=src,
    )


QUERIES["stream_dedup_then_window"] = q_stream_dedup_then_window

ORACLES["stream_dedup_then_window"] = """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY 1
"""


def q_stream_timer_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 timers/TTL: per-user sessionization where each key's FINAL
    session is emitted by an EVENT-TIME TIMER (GroupStateTimeout.
    EventTimeTimeout) firing after 6 h of watermark-measured silence,
    and the fired key's state is REMOVED — the TTL discipline that
    keeps a 100 TB stream's state store bounded by active keys.
    Mid-stream sessions split inline on the gap, so rows and timers
    cooperate on one state shape.

    Deterministic under the in-order bounded replay (the two far-future
    flush batches advance the watermark past every real key's timer),
    so batch gaps-and-islands SQL is an exact oracle — including the
    timer-emitted final sessions. The flush key's own open session
    never fires (nothing advances the watermark past it); its
    closed-by-gap first session is filtered AFTER the stateful stage
    (a pre-stateful filter would be pushed below the watermark node
    and freeze it — the r8 pushdown-trap rule).

    Reference parity: the reference has no timer construct at all; its
    session notion is the producer's wall-clock batch loop
    (producer.py). This arm exists because SURVEY §2i T7 claims the
    full per-key-state API surface, and timers are the one feature the
    restock/dedup/SCD2 arms don't exercise.
    """
    from ecommerce_dataengineering_project_spark.streaming.stateful import timer_sessions_stream

    src = _events_source(spark, sf_dir, n_flush=2, n_data=1)

    def transform(stream: DataFrame) -> DataFrame:
        return timer_sessions_stream(stream, gap="6 hours", watermark="1 hour")

    # parallelism-derived like the restock arm: the per-GROUP fixed
    # cost (arrow group framing + state round-trip) dominates and
    # parallelizes across stores (measured sf0.1: 16 partitions ~35%
    # faster than the default 4 on local[32]; 8 faster than 16 by
    # 25-40% on local[8] — adaptive_state_partitions reproduces both)
    return run_bounded_stream(
        spark,
        scratch_dir("streams/stream_timer_sessions", sf_dir),
        None,
        transform,
        state_partitions=adaptive_state_partitions(spark),
        source=src,
    ).where(F.col("user_id") >= 0)


QUERIES["stream_timer_sessions"] = q_stream_timer_sessions

# Gaps-and-islands twin of the stateful sessionizer: a session breaks
# when the per-user silence exceeds 6 h (strict >, the operator's
# split rule); value is summed as per-row integer cents (two-level-sum
# float policy).
ORACLES["stream_timer_sessions"] = """
    WITH o AS (
        SELECT user_id, ts, event_id,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL 6 HOUR
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT *, SUM(new_sess) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM o
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS value_cents
    FROM s GROUP BY user_id, sess_id
"""


def q_stream_idle_timer_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7's PROCESSING-time timer mode (VERDICT r10 item 8 — the one
    timer mode without a query): per-user running aggregates evicted
    by INGEST silence. Each batch a key receives rows it folds them
    into exact integer state and re-arms a 1 ms proc-time timeout; the
    first micro-batch the key sits out fires the timer — the aggregate
    flushes and the state is REMOVED (TTL by wall clock, the
    cache-eviction shape; the event-time arm above is the
    session-boundary shape).

    Deterministic under the bounded replay: batch turnaround is orders
    of magnitude above the 1 ms timeout, so a key's output rows are
    exactly one per maximal run of CONSECUTIVE staged batches with
    data — and the staged batch rule (three time-ordered ranges split
    at Jan 11 / Jan 21) is re-derivable in SQL, making the oracle an
    islands query over (user, batch). The flush batches give every
    final run a subsequent batch to fire in; the flush key itself
    (user -1) occupies both trailing batches consecutively and the
    stream ends before it can fire, so it emits nothing.
    """
    from ecommerce_dataengineering_project_spark.streaming.stateful import idle_flush_stream

    src = _events_source(spark, sf_dir, n_flush=2)
    # The harness runs with noDataMicroBatches OFF, so timers fire in
    # the next DATA batch a key sits out — exactly the islands
    # semantics the oracle re-derives (the flush batches give every
    # final run its firing batch).
    return run_bounded_stream(
        spark,
        scratch_dir("streams/stream_idle_timer_flush", sf_dir),
        None,
        idle_flush_stream,
        state_partitions=adaptive_state_partitions(spark),
        source=src,
    )


QUERIES["stream_idle_timer_flush"] = q_stream_idle_timer_flush

# Islands twin: one output row per maximal run of consecutive staged
# micro-batches in which the user has events (the proc-time timer
# fires in the first batch the key sits out). Batch ids mirror
# _tagged_events' staging rule exactly.
ORACLES["stream_idle_timer_flush"] = """
    WITH e AS (
        SELECT user_id, ts,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
               CASE WHEN ts < TIMESTAMP '2024-01-11' THEN 0
                    WHEN ts < TIMESTAMP '2024-01-21' THEN 1
                    ELSE 2 END AS b
        FROM events
    ),
    runs AS (
        SELECT user_id, b,
               b - DENSE_RANK() OVER (PARTITION BY user_id ORDER BY b)
                   AS island
        FROM (SELECT DISTINCT user_id, b FROM e)
    )
    SELECT e.user_id,
           MIN(e.ts) AS first_seen,
           MAX(e.ts) AS last_seen,
           COUNT(*) AS n_events,
           CAST(COALESCE(SUM(e.cents), 0) AS BIGINT) AS value_cents
    FROM e JOIN runs ON e.user_id = runs.user_id AND e.b = runs.b
    GROUP BY e.user_id, runs.island
"""


# --- stream_semantic_dedup (NEW r14, VERDICT r13 item 4) -------------

# Three ingest micro-batches of odd vec_ids, split by vec_id % 6
# (1/3/5 -> batch 0/1/2) — deterministic boundaries both engines can
# derive, so the sequential accept-loop is exactly SQL-replayable.
STREAM_SEM_BATCHES = 3


def q_stream_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-ingest SemDeDup loop as an ACTUAL micro-batch
    stream (VERDICT r13 item 4): `semantic_dedup_incremental` +
    `semantic_cell_index` append wired into foreachBatch — the
    `stream_upsert_gold` pattern — so the persisted-index contract
    (operators/dedup.py semantic_cell_index docstring) is exercised by
    a real streaming loop, not only batch fixtures.

    Even vec_ids bootstrap the accepted history's cell index; odd
    vec_ids replay as three ordered micro-batches. State is ONE
    decision log, partitioned by ingest epoch: the bootstrap rows land
    as ``ingest_batch=-1`` (keep=true, hits 0 — accepted history IS a
    decision), and each micro-batch appends its own epoch directory
    carrying BOTH the keep/veto verdicts AND the batch vectors+norms —
    so the persisted cell index is exactly the ``keep`` filter of the
    log, and each batch costs ONE write job (a separate index table
    plus a decisions table doubled the per-batch job count for no
    information; a production deployment would asynchronously compact
    the keep rows into the cell-bucketed index table the
    semantic_cell_index docstring prescribes — same contents, done off
    the ingest path).

    Exactly-once under foreachBatch's at-least-once replay: the write
    lands in a per-batch directory (overwrite = replace, never
    double-append), and the index view filters
    ``ingest_batch < batch_id`` — a replayed batch can never see its
    OWN partial append as history (which would self-veto every kept
    row at cosine 1.0 — the acceptance-idempotence hazard pinned in
    tests/test_similarity.py). The log read declares its schema
    explicitly (r15), so planning never opens a leaf footer and the
    prefix filter partition-prunes a crashed batch's partial epoch
    directory before any of its files are touched — self-recovery
    holds even when the partial file is corrupt. The recompute is
    bit-identical —
    tests/test_stream_semantic_dedup.py re-derives each epoch from the
    log-as-of-its-start and asserts it equals the stored epoch.

    Sequential semantics — deliberately different from the one-shot
    `semantic_dedup_incremental` fixture: a batch-0 vector that was
    VETOED never enters the index, so it cannot veto a batch-2
    newcomer (one-shot, all smaller odd ids veto). This is the true
    accept-loop a production ingest runs; the oracle replays the same
    three-step loop in chained SQL CTEs. At 100 TB: per-batch work is
    (batch x probed cells) with history read partition-pruned to the
    probe cells when the index is stored bucketed/partitioned by cell
    — history is never rescanned, the property measured flat
    (1.94->1.89 s for 10x history) in SCALE.md."""
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        seeded_centroids,
        suggest_n_cells,
    )
    from ecommerce_dataengineering_project_spark.queries.ext_dedup import (
        COSINE_THRESHOLD,
        SEM_CELL_CLAMP,
        _SEM_INC_CENTROIDS,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    history = emb.where(F.col("vec_id") % 2 == 0)
    # the index's versioned quantizer — SAME history slice and memo as
    # the batch incremental arm, so the two arms share one selection
    if sf_dir not in _SEM_INC_CENTROIDS:
        lo, hi = SEM_CELL_CLAMP
        n_cells = suggest_n_cells(history.count(), min_cells=lo, max_cells=hi)
        _SEM_INC_CENTROIDS[sf_dir] = seeded_centroids(history, n_cells)
    return run_semantic_dedup_stream(
        spark,
        scratch_dir("streams/stream_semantic_dedup", sf_dir),
        history,
        emb.where(F.col("vec_id") % 2 != 0),
        F.expr("cast((vec_id % 6) div 2 as int)"),
        STREAM_SEM_BATCHES,
        _SEM_INC_CENTROIDS[sf_dir],
        COSINE_THRESHOLD,
    )


def run_semantic_dedup_stream(
    spark: SparkSession,
    work_dir: str,
    history: DataFrame,
    new_vectors: DataFrame,
    batch_tag,
    n_batches: int,
    cents: list,
    threshold: float,
) -> DataFrame:
    """The ingest-dedup micro-batch loop, parameterized so the
    registered fixture AND the production-condition profiler
    (tools/profile_semstream_scale.py: FIXED batches, growing history)
    drive the identical code path. ``work_dir`` holds the run's stream
    dirs and decision log; ``batch_tag`` is an int Column splitting
    ``new_vectors`` into the ordered ingest epochs."""
    import shutil

    from ecommerce_dataengineering_project_spark.operators.dedup import (
        semantic_cell_index,
        semantic_dedup_incremental,
    )

    dec_dir = os.path.join(work_dir, "decisions")
    shutil.rmtree(dec_dir, ignore_errors=True)
    # the bootstrap epoch: the accepted history, written into this
    # run's log
    semantic_cell_index(history, cents).select(
        F.col("vid").alias("vec_id"),
        "cell",
        F.lit(0).cast("bigint").alias("n_history_hits"),
        F.lit(0).cast("bigint").alias("n_batch_hits"),
        F.lit(True).alias("keep"),
        "v",
        "nrm",
    ).coalesce(4).write.parquet(os.path.join(dec_dir, "ingest_batch=-1"))
    tagged = new_vectors.select("vec_id", "embedding").withColumn("__batch", batch_tag)

    # Explicit log schema: the per-batch index read must NOT infer its
    # schema from leaf files — inference opens parquet footers before
    # partition pruning applies, so a crashed batch's partial epoch
    # file could fail the read on retry and wedge the stream (no wrong
    # data, but no self-recovery). With the schema declared, planning
    # never opens a footer and the ``ingest_batch < batch_id`` prefix
    # filter prunes the retried batch's own directory before any of
    # its files are touched (r14 ADVICE).
    log_schema = (
        "vec_id bigint, cell int, n_history_hits bigint, "
        "n_batch_hits bigint, keep boolean, v array<double>, "
        "nrm double, ingest_batch int"
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        idx = (
            spark.read.schema(log_schema).parquet(dec_dir)
            .where(F.col("keep") & (F.col("ingest_batch") < batch_id))
            .select(F.col("vec_id").alias("vid"), "cell", "v", "nrm")
        )
        # assign the batch ONCE per epoch (lazy checkpoint) and hand
        # the assignment to the decision operator AND the log write —
        # the r15 plan audit counted the nearest-cell fold 4x per
        # micro-batch (probe side, union partner side, and a separate
        # re-assignment for the epoch file)
        nb = semantic_cell_index(batch_df, cents).localCheckpoint(eager=False)
        dec = semantic_dedup_incremental(
            batch_df, idx, cents, threshold=threshold, assigned=nb
        )
        # one epoch file per batch: verdicts + the batch's vectors
        # (broadcast — the batch is bounded by contract), so the next
        # epoch's index view is just a keep filter over the log
        nbv = nb.select("vid", "v", "nrm")
        out = dec.join(
            F.broadcast(nbv), dec["vec_id"] == nbv["vid"]
        ).select(
            "vec_id", "cell", "n_history_hits", "n_batch_hits", "keep", "v", "nrm"
        )
        out.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(dec_dir, f"ingest_batch={batch_id}")
        )

    run_bounded_foreach(
        spark, work_dir, None, lambda s: s, apply, source=(tagged, n_batches)
    )
    return spark.read.schema(log_schema).parquet(dec_dir).where(F.col("ingest_batch") >= 0).select(
        "vec_id", "cell", "n_history_hits", "n_batch_hits", "keep", "ingest_batch"
    )


QUERIES["stream_semantic_dedup"] = q_stream_semantic_dedup


def _stream_semdedup_oracle() -> str:
    """Chained-CTE SQL replay of the three-batch accept loop: h{k} is
    the index as of batch k (bootstrap history, then += each batch's
    kept rows), d{k} that batch's decisions — the same hh/bh shape as
    the `semantic_dedup_incremental` oracle, sequenced."""
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        SEED_MOD,
        SEED_MULT,
    )
    from ecommerce_dataengineering_project_spark.queries.ext_dedup import (
        COSINE_THRESHOLD,
        SEM_CELL_CLAMP,
        _COS,
        _sem_cosine,
    )

    blocks = []
    for k in range(STREAM_SEM_BATCHES):
        blocks.append(
            f"""
    b{k} AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 6 = {2 * k + 1}),
    hh{k} AS (
        SELECT b.vec_id, CAST(COUNT(*) AS BIGINT) AS n_history_hits
        FROM b{k} b
        JOIN assign ab ON ab.vec_id = b.vec_id
        JOIN h{k} h ON h.cell = ab.cell
        WHERE {_sem_cosine("b", "h")} >= {COSINE_THRESHOLD}
        GROUP BY 1
    ),
    bh{k} AS (
        SELECT a.vec_id, CAST(COUNT(*) AS BIGINT) AS n_batch_hits
        FROM b{k} a
        JOIN assign aa ON aa.vec_id = a.vec_id
        JOIN b{k} p ON p.vec_id < a.vec_id
        JOIN assign ap ON ap.vec_id = p.vec_id AND ap.cell = aa.cell
        WHERE {_sem_cosine("a", "p")} >= {COSINE_THRESHOLD}
        GROUP BY 1
    ),
    d{k} AS (
        SELECT b.vec_id, ab.cell,
               COALESCE(hh{k}.n_history_hits, 0) AS n_history_hits,
               COALESCE(bh{k}.n_batch_hits, 0) AS n_batch_hits,
               (COALESCE(hh{k}.n_history_hits, 0) = 0
                AND COALESCE(bh{k}.n_batch_hits, 0) = 0) AS keep
        FROM b{k} b
        JOIN assign ab ON ab.vec_id = b.vec_id
        LEFT JOIN hh{k} ON hh{k}.vec_id = b.vec_id
        LEFT JOIN bh{k} ON bh{k}.vec_id = b.vec_id
    ),
    k{k} AS (
        SELECT d.vec_id, d.cell, b.v, b.nrm
        FROM d{k} d JOIN b{k} b ON b.vec_id = d.vec_id WHERE d.keep
    ),
    h{k + 1} AS (SELECT * FROM h{k} UNION ALL SELECT * FROM k{k})"""
        )
    finals = "\n    UNION ALL\n".join(
        f"""    SELECT vec_id, CAST(cell AS INTEGER) AS cell, n_history_hits,
           n_batch_hits, keep, CAST({k} AS INTEGER) AS ingest_batch
    FROM d{k}"""
        for k in range(STREAM_SEM_BATCHES)
    )
    return f"""
    WITH {_COS},
    hist AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 2 = 0),
    cents AS (
        SELECT cell, cv, halfsq FROM (
            SELECT v AS cv,
                   ROW_NUMBER() OVER (ORDER BY ((vec_id % {SEED_MOD}) * {SEED_MULT}) % {SEED_MOD} ASC,
                                      vec_id ASC) - 1 AS cell,
                   LIST_REDUCE(LIST_TRANSFORM(v, x -> x * x), (x, y) -> x + y)
                       / 2.0 AS halfsq
            FROM hist
        ) WHERE cell < (SELECT GREATEST({SEM_CELL_CLAMP[0]},
                            LEAST({SEM_CELL_CLAMP[1]},
                                  CAST(FLOOR(SQRT(COUNT(*))) AS INTEGER)))
                        FROM hist)
    ),
    cell_scores AS (
        SELECT e.vec_id, c.cell,
               LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(e.v, c.cv), x -> x[1] * x[2]),
                           (x, y) -> x + y) - c.halfsq AS s
        FROM n e CROSS JOIN cents c
    ),
    assign AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY s DESC, cell ASC) AS rn
            FROM cell_scores
        ) WHERE rn = 1
    ),
    h0 AS (
        SELECT h.vec_id, a.cell, h.v, h.nrm
        FROM hist h JOIN assign a ON a.vec_id = h.vec_id
    ),{",".join(blocks)}
{finals}
"""


ORACLES["stream_semantic_dedup"] = _stream_semdedup_oracle()
