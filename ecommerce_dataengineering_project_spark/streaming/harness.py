"""Bounded Structured-Streaming harness (SURVEY §2i T1-T5).

The reference runs one unbounded Kafka->Delta streaming job with a 60 s
micro-batch trigger and a 120 s hard stop (streaming_consumer.py:55-98).
For deterministic execution the engine runs the *same* dataflow bounded:

- source: file stream (parquet) staged from a batch DataFrame — the
  testable stand-in for a Kafka topic. ``maxFilesPerTrigger=1`` makes
  each staged file one micro-batch, so multi-batch behavior (watermark
  advancement, state carry-over) is exercised, not skipped.
- trigger: ``availableNow`` — processes everything, then stops (T5's
  ``awaitTermination(120)`` without the wall-clock dependence).
- sink: checkpointed parquet append (K3's shape: append mode +
  ``checkpointLocation``; partitioning is the caller's choice), or a
  ``foreachBatch`` function.

Like the reference's consumer, each bounded query owns its source, sink
and checkpoint: they live under a ``work_dir`` the caller supplies
(``scratch_dir`` derives one per query and input), every run restages
its input there, and nothing is cached between runs. Each query runs in
a child of the caller's session (``spark.newSession()``, starting from
the caller's SQL confs), and its streaming confs are set on that child
alone, so the caller's session is never modified and two bounded
queries can run at once.

Watermark flushing: in append mode a windowed aggregation only emits a
window after the watermark passes its end, and the watermark advances
*between* micro-batches. A bounded run therefore stages trailing
``flush`` files whose far-future rows push the watermark past every
real window; the flush rows' own windows are dropped by the caller
(they are deterministic and known). File order is pinned via mtime —
the file stream source processes oldest-first.

At 100 TB none of this harness changes the query: swap the staged file
source for ``readStream.format("kafka")`` and ``availableNow`` for a
processing-time trigger and the same plan runs unbounded.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TMP_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".tmp")

# Last executed micro-batch plan per bounded run, keyed by the run's
# work_dir. Streaming transforms can't be plan-audited without executing
# (building the DataFrame runs the bounded job), so the harness records
# the plan it actually executed and tests/test_plan_hygiene.py sweeps
# these for CartesianProduct / row-at-a-time-Python regressions exactly
# like the batch registry.
LAST_PLAN: dict[str, str] = {}


def _capture_plan(key: str, q) -> None:
    try:
        plan = q._jsq.explainInternal(False)
    except Exception:  # no batch executed (empty source) — nothing to audit
        return
    if "No physical plan" not in plan:
        LAST_PLAN[key] = plan


def scratch_dir(name: str, sf_dir: str) -> str:
    """The scratch directory of ``name`` (a query, or a relative path
    such as ``streams/stream_dedup``) over the input at ``sf_dir``:
    ``.tmp/<name>/<basename>-<hash>``. The short hash of the input's
    absolute path keeps two inputs that share a basename
    (``A/sf0.01``, ``B/sf0.01``) in separate directories."""
    path = os.path.abspath(sf_dir)
    tag = hashlib.sha1(path.encode()).hexdigest()[:8]
    return os.path.join(TMP_ROOT, name, f"{os.path.basename(path)}-{tag}")


def stage_source_tagged(
    tagged: DataFrame,
    n_batches: int,
    source_dir: str,
    flush_rows=None,
) -> None:
    """Single-scan staging: ``tagged`` carries an integer ``__batch``
    column (0..n_batches-1); one partitioned write splits it into the
    ordered micro-batch files, one parquet file per batch, with strictly
    increasing mtimes so the file stream source replays them in order
    (oldest-first). The partition column is dropped from the data files
    by the partitioned write, so the staged schema is exactly the batch
    schema. ``flush_rows`` (a pyarrow Table) is appended as one trailing
    single-file batch per row, written driver-side — a Spark job per
    1-row flush file would cost more than the whole stream.

    Flush contract (ADVICE r15): with the harness default
    ``noDataMicroBatches.enabled=false``, a watermark advance takes
    effect one micro-batch later, so a watermark-dependent stream must
    stage AT LEAST TWO flush batches — the first carries the far-future
    timestamps, the second is the batch in which the advanced watermark
    finalizes the last real windows/timers/outer-nulls. A single flush
    row would silently drop those final emissions; the assert below
    makes that a loud staging-time error instead.
    """
    import pyarrow.parquet as pq

    if flush_rows is not None and flush_rows.num_rows < 2:
        raise ValueError(
            "flush_rows must stage >= 2 rows (one batch each): with "
            "no-data micro-batches disabled, a watermark advance lands "
            "one batch later, so a single flush batch never finalizes "
            "the last real emissions"
        )

    shutil.rmtree(source_dir, ignore_errors=True)
    os.makedirs(source_dir, exist_ok=True)
    staging = os.path.join(source_dir, "_stage")
    tagged.coalesce(1).write.partitionBy("__batch").mode("overwrite").parquet(staging)
    now = time.time() - 3600.0
    for i in range(n_batches):
        [part] = glob.glob(os.path.join(staging, f"__batch={i}", "part-*.parquet"))
        dest = os.path.join(source_dir, f"batch-{i:05d}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (now + i, now + i))
    shutil.rmtree(staging)
    if flush_rows is not None:
        for j in range(flush_rows.num_rows):
            dest = os.path.join(source_dir, f"batch-{n_batches + j:05d}.parquet")
            pq.write_table(flush_rows.slice(j, 1), dest)
            os.utime(dest, (now + n_batches + j, now + n_batches + j))


def _tag_batches(batches: list[DataFrame]) -> tuple[DataFrame, int]:
    """One DataFrame for ``stage_source_tagged``: each batch tagged with
    its index, so all batches stage in one partitioned write (a
    per-batch job would pay Spark job-launch overhead once per
    micro-batch)."""
    union = None
    for i, df in enumerate(batches):
        tagged = df.withColumn("__batch", F.lit(i))
        union = tagged if union is None else union.unionByName(tagged)
    return union, len(batches)


def _run(
    spark: SparkSession,
    work_dir: str,
    batches: list[DataFrame] | None,
    source: tuple | None,
    transform,
    sink,
    state_partitions: int = 4,
    extra_confs: dict[str, str] | None = None,
) -> DataFrame:
    """The one start path: stage, read the stream in a child session,
    start ``sink(writer)``, await, record the plan. Returns the
    transformed streaming DataFrame."""
    tagged, n_batches, *flush = source if source is not None else _tag_batches(batches)
    source_dir = os.path.join(work_dir, "source")
    ckpt_dir = os.path.join(work_dir, "checkpoint")
    stage_source_tagged(tagged, n_batches, source_dir, *flush)
    shutil.rmtree(ckpt_dir, ignore_errors=True)

    # Stateful operators keep one state-store instance per shuffle partition
    # PER micro-batch; a bounded local run with the batch engine's
    # partitioning pays ~hundreds of state commits for no parallelism gain.
    # The partition count is captured in the checkpoint at first start — on
    # a cluster, size it to executor count before first start.
    #
    # noDataMicroBatches OFF by default (r15 measurement: the trailing
    # no-data batch costs a full ~0.9 s trigger — addBatch + offset/
    # commit-log fsyncs — per bounded run): in this harness the final
    # watermark advance is performed by the staged far-future FLUSH ROWS, so
    # every real window/timer/outer-null emission lands in a data batch (the
    # flush batch sees a watermark already past every real event), and the
    # no-data batch that availableNow would append can only emit flush-key
    # rows the callers provably filter (or evict state nobody reads). It
    # also keeps the proc-time timer arm finite:
    # FlatMapGroupsWithStateExec.shouldRunAnotherBatch is unconditionally
    # true under ProcessingTimeTimeout, so availableNow would schedule empty
    # batches forever. An unbounded production run keeps the default:
    # there, wall-clock finalization between arrivals is exactly what
    # no-data batches are for. Callers can re-enable per run via
    # extra_confs.
    #
    # newSession() starts from the builder's confs only, so the caller's
    # runtime SQL confs (a session time zone, say) are copied in first.
    child = spark.newSession()
    inherited = {k: v for k, v in spark.conf.getAll.items() if spark.conf.isModifiable(k)}
    confs = {
        **inherited,
        "spark.sql.shuffle.partitions": str(state_partitions),
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        **(extra_confs or {}),
    }
    for k, v in confs.items():
        child.conf.set(k, v)
    stream = (
        child.readStream.schema(tagged.drop("__batch").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    out = transform(stream)
    q = (
        sink(out.writeStream)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _capture_plan(work_dir, q)
    return out


def run_bounded_foreach(
    spark: SparkSession,
    work_dir: str,
    batches: list[DataFrame] | None,
    transform,
    batch_fn,
    source: tuple | None = None,
) -> None:
    """Bounded streaming run into a ``foreachBatch`` sink — the
    production pattern for sinks Structured Streaming can't write
    directly (MERGE/upsert into a table, multi-table fan-out, JDBC).
    ``batch_fn(batch_df, batch_id)`` runs once per micro-batch with a
    BATCH DataFrame, so any batch operator (e.g.
    sources.maintenance.merge_upsert) becomes a streaming sink;
    exactly-once comes from the checkpoint + an idempotent batch_fn.
    Input, staging and session are as in ``run_bounded_stream``.
    """
    _run(
        spark, work_dir, batches, source, transform,
        lambda w: w.foreachBatch(batch_fn),
    )


def rate_source(spark: SparkSession, rows_per_second: int = 2) -> DataFrame:
    """T8: the producer's ~2 events/s cadence (producer.py:25-27,163)
    as a Spark rate source — (timestamp, value) rows for fixtures and
    load tests."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def console_sink(df: DataFrame, trigger_seconds: int = 60):
    """K2: the reference's debug console sink, untruncated, on the
    micro-batch cadence (streaming_consumer.py:75-78,85). Returns the
    started StreamingQuery; caller stops it."""
    return (
        df.writeStream.format("console")
        .option("truncate", False)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def adaptive_state_partitions(spark: SparkSession, cap: int = 16) -> int:
    """State-store partition count for the per-key-Python stateful
    arms, derived from the session's parallelism instead of a
    constant (guide-§2 scale adaptivity; the r15 measurement):

    - local[32]: 16 beats both 8 (+15%) and 32 (+25-45%) — the
      per-GROUP Arrow/state framing parallelizes across stores until
      store-commit count overtakes it, so the sweet spot sits below
      the core count;
    - local[8]: 8 beats 16 by 25-40% (16 stores on 8 cores pay two
      commit waves per batch for no extra parallelism).

    ``min(cap, max(4, defaultParallelism))`` reproduces both measured
    optima and sizes to executor count on a cluster (captured in the
    checkpoint at first start, same scoping rule as before).
    """
    return min(cap, max(4, spark.sparkContext.defaultParallelism))


def run_bounded_stream(
    spark: SparkSession,
    work_dir: str,
    batches: list[DataFrame] | None,
    transform,
    output_mode: str = "append",
    partition_by: list[str] | None = None,
    state_partitions: int = 4,
    source: tuple | None = None,
    extra_confs: dict[str, str] | None = None,
) -> DataFrame:
    """Run ``transform`` (streaming DataFrame -> streaming DataFrame)
    over a bounded file stream with an availableNow trigger into a
    checkpointed parquet sink, and return the sink as a batch DataFrame
    of the caller's session.

    The input is either ``batches`` (one micro-batch per DataFrame) or
    ``source = (tagged, n_batches[, flush_rows])``, the arguments of
    ``stage_source_tagged``. The caller owns ``work_dir``: every run
    restages the input in ``<work_dir>/source`` and recreates
    ``<work_dir>/sink`` and ``<work_dir>/checkpoint`` (a retained
    checkpoint would mark the staged files already-consumed and no-op —
    the production behavior, wrong for a bounded replay). Nothing
    outside ``work_dir`` is written or cleared.

    The query runs in a child session that starts from the caller's SQL
    confs; ``state_partitions``, ``noDataMicroBatches.enabled=false``
    and ``extra_confs`` (e.g. a state-store provider) are set on the
    child only, and the query captures them at start.
    """
    sink_dir = os.path.join(work_dir, "sink")
    shutil.rmtree(sink_dir, ignore_errors=True)

    def sink(writer):
        writer = writer.outputMode(output_mode).format("parquet").option("path", sink_dir)
        return writer.partitionBy(*partition_by) if partition_by else writer

    out = _run(
        spark, work_dir, batches, source, transform, sink,
        state_partitions, extra_confs,
    )
    return spark.read.schema(out.schema).parquet(sink_dir)
