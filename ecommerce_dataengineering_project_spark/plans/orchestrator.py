"""Minimal DAG orchestrator — the reference's Airflow wiring
(pipeline/dags/sales_pipeline_dag.py:65-107) as a dependency-ordered
task runner, closing the one SURVEY gap that is scheduling rather than
query capability.

Semantics carried over from the reference DAG:

- **Barriers**: a task runs only after ALL upstreams succeeded
  (`join_streams` fans two branches back in,
  sales_pipeline_dag.py:99-103).
- **Failure propagation**: a failed task marks every transitive
  downstream ``upstream_failed`` (Airflow's trigger-rule default
  ``all_success``); independent branches still run.
- **Retries with delay**: per-task ``retries``/``retry_delay``
  (BashOperator ``retries=0`` on the Spark hops,
  sales_pipeline_dag.py:79-87).
- **Execution timeout**: per-task wall-clock bound
  (``execution_timeout=timedelta(minutes=7)`` on the streaming hop,
  sales_pipeline_dag.py:78).
- **Idempotent resume**: task-instance state persists per ``run_id``
  (Airflow's task-instance table) as an append-only attempt log,
  ``<state_dir>/<dag_id>.<run_id>.jsonl``. Each attempt transition
  appends one JSON line (task, try, state, start, end, and for a failed
  attempt its error type, message and traceback tail); no line is
  rewritten and no file renamed. Loading folds the lines in order, the
  last line per task winning, so re-running a failed run re-executes
  only tasks whose last line is not ``success`` — the "clear failed and
  rerun" loop. A line reaches the operating system when its ``write``
  returns, so a process crash (not a power loss) loses at most a torn
  trailing line, which the fold ignores.

Deliberately NOT an Airflow: no scheduler daemon, no cron, no
executors — ``DagRun.run()`` is a synchronous, deterministic,
topologically-ordered pass, which is exactly what a test (or a driver
process supervising Spark jobs) needs.
"""

from __future__ import annotations

import json
import os
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

SUCCESS = "success"
FAILED = "failed"
UPSTREAM_FAILED = "upstream_failed"
RUNNING = "running"
UP_FOR_RETRY = "up_for_retry"

# how much of a failed attempt's error its log line keeps
_MESSAGE_CHARS = 2000  # head of str(exc); a Py4J error carries a whole JVM trace
_TRACEBACK_LINES = 20  # tail of the formatted traceback, where it was raised


class TaskTimeout(RuntimeError):
    """Task exceeded its execution_timeout."""


@dataclass
class Task:
    task_id: str
    fn: Callable[[], object] | None = None  # None == EmptyOperator barrier
    retries: int = 0
    retry_delay_s: float = 0.0
    execution_timeout_s: float | None = None
    upstream: list[str] = field(default_factory=list)


class Dag:
    """Build with ``add(task)`` + ``set_downstream(a, b)`` (the
    Airflow ``a >> b``)."""

    def __init__(self, dag_id: str):
        self.dag_id = dag_id
        self.tasks: dict[str, Task] = {}

    def add(self, task: Task) -> Task:
        if task.task_id in self.tasks:
            raise ValueError(f"duplicate task_id {task.task_id!r}")
        self.tasks[task.task_id] = task
        return task

    def set_downstream(self, up: str, down: str) -> None:
        self.tasks[down].upstream.append(up)

    def topo_order(self) -> list[str]:
        """Deterministic topological order: ready tasks run in
        insertion order (Airflow breaks ties by task_id; insertion
        order keeps the DAG author's intent readable)."""
        done: list[str] = []
        seen: set[str] = set()
        remaining = list(self.tasks)
        while remaining:
            progressed = False
            for tid in list(remaining):
                if all(u in seen for u in self.tasks[tid].upstream):
                    done.append(tid)
                    seen.add(tid)
                    remaining.remove(tid)
                    progressed = True
            if not progressed:
                raise ValueError(f"cycle among {remaining}")
        return done


class DagRun:
    """One execution of a Dag with persisted task-instance state.

    ``state_dir`` holds the run's attempt log, ``<dag_id>.<run_id>.jsonl``,
    one JSON object per line with the keys ``task``, ``try``, ``state``,
    ``start``, ``end`` (epoch seconds), ``error_type``, ``message`` and
    ``traceback`` (the last lines of the formatted traceback). Lines are
    appended, one per transition:

    - an attempt appends ``running`` (no ``end``) as it starts, then
      ``success``, ``failed`` or, when a retry follows, ``up_for_retry``,
      with the error fields set for the last two;
    - a task whose upstream failed appends one ``upstream_failed`` line.

    ``try`` counts a task's attempts over every ``run()`` of this
    ``run_id``; ``retries`` bounds the retries within one ``run()``.

    The constructor folds the log, the last line per task winning, into
    ``state``; ``run()`` skips tasks whose state is ``success``
    (idempotent resume). An attempt cut short by a crash or an interrupt
    ends on its ``running`` line, so the resume re-runs that task and
    everything downstream of it. A trailing line that does not parse, a
    torn write, is ignored and cut off before the next append; an
    unparsable line anywhere else raises ``ValueError``.
    """

    def __init__(self, dag: Dag, run_id: str, state_dir: str):
        self.dag = dag
        self.run_id = run_id
        self.log_path = os.path.join(state_dir, f"{dag.dag_id}.{run_id}.jsonl")
        os.makedirs(state_dir, exist_ok=True)
        self.state: dict[str, dict] = {}
        if os.path.exists(self.log_path):
            self._load()

    def _load(self) -> None:
        with open(self.log_path, "rb") as fh:
            data = fh.read()
        # every whole line ends in a newline, so the last piece is empty
        # unless the last write was torn
        lines = data.split(b"\n")
        keep = 0  # bytes of whole, parsable lines
        for i, line in enumerate(lines[:-1]):
            try:
                rec = json.loads(line)
                tid = rec["task"]
            except (ValueError, KeyError, TypeError):
                if any(lines[i + 1 :]):
                    raise ValueError(
                        f"{self.log_path}: line {i + 1} is not an attempt record"
                    ) from None
                break
            self.state[tid] = rec
            keep += len(line) + 1
        if keep < len(data):
            os.truncate(self.log_path, keep)

    def _append(
        self,
        tid: str,
        try_number: int,
        state: str,
        start: float | None = None,
        exc: BaseException | None = None,
    ) -> None:
        rec = {
            "task": tid,
            "try": try_number,
            "state": state,
            "start": start,
            "end": None if state == RUNNING else time.time(),
            "error_type": None,
            "message": None,
            "traceback": None,
        }
        if exc is not None:
            tb = traceback.format_exception(type(exc), exc, exc.__traceback__)
            rec["error_type"] = type(exc).__name__
            rec["message"] = str(exc)[:_MESSAGE_CHARS]
            rec["traceback"] = "\n".join("".join(tb).splitlines()[-_TRACEBACK_LINES:])
        # append, never write-and-rename: a rename over a file already on
        # disk can wait for a journal flush (35-120 ms a save on ext4
        # mounted with discard), while an append costs ~0.1 ms
        with open(self.log_path, "ab", buffering=0) as fh:
            fh.write((json.dumps(rec) + "\n").encode())
        self.state[tid] = rec

    def _attempt(self, task: Task) -> None:
        """One try, bounded by execution_timeout. The task runs in a
        worker thread so the timeout is enforceable without signals
        (a timed-out worker is abandoned, as Airflow abandons a
        SIGKILLed subprocess). The worker is a
        ``pyspark.InheritableThread``, so its Spark jobs carry the
        caller's job group, description and pool."""
        if task.fn is None:
            return
        if task.execution_timeout_s is None:
            task.fn()
            return
        from pyspark import InheritableThread

        result: dict = {}

        def target():
            try:
                task.fn()
                result["ok"] = True
            except BaseException as exc:  # propagate into the caller
                result["exc"] = exc

        t = InheritableThread(target, daemon=True)
        t.start()
        t.join(task.execution_timeout_s)
        if t.is_alive():
            raise TaskTimeout(
                f"{task.task_id}: exceeded {task.execution_timeout_s}s"
            )
        if "exc" in result:
            raise result["exc"]

    def run(self) -> dict[str, str]:
        """Execute to completion; returns task_id -> final state."""
        for tid in self.dag.topo_order():
            task = self.dag.tasks[tid]
            cur = self.state.get(tid, {})
            if cur.get("state") == SUCCESS:
                continue  # idempotent resume: done is done
            try_number = cur.get("try", 0)
            up_states = [
                self.state.get(u, {}).get("state") for u in task.upstream
            ]
            if any(s in (FAILED, UPSTREAM_FAILED) for s in up_states):
                self._append(tid, try_number, UPSTREAM_FAILED)
                continue
            for attempt in range(task.retries + 1):
                try_number += 1
                start = time.time()
                self._append(tid, try_number, RUNNING, start)
                try:
                    self._attempt(task)
                # A TIMED-OUT attempt is never retried: the abandoned
                # worker thread may still be running (threads cannot be
                # killed), and a retry would execute the task fn
                # CONCURRENTLY with the zombie attempt — two writers on
                # one output. Airflow can retry here only because it
                # SIGKILLs the subprocess first; without process
                # isolation, fail fast and let the operator investigate.
                except TaskTimeout as exc:
                    self._append(tid, try_number, FAILED, start, exc)
                    break
                # Exception, not BaseException: a KeyboardInterrupt /
                # SystemExit must abort the run, never burn a retry.
                except Exception as exc:
                    if attempt == task.retries:
                        self._append(tid, try_number, FAILED, start, exc)
                        break
                    self._append(tid, try_number, UP_FOR_RETRY, start, exc)
                    if task.retry_delay_s:
                        time.sleep(task.retry_delay_s)
                else:
                    self._append(tid, try_number, SUCCESS, start)
                    break
        return {t: s["state"] for t, s in self.state.items()}


def run_concurrently(*fns: Callable[[], object]) -> None:
    """Run every ``fn`` at once, each in its own thread, and return when
    all have ended; then raise the first failure, in argument order.

    The threads are ``pyspark.InheritableThread``s, so the Spark jobs
    they submit carry the caller's local properties (job group,
    description, scheduler pool) and a ``cancelJobGroup`` reaches them.
    Waiting for every thread before raising means no writer outlives
    the call, so a retry never races a write still in flight."""
    from pyspark import InheritableThread

    errors: list[BaseException | None] = [None] * len(fns)

    def call(i: int) -> None:
        try:
            fns[i]()
        except BaseException as exc:  # re-raised in the caller
            errors[i] = exc

    threads = [InheritableThread(call, args=(i,)) for i in range(len(fns))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for exc in errors:
        if exc is not None:
            raise exc


def sales_pipeline_dag(
    spark, sf_dir: str, out_root: str, run_token: str = "r1"
) -> Dag:
    """The reference DAG's shape over THIS engine's stages
    (sales_pipeline_dag.py:99-107): start -> produce -> stream ->
    join_streams -> promote(gold txlog) -> transform(fct+daily) ->
    anomaly -> metadata. Each task is a real Spark job writing under
    ``out_root``; re-running a half-finished run_id only executes the
    tasks that have not succeeded.

    What each task reads and writes (``<run>`` is ``run=<run_token>``;
    N is ``spark.sparkContext.defaultParallelism``):

    - ``produce_sales_stream`` reads ``sf_dir``'s events, hash-partitions
      them by ``user_id`` into N partitions, as a keyed Kafka producer
      assigns a topic's partitions, and writes them Kafka-shaped (one
      JSON ``value`` per event) to ``bronze_events/<run>``: up to N
      files, each user's events in one of them;
    - ``run_streaming_consumer`` reads ``bronze_events/<run>`` as an
      ``availableNow`` stream and sinks it once into
      ``silver_purchases/<run>``, checkpointed in
      ``checkpoints/run_streaming_consumer/<run>``; its one micro-batch
      parses the N bronze files in N tasks and writes N silver files;
    - ``delta_to_iceberg`` reads ``silver_purchases/<run>`` in N tasks
      and appends it to the ``gold_tx`` txlog, which every run shares,
      as N data files;
    - ``run_dbt_transformation`` reads ``sf_dir``'s lineitem once and
      writes ``fct_purchases`` and ``daily_sales`` concurrently, from
      two threads that carry the caller's job group; it returns or
      raises only after both writes have ended;
    - ``run_anomaly_detection_model`` reads ``daily_sales`` and writes
      the flagged days to ``anomalies`` as one file.

    Keying bronze, silver and the checkpoint by run token lets a later
    run over the same ``out_root`` promote only its own rows, while a
    replay of one run's stream hop or promote finds its work done.
    Silver and ``daily_sales`` are read with their known schemas, which
    saves a schema-inference job per read."""
    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.ml.daily_anomaly import score_daily_sales
    from ecommerce_dataengineering_project_spark.operators.aggregates import (
        DAILY_SALES_SCHEMA,
        daily_sales,
    )
    from ecommerce_dataengineering_project_spark.operators.commerce import (
        fct_purchases,
        lineitem_amount,
    )
    from ecommerce_dataengineering_project_spark.sources.readers import load_table
    from ecommerce_dataengineering_project_spark.sources.txlog import TxTable
    from ecommerce_dataengineering_project_spark.streaming.bronze_silver import (
        EVENT_SCHEMA,
        events_to_kafka,
        stream_events_to_silver,
    )

    dag = Dag("sales_pipeline")
    run_dir = f"run={run_token}"
    bronze = os.path.join(out_root, "bronze_events", run_dir)
    silver = os.path.join(out_root, "silver_purchases", run_dir)
    daily = os.path.join(out_root, "daily_sales")

    def produce():  # the bounded stand-in for generator.producer
        # keyed by user, as the reference's topic is partitioned: one
        # bronze file per partition, so the stream hop, silver and the
        # promote each run in N tasks, not in one per input row group
        events = load_table(spark, sf_dir, "events").repartition(
            spark.sparkContext.defaultParallelism, "user_id"
        )
        events_to_kafka(events).write.mode("overwrite").parquet(bronze)

    def stream():  # streaming_consumer's bronze->silver hop, bounded
        stream_events_to_silver(
            spark,
            bronze,
            silver,
            os.path.join(out_root, "checkpoints", "run_streaming_consumer", run_dir),
        )

    def promote():  # delta_to_iceberg: silver -> versioned gold table
        # append_txn, not append: if the process dies AFTER the txlog
        # publish but BEFORE the DagRun persists this task as success,
        # the resume re-runs promote — the SetTransaction watermark
        # makes that replay a no-op instead of a double-append (the
        # same contract streaming sinks use). The app_id carries the
        # RUN token: replays of the same run skip, while a fresh run
        # over the same out_root (new token, new watermark key) really
        # appends — a fixed app_id would make every later run a
        # silent permanent no-op.
        TxTable(os.path.join(out_root, "gold_tx")).append_txn(
            spark.read.schema(EVENT_SCHEMA).parquet(silver),
            app_id=f"sales_pipeline.promote.{run_token}",
            txn_version=1,
        )

    def transform():  # the dbt hop: fct_purchases + daily_sales
        li = load_table(spark, sf_dir, "lineitem")
        fct = fct_purchases(li)
        days = daily_sales(li, ts_col="l_shipdate", amount=lineitem_amount(), id_col="l_orderkey")
        run_concurrently(
            lambda: fct.write.mode("overwrite").parquet(os.path.join(out_root, "fct_purchases")),
            lambda: days.write.mode("overwrite").parquet(daily),
        )

    def anomaly():  # ml/anomaly_detection.py
        days = spark.read.schema(DAILY_SALES_SCHEMA).parquet(daily).toPandas()
        flagged = spark.createDataFrame(score_daily_sales(days)).where(F.col("is_anomaly"))
        flagged.coalesce(1).write.mode("overwrite").parquet(os.path.join(out_root, "anomalies"))

    dag.add(Task("start"))
    dag.add(Task("produce_sales_stream", produce))
    dag.add(Task("run_streaming_consumer", stream, execution_timeout_s=420.0))
    dag.add(Task("join_streams"))
    dag.add(Task("delta_to_iceberg", promote))
    dag.add(Task("run_dbt_transformation", transform, retries=1))
    dag.add(Task("run_anomaly_detection_model", anomaly))
    dag.add(Task("ingest_datahub_metadata", lambda: None))
    for up, down in [
        ("start", "produce_sales_stream"),
        ("produce_sales_stream", "run_streaming_consumer"),
        ("run_streaming_consumer", "join_streams"),
        ("join_streams", "delta_to_iceberg"),
        ("delta_to_iceberg", "run_dbt_transformation"),
        ("run_dbt_transformation", "run_anomaly_detection_model"),
        ("run_anomaly_detection_model", "ingest_datahub_metadata"),
    ]:
        dag.set_downstream(up, down)
    return dag
