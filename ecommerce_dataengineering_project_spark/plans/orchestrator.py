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
  (Airflow's task-instance table); re-running a failed run re-executes
  only tasks that are not already ``success`` — the "clear failed and
  rerun" loop.

Deliberately NOT an Airflow: no scheduler daemon, no cron, no
executors — ``DagRun.run()`` is a synchronous, deterministic,
topologically-ordered pass, which is exactly what a test (or a driver
process supervising Spark jobs) needs.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field

SUCCESS = "success"
FAILED = "failed"
UPSTREAM_FAILED = "upstream_failed"


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

    ``state_dir`` holds ``<run_id>.json`` mapping task_id ->
    {state, try_number}; ``run()`` loads it, skips tasks already
    ``success`` (idempotent resume), and rewrites it after every task
    so a crash resumes at the same boundary.
    """

    def __init__(self, dag: Dag, run_id: str, state_dir: str):
        self.dag = dag
        self.run_id = run_id
        self.state_path = os.path.join(state_dir, f"{dag.dag_id}.{run_id}.json")
        os.makedirs(state_dir, exist_ok=True)
        self.state: dict[str, dict] = {}
        if os.path.exists(self.state_path):
            with open(self.state_path) as fh:
                self.state = json.load(fh)

    def _save(self) -> None:
        tmp = self.state_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self.state, fh)
        os.replace(tmp, self.state_path)

    def _attempt(self, task: Task) -> None:
        """One try, bounded by execution_timeout. The task runs in a
        worker thread so the timeout is enforceable without signals
        (a timed-out worker is abandoned, as Airflow abandons a
        SIGKILLed subprocess)."""
        if task.fn is None:
            return
        if task.execution_timeout_s is None:
            task.fn()
            return
        result: dict = {}

        def target():
            try:
                task.fn()
                result["ok"] = True
            except BaseException as exc:  # propagate into the caller
                result["exc"] = exc

        t = threading.Thread(target=target, daemon=True)
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
        order = self.dag.topo_order()
        for tid in order:
            task = self.dag.tasks[tid]
            cur = self.state.get(tid, {})
            if cur.get("state") == SUCCESS:
                continue  # idempotent resume: done is done
            up_states = [
                self.state.get(u, {}).get("state") for u in task.upstream
            ]
            if any(s in (FAILED, UPSTREAM_FAILED) for s in up_states):
                self.state[tid] = {
                    "state": UPSTREAM_FAILED,
                    "try_number": cur.get("try_number", 0),
                }
                self._save()
                continue
            tries = 0
            while True:
                tries += 1
                try:
                    self._attempt(task)
                    self.state[tid] = {"state": SUCCESS, "try_number": tries}
                    break
                # A TIMED-OUT attempt is never retried: the abandoned
                # worker thread may still be running (threads cannot be
                # killed), and a retry would execute the task fn
                # CONCURRENTLY with the zombie attempt — two writers on
                # one output. Airflow can retry here only because it
                # SIGKILLs the subprocess first; without process
                # isolation, fail fast and let the operator investigate.
                except TaskTimeout:
                    self.state[tid] = {"state": FAILED, "try_number": tries}
                    break
                # Exception, not BaseException: a KeyboardInterrupt /
                # SystemExit must abort the run, never burn a retry.
                except Exception:
                    if tries > task.retries:
                        self.state[tid] = {"state": FAILED, "try_number": tries}
                        break
                    if task.retry_delay_s:
                        time.sleep(task.retry_delay_s)
            self._save()
        return {t: s["state"] for t, s in self.state.items()}


def sales_pipeline_dag(
    spark, sf_dir: str, out_root: str, run_token: str = "r1"
) -> Dag:
    """The reference DAG's shape over THIS engine's stages
    (sales_pipeline_dag.py:99-107): start -> produce -> stream ->
    join_streams -> promote(gold txlog) -> transform(fct+daily) ->
    anomaly -> metadata. Each task is a real Spark job writing under
    ``out_root``; re-running a half-finished run_id only executes the
    tasks that have not succeeded.

    What each task reads and writes (``<run>`` is ``run=<run_token>``):

    - ``produce_sales_stream`` reads ``sf_dir``'s events and writes them
      Kafka-shaped (one JSON ``value`` per event) to
      ``bronze_events/<run>``;
    - ``run_streaming_consumer`` reads ``bronze_events/<run>`` as an
      ``availableNow`` stream and sinks it once into
      ``silver_purchases/<run>``, checkpointed in
      ``checkpoints/run_streaming_consumer/<run>``;
    - ``delta_to_iceberg`` reads ``silver_purchases/<run>`` and appends
      it to the ``gold_tx`` txlog, which every run shares;
    - ``run_dbt_transformation`` reads ``sf_dir``'s lineitem and writes
      ``fct_purchases`` and ``daily_sales``;
    - ``run_anomaly_detection_model`` reads ``daily_sales`` and writes
      the flagged days to ``anomalies``.

    Keying bronze, silver and the checkpoint by run token lets a later
    run over the same ``out_root`` promote only its own rows, while a
    replay of one run's stream hop or promote finds its work done.
    Silver and ``daily_sales`` are read with their known schemas, which
    saves a schema-inference job per read."""
    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.ml.daily_anomaly import score_daily_sales
    from ecommerce_dataengineering_project_spark.operators.aggregates import DAILY_SALES_SCHEMA
    from ecommerce_dataengineering_project_spark.queries.core import q_daily_sales, q_fct_purchases
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
        events_to_kafka(load_table(spark, sf_dir, "events")).write.mode(
            "overwrite"
        ).parquet(bronze)

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
        q_fct_purchases(spark, sf_dir).write.mode("overwrite").parquet(
            os.path.join(out_root, "fct_purchases")
        )
        q_daily_sales(spark, sf_dir).write.mode("overwrite").parquet(daily)

    def anomaly():  # ml/anomaly_detection.py
        days = spark.read.schema(DAILY_SALES_SCHEMA).parquet(daily).toPandas()
        spark.createDataFrame(score_daily_sales(days)).where(F.col("is_anomaly")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_root, "anomalies"))

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
