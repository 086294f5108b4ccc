"""DAG orchestrator (plans/orchestrator.py): the reference Airflow
DAG's barrier / retry / timeout / failure-propagation / resume
semantics, plus the sales pipeline wired over real engine stages."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from ecommerce_dataengineering_project_spark.plans.orchestrator import (
    FAILED,
    SUCCESS,
    UPSTREAM_FAILED,
    Dag,
    DagRun,
    Task,
)


def _diamond(calls):
    """start -> {a, b} -> join -> end, each leaf recording its run."""
    dag = Dag("t")
    dag.add(Task("start"))
    dag.add(Task("a", lambda: calls.append("a")))
    dag.add(Task("b", lambda: calls.append("b")))
    dag.add(Task("join"))
    dag.add(Task("end", lambda: calls.append("end")))
    for up, down in [
        ("start", "a"), ("start", "b"), ("a", "join"), ("b", "join"),
        ("join", "end"),
    ]:
        dag.set_downstream(up, down)
    return dag


def test_topo_order_respects_barriers(tmp_path):
    calls: list[str] = []
    dag = _diamond(calls)
    order = dag.topo_order()
    assert order.index("join") > max(order.index("a"), order.index("b"))
    assert order.index("end") > order.index("join")
    states = DagRun(dag, "r1", str(tmp_path)).run()
    assert set(states.values()) == {SUCCESS}
    assert calls == ["a", "b", "end"]


def test_cycle_detection():
    dag = Dag("c")
    dag.add(Task("a"))
    dag.add(Task("b"))
    dag.set_downstream("a", "b")
    dag.set_downstream("b", "a")
    with pytest.raises(ValueError, match="cycle"):
        dag.topo_order()


def test_flaky_task_retries_then_succeeds(tmp_path):
    attempts = {"n": 0}

    def flaky():
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("transient")

    dag = Dag("t")
    dag.add(Task("flaky", flaky, retries=2))
    states = DagRun(dag, "r1", str(tmp_path)).run()
    assert states == {"flaky": SUCCESS}
    assert attempts["n"] == 3


def test_failure_propagates_but_independent_branch_runs(tmp_path):
    calls: list[str] = []
    dag = Dag("t")
    dag.add(Task("start"))
    dag.add(Task("boom", lambda: 1 / 0))
    dag.add(Task("after_boom", lambda: calls.append("after_boom")))
    dag.add(Task("indep", lambda: calls.append("indep")))
    dag.add(Task("sink", lambda: calls.append("sink")))
    for up, down in [
        ("start", "boom"), ("start", "indep"), ("boom", "after_boom"),
        ("after_boom", "sink"), ("indep", "sink"),
    ]:
        dag.set_downstream(up, down)
    states = DagRun(dag, "r1", str(tmp_path)).run()
    assert states["boom"] == FAILED
    assert states["after_boom"] == UPSTREAM_FAILED
    assert states["sink"] == UPSTREAM_FAILED  # all_success trigger rule
    assert states["indep"] == SUCCESS
    assert calls == ["indep"]


def test_execution_timeout_fails_task(tmp_path):
    dag = Dag("t")
    dag.add(Task("slow", lambda: time.sleep(5), execution_timeout_s=0.2))
    states = DagRun(dag, "r1", str(tmp_path)).run()
    assert states["slow"] == FAILED


def test_resume_reruns_only_unfinished_tasks(tmp_path):
    """The Airflow 'clear failed, rerun the dag_run' loop: the second
    run with the SAME run_id skips succeeded tasks entirely and
    re-executes the failed one and its downstream."""
    calls: list[str] = []
    healthy = {"ok": False}

    def sometimes():
        calls.append("mid")
        if not healthy["ok"]:
            raise RuntimeError("still broken")

    dag = Dag("t")
    dag.add(Task("first", lambda: calls.append("first")))
    dag.add(Task("mid", sometimes))
    dag.add(Task("last", lambda: calls.append("last")))
    dag.set_downstream("first", "mid")
    dag.set_downstream("mid", "last")

    states = DagRun(dag, "r1", str(tmp_path)).run()
    assert states == {"first": SUCCESS, "mid": FAILED, "last": UPSTREAM_FAILED}
    healthy["ok"] = True
    states2 = DagRun(dag, "r1", str(tmp_path)).run()
    assert states2 == {"first": SUCCESS, "mid": SUCCESS, "last": SUCCESS}
    # first ran ONCE across both runs; mid ran in both; last only in run 2
    assert calls == ["first", "mid", "mid", "last"]
    # a fresh run_id starts from scratch
    calls.clear()
    DagRun(dag, "r2", str(tmp_path)).run()
    assert calls == ["first", "mid", "last"]


def _chain(calls, *tids, fns=None):
    """A linear DAG over ``tids``; each task records its run unless
    ``fns`` gives it another body."""
    fns = fns or {}
    dag = Dag("t")
    for tid in tids:
        dag.add(Task(tid, fns.get(tid, lambda tid=tid: calls.append(tid))))
    for up, down in zip(tids, tids[1:]):
        dag.set_downstream(up, down)
    return dag


def _log(run: DagRun) -> list[dict]:
    with open(run.log_path) as fh:
        return [json.loads(line) for line in fh]


@pytest.mark.parametrize("tail", [b'{"task": "mid", "try": 2, "sta', b"garbage\n"])
def test_torn_or_garbage_trailing_line_is_ignored_on_resume(tmp_path, tail):
    calls: list[str] = []
    healthy = {"ok": False}

    def mid():
        calls.append("mid")
        if not healthy["ok"]:
            raise RuntimeError("still broken")

    dag = _chain(calls, "first", "mid", "last", fns={"mid": mid})
    run = DagRun(dag, "r1", str(tmp_path))
    assert run.run() == {"first": SUCCESS, "mid": FAILED, "last": UPSTREAM_FAILED}
    with open(run.log_path, "ab") as fh:
        fh.write(tail)
    healthy["ok"] = True
    resumed = DagRun(dag, "r1", str(tmp_path))
    assert resumed.state["mid"]["state"] == FAILED
    assert resumed.run() == {"first": SUCCESS, "mid": SUCCESS, "last": SUCCESS}
    assert calls == ["first", "mid", "mid", "last"]
    # the tail was cut before the resume appended, so every line parses
    assert [r["state"] for r in _log(resumed) if r["task"] == "mid"] == [
        "running", FAILED, "running", SUCCESS,
    ]


def test_unparsable_line_before_the_last_raises(tmp_path):
    run = DagRun(_chain([], "a", "b"), "r1", str(tmp_path))
    run.run()
    with open(run.log_path) as fh:
        lines = fh.readlines()
    lines.insert(1, "garbage\n")
    with open(run.log_path, "w") as fh:
        fh.writelines(lines)
    with pytest.raises(ValueError, match="line 2"):
        DagRun(_chain([], "a", "b"), "r1", str(tmp_path))


@pytest.mark.parametrize("crash_at", range(4))
def test_crash_resumes_at_the_crashed_task(tmp_path, crash_at):
    """A BaseException out of a task fn stands in for the process dying
    while that task runs: the resume skips everything before it and
    re-runs it and its downstream, each exactly once."""
    tids = ["a", "b", "c", "d"]
    calls: list[str] = []
    crashed = {"yet": False}

    def crashing():
        if not crashed["yet"]:
            crashed["yet"] = True
            raise SystemExit("killed")
        calls.append(tids[crash_at])

    dag = _chain(calls, *tids, fns={tids[crash_at]: crashing})
    with pytest.raises(SystemExit):
        DagRun(dag, "r1", str(tmp_path)).run()
    assert calls == tids[:crash_at]
    resumed = DagRun(dag, "r1", str(tmp_path))
    assert resumed.state[tids[crash_at]]["state"] == "running"
    assert resumed.run() == {t: SUCCESS for t in tids}
    assert calls == tids
    assert resumed.state[tids[crash_at]]["try"] == 2


def _explode():
    raise ValueError("bad row 7")


def test_failed_attempts_log_error_type_message_and_traceback(tmp_path):
    dag = Dag("t")
    dag.add(Task("boom", _explode, retries=1))
    run = DagRun(dag, "r1", str(tmp_path))
    assert run.run() == {"boom": FAILED}
    lines = _log(run)
    assert [(r["try"], r["state"]) for r in lines] == [
        (1, "running"), (1, "up_for_retry"), (2, "running"), (2, FAILED),
    ]
    for r in lines[1::2]:
        assert r["error_type"] == "ValueError"
        assert r["message"] == "bad row 7"
        assert "in _explode" in r["traceback"]
        assert r["traceback"].endswith("ValueError: bad row 7")
        assert r["start"] <= r["end"]
    assert lines[0]["end"] is None and lines[0]["error_type"] is None


def test_timed_out_attempt_is_logged_as_task_timeout(tmp_path):
    release = threading.Event()
    dag = Dag("t")
    dag.add(Task("slow", lambda: release.wait(5), execution_timeout_s=0.05))
    run = DagRun(dag, "r1", str(tmp_path))
    try:
        assert run.run() == {"slow": FAILED}
    finally:
        release.set()
    last = _log(run)[-1]
    assert (last["state"], last["error_type"]) == (FAILED, "TaskTimeout")
    assert last["message"] == "slow: exceeded 0.05s"
    assert last["end"] - last["start"] >= 0.05


def test_run_appends_one_line_per_transition_and_never_renames(tmp_path, monkeypatch):
    """No state write replaces or renames a file: every transition is
    one appended line, and nothing else is written."""

    def no_rename(*_a, **_kw):
        raise AssertionError("state must be appended, not replaced")

    monkeypatch.setattr(os, "replace", no_rename)
    monkeypatch.setattr(os, "rename", no_rename)
    flaky = {"n": 0}

    def fails_once():
        flaky["n"] += 1
        if flaky["n"] == 1:
            raise RuntimeError("transient")

    calls: list[str] = []
    dag = _chain(
        calls, "a", "b", "c", "d", "e",
        fns={"b": fails_once, "d": lambda: 1 / 0},
    )
    dag.tasks["b"].retries = 1
    run = DagRun(dag, "r1", str(tmp_path))
    assert run.run() == {
        "a": SUCCESS, "b": SUCCESS, "c": SUCCESS, "d": FAILED, "e": UPSTREAM_FAILED,
    }
    assert [(r["task"], r["state"]) for r in _log(run)] == [
        ("a", "running"), ("a", SUCCESS),
        ("b", "running"), ("b", "up_for_retry"), ("b", "running"), ("b", SUCCESS),
        ("c", "running"), ("c", SUCCESS),
        ("d", "running"), ("d", FAILED),
        ("e", UPSTREAM_FAILED),
    ]
    assert os.listdir(tmp_path) == [os.path.basename(run.log_path)]


def test_sales_pipeline_dag_end_to_end(spark, tmp_path):
    """The reference DAG's shape over real engine stages at sf0.001:
    every task succeeds, the gold txlog holds the silver rows, and the
    analytic outputs land."""
    import os

    from ecommerce_dataengineering_project_spark.plans.orchestrator import sales_pipeline_dag
    from ecommerce_dataengineering_project_spark.sources.txlog import TxTable

    out = str(tmp_path / "run")
    dag = sales_pipeline_dag(spark, "/root/testdata/sf0.001", out, run_token="r1")
    states = DagRun(dag, "r1", str(tmp_path / "state")).run()
    assert set(states.values()) == {SUCCESS}, states
    gold = TxTable(os.path.join(out, "gold_tx")).read(spark)
    silver = spark.read.parquet(os.path.join(out, "silver_purchases"))
    assert gold.count() == silver.count() > 0
    assert spark.read.parquet(os.path.join(out, "daily_sales")).count() > 0
    assert spark.read.parquet(os.path.join(out, "fct_purchases")).count() > 0
    # a REPLAY of the same run's promote is a no-op (crash-resume
    # idempotence)...
    dag.tasks["delta_to_iceberg"].fn()
    assert TxTable(os.path.join(out, "gold_tx")).read(spark).count() == gold.count()
    # ...but a FRESH run over the same out_root really appends — a
    # fixed watermark key would make every later run a silent no-op
    dag2 = sales_pipeline_dag(spark, "/root/testdata/sf0.001", out, run_token="r2")
    states2 = DagRun(dag2, "r2", str(tmp_path / "state")).run()
    assert set(states2.values()) == {SUCCESS}, states2
    assert (
        TxTable(os.path.join(out, "gold_tx")).read(spark).count()
        == 2 * gold.count()
    )


def test_failed_produce_marks_stream_hop_upstream_failed(tmp_path):
    """The stream hop consumes what produce wrote, so it waits for it:
    a failed produce stops the hop and everything after it."""
    from ecommerce_dataengineering_project_spark.plans.orchestrator import sales_pipeline_dag

    def boom():
        raise RuntimeError("producer down")

    dag = sales_pipeline_dag(None, str(tmp_path / "sf"), str(tmp_path / "out"))
    dag.tasks["produce_sales_stream"].fn = boom
    states = DagRun(dag, "r1", str(tmp_path / "state")).run()
    assert states["produce_sales_stream"] == FAILED
    assert states["run_streaming_consumer"] == UPSTREAM_FAILED
    assert {s for t, s in states.items() if t not in ("start", "produce_sales_stream")} == {
        UPSTREAM_FAILED
    }


def _listing(root: str) -> dict[str, int]:
    import os

    out = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            path = os.path.join(d, name)
            out[path] = os.stat(path).st_mtime_ns
    return out


@pytest.fixture(scope="module")
def refresh(spark, sf_dir, tmp_path_factory):
    """One finished sales_pipeline refresh over ``sf_dir``, with the
    streaming harness's scratch tree listed before and after it."""
    import os

    from ecommerce_dataengineering_project_spark.plans.orchestrator import sales_pipeline_dag
    from ecommerce_dataengineering_project_spark.streaming.harness import TMP_ROOT

    base = tmp_path_factory.mktemp("refresh")
    out = str(base / "out")
    streams = os.path.join(TMP_ROOT, "streams")
    before = _listing(streams)
    dag = sales_pipeline_dag(spark, sf_dir, out, run_token="r1")
    states = DagRun(dag, "r1", str(base / "state")).run()
    assert set(states.values()) == {SUCCESS}, states
    return dag, out, before, _listing(streams)


def test_refresh_writes_nothing_to_harness_scratch(refresh):
    _, _, before, after = refresh
    assert after == before


def test_replayed_stream_hop_and_promote_write_nothing(spark, sf_dir, refresh):
    """A crash between a task's commit and the DagRun's state save
    re-runs the task on resume. The stream checkpoint and the
    append_txn watermark make both replays no-ops."""
    import os

    from ecommerce_dataengineering_project_spark.sources.readers import load_table
    from ecommerce_dataengineering_project_spark.sources.txlog import TxTable
    from ecommerce_dataengineering_project_spark.streaming.bronze_silver import EVENT_SCHEMA

    dag, out, _, _ = refresh
    silver_dir = os.path.join(out, "silver_purchases", "run=r1")

    def counts():
        silver = spark.read.parquet(silver_dir).count()
        return silver, TxTable(os.path.join(out, "gold_tx")).read(spark).count()

    events = load_table(spark, sf_dir, "events").count()
    assert counts() == (events, events)
    # promote reads silver with EVENT_SCHEMA instead of inferring it
    assert [(f.name, f.dataType) for f in spark.read.parquet(silver_dir).schema] == [
        (f.name, f.dataType) for f in EVENT_SCHEMA
    ]
    dag.tasks["run_streaming_consumer"].fn()
    dag.tasks["delta_to_iceberg"].fn()
    assert counts() == (events, events)


def test_refresh_anomalies_equal_the_anomaly_query(spark, sf_dir, refresh):
    """The DAG fits on the daily_sales it persisted; the query fits on
    its own aggregation of the same lineitem. Same days, same forest."""
    import os

    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.queries.ml_queries import (
        q_anomaly_isolation_forest,
    )

    _, out, _, _ = refresh
    got = sorted(tuple(r) for r in spark.read.parquet(os.path.join(out, "anomalies")).collect())
    want = sorted(
        tuple(r)
        for r in q_anomaly_isolation_forest(spark, sf_dir).where(F.col("is_anomaly")).collect()
    )
    days = spark.read.parquet(os.path.join(out, "daily_sales")).count()
    assert got == want
    assert 0 < len(got) < days


def _same_rows(a, b) -> bool:
    """``a`` and ``b`` hold the same rows as multisets."""
    return a.count() == b.count() and a.exceptAll(b).count() == 0 == b.exceptAll(a).count()


def test_produce_keys_bronze_by_user(spark, sf_dir, tmp_path):
    """Produce hash-partitions the events by user, as a keyed Kafka
    producer does: from a one-row-group events file it writes one
    non-empty bronze file per partition that holds a user, each user's
    events in one file, and the stream hop carries every row to silver
    exactly once."""
    import os

    import pyarrow.parquet as pq

    from ecommerce_dataengineering_project_spark.plans.orchestrator import sales_pipeline_dag
    from ecommerce_dataengineering_project_spark.sources.readers import load_table
    from ecommerce_dataengineering_project_spark.streaming.bronze_silver import EVENT_SCHEMA

    src = tmp_path / "sf"
    src.mkdir()
    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    pq.write_table(table, src / "events.parquet", row_group_size=table.num_rows)
    assert pq.ParquetFile(src / "events.parquet").metadata.num_row_groups == 1

    out = str(tmp_path / "out")
    dag = sales_pipeline_dag(spark, str(src), out, run_token="r1")
    dag.tasks["produce_sales_stream"].fn()
    dag.tasks["run_streaming_consumer"].fn()

    bronze = os.path.join(out, "bronze_events", "run=r1")
    files = sorted(f for f in os.listdir(bronze) if f.endswith(".parquet"))
    users = len(set(table.column("user_id").to_pylist()))
    assert len(files) == min(spark.sparkContext.defaultParallelism, users) > 1
    assert all(pq.ParquetFile(os.path.join(bronze, f)).metadata.num_rows > 0 for f in files)
    users_per_file = [
        {json.loads(v)["user_id"] for v in pq.read_table(os.path.join(bronze, f))["value"].to_pylist()}
        for f in files
    ]
    assert sum(map(len, users_per_file)) == len(set().union(*users_per_file)) == users

    silver = spark.read.schema(EVENT_SCHEMA).parquet(os.path.join(out, "silver_purchases", "run=r1"))
    events = load_table(spark, str(src), "events").select(*EVENT_SCHEMA.fieldNames())
    assert silver.count() == table.num_rows
    assert _same_rows(silver, events)


def test_failed_gold_write_waits_for_its_sibling_then_retries(
    spark, sf_dir, refresh, tmp_path, monkeypatch
):
    """The two gold writes run at once. When the fct_purchases write
    fails, the attempt ends only after the daily_sales write has
    returned, with no writer thread still alive, and the retry writes
    the same gold tables a clean refresh does."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from ecommerce_dataengineering_project_spark.plans.orchestrator import (
        UP_FOR_RETRY,
        sales_pipeline_dag,
    )

    real_parquet = DataFrameWriter.parquet
    writers: list[threading.Thread] = []
    fct_tries: list[int] = []
    daily_returned: list[float] = []

    def parquet(self, path, *args, **kwargs):
        writers.append(threading.current_thread())
        table = os.path.basename(path)
        if table == "fct_purchases":
            fct_tries.append(1)
            if len(fct_tries) == 1:
                raise OSError("gold volume unavailable")
        real_parquet(self, path, *args, **kwargs)
        if table == "daily_sales":
            time.sleep(0.2)  # the sibling has long failed by now
            daily_returned.append(time.time())

    alive_at_retry: list[list[threading.Thread]] = []
    real_append = DagRun._append

    def append(self, tid, try_number, state, *args, **kwargs):
        if state == UP_FOR_RETRY:
            alive_at_retry.append([t for t in writers if t.is_alive()])
        real_append(self, tid, try_number, state, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(DagRun, "_append", append)
    out = str(tmp_path / "out")
    dag = sales_pipeline_dag(spark, sf_dir, out)
    for tid, task in dag.tasks.items():  # transform reads only sf_dir
        if tid != "run_dbt_transformation":
            task.fn = None
    assert dag.tasks["run_dbt_transformation"].retries == 1
    run = DagRun(dag, "r1", str(tmp_path / "state"))
    assert set(run.run().values()) == {SUCCESS}

    lines = [r for r in _log(run) if r["task"] == "run_dbt_transformation"]
    assert [(r["try"], r["state"]) for r in lines] == [
        (1, "running"), (1, UP_FOR_RETRY), (2, "running"), (2, SUCCESS),
    ]
    failed = lines[1]
    assert (failed["error_type"], failed["message"]) == ("OSError", "gold volume unavailable")
    assert failed["end"] >= daily_returned[0]
    assert alive_at_retry == [[]]
    assert threading.main_thread() not in writers and not any(t.is_alive() for t in writers)
    assert len(fct_tries) == len(daily_returned) == 2

    monkeypatch.undo()
    _, clean, _, _ = refresh
    for table in ("fct_purchases", "daily_sales"):
        got = spark.read.parquet(os.path.join(out, table))
        assert _same_rows(got, spark.read.parquet(os.path.join(clean, table))), table


def test_gold_writes_run_in_the_callers_job_group(spark, sf_dir, tmp_path):
    """Every job the transform submits, from either writer thread,
    carries the job group set on the thread that runs the task."""
    from ecommerce_dataengineering_project_spark.plans.orchestrator import sales_pipeline_dag

    sc = spark.sparkContext
    dag = sales_pipeline_dag(spark, sf_dir, str(tmp_path / "out"))

    def marker_job(group: str) -> int:
        sc.setJobGroup(group, group)
        sc.parallelize([0], 1).count()
        (job,) = sc.statusTracker().getJobIdsForGroup(group)
        return job

    try:
        before = marker_job("gold-writes-before")
        sc.setJobGroup("gold-writes", "run_dbt_transformation")
        dag.tasks["run_dbt_transformation"].fn()
        after = marker_job("gold-writes-after")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    grouped = set(sc.statusTracker().getJobIdsForGroup("gold-writes"))
    assert len(grouped) >= 2  # at least one job per write
    assert grouped == set(range(before + 1, after))


def test_timed_task_runs_in_the_callers_job_group(spark, tmp_path):
    """A task with ``execution_timeout_s`` runs in a worker thread; the
    Spark jobs it submits still carry the job group of the thread that
    runs the DAG."""
    sc = spark.sparkContext
    jobs = []

    def spark_task():
        sc.parallelize(range(4), 2).count()
        jobs.extend(sc.statusTracker().getJobIdsForGroup("timed-task"))

    dag = Dag("t")
    dag.add(Task("count", spark_task, execution_timeout_s=60.0))
    sc.setJobGroup("timed-task", "timed task")
    try:
        states = DagRun(dag, "r1", str(tmp_path)).run()
        grouped = sc.statusTracker().getJobIdsForGroup("timed-task")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert states == {"count": SUCCESS}
    assert len(jobs) == 1 and set(grouped) == set(jobs)
