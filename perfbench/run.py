"""Benchmark command: one workload, one seed, one closed-loop window.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 10 --trace 0

Runs from any working directory. It starts Spark on ``local[<cpus>]``
(every CPU this process may use, as ``nproc`` counts them), generates the workload's
inputs from ``--seed``, sets up several times and keeps the median set-up
time, warms up with a fixed number of untimed operations, then runs
operations back to back for ``--seconds`` and checks every output.
After each operation, outside its timed interval, it times a fixed
Spark job (``HostProbe``); the run's median operation time is scaled by
the mean probe time to a reference host speed.

Output: human-readable lines (environment, every metric with its unit,
failures), then as the LAST line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` splits the window into an untraced
half and a traced half and reports the per-layer metrics, span self
times and the tracing overhead. Exit status is 0 only if every check
passed.

Everything the run writes (inputs, Spark scratch, spans) stays under
the checkout: ``.perfbench_work/`` is removed at exit, span files are
kept in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import tracing  # noqa: E402
from perfbench.workloads import WORKLOADS, CheckFailed  # noqa: E402

PACKAGE = "ecommerce_dataengineering_project_spark"
# The first set-up of a process pays JIT and Python-worker start-up; the
# median of three is a warm set-up, and reps 2-3 cost 0.4-0.9 s each.
SETUP_REPS = 3


def _percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 1])."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _pin_environment(work: str, cpus: int) -> None:
    """Before Spark starts: the JVM and its Python workers inherit this
    environment, so workers import the package from any working
    directory and every scratch file lands inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher's too): temp files in the checkout, and no
    # hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _start_spark(work: str, cpus: int):
    from ecommerce_dataengineering_project_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for each."""
    import signal

    from pyspark import SparkContext

    pids = tracing.descendants()
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        gw.proc.terminate()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class HostProbe:
    """A fixed Spark job that uses no engine code, timed right after each
    operation to read how fast the shared host runs at that moment.

    The host's speed drifts by 10-30% over tens of seconds to minutes
    (neighbours on the same machine), and a run's median operation time
    follows it. Scaling that median by the run's mean probe time removes
    part of the drift; a single probe is too noisy to scale a single
    operation (measurements in perfbench/README.md). The probe runs in
    its own session with its SQL settings pinned, so an engine change to
    session defaults does not move it.
    """

    ROWS = 3_000_000

    def __init__(self, spark):
        self.session = spark.newSession()
        self.session.conf.set("spark.sql.shuffle.partitions", "8")
        self.session.conf.set("spark.sql.adaptive.enabled", "false")

    def time(self) -> float:
        t = time.perf_counter()
        (
            self.session.range(0, self.ROWS, 1, 8)
            .selectExpr("id % 1000 AS k", "id")
            .groupBy("k")
            .sum("id")
            .collect()
        )
        return time.perf_counter() - t


class Window:
    """Timed operations of one closed loop."""

    def __init__(self, probe: HostProbe):
        self.probe = probe
        self.lat_s: list[float] = []
        self.probe_s: list[float] = []  # the probe after each timed operation
        self.warm_s: list[float] = []
        self.check_s = 0.0
        self.attempted = 0
        self.failed: list[str] = []

    def run(self, wl, i: int, record: bool, inject: bool) -> None:
        self.attempted += 1
        wl.tracer.request = i
        t0 = time.perf_counter()
        try:
            out = wl.op(i)
            dt = time.perf_counter() - t0
            probe = self.probe.time()
            t1 = time.perf_counter()
            wl.check(i, out)
            self.check_s += time.perf_counter() - t1
            if inject:
                raise CheckFailed("injected failure")
        except Exception as exc:  # a failed operation is counted, the loop goes on
            traceback.print_exc()
            self.failed.append(f"op {i}: {type(exc).__name__}: {str(exc)[:300]}")
            return
        if not record:
            self.warm_s.append(dt)
            return
        self.lat_s.append(dt)
        self.probe_s.append(probe)

    def loop(self, wl, start: int, seconds: float, inject_every: int) -> int:
        i = start
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            self.run(wl, i, True, inject_every > 0 and (i + 1) % inject_every == 0)
            i += 1
        return i

    def p50_ms(self) -> float:
        return _percentile(self.lat_s or [float("nan")], 0.5) * 1000.0

    def norm_p50_ms(self, ref_probe_s: float) -> float:
        """The median operation time on a host where the probe takes
        ``ref_probe_s``."""
        host = statistics.fmean(self.probe_s) / ref_probe_s if self.probe_s else float("nan")
        return self.p50_ms() / host


def run(args) -> int:
    import pyspark

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _pin_environment(work, cpus)
    t0 = time.perf_counter()
    spark = _start_spark(work, cpus)
    session_s = time.perf_counter() - t0
    try:
        tracer = tracing.Tracer(spark, bool(args.trace))
        listener = None
        if args.trace:
            _install_trace_hooks(tracer)
            if args.workload == "medallion":  # its bronze-to-silver hop is a stream
                listener = tracing.make_progress_listener()
                spark.streams.addListener(listener)
        wl = WORKLOADS[args.workload](spark, args.seed, args.scale, tracer)
        setup_s = []
        for r in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup(os.path.join(work, f"setup{r}"))
            setup_s.append(time.perf_counter() - t)
        tracer.enabled = False  # set-up spans only; warm-up is never traced
        probe = HostProbe(spark)
        win = Window(probe)
        for j in range(wl.warmup):
            win.run(wl, j - wl.warmup, False, False)
        extra: dict[str, float] = {}
        if not args.trace:
            win.loop(wl, 0, args.seconds, args.inject_fail_every)
        else:
            # untraced half, then traced half: the gap is the tracing overhead
            nxt = win.loop(wl, 0, args.seconds / 2, 0)
            if listener is not None:
                listener.settle()
                with listener.lock:
                    listener.reports.clear()
            tracer.enabled = True
            tracer.stages.new_jobs()  # jobs of the untraced half belong to no span
            traced = Window(probe)
            traced.loop(wl, nxt, args.seconds / 2, args.inject_fail_every)
            win.attempted += traced.attempted
            win.failed += traced.failed
            probes = win.probe_s + traced.probe_s
            extra["host.probe_ms"] = statistics.fmean(probes) * 1000.0 if probes else float("nan")
            extra.update(wl.after())
        if listener is not None:
            listener.settle()
            extra.update(tracing.summarize_progress(listener.reports))
        extra["peak_rss_mb"] = tracing.peak_rss_mb()
    finally:
        _stop_spark(spark)
        _cleanup(args, work)

    if not args.trace:
        metrics = {
            "setup_s": (session_s + statistics.median(setup_s), "s"),
            "op_p50_norm_ms": (win.norm_p50_ms(wl.ref_probe_s), "ms"),
        }
    else:
        metrics = _layer_metrics(tracer, session_s, traced, extra)
        untraced, traced_ms = win.p50_ms(), traced.p50_ms()
        metrics["trace.untraced_op_p50_ms"] = (untraced, "ms")
        metrics["trace.traced_op_p50_ms"] = (traced_ms, "ms")
        metrics["trace.overhead_pct"] = (100.0 * (traced_ms / untraced - 1.0), "%")
        print("span self times (s, summed over the run):")
        for name, s in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
            print(f"  {name:48s} {s:9.3f}")
        tracer.write(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-s{args.seed}.jsonl"))

    env = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cpus,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "warmup_ops": wl.warmup,
        "setup_reps": SETUP_REPS,
        "timed_ops": len(win.lat_s),
        "seconds": args.seconds,
        "trace": args.trace,
    }
    print("env " + json.dumps(env))
    print("warmup_ms " + " ".join(f"{x * 1000:.0f}" for x in win.warm_s))
    print("op_ms " + " ".join(f"{x * 1000:.0f}" for x in win.lat_s))
    print("probe_ms " + " ".join(f"{x * 1000:.0f}" for x in win.probe_s))
    lat = win.lat_s or [float("nan")]
    print(f"op_p50_ms {win.p50_ms():.1f}  op_p75_ms {_percentile(lat, 0.75) * 1000:.1f} "
          f"over {len(win.lat_s)} timed ops  peak_rss_mb {extra['peak_rss_mb']:.0f}")
    print(f"setup_rep_s {' '.join(f'{x:.2f}' for x in setup_s)}  session_s {session_s:.2f}  "
          f"check_s {win.check_s:.2f}  wall_s {time.perf_counter() - t0:.1f}")
    for name, (v, unit) in metrics.items():
        print(f"metric {name} = {v:.6g} {unit}")
    ratio = len(win.failed) / win.attempted if win.attempted else 1.0
    print(f"{args.workload}.failed_ratio = {ratio:.4f} ({len(win.failed)}/{win.attempted})")
    for f in win.failed[:20]:
        print("FAILED " + f)
    result = {
        "correct": not win.failed,
        "attempted": win.attempted,
        "failed": len(win.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if not win.failed else 1


def _layer_metrics(tracer, session_s, win, extra) -> dict[str, tuple[float, str]]:
    """Every per-layer metric, zero where the workload does not use the
    layer. Times are per timed operation of the traced half."""
    n_ops = max(1, len(win.lat_s))
    per_op = lambda name: tracer.total_s(name) / n_ops  # noqa: E731
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_s, "s"),
        "peak_rss_mb": (extra["peak_rss_mb"], "MB"),
        "host.probe_ms": (extra["host.probe_ms"], "ms"),
    }
    c = tracer.counters
    m["sources.txlog_commit_s"] = (c.get("txlog_commit_s", 0.0) / n_ops, "s")
    m["sources.txlog_commits"] = (c.get("txlog_commits", 0.0) / n_ops, "count")
    timed = [s for s in tracer.spans if s.request is not None]
    src = [s for s in timed if s.layer == "sources"]
    m["sources.scan_bytes"] = (sum(s.input_bytes for s in src) / n_ops, "B")
    m["sources.write_bytes"] = (sum(s.output_bytes for s in src) / n_ops, "B")
    for tid in ("produce_sales_stream", "run_streaming_consumer", "delta_to_iceberg",
                "run_dbt_transformation", "run_anomaly_detection_model"):
        m[f"plans.task_s.{tid}"] = (per_op(f"plans.task.{tid}"), "s")
    m["plans.dag_overhead_s"] = (tracer.self_times().get("plans.dag", 0.0) / n_ops, "s")
    # the only ml-layer span is the anomaly task, so this equals
    # plans.task_s.run_anomaly_detection_model on medallion
    m["ml.anomaly_s"] = (sum(s.end - s.start for s in timed if s.layer == "ml") / n_ops, "s")
    for k in ("batches", "input_rows", "trigger_ms", "add_batch_ms", "wal_commit_ms",
              "commit_offsets_ms", "query_planning_ms"):
        m[f"streaming.{k}"] = (extra.get(f"streaming.{k}", 0.0) / n_ops,
                               "ms" if k.endswith("_ms") else "count")
    for k in ("text.quality", "dedup.exact", "dedup.minhash", "dedup.components", "dedup.semantic"):
        m[f"operators.{k}_s"] = (per_op(f"operators.{k}"), "s")
    m["operators.dedup.components_rounds"] = (c.get("components_rounds", 0.0) / n_ops, "count")
    for k in ("candidate_pairs", "verified_pairs", "pair_yield"):
        m[f"operators.dedup.{k}"] = (extra.get(f"operators.dedup.{k}", 0.0),
                                     "ratio" if k == "pair_yield" else "count")
    for k, v in tracer.layer_metrics().items():
        unit = {"spark_jobs": "count", "gc_s": "s", "task_skew": "ratio"}.get(k.split(".")[-1], "B")
        m[k] = (v if k.endswith("task_skew") else v / n_ops, unit)
    return m


def _cleanup(args, work: str) -> None:
    """Remove this run's inputs and the engine's staged copies of them."""
    import glob

    shutil.rmtree(work, ignore_errors=True)
    staged = os.path.join(ROOT, ".tmp", "streams", "sources", f"*_sf_medallion_s{args.seed}_setup*")
    for d in glob.glob(staged):
        shutil.rmtree(d, ignore_errors=True)


def _install_trace_hooks(tracer) -> None:
    """Traced runs only: count txlog commits and connected-components
    rounds by wrapping the two engine internals that perform them."""
    from ecommerce_dataengineering_project_spark.operators import dedup
    from ecommerce_dataengineering_project_spark.sources.txlog import TxTable

    publish = TxTable._publish

    def timed_publish(self, *a, **kw):
        t = time.perf_counter()
        try:
            return publish(self, *a, **kw)
        finally:
            tracer.count("txlog_commit_s", time.perf_counter() - t)
            tracer.count("txlog_commits")

    TxTable._publish = timed_publish
    signed = dedup._checkpoint_signed

    def counted(*a, **kw):
        tracer.count("components_rounds")
        return signed(*a, **kw)

    dedup._checkpoint_signed = counted


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["bench", "tiny"], default="bench",
                    help="input sizes; 'tiny' is for the self-test")
    ap.add_argument("--inject-fail-every", type=int, default=0,
                    help="self-test only: fail the check of every Nth timed operation")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found at {ROOT}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
