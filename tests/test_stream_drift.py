"""stream_drift_monitor: the windowed KL must equal a Python
reference computed from the raw events (same fit, same smoothing, same
bucket rule), the Gibbs bound must hold per window, and the baseline
fit must be collected once per sf_dir (plan-literal pattern)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ecommerce_dataengineering_project_spark.queries import streaming_queries as sq
from ecommerce_dataengineering_project_spark.sources.readers import load_table


def _bucket(v: float) -> int:
    return min(sq.DRIFT_BUCKETS - 1, int(math.floor(v / sq.DRIFT_WIDTH)))


def test_stream_drift_matches_python_reference(spark, sf_dir):
    out = {
        (r.window_start, r.event_type): (r.n_rows, r.kl)
        for r in sq.q_stream_drift_monitor(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("d"), "event_type", "value"
    )
    rows = ev.collect()
    base_counts = [0] * sq.DRIFT_BUCKETS
    for r in rows:
        base_counts[_bucket(r.value)] += 1
    n = len(rows)
    q = [(c + 1) / (n + sq.DRIFT_BUCKETS) for c in base_counts]
    groups: dict[tuple, list[float]] = {}
    for r in rows:
        groups.setdefault((r.d, r.event_type), []).append(r.value)
    assert set(out) == set(groups)
    for key, vals in groups.items():
        cs = [0] * sq.DRIFT_BUCKETS
        for v in vals:
            cs[_bucket(v)] += 1
        kl = 0.0
        for i in range(sq.DRIFT_BUCKETS):
            p = (cs[i] + 1) / (len(vals) + sq.DRIFT_BUCKETS)
            kl += p * math.log(p / q[i])
        kl6 = math.floor(kl * 1e6 + 0.5) / 1e6
        assert out[key][0] == len(vals)
        assert math.isclose(out[key][1], kl6, rel_tol=1e-9, abs_tol=1e-9)
        # smoothed KL of a sub-sample vs the blended baseline can dip
        # epsilon-negative ONLY through rounding; Gibbs holds pre-round
        assert out[key][1] >= -1e-6


def test_drift_baseline_memoized_by_content(spark, sf_dir):
    for k in [k for k in sq._DRIFT_BASELINE if k[0] == sf_dir]:
        sq._DRIFT_BASELINE.pop(k)
    sq.q_stream_drift_monitor(spark, sf_dir)
    keys = [k for k in sq._DRIFT_BASELINE if k[0] == sf_dir]
    assert len(keys) == 1  # one content fingerprint for the fixture
    fitted = sq._DRIFT_BASELINE[keys[0]]
    assert len(fitted) == sq.DRIFT_BUCKETS
    assert math.isclose(sum(fitted), 1.0, rel_tol=1e-9)
    # same content -> same key -> the memoized fit is reused (the list
    # object is the SAME instance)
    sq.q_stream_drift_monitor(spark, sf_dir)
    assert sq._DRIFT_BASELINE[keys[0]] is fitted
    # and the fit is persisted as an inspectable artifact keyed by the
    # fingerprint
    import glob
    import json
    import os

    from ecommerce_dataengineering_project_spark.streaming.harness import scratch_dir

    fp = keys[0][1]
    arts = glob.glob(os.path.join(scratch_dir("drift_baseline", sf_dir), f"*_{fp}.json"))
    assert len(arts) == 1
    with open(arts[0]) as f:
        art = json.load(f)
    assert art["q"] == fitted and art["fingerprint"] == fp


def test_drift_baseline_refits_when_content_changes(spark, tmp_path):
    """VERDICT r12 item 4 (the r10 IVF staleness class): mutating the
    events table under the SAME path must change the fingerprint and
    refit the baseline — a path-keyed memo would silently serve the
    stale fit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path)

    def write(vals):
        pq.write_table(
            pa.table({"value": pa.array(vals, type=pa.float64())}),
            f"{d}/events.parquet",
        )

    write([1.0, 2.0, 130.0])
    q1 = sq.drift_baseline(spark, d)
    # same content on a re-call: memo hit, same instance
    assert sq.drift_baseline(spark, d) is q1
    # mutate the table in place: different histogram -> refit
    write([400.0, 401.0, 402.0, 403.0])
    q2 = sq.drift_baseline(spark, d)
    assert q2 != q1
    assert math.isclose(sum(q2), 1.0, rel_tol=1e-9)
    # same-histogram but different VALUES still refreshes the key (the
    # xxhash64 content term sees what the counts cannot)
    write([390.0, 391.0, 392.0, 393.0])
    q3 = sq.drift_baseline(spark, d)
    assert q3 == q2  # same bucket histogram -> same distribution
    assert len([k for k in sq._DRIFT_BASELINE if k[0] == d]) == 3
