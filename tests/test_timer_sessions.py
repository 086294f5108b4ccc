"""Timer/TTL contract for the event-time sessionizer
(streaming/stateful.timer_sessions_stream — SURVEY §2i T7 timers):
a key with NO further rows can only emit its open session through the
EventTimeTimeout timer, so these tests prove timers fire, fire once,
and cooperate with the inline gap-split on one state shape.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ecommerce_dataengineering_project_spark.streaming.harness import (
    TMP_ROOT,
    run_bounded_stream,
)
from ecommerce_dataengineering_project_spark.streaming.stateful import (
    timer_sessions_stream,
)

_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

_T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
_FLUSH = dt.datetime(2024, 3, 1)


def _rows(spark, rows):
    return spark.createDataFrame(
        [(eid, ts, uid, "e", val, None) for eid, ts, uid, val in rows], _SCHEMA
    )


@pytest.fixture(scope="module")
def sessions(spark):
    batches = [
        # user 1: two events 1 h apart (one session, NOTHING ever
        # again — only a fired timer can emit it); user 2: one event
        _rows(
            spark,
            [
                (1, _T0, 1, 1.004),
                (2, _T0 + dt.timedelta(hours=1), 1, 2.0),
                (3, _T0 + dt.timedelta(hours=2), 2, 10.0),
            ],
        ),
        # user 2 returns after a 10 h gap: the first session must
        # close INLINE (gap-split), the second stays open for the timer
        _rows(spark, [(4, _T0 + dt.timedelta(hours=12), 2, 5.0)]),
        # two far-future flush batches advance the watermark past
        # last+gap for every real key -> timers fire
        _rows(spark, [(-1, _FLUSH, -1, 0.0)]),
        _rows(spark, [(-2, _FLUSH + dt.timedelta(days=1), -1, 0.0)]),
    ]
    out = run_bounded_stream(
        spark,
        os.path.join(TMP_ROOT, "streams", "timer_sessions_unit"),
        batches,
        lambda s: timer_sessions_stream(s, gap="6 hours", watermark="1 hour"),
    )
    return sorted(map(tuple, out.collect()))


def test_timer_emits_final_sessions_exactly_once(sessions):
    real = [r for r in sessions if r[0] >= 0]
    assert real == [
        # user 1: emitted by the TIMER (no row after batch 0 could)
        (1, _T0, _T0 + dt.timedelta(hours=1), 2, 300),  # 100+200 cents
        # user 2, session 1: emitted INLINE by the batch-1 gap-split
        (2, _T0 + dt.timedelta(hours=2), _T0 + dt.timedelta(hours=2), 1, 1000),
        # user 2, session 2: emitted by the timer
        (2, _T0 + dt.timedelta(hours=12), _T0 + dt.timedelta(hours=12), 1, 500),
    ]


def test_flush_key_never_times_out(sessions):
    """The flush key's open session has no watermark behind it — only
    its gap-split FIRST session appears; the final one stays in state
    (and is why queries filter user_id >= 0 downstream)."""
    flush = [r for r in sessions if r[0] < 0]
    assert flush == [(-1, _FLUSH, _FLUSH, 1, 0)]


def test_cents_rounding_matches_oracle_form(sessions):
    """floor(v*100+0.5): 1.004 -> 100 cents, matching the SQL twin's
    CAST(FLOOR(value*100+0.5) AS BIGINT) bit-for-bit."""
    u1 = [r for r in sessions if r[0] == 1]
    assert u1[0][4] == 300


def _model_sessions(rows, gap_us):
    """Pure-Python reference: global gap sessionization per user."""
    import math
    from collections import defaultdict

    epoch = dt.datetime(1970, 1, 1)
    by_user = defaultdict(list)
    for eid, ts, uid, val in rows:
        us = (ts - epoch) // dt.timedelta(microseconds=1)
        by_user[uid].append((us, eid, int(math.floor(val * 100 + 0.5))))
    out = []
    for uid, evs in by_user.items():
        evs.sort()
        start, last, n, cents = evs[0][0], evs[0][0], 0, 0
        for us, _eid, c in evs:
            if n and us - last > gap_us:
                out.append((uid, start, last, n, cents))
                start, n, cents = us, 0, 0
            last = us
            n += 1
            cents += c
        out.append((uid, start, last, n, cents))
    return sorted(out)


def test_random_batch_splits_match_the_model(spark):
    """The batch-boundary-invariance property: wherever the
    (time-ordered) micro-batch splits fall, inline gap-splits and
    timer firings must cooperate to the SAME global sessionization —
    the class of bug where the state merge or the timer re-arm drops
    or double-counts a boundary session."""
    import random

    gap_us = 6 * 3_600_000_000
    for seed in (3, 11, 29):
        rng = random.Random(seed)
        rows = []
        eid = 0
        for uid in range(1, 7):
            t = _T0 + dt.timedelta(minutes=rng.randrange(0, 600))
            for _ in range(rng.randrange(1, 14)):
                eid += 1
                rows.append((eid, t, uid, rng.randrange(0, 5000) / 100.0))
                # mix of sub-gap steps and session-breaking jumps
                t += dt.timedelta(
                    minutes=rng.choice([1, 30, 240, 361, 1500])
                )
        rows.sort(key=lambda r: (r[1], r[0]))
        # random time-ordered split into 1-4 batches + 2 flush batches
        n_batches = rng.randrange(1, 5)
        cuts = sorted(rng.sample(range(1, len(rows)), n_batches - 1))
        parts = [rows[i:j] for i, j in zip([0] + cuts, cuts + [len(rows)])]
        batches = [_rows(spark, p) for p in parts if p] + [
            _rows(spark, [(-1, _FLUSH, -1, 0.0)]),
            _rows(spark, [(-2, _FLUSH + dt.timedelta(days=1), -1, 0.0)]),
        ]
        out = run_bounded_stream(
            spark,
            os.path.join(TMP_ROOT, "streams", f"timer_sessions_prop_{seed}"),
            batches,
            lambda s: timer_sessions_stream(s, gap="6 hours", watermark="1 hour"),
        ).where(F.col("user_id") >= 0)
        epoch = dt.datetime(1970, 1, 1)
        got = sorted(
            (
                r.user_id,
                (r.session_start - epoch) // dt.timedelta(microseconds=1),
                (r.session_end - epoch) // dt.timedelta(microseconds=1),
                r.n_events,
                r.value_cents,
            )
            for r in out.collect()
        )
        assert got == _model_sessions(rows, gap_us), f"seed {seed}"


def test_gap_grammar_matches_watermark_grammar():
    """The ADVICE r10 item: gap and watermark must accept the same
    duration grammar — singular, plural, seconds, days — not only the
    two plural words the first cut keyed on."""
    from ecommerce_dataengineering_project_spark.streaming.stateful import _interval_us

    assert _interval_us("1 hour") == 3_600_000_000
    assert _interval_us("6 hours") == 6 * 3_600_000_000
    assert _interval_us("90 seconds") == 90 * 1_000_000
    assert _interval_us("2 days") == 2 * 86_400_000_000
    assert _interval_us("30 Minutes") == 30 * 60_000_000
    # every FIXED-length Spark interval unit parses (review r11: the
    # first cut still rejected sub-second and week units)
    assert _interval_us("500 milliseconds") == 500_000
    assert _interval_us("250 microseconds") == 250
    assert _interval_us("2 weeks") == 2 * 604_800_000_000
    with pytest.raises(ValueError, match="expected"):
        _interval_us("6 fortnights")
    with pytest.raises(ValueError, match="expected"):
        _interval_us("2 months")  # variable-length: not a µs gap
    with pytest.raises(ValueError, match="expected"):
        _interval_us("6hours")
    # magnitude, not just grammar (review r11 pass 2): a zero/negative
    # gap would arm timers at-or-before the watermark — fail upfront
    with pytest.raises(ValueError, match="positive"):
        _interval_us("0 hours")
    with pytest.raises(ValueError, match="positive"):
        _interval_us("-1 hour")


# ---- T7 proc-time timer twin: idle-key TTL flush ---------------------

_IDLE_SCHEMA = "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE"
_IDLE_CONFS = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}


def _idle_batch(spark, rows):
    return spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1, h), u, v) for i, (h, u, v) in enumerate(rows)],
        _IDLE_SCHEMA,
    )


def _run_idle(spark, name, batches):
    from ecommerce_dataengineering_project_spark.streaming.harness import run_bounded_stream
    from ecommerce_dataengineering_project_spark.streaming.stateful import idle_flush_stream

    out = run_bounded_stream(
        spark, os.path.join(TMP_ROOT, "streams", name), batches, idle_flush_stream,
        state_partitions=4, extra_confs=_IDLE_CONFS,
    )
    return sorted(map(tuple, out.collect()))


def test_idle_flush_fires_on_first_batch_sat_out(spark):
    """A key's rows fold across consecutive batches; the first DATA
    batch it sits out fires the proc-time timer, emitting the
    aggregate and removing the state (TTL). A key active through the
    final batch has no later batch to fire in and emits nothing."""
    batches = [
        _idle_batch(spark, [(1, 10, 1.0), (2, 20, 2.0)]),
        _idle_batch(spark, [(3, 10, 3.0)]),   # 20 sits out -> fires
        _idle_batch(spark, [(4, 30, 4.0)]),   # 10 sits out -> fires
    ]
    got = _run_idle(spark, "idle_flush_basic", batches)
    assert got == [
        (10, dt.datetime(2024, 1, 1, 1), dt.datetime(2024, 1, 1, 3), 2, 400),
        (20, dt.datetime(2024, 1, 1, 2), dt.datetime(2024, 1, 1, 2), 1, 200),
    ]  # 30 never fires: stream ends while it is active


def test_idle_flush_reappearing_key_starts_a_new_run(spark):
    """TTL means a fired key re-entering is a FRESH aggregate: one
    output row per maximal run of consecutive batches with data."""
    batches = [
        _idle_batch(spark, [(1, 10, 1.0)]),
        _idle_batch(spark, [(2, 99, 0.0)]),   # 10 sits out -> fires
        _idle_batch(spark, [(3, 10, 5.0)]),   # 10 returns: new state
        _idle_batch(spark, [(4, 99, 0.0)]),   # 10 fires again
    ]
    got = [r for r in _run_idle(spark, "idle_flush_rerun", batches) if r[0] == 10]
    assert got == [
        (10, dt.datetime(2024, 1, 1, 1), dt.datetime(2024, 1, 1, 1), 1, 100),
        (10, dt.datetime(2024, 1, 1, 3), dt.datetime(2024, 1, 1, 3), 1, 500),
    ]


def test_idle_flush_null_value_counts_zero_cents(spark):
    """NULL value rows count toward n_events with 0 cents — matching
    the SQL twin's COALESCE'd SUM (the event-time arm's rule)."""
    batches = [
        _idle_batch(spark, [(1, 10, None), (2, 10, 2.5)]),
        _idle_batch(spark, [(3, 99, 0.0)]),
    ]
    got = [r for r in _run_idle(spark, "idle_flush_null", batches) if r[0] == 10]
    assert got == [(10, dt.datetime(2024, 1, 1, 1), dt.datetime(2024, 1, 1, 2), 2, 250)]


def test_idle_flush_restores_no_data_batch_conf(spark):
    """The per-run conf override must not leak into the session (a
    leaked 'false' would silently change every later watermark-driven
    stream in the process)."""
    before = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    _run_idle(spark, "idle_flush_conf", [_idle_batch(spark, [(1, 10, 1.0)])])
    after = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    assert after == before
