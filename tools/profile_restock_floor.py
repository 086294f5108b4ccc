#!/usr/bin/env python
"""The applyInPandasWithState framework-floor profile for
stream_inventory_restock (VERDICT r7/r8 bench watch item).

Runs THREE bounded streams over the identical 3-batch source (each
run restages it, so every arm's time includes the same staging job):

  identity    — stateless pass-through (micro-batch harness floor)
  noop_state  — pass-through applyInPandasWithState (no scan, no
                state.update: the stateful-runner + state-store floor)
  restock     — the real operator (streaming/stateful.py)

Interpretation: restock minus noop_state is the operator's own cost;
noop_state minus identity is Spark's stateful machinery (16 stores x 3
batches + Arrow transfer + python worker pool). The operator is AT the
floor when the first delta is ~0.1-0.3 s.

Measured history (sf0.1, local[32], 4 runs, median of the warm runs):

  round | identity | noop_state | restock | operator delta
  r7    |  ~1.35   |   ~3.4     |  ~3.5   |  ~0.1
  r9    |   1.35   |    3.63    |   3.85  |  ~0.2

The r8 board's "1.43x normalized regression" was the calibration
normalization (a pure-codegen JVM kernel) amplifying a ~0.2 s drift of
the PYTHON framework floor, which the calib kernel cannot track — the
operator itself never moved off the floor. Same story for
semantic_dedup (raw best IMPROVED 1.786 -> 1.724 r7 -> r8, measured
when its cell assigner was a pure-codegen fold; it is now an Arrow
pandas UDF).

Usage:  python tools/profile_restock_floor.py  [sf_dir]
"""

from __future__ import annotations

import statistics
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from ecommerce_dataengineering_project_spark import get_spark
from ecommerce_dataengineering_project_spark.queries import streaming_queries as sq
from ecommerce_dataengineering_project_spark.streaming.harness import (
    run_bounded_stream,
    scratch_dir,
)
from ecommerce_dataengineering_project_spark.streaming.stateful import (
    inventory_restock_stream,
)

OUT = (
    "event_id BIGINT, user_id BIGINT, qty INT, level_after INT, "
    "restocked BOOLEAN"
)


def _noop_fn(key, pdfs, state):
    for pdf in pdfs:
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "qty": pdf["qty"],
                "level_after": 0,
                "restocked": False,
            }
        )


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")

    qty = sq._tagged_events(spark, sf).select(
        "event_id",
        "ts",
        "user_id",
        (F.col("event_id") % 3 + 1).cast("int").alias("qty"),
        "__batch",
    )

    arms = {
        "identity": lambda st: st.select("event_id", "user_id", "qty"),
        "noop_state": lambda st: st.groupBy("user_id").applyInPandasWithState(
            _noop_fn, OUT, "level INT", "append", GroupStateTimeout.NoTimeout
        ),
        "restock": inventory_restock_stream,
    }
    for tag, fn in arms.items():
        runs = []
        for _ in range(4):
            t0 = time.perf_counter()
            run_bounded_stream(
                spark,
                scratch_dir(f"streams/floorprof_{tag}", sf),
                None,
                fn,
                state_partitions=16,
                source=(qty, 3),
            ).count()
            runs.append(round(time.perf_counter() - t0, 2))
        # drop the first (cold) run from the median, like bench warmup
        print(tag, runs, "warm-median", statistics.median(runs[1:]))


if __name__ == "__main__":
    main()
