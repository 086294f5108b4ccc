"""The benchmark's entry point runs on the current engine.

perfbench/ calls engine functions by name (operators, their arguments,
the DuckDB oracles). An engine rename that breaks it must fail here,
in the test suite, before it reaches a benchmark run. One tiny traced
corpus_dedup run covers every engine function the traced pass and its
checks call.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_corpus_dedup_traced_tiny_run_is_correct():
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", "corpus_dedup", "--seed", "3",
        "--scale", "tiny", "--seconds", "1", "--trace", "1",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    tail = p.stdout[-4000:] + p.stderr[-4000:]
    assert p.returncode == 0, tail
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0, tail
