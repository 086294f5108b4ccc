"""Self-test of the benchmark on tiny seeded inputs (a few minutes).

    python3 perfbench/selftest.py

Checks, for every workload in BENCHMARK.json:
- an untraced run exits 0, reports correct, and prints every end-to-end
  metric with its unit, both as a ``metric`` line and in the final JSON;
- a traced run prints every per-layer metric with its unit.
One more medallion run injects a failed check into every timed
operation and must report it in ``medallion.failed_ratio``, in
``failed`` and through a non-zero exit status. Finally, a directory that
holds only BENCHMARK.json and the benchmark must make the command fail
without printing a result.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cwd: str, workload: str, *extra: str) -> tuple[int, list[str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        cmd = json.load(fh)["command"]
    p = subprocess.run(
        [*cmd, "--workload", workload, "--seed", "7", "--seconds", "3", "--scale", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


def _check_metrics(lines: list[str], specs: list[dict], what: str) -> dict:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["attempted"] >= 1, result
    for m in specs:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"{what}: {m['name']} missing from the result"
        assert got["unit"] == m["unit"], f"{what}: {m['name']} unit {got['unit']}"
        pat = rf"^metric {re.escape(m['name'])} = \S+ {re.escape(m['unit'])}$"
        assert any(re.match(pat, ln) for ln in lines), f"{what}: no line for {m['name']}"
    return result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in (w["name"] for w in bench["workloads"]):
        rc, lines = _run(ROOT, w, "--trace", "0")
        res = _check_metrics(lines, bench["end_to_end"], f"{w} untraced")
        assert rc == 0 and res["correct"] and res["failed"] == 0, (w, rc, lines[-30:])
        rc, lines = _run(ROOT, w, "--trace", "1")
        res = _check_metrics(lines, bench["per_layer"], f"{w} traced")
        assert rc == 0 and res["correct"], (w, rc, lines[-30:])
        print(f"ok {w}", flush=True)

    rc, lines = _run(ROOT, "medallion", "--inject-fail-every", "1")
    res = _check_metrics(lines, bench["end_to_end"], "medallion injected")
    ratio = [ln for ln in lines if ln.startswith("medallion.failed_ratio = ")]
    assert ratio and float(ratio[0].split()[2]) > 0, lines[-30:]
    assert rc != 0 and res["failed"] > 0 and not res["correct"], (rc, res)
    print("ok injected failure is counted")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    try:
        rc, lines = _run(bare, bench["workloads"][0]["name"])
        assert rc != 0, "bare checkout must fail"
        assert not any(ln.startswith('{"correct"') for ln in lines), lines
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok bare checkout fails without a result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
