#!/usr/bin/env python3
"""Self-test: every workload at a tiny corpus size, untraced and traced.

Run from the repository root (takes a few minutes, one Spark session per
run):

    python3 perfbench/selftest.py

Asserts that each run exits 0, that its last stdout line is the result
object, that every metric ``BENCHMARK.json`` names for that mode is there
with its unit and a finite value, and that no operation failed
(error rate 0).
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload: str, trace: int, spec: dict) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "2", "--trace", str(trace),
           "--docs", "3000"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert res["attempted"] >= 1 and res["failed"] == 0, res
    assert res["correct"] is True, res
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    got = res["metrics"]
    for m in wanted:
        assert m["name"] in got, (m["name"], workload, trace)
        assert got[m["name"]]["unit"] == m["unit"], got[m["name"]]
        assert math.isfinite(got[m["name"]]["value"]), got[m["name"]]
    print(f"ok {workload} trace={trace}: {len(got)} metrics, "
          f"{res['attempted']} ops, 0 failed")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check(w["name"], trace, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
