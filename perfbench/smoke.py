"""Smoke test of the benchmark itself: every workload of ``run.py`` (those
BENCHMARK.json lists and ``ingest``), untraced and traced, on tiny inputs;
asserts that each run is correct and prints every metric BENCHMARK.json
names, with its unit.  Takes a few minutes.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    for wl in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", "7", "--seconds", "4", "--trace", str(trace),
                   "--size", "tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=300)
            label = f"{wl} trace={trace}"
            if p.returncode != 0:
                problems.append(f"{label}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            result = json.loads(p.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{label}: metrics/units differ: {sorted(set(got.items()) ^ set(want[trace].items()))}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                problems.append(f"{label}: not correct: {p.stdout[-1500:]}")
            print(f"ok {label}: {result['attempted']} ops, {len(got)} metrics", flush=True)
    for line in problems:
        print("FAIL", line)
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
