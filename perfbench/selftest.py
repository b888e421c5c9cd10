"""Smoke self-test of the benchmark harness.

    python3 perfbench/selftest.py

Runs every workload declared in BENCHMARK.json once at the tiny input size,
untraced and traced, and fails (exit 1) if a run exits non-zero, if any
declared metric is missing from its result, has no unit or a unit other
than the declared one, is not a finite number, or if any operation failed.
Takes a few minutes: each run starts its own JVM.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def check(result: dict, declared: list[dict]) -> list[str]:
    problems = []
    if result["failed"] or not result["correct"]:
        problems.append(f"ops_failed_frac > 0: {result['failed']}/{result['attempted']}")
    for m in declared:
        got = result["metrics"].get(m["name"])
        if got is None:
            problems.append(f"{m['name']}: missing")
        elif got.get("unit") != m["unit"]:
            problems.append(f"{m['name']}: unit {got.get('unit')!r}, declared {m['unit']!r}")
        elif not isinstance(got.get("value"), (int, float)) or not math.isfinite(got["value"]):
            problems.append(f"{m['name']}: value {got.get('value')!r}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    failures = []
    for w in bench["workloads"]:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            cmd = bench["command"] + [
                "--workload", w["name"], "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--size", "tiny",
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=600)
            label = f"{w['name']} trace={trace}"
            if proc.returncode != 0:
                failures.append(f"{label}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            problems = check(result, declared)
            failures += [f"{label}: {p}" for p in problems]
            print(f"{label}: {'ok' if not problems else 'FAILED'}", flush=True)
    for f in failures:
        print(f, file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
