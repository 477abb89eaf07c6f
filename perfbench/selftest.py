#!/usr/bin/env python3
"""Self-test of the benchmark: one short traced pass of every workload in
``BENCHMARK.json`` on sf0.001-sized inputs (``--scale 0.01``).

    python3 perfbench/selftest.py

Checks, per workload, that every end-to-end and per-layer metric prints as
``name value unit`` with the unit ``BENCHMARK.json`` declares, that the
oracle check ran on every operation and found no mismatch, and that the
last line is the result object with the per-layer metrics. Exits 1 on the
first workload that fails.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload: str, spec: dict) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "1", "--scale", "0.01"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    printed = {}
    for line in lines:
        m = re.fullmatch(r"(\S+) (-?[0-9.e+-]+) (\S+)", line)
        if m:
            printed[m.group(1)] = m.group(3)
    problems = []
    for metric in spec["end_to_end"] + spec["per_layer"]:
        if metric["name"] not in printed:
            problems.append(f"{metric['name']} not printed")
        elif printed[metric["name"]] != metric["unit"]:
            problems.append(f"{metric['name']} printed with unit {printed[metric['name']]}, declared {metric['unit']}")
    oracle = [line for line in lines if line.startswith("oracle checked ")]
    if not oracle or not oracle[0].endswith(" 0 mismatches"):
        problems.append(f"oracle check: {oracle or 'did not run'}")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"] or not result["correct"]:
        problems.append(f"result line: {lines[-1][:300]}")
    missing = {m["name"] for m in spec["per_layer"]} - set(result["metrics"])
    if missing:
        problems.append(f"per-layer metrics missing from the result: {sorted(missing)}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    status = 0
    for w in spec["workloads"]:
        problems = check(w["name"], spec)
        print(f"{w['name']}: {'ok' if not problems else 'FAILED'}")
        for p in problems:
            print(f"  {p}")
        status |= bool(problems)
    return status


if __name__ == "__main__":
    sys.exit(main())
