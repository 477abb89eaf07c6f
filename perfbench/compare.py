#!/usr/bin/env python3
"""Compare two sets of benchmark records, metric by metric.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds records that ``run.py`` appended to
``.perfbench/records.jsonl``. Records are grouped by workload and trace
mode; a group is compared only when both sides were measured on the same
CPU count, scale factor, Spark version, driver memory and run length, so a
record taken on another host shape is never read as a regression. Prints
each side's median and the ratio new/base, with the sample count.
"""

from __future__ import annotations

import json
import statistics
import sys

MUST_MATCH = ("cpus", "sf", "spark", "driver_memory", "run_seconds")


def load(path: str) -> dict:
    groups = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            s = rec["stamp"]
            groups.setdefault((s["workload"], s["trace"]), []).append(rec)
    return groups


def main(argv) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    status = 0
    for key in sorted(base.keys() & new.keys()):
        stamps = {tuple(r["stamp"][k] for k in MUST_MATCH) for r in base[key] + new[key]}
        if len(stamps) != 1:
            print(f"{key[0]} trace={key[1]}: stamps differ on {MUST_MATCH}: {sorted(stamps)}; not compared")
            status = 1
            continue
        print(f"{key[0]} trace={key[1]}: {len(base[key])} base runs, {len(new[key])} new runs")
        for metric in sorted(base[key][0]["metrics"]):
            a = statistics.median(r["metrics"][metric] for r in base[key])
            b = statistics.median(r["metrics"][metric] for r in new[key])
            ratio = f"{b / a:.3f}" if a else "n/a"
            print(f"  {metric:40s} {a:14.6g} {b:14.6g}  x{ratio}")
    return status


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
