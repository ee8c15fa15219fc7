#!/usr/bin/env python3
"""Count-only comparison of two traced runs, layer by layer.

    python3 perfbench/compare.py OLD.json NEW.json [...] > counts.json

Each argument is a report written by ``run.py --trace 1 --out FILE``;
files pair up by workload (the first half is the old side).  For every
layer it prints ``.jobs``, ``.tasks``, ``.shuffle_mb`` and ``.cpu_s`` of
both sides.  Job and task counts repeat exactly between runs of one
program, so a change in them points at a module; CPU seconds and wall
times carry host noise and are shown only for context.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench.tracing import LAYERS  # noqa: E402

COUNTERS = ("jobs", "tasks", "shuffle_mb", "cpu_s")


def compare(old: dict, new: dict) -> dict:
    rows = {}
    for layer in LAYERS:
        row = {}
        for c in COUNTERS:
            a = old["per_layer"].get(f"{layer}.{c}")
            b = new["per_layer"].get(f"{layer}.{c}")
            if a is None or b is None or (a == 0 and b == 0):
                continue
            row[c] = {"old": round(a, 3), "new": round(b, 3), "delta": round(b - a, 3)}
        if row:
            rows[layer] = row
    return {
        "workload": new["workload"], "seed": new["seed"],
        "run_s": {"old": old["metrics"]["run_s"]["value"], "new": new["metrics"]["run_s"]["value"]},
        "stamps": {"old": old["stamps"], "new": new["stamps"]},
        "layers": rows,
    }


def main(paths) -> int:
    if not paths or len(paths) % 2:
        print(__doc__, file=sys.stderr)
        return 2
    reports = []
    for p in paths:
        with open(p) as fh:
            reports.append(json.load(fh))
    half = len(reports) // 2
    old = {r["workload"]: r for r in reports[:half]}
    out = [compare(old[r["workload"]], r) for r in reports[half:] if r["workload"] in old]
    json.dump(out, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
