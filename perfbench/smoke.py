#!/usr/bin/env python3
"""Smoke check of the benchmark itself, at sf0.001.

    python3 perfbench/smoke.py

Runs every workload on sf0.001 inputs (the 10x workload reads their
10x copy) for a two-second window (five rounds at least), once
untraced and once traced, and checks that each run passes its output
check and emits every metric ``BENCHMARK.json`` names, with its unit
and a finite value.  Takes about three minutes on 4 cores.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
from layers import LAYER_METRICS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SMOKE_SF = 0.001


def main() -> int:
    problems = []
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for key, named in (("end_to_end", run.END_TO_END), ("per_layer", LAYER_METRICS)):
        if [(m["name"], m["unit"]) for m in spec[key]] != list(named):
            problems.append(f"BENCHMARK.json {key} differs from what the runs emit")
    for workload in WORKLOADS.values():
        small = dataclasses.replace(workload, base_sf=SMOKE_SF)
        for trace, named in ((0, run.END_TO_END), (1, LAYER_METRICS)):
            label = f"{workload.name} trace={trace}"
            result = run.measure(small, seed=1, seconds=2.0, trace=trace)
            if result is None:
                problems.append(f"{label}: run failed")
                continue
            if not result["correct"] or result["failed"]:
                problems.append(f"{label}: output check failed")
            got = result["metrics"]
            for name, unit in named:
                if name not in got:
                    problems.append(f"{label}: {name} missing")
                elif got[name]["unit"] != unit:
                    problems.append(f"{label}: {name} unit {got[name]['unit']} != {unit}")
                elif not math.isfinite(got[name]["value"]):
                    problems.append(f"{label}: {name} = {got[name]['value']}")
            extra = set(got) - {name for name, _ in named}
            if extra:
                problems.append(f"{label}: unexpected metrics {sorted(extra)}")
            print(f"{label}: {len(got)} metrics", flush=True)
    for p in problems:
        print("FAIL", p, file=sys.stderr)
    print("smoke ok" if not problems else f"smoke failed: {len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
