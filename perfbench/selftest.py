"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the root of a checkout.  Runs every workload at its tiny size,
untraced and traced, and checks that each run exits 0 and that every
metric BENCHMARK.json names is present, finite and carries its unit.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys


def main() -> int:
    sys.path[0] = os.getcwd()
    from perfbench.workloads import WORKLOADS

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = []
    declared = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
                "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for workload in WORKLOADS:
        for trace in ("0", "1"):
            cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
                   "--seconds", "1", "--trace", trace, "--tiny"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            tag = f"{workload} --trace {trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                problems.append(f"{tag}: {result}")
            for name, unit in declared[trace].items():
                got = result["metrics"].get(name)
                if got is None or got["unit"] != unit or not math.isfinite(got["value"]):
                    problems.append(f"{tag}: metric {name} is {got}")
            print(f"ok  {tag}", flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
