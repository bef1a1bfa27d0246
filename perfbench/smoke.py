"""Smoke test of the benchmark at tiny size.

    python3 perfbench/smoke.py

Runs every workload untraced and traced on the tiny inputs (the sf0.001
corpus, and a 37-zip month of a few hundred rows) and fails unless each
run exits 0, checks correct with no failed operation, prints exactly
the metrics BENCHMARK.json names with their units, and leaves no work
directory behind. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    problems = []
    for wl in (w["name"] for w in contract["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [
                *contract["command"], "--workload", wl, "--seed", "7",
                "--seconds", "1", "--trace", str(trace), "--size", "tiny",
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
            tag = f"{wl} trace={trace}"
            try:
                line = json.loads(proc.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                problems.append(f"{tag}: exit {proc.returncode}, no result\n{proc.stderr[-3000:]}")
                continue
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}")
            want = {m["name"]: m["unit"] for m in contract[key]}
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            if not line["correct"] or line["failed"] or line["attempted"] < 1:
                problems.append(f"{tag}: {line['attempted']} attempted, {line['failed']} failed\n{proc.stderr[-3000:]}")
            if got != want:
                problems.append(f"{tag}: metrics {sorted(set(got) ^ set(want))} differ from the contract")
            print(f"ok {tag}: {line['attempted']} operations checked", flush=True)
    work = os.path.join(ROOT, ".perfbench-work")
    left = [d for d in os.listdir(work) if d != "cache"] if os.path.isdir(work) else []
    if left:
        problems.append(f"work directories left behind: {left}")
    for p in problems:
        print("FAIL", p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
