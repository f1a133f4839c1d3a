#!/usr/bin/env python3
"""Test of the benchmark itself: two traced runs at one seed must agree.

    python3 perfbench/check_determinism.py [--workload ref_mixed] [--seed 7]

Runs the workload twice with --trace 1 and the same seed, and fails unless
both runs pass their correctness checks (which include "every Spark job is
charged to a named layer span") and report identical per-layer jobs, tasks,
rows_out and shuffle_write_mb. These counts are the steady signals; times
are not compared.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
EXACT = ("jobs", "tasks", "rows_out", "shuffle_write_mb")


def traced(workload, seed, seconds):
    p = subprocess.run([sys.executable, str(RUN), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", "1"], capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"run failed ({p.returncode}):\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="ref_mixed")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=1)
    a = ap.parse_args()
    runs = [traced(a.workload, a.seed, a.seconds) for _ in range(2)]
    bad = [f"run {i + 1} not correct" for i, r in enumerate(runs) if not r["correct"]]
    keys = sorted(k for k in runs[0]["metrics"] if k.rsplit(".", 1)[-1] in EXACT)
    for k in keys:
        x, y = (r["metrics"][k]["value"] for r in runs)
        if x != y:
            bad.append(f"{k}: {x} != {y}")
    for k in keys:
        print(f"{k:40s} {runs[0]['metrics'][k]['value']}")
    if bad:
        sys.exit("not deterministic:\n" + "\n".join(bad))
    print(f"ok: {len(keys)} per-layer counts identical over two traced runs")


if __name__ == "__main__":
    main()
