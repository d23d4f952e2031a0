#!/usr/bin/env python3
"""Run every workload once and print its end-to-end metrics by name and
unit, its ``ops_failed_ratio`` and each failing op by name.

    python3 perfbench/report.py [--seed N] [--seconds S]

Exits 1 when any op failed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import run
import workloads


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    args = ap.parse_args()
    bad = 0
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True)
        if proc.returncode != 0:
            print(f"{name}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            bad += 1
            continue
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        record = os.path.join(run.WORK_DIR, "records", f"{name}-seed{args.seed}-trace0.json")
        with open(record) as f:
            rec = json.load(f)
        print(f"{name} (n={rec['untraced']['n']}, seed={args.seed})")
        for key, m in res["metrics"].items():
            print(f"  {key:20s} {m['value']:10.4f} {m['unit']}")
        print(f"  {'ops_failed_ratio':20s} {rec['ops_failed_ratio']:10.4f} "
              f"({res['failed']}/{res['attempted']})")
        for op, why in rec["failures"] + rec["step_failures"]:
            print(f"  FAILED {op}: {why}")
        bad += not res["correct"]
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
