"""Tracing overhead: the same workload and seed run untraced, then traced.

    python3 perfbench/overhead.py --workload polite --seed 1 --seconds 20

Prints each end-to-end metric from both runs and the traced run's change
relative to the untraced one, then the traced run's per-round
reconciliation (round span = job-busy time + driver gap).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TRACED_MARK = "perfbench-traced-e2e "


def _run(args: argparse.Namespace, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    return subprocess.run(cmd, capture_output=True, text=True, check=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()

    plain = json.loads(_run(args, 0).stdout.strip().splitlines()[-1])["metrics"]
    err = _run(args, 1).stderr.splitlines()
    traced = next(json.loads(line.split(TRACED_MARK, 1)[1])
                  for line in err if TRACED_MARK in line)
    print(f"{'metric':<14} {'untraced':>12} {'traced':>12} {'overhead':>9}")
    for name, m in plain.items():
        base, t = m["value"], traced[name]
        print(f"{name:<14} {base:12.4f} {t:12.4f} {100 * (t - base) / base:8.1f}%")
    start = next((i for i, line in enumerate(err) if "round  wall_s" in line), None)
    if start is not None:
        print("\n" + "\n".join(line for line in err[start:] if TRACED_MARK not in line))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
