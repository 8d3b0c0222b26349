"""Tracing overhead: traced minus untraced end-to-end numbers.

    python3 perfbench/overhead.py --workload search --seed 1

Runs the workload untraced, then traced on the same seed, and prints each
end-to-end metric of both runs and their difference.  The traced run's
end-to-end numbers come from its side file.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
            args.workload, "--seed", str(args.seed), "--seconds",
            str(spec["run_seconds"])]

    out = subprocess.run(base + ["--trace", "0"], cwd=ROOT, capture_output=True,
                         text=True, check=True)
    untraced = json.loads(out.stdout.strip().splitlines()[-1])["metrics"]
    subprocess.run(base + ["--trace", "1"], cwd=ROOT, capture_output=True,
                   text=True, check=True)
    side = os.path.join(HERE, ".work", "traces",
                        f"{args.workload}-seed{args.seed}.json")
    with open(side) as f:
        traced = json.load(f)["end_to_end"]

    print(f"{'metric':14s} {'untraced':>10s} {'traced':>10s} {'overhead':>10s}")
    for m in spec["end_to_end"]:
        u, t = untraced[m["name"]]["value"], traced[m["name"]]
        print(f"{m['name']:14s} {u:10.3f} {t:10.3f} {t - u:+10.3f}  {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
