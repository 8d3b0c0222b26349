"""Benchmark entry point.

    python3 perfbench/run.py --workload search --seed 1 --seconds 12 --trace 0

Runs one workload in a fresh worker process (worker.py) with one Spark
session at ``local[<cores>]`` and prints the worker's output; the last
line is the result object.  Run from the root of a checkout.

Run hygiene, applied here so every run starts alike:

* ``SPARK_GRAFT_CPUS`` is the number of usable cores and
  ``SPARK_GRAFT_DRIVER_MEM`` a fixed 4g, so the session neither
  oversubscribes the machine nor asks for more memory than it has;
* ``PYTHONPATH`` names the checkout, so Python UDF workers import the
  engine;
* every temporary file (inputs, tables, Spark scratch, JVM temp) goes to a
  fresh directory under ``perfbench/.work`` that is removed on exit;
* the worker and everything it starts share one process group, which is
  killed and waited for before this script exits.

No run is repeated or retried: the numbers printed are those of this run.
The traced run (``--trace 1``) also writes its spans and counters to
``perfbench/.work/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TIMEOUT_S = 170
DRIVER_MEM = "4g"
WORKLOADS = ("search", "registry_rows")


def _usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _kill_group(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 30
    while _group_alive(pgid) and time.time() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs, for the self-test")
    ap.add_argument("--corrupt-one", action="store_true",
                    help="self-test: feed one wrong answer to the checker")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "javascript_vector_database_spark")):
        print("perfbench: engine package not found next to perfbench/",
              file=sys.stderr)
        return 2

    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(_usable_cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_GRAFT_DRIVER_JAVA_OPTS":
            f"-Xlog:disable -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
    })
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scale", args.scale, "--workdir", os.path.join(run_dir, "data"),
        "--trace-file",
        os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
    ]
    if args.corrupt_one:
        cmd.append("--corrupt-one")

    proc = subprocess.Popen(cmd, env=env, cwd=run_dir, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)

    def _terminate(signum, _frame):
        raise SystemExit(128 + signum)

    # a run stopped from outside still stops everything it started
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        _kill_group(proc.pid)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    if out is None:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 3
    if proc.returncode != 0:
        sys.stderr.write(out)
        print(f"perfbench: worker exited with {proc.returncode}",
              file=sys.stderr)
        return 1
    sys.stdout.write(out)
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
