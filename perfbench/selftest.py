"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py

For each workload, at tiny input sizes:

* an untraced run prints every end-to-end metric of BENCHMARK.json with
  its unit and reports a correct run;
* a traced run prints every per-layer metric with its unit and writes
  its side file of spans and counters;
* a run that hands one deliberately wrong answer to the checker reports
  it as one failed op and ``correct: false``.

It also checks that the benchmark, copied without the engine package,
exits non-zero without printing a result.  Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]


def _result(args: list[str]) -> dict:
    out = subprocess.run(RUN + args, cwd=ROOT, capture_output=True, text=True,
                         timeout=300)
    if out.returncode != 0:
        raise AssertionError(f"{args} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def _expect_metrics(res: dict, spec: list[dict], what: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, what
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{what}: metrics {sorted(set(got) ^ set(want))} differ"
    for name, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{what}: {name}"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for wl in (w["name"] for w in spec["workloads"]):
        base = ["--workload", wl, "--seed", "7", "--seconds", "1",
                "--scale", "tiny"]

        res = _result(base + ["--trace", "0"])
        _expect_metrics(res, spec["end_to_end"], f"{wl} untraced")
        assert res["correct"] and res["failed"] == 0, f"{wl}: {res}"
        assert res["attempted"] >= 1

        res = _result(base + ["--trace", "1"])
        _expect_metrics(res, spec["per_layer"], f"{wl} traced")
        side = os.path.join(HERE, ".work", "traces", f"{wl}-seed7.json")
        with open(side) as f:
            trace = json.load(f)
        assert trace["spans"] and trace["counters"], f"{wl}: empty side file"

        res = _result(base + ["--trace", "0", "--corrupt-one"])
        assert res["failed"] == 1 and not res["correct"], f"{wl}: {res}"
        print(f"ok {wl}")

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "search",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
        assert out.returncode != 0 and not out.stdout.strip(), out
    print("ok without the engine: exit", out.returncode)
    return 0


if __name__ == "__main__":
    sys.exit(main())
