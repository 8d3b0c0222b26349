"""One benchmark run in a fresh process; started by run.py.

Prints the workload's named report on one line, then the result object
on the last line of standard output.  The environment (core count,
driver memory, temp dirs, PYTHONPATH) is set by run.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = time.perf_counter()

from harness import Run, median, vm_hwm_mb  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def metric_specs() -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """(name, unit) of every end-to-end and per-layer metric, read from
    BENCHMARK.json so the printed set is the declared set."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        [(m["name"], m["unit"]) for m in spec["end_to_end"]],
        [(m["name"], m["unit"]) for m in spec["per_layer"]],
    )


def workload_class(name: str):
    if name == "search":
        from search import Search
        return Search
    if name == "registry_rows":
        from registry_rows import RegistryRows
        return RegistryRows
    raise SystemExit(f"unknown workload {name!r}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--trace-file", required=True)
    ap.add_argument("--corrupt-one", action="store_true",
                    help="feed one deliberately wrong answer to the checker")
    args = ap.parse_args()
    cls = workload_class(args.workload)
    END_TO_END, PER_LAYER = metric_specs()

    from javascript_vector_database_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    get_spark_s = time.perf_counter() - t0
    run = Run(spark, traced=bool(args.trace), corrupt_one=args.corrupt_one)
    run.tracer.record("session.get_spark", t0, t0 + get_spark_s)

    wl = cls(run, args.seed, args.scale, args.workdir)
    wl.setup()
    setup_s = time.perf_counter() - T_START - wl.times.get("reference_s", 0.0)
    wl.loop(args.seconds)

    jvm_pid = spark.sparkContext._gateway.proc.pid
    peak_rss_mb = vm_hwm_mb() + vm_hwm_mb(jvm_pid)
    op_lat = [r["total_s"] for r in run.ops if "build_s" in r]
    e2e = {
        "setup_s": setup_s,
        "load_s": wl.times["load_s"],
        "pass_s": median(wl.passes),
        "op_p50_s": median(op_lat),
    }
    if run.traced:
        wl.traced_phase()
    failed_frac = run.failed / run.attempted if run.attempted else 0.0
    report = {
        "setup_s": (setup_s, "s"),
        **wl.report(),
        "failed_ops_frac": (failed_frac, "fraction"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "passes": (len(wl.passes), "count"),
    }

    layers = {name: 0.0 for name, _unit in PER_LAYER}
    layers["session.get_spark_s"] = get_spark_s
    if run.traced:
        layers.update(wl.layers())
        run.tracer.write(args.trace_file, {
            "workload": args.workload,
            "seed": args.seed,
            "end_to_end": e2e,
            "report": {k: v[0] for k, v in report.items()},
            "per_layer": layers,
        })
    unknown = set(layers) - {name for name, _ in PER_LAYER}
    if unknown:
        raise RuntimeError(f"per-layer metrics not in BENCHMARK.json: {unknown}")

    _stop(spark)

    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "report": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
        "failures": run.failures,
    }))
    if run.traced:
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
