"""Benchmark entry point.

    python3 perfbench/run.py --workload suite_scan --seed 1 --seconds 8 \
        --trace 0

Runs one workload (suite_scan or incremental; see workloads.py)
at local[nproc] on inputs generated from --seed, checks
every output against exact DuckDB answers, and prints the metrics. The
last stdout line is one JSON object:
    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 a
separate traced run reports per-layer self times and counts. A full
record (versions, nproc, raw samples, calibration, problems) is written
to perfbench/.work/result-<workload>-<seed>-<trace>.json.

Exits non-zero without a result when the library cannot be imported or
Spark cannot start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import box

E2E_UNITS = {"setup_s": "s", "throughput": "1/s", "peak_rss_mb": "MB"}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_ms_p50",)):
        return "ms"
    if name.endswith(("_s", "_p50", ".s")) or ".self_s." in name:
        return "s"
    if name.endswith("bytes") or "blob_bytes" in name:
        return "bytes"
    if name.endswith(("coverage", "overhead_frac", "bound_ratio_max",
                      ".eff")):
        return "ratio"
    return "count"


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (smoke tests use < 1)")
    args = ap.parse_args(argv)

    shutil.rmtree(box.WORK, ignore_errors=True)
    box.prepare_env()
    try:
        import sgp_sketch  # noqa: F401
    except ImportError as e:
        print(f"cannot import the sgp_sketch library: {e}", file=sys.stderr)
        return 2

    run = workloads.run_traced if args.trace else workloads.run_untraced
    try:
        metrics, outcome, detail = run(args.workload, args.seed,
                                       args.seconds, args.scale)
    finally:
        _stop_jvm()
    units = E2E_UNITS if not args.trace else \
        {k: unit_of(k) for k in metrics}
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
        **box.versions(), "detail": detail, "problems": outcome.problems,
        "failed_frac": outcome.failed / max(outcome.attempted, 1),
    }
    os.makedirs(box.WORK, exist_ok=True)
    path = box.WORK / (f"result-{args.workload}-{args.seed}-"
                       f"{args.trace}.json")
    with open(path, "w") as f:
        json.dump({**record, "metrics": metrics}, f, indent=1, default=str)
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units[name]}")
    print(f"failed_frac = {record['failed_frac']:.6g} "
          f"({outcome.failed}/{outcome.attempted})")
    result = {"correct": outcome.failed == 0,
              "attempted": max(outcome.attempted, 1),
              "failed": outcome.failed,
              "metrics": {k: {"value": float(v), "unit": units[k]}
                          for k, v in metrics.items()}}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
