"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds nothing: the engine is the Python
package beside this directory. Prints one JSON object as the last line
of stdout with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything it writes stays under ``.bench_work/`` (removed
at exit) and ``.bench_out/`` (detail and span files) in the repository
root.
See README.md beside this file for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bench_json  # noqa: E402

# A fixed-size driver heap (initial = maximum) keeps the JVM's resident
# size from depending on when the collector decided to grow the heap.
DRIVER_HEAP = "1g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="perfbench")
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in bench_json.load()["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return p.parse_args(argv)


def prepare_env(root: str, work: str) -> None:
    """Keep every file the engine writes inside ``work`` and let Python
    workers import the package from ``root``."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            f"-Xms{DRIVER_HEAP} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })
    tempfile.tempdir = None


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs (diagnosis
    of run-to-run noise on shared hosts)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def stop_spark() -> None:
    """Stop the session and the JVM it launched, then wait for every
    process this run started."""
    from pyspark import SparkContext

    from collect import reap_descendants

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=30)
    reap_descendants()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    if not os.path.isdir(os.path.join(root, "fluent_bit_filter_math_spark")):
        print(f"perfbench: no engine package fluent_bit_filter_math_spark "
              f"in {root}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(root, work)

    import workloads
    from collect import TreeSampler

    out_dir = os.path.join(root, ".bench_out")
    run = workloads.Run(args=args, work=work, out_dir=out_dir)
    started = time.perf_counter()
    steal0 = cpu_steal_s()
    try:
        with TreeSampler() as sampler:
            result = workloads.WORKLOADS[args.workload](run)
            run.layer["exec.python_workers_peak"] = sampler.peak_python_workers
        stop_spark()
        result.e2e["peak_mem_mb"] = sampler.peak_kb / 1024
        run.detail["peak_mem_parts_kb"] = sampler.peak_parts
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in result.problems:
        print(f"perfbench: {p}", file=sys.stderr)
    os.makedirs(out_dir, exist_ok=True)
    detail = os.path.join(
        out_dir, f"detail-{args.workload}-{args.seed}-{args.trace}.json")
    with open(detail, "w") as fh:
        json.dump({"e2e": result.e2e, "layer": run.layer, **run.detail,
                   "problems": result.problems,
                   "run_s": time.perf_counter() - started,
                   "cpu_steal_s": cpu_steal_s() - steal0}, fh, indent=1)
    spec = bench_json.load()
    if args.trace:
        metrics = {m["name"]: {"value": float(run.layer.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(result.e2e[m["name"]]),
                               "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": result.failed == 0 and not result.problems,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
