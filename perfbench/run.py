#!/usr/bin/env python3
"""Warehouse benchmark: one workload per process, timed on full results.

Usage, from the repository root::

    python3 perfbench/run.py --workload refresh_dashboard --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

``--workload all`` runs every workload in its own process, one after the
other, and relays each one's report. The last line of standard output is
one JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics, and
the spans are written to ``perfbench/results/``. See ``perfbench/README.md``
for the workloads, the metrics and how each layer metric maps to an
end-to-end one.

The benchmark generates its own inputs from ``--seed``, pins its run
environment (``PYTHONPATH``, driver memory, ``SPARK_GRAFT_CPUS``,
``SPARK_LOCAL_DIRS``) and echoes it, checks every output outside the timed
interval, and stops the Spark JVM and its workers before it exits.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench import workloads  # noqa: E402


def _box_memory_gb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work_dir: str) -> dict[str, str]:
    """Set, and return for echoing, the environment every run shares."""
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        # get_session defaults to 48g; a quarter of the box leaves room
        # for the Python workers and the other processes on it
        "SPARK_DRIVER_MEMORY": f"{max(1, min(48, _box_memory_gb() // 4))}g",
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "local"),
        "PYSPARK_PYTHON": sys.executable,
        # temporary files, Derby and JVM perf data stay inside the run's
        # directory, under the checkout
        "TMPDIR": os.path.join(work_dir, "tmp"),
        "SPARK_DRIVER_JAVA_OPTS": (
            f"-Dderby.system.home={work_dir} "
            f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')} -XX:-UsePerfData"
        ),
    }
    os.makedirs(env["TMPDIR"])
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    return env


def _run_all(args: argparse.Namespace) -> int:
    """One process per workload; relay each report line by line."""
    ok = True
    for name in workloads.WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--sf-scale", str(args.sf_scale),
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        if proc.returncode != 0 or not lines:
            print(f"# {name}: exit code {proc.returncode}")
            ok = False
            continue
        result = json.loads(lines[-1])
        ok = ok and result["correct"]
        for metric, rec in result["metrics"].items():
            print(f"{name}  {metric} = {rec['value']} {rec['unit']}")
        print(f"{name}  result {lines[-1]}")
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=(*workloads.WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf-scale",
        type=float,
        default=1.0,
        help="multiply every workload's scale factor (the smoke test uses "
        "a small value)",
    )
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "gmall_spark")):
        print(f"perfbench: no gmall_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)

    work_dir = os.path.join(BENCH_DIR, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir)
    env = pin_environment(work_dir)
    for key, value in env.items():
        print(f"# env {key}={value}")
    print(f"# seed {args.seed}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        report = workloads.run(
            args.workload,
            seed=args.seed,
            seconds=args.seconds,
            traced=bool(args.trace),
            work_dir=work_dir,
            results_dir=os.path.join(BENCH_DIR, "results"),
            process_start=PROCESS_START,
            spec=spec,
            sf_scale=args.sf_scale,
        )
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
