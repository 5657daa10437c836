#!/usr/bin/env python3
"""Dedup benchmark: closed loop over the public entry points.

    python3 dedupbench/run.py --workload full_dupdense --seed 1 --seconds 10 --trace 0

One client, one op at a time, against a Spark session built by
``get_spark()`` with the library's defaults at ``local[nproc]``. Full-run
workloads time ``pipeline.run_dedup`` in checkpointed workdir mode (a fresh
workdir and ``resume=False`` per op). The append workload copies a base
state, committed once through ``streaming.process_batch`` in set-up, and
feeds it micro-batches.

Every op is checked against the workload's golden tables (dedupbench/check.py);
an op that misses a check counts as failed.

Set-up (``setup_s``) is the session start, the input scan and one warm-up
op (for the append workload, the base commit). ``--trace 0`` then times
ops and prints the end-to-end metrics. ``--trace 1`` runs one untraced op,
then resumes it after removing the ``spans`` and later manifests (a crash
before the ``spans`` commit), and one traced op (Spark event log on, spans
around each layer's entry point), and prints the per-layer metrics, the
kernel timings, the ratios and the tracing overhead. ``--workload all``
runs every workload in turn. The last stdout line is the JSON result.

All files (generated inputs, workdirs, Spark scratch, event logs) live
under ``.dedupbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".dedupbench")


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _isolate_env(work: str) -> None:
    """Library defaults for the session; every file inside the checkout."""
    for var in [v for v in os.environ if v.startswith("SPARK_GRAFT_")]:
        del os.environ[var]
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
            # overrides spark.local.dir when set, so it must point inside too
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )


def main() -> int:
    args = _parse()
    if not os.path.isdir(os.path.join(ROOT, "sift_kg_spark")):
        print(f"sift_kg_spark/ not found in {ROOT}", file=sys.stderr)
        return 2
    # import the package from the checkout root, not this script's directory
    sys.path[0] = ROOT
    from dedupbench.workloads import WORKLOADS

    if args.workload == "all":
        return _run_all(list(WORKLOADS), args)
    if args.workload not in WORKLOADS or args.seconds <= 0:
        print(f"unknown workload {args.workload!r} or bad --seconds", file=sys.stderr)
        return 2
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate_env(work)
    from dedupbench.harness import run

    print(f"== {args.workload} seed={args.seed} trace={args.trace}", flush=True)
    try:
        out = run(
            WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace),
            work, os.path.join(STATE, "cache"),
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


def _run_all(names: list[str], args: argparse.Namespace) -> int:
    """Each workload in a process of its own (PySpark cannot start a second
    JVM in one interpreter); one combined result, metrics prefixed by
    workload name."""
    results = {}
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"{name} exited with {proc.returncode}", file=sys.stderr)
            return 1
        results[name] = json.loads(lines[-1])
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {
            f"{n}.{k}": v for n, r in results.items() for k, v in r["metrics"].items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
