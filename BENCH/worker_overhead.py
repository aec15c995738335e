#!/usr/bin/env python
"""Per-Python-task worker setup cost (ir_spark/zipguard.py, session.py).

On one warm session, times N one-task jobs that run a trivial Python
kernel (``zipguard.worker_report`` via mapInPandas) against N one-task
jobs that never leave the JVM.  The median difference is what the
PySpark worker spends per task before any kernel runs; every query,
served batch and build stage pays it once per Python task.

It is about 7 ms over the Unix-socket transport ``get_spark`` sets up
(``"transport": "uds"``).  The ~40 ms this reported before was not
worker work but a socket stall: over Spark's loopback TCP (``"tcp"``)
the task header and first Arrow batch wait out Nagle's algorithm and
delayed ACK (PLANS.md §59).

Usage::

    python BENCH/worker_overhead.py [--jobs 30] [--cpus 2]

Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python workers import the kernel's module (and with it the guard)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p)


def _median_s(run, n: int) -> float:
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        run()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--jobs", type=int, default=30)
    ap.add_argument("--cpus", type=int, default=2)
    args = ap.parse_args()

    from ir_spark import zipguard
    from ir_spark.session import get_spark

    spark = get_spark("worker_overhead", cpus=args.cpus)
    one = spark.range(0, 1, 1, 1)
    python_job = one.mapInPandas(zipguard.worker_report,
                                 "pid long, guarded boolean")
    try:
        for _ in range(3):  # start the worker; guard it from task 2 on
            python_job.collect()
            one.collect()
        transport = ("uds" if spark.sparkContext.getConf().get(
            "spark.python.unix.domain.socket.enabled", "false") == "true"
            else "tcp")
        jvm_s = _median_s(one.collect, args.jobs)
        python_s = _median_s(python_job.collect, args.jobs)
        rows = python_job.collect()
    finally:
        spark.stop()
    print(json.dumps({
        "jobs": args.jobs,
        "jvm_job_s": round(jvm_s, 4),
        "python_job_s": round(python_s, 4),
        "python_task_setup_s": round(python_s - jvm_s, 4),
        "worker_guarded": bool(rows[0]["guarded"]),
        "transport": transport,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
