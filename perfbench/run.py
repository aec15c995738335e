"""Benchmark entry point: one workload at one seed, one JSON result line.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 24 --trace 0

Run from the root of a checkout of the repository.  The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (which also writes the spans to
``perfbench/results/trace-<workload>-<seed>.json``).  Progress and
problems go to standard error.
"""

import time

T_PROC = time.perf_counter()  # set-up is timed from the process's start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _environment(work: str, cpus: int) -> None:
    """Keep Spark, its Python workers and temp files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("IR_SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    sys.path.insert(0, ROOT)


def _descendants(pid: int) -> set[int]:
    """The live processes under ``pid``, read from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fp:
                    parent[int(d)] = int(fp.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = set(), [pid]
    while todo:
        pid = todo.pop()
        kids = [c for c, p in parent.items() if p == pid]
        out.update(kids)
        todo += kids
    return out


def _ended(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fp:
            return fp.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _stop_spark(spark) -> None:
    """Stop Spark, then its JVM (which exits when its stdin closes) and
    the Python workers under it, and wait until each has ended."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception as exc:  # e.g. a py4j call cut short by SIGTERM
            print(f"[perfbench] spark.stop: {exc!r}", file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    children = _descendants(os.getpid())
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while left := [p for p in children if not _ended(p)]:
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["mixed", "tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ir_spark")):
        print(f"perfbench: no ir_spark package under {ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work, cpus)

    from perfbench.workloads import WORKLOADS, Run

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    run = Run(work, args.seed, args.seconds, bool(args.trace), T_PROC, cpus)
    try:
        WORKLOADS[args.workload](run)
    finally:
        _stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"[perfbench] stopped at {time.perf_counter() - T_PROC:.2f} s", file=sys.stderr)

    metrics = run.layers if args.trace else run.e2e
    if args.trace:
        out = os.path.join(HERE, "results")
        os.makedirs(out, exist_ok=True)
        run.tracer.dump(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"),
                        {"workload": args.workload, "seed": args.seed,
                         "end_to_end": {k: v for k, (v, _u) in run.e2e.items()},
                         "per_layer": {k: v for k, (v, _u) in run.layers.items()}})
    print(json.dumps({
        "correct": run.wrong == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
