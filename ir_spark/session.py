"""SparkSession factory with scale-aware defaults.

Local sandbox runs ``local[N]`` in one JVM; on a real cluster the same
settings apply (AQE, Arrow, UTC) and the master/memory flags come from
spark-submit.  Everything here is plain public Spark configuration.

The JVM talks to its Python workers (and the driver to its accumulator
and collect servers) over Unix domain sockets in a private directory,
not Spark's default loopback TCP: neither end of the TCP channel sets
``TCP_NODELAY``, so the small writes of each task's header and first
Arrow batch met Nagle's algorithm and delayed ACK, a ~40 ms stall on
every Python task (PLANS.md §59).  ``get_spark`` always builds a
``local[N]`` session, so the executors share the driver's filesystem.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half the machine's physical memory, at most 32g.

    In local mode the driver JVM is the whole engine.  A heap cap above
    the machine's RAM lets G1 keep growing the heap instead of
    collecting, until the kernel's OOM killer ends the JVM and every
    later job fails: under a 32g cap the test suite's JVM reached
    15 GB RSS on a 16 GB machine and was killed.  Half the RAM leaves
    room for the JVM's off-heap memory and the Python workers."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "32g"
    return f"{max(512, min(32 * 1024, phys // 2 // 2**20))}m"


_socket_dir: str | None = None


def _remove_socket_dir(path: str, owner_pid: int) -> None:
    if os.getpid() == owner_pid:  # not in a forked child
        shutil.rmtree(path, ignore_errors=True)


def python_socket_dir() -> str | None:
    """This process's private directory for the Python-worker sockets,
    or None when Spark's TCP default must stay.

    The directory is made on the first call, under ``/tmp``: Spark names
    each socket ``<dir>/.<uuid4>.sock`` and Linux caps an AF_UNIX path
    at 107 bytes, which Spark's default directory, ``java.io.tmpdir``,
    may already be too deep for.  Its mode is 0700 (``mkdtemp``): a
    Unix-socket connection carries no auth secret, so the directory's
    permissions keep other users off the worker daemon.  Later calls
    return the same directory, because ``getOrCreate`` keeps an
    existing context's config; it is removed at interpreter exit.  When
    no such short directory can be made, this returns None and the
    session keeps Spark's loopback TCP transport."""
    global _socket_dir
    if _socket_dir is None:
        try:
            path = tempfile.mkdtemp(prefix="irs-", dir="/tmp")
        except OSError:
            return None
        atexit.register(_remove_socket_dir, path, os.getpid())
        _socket_dir = path
    return _socket_dir


def get_spark(app_name: str = "ir_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        # ~2x cores locally; on a cluster this is overridden per job
        shuffle_partitions = max(2 * cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("IR_SPARK_DRIVER_MEM",
                                                     default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # FAIR lets concurrent query jobs share executor slots instead
        # of queueing whole-job FIFO — the concurrent-serving path puts
        # each client thread in its own pool (see use_query_pool; pools
        # are fair-shared against each other).  Sequential workloads
        # see FIFO-identical behavior (single default pool).
        .config("spark.scheduler.mode",
                os.environ.get("IR_SPARK_SCHEDULER", "FAIR"))
    )
    sock_dir = python_socket_dir()
    if sock_dir is not None:
        builder = (builder
                   .config("spark.python.unix.domain.socket.enabled", "true")
                   .config("spark.python.unix.domain.socket.dir", sock_dir))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def use_query_pool(spark: SparkSession, pool: str) -> None:
    """Assign THIS thread's subsequent jobs to a named fair-scheduler
    pool.  Concurrent serving calls this once per client thread (each
    client in its own pool -> queries fair-share the executors instead
    of head-of-line blocking).  PySpark pins Python threads to JVM
    threads (PYSPARK_PIN_THREAD, default on), so the local property is
    correctly thread-scoped."""
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
