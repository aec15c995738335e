"""ir_spark/session.py: the local driver heap cap fits the machine, and
the Python workers talk to the JVM over Unix sockets in a short,
private, per-process directory."""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys

from ir_spark import session
from ir_spark.session import default_driver_memory

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Spark names each socket <dir>/.<uuid4>.sock; Linux caps sun_path at 107
SOCK_NAME_LEN = 43
SUN_PATH_MAX = 107


def test_default_driver_heap_fits_in_half_the_ram():
    got = default_driver_memory()
    assert got.endswith("m")
    phys_mb = (os.sysconf("SC_PAGE_SIZE")
               * os.sysconf("SC_PHYS_PAGES")) // 2**20
    assert 512 <= int(got[:-1]) <= min(32 * 1024, max(512, phys_mb // 2))


def test_live_session_uses_unix_sockets(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    assert conf.get("spark.python.unix.domain.socket.dir") == \
        session.python_socket_dir()


def test_socket_dir_is_short_private_and_one_per_process(spark):
    d = session.python_socket_dir()
    st = os.stat(d)
    assert stat.S_ISDIR(st.st_mode)
    assert stat.S_IMODE(st.st_mode) == 0o700
    assert st.st_uid == os.getuid()
    assert len(d) + SOCK_NAME_LEN <= SUN_PATH_MAX
    assert session.python_socket_dir() == d


_CHILD = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
from ir_spark import oracle
from ir_spark.fixtures import REFERENCE_QUERIES, generate_pages, pages_to_parquet
from ir_spark.operators import segment_query as SQ
from ir_spark.operators import segments as SEG
from ir_spark.session import get_spark, python_socket_dir

work = os.environ["TMPDIR"]
spark = get_spark("long_tmpdir", cpus=2, shuffle_partitions=4)
one = spark.range(0, 1, 1, 1).mapInPandas(
    lambda it: (b.assign(id=b.id + 1) for b in it), "id long")
assert [r.id for r in one.collect()] == [1]

pages = generate_pages(60, seed=7)
path = pages_to_parquet(pages, os.path.join(work, "pages.parquet"))
SEG.build_segment_index(spark, spark.read.parquet(path),
                        os.path.join(work, "index"), source=path,
                        n_buckets=4, segment_groups=1)
sidx = SQ.SegmentIndex.load(spark, os.path.join(work, "index"))
q = REFERENCE_QUERIES[0]
got = [r["doc_id"] for r in SQ.search_segments(spark, sidx, q, k=5).collect()]
by_url = sorted(pages, key=lambda p: p.url)
idx = oracle.build_index([(i + 1, p.text) for i, p in enumerate(by_url)])
want = [d for d, _ in oracle.search(idx, q, k=5)]
print(json.dumps({"socket_dir": python_socket_dir(),
                  "java_tmpdir": spark.sparkContext._jvm.java.lang.System
                  .getProperty("java.io.tmpdir"),
                  "got": got, "want": want}))
spark.stop()
"""


def test_long_java_tmpdir_keeps_python_tasks_working(tmp_path):
    """Spark's default socket directory is java.io.tmpdir: with one deep
    enough that ``<dir>/.<uuid4>.sock`` passes sun_path, the daemon died
    with ``OSError: AF_UNIX path too long``.  The private directory
    under /tmp keeps tasks working whatever the tmpdir, and is gone
    once the process exits."""
    long_tmp = tmp_path / ("long-java-tmpdir-" + "x" * 90)
    long_tmp.mkdir()
    assert len(str(long_tmp)) >= 90
    env = dict(os.environ)
    env["TMPDIR"] = str(long_tmp)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p)
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={long_tmp} pyspark-shell")
    env["IR_SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run([sys.executable, "-c", _CHILD, REPO], env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["java_tmpdir"] == str(long_tmp)
    assert out["got"] == out["want"] and out["got"]
    assert out["socket_dir"].startswith("/tmp/irs-")
    assert not os.path.exists(out["socket_dir"])
