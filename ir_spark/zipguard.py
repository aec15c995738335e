"""Keep PySpark workers from re-reading unchanged zip archives per task.

PySpark 4.1's worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark/worker_util.py:144``, in
``setup_spark_files``).  The worker imports pyspark itself from
``pyspark.zip`` (and the engine from an ``--py-files`` ``ir_spark.zip``
under spark-submit), and on CPython 3.11 ``zipimporter.invalidate_caches``
eagerly re-reads the archive's whole central directory
(``zipimport.py:329-336``).  A reused worker holds one zipimporter per
package directory it imported from (16 across pyspark.zip, the py4j
zip and the spark-core jar, 1.3k-5.4k entries each), so every Python
task — mapInPandas, applyInPandas, pandas UDF, RDD map — paid about
0.1 s of ``_read_directory`` before its kernel ran.

``install`` wraps ``zipimporter.invalidate_caches`` so that an importer
re-reads its archive only when the file's ``(st_mtime_ns, st_size,
st_ino)`` differs from what it was when that importer last read it.  A
rewritten or replaced zip is still re-read, so import semantics stay
exact.  The package ``__init__`` installs it; every engine kernel is
unpickled by reference on the worker, which imports ``ir_spark``.  The
first guarded call stamps each importer, so a reused worker stops
re-reading from the second task after its first engine kernel.
"""

from __future__ import annotations

import os
import zipimport

_STAMP = "_ir_spark_zip_stamp"


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_ir_spark_guard", False):
        return

    def invalidate_caches(self):
        # stat BEFORE reading: a write racing the read leaves a stamp
        # that no longer matches, so the next call re-reads
        stamp = _stamp(self.archive)
        if stamp is not None and getattr(self, _STAMP, None) == stamp:
            return
        original(self)
        setattr(self, _STAMP, stamp)

    invalidate_caches._ir_spark_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches,
                   "_ir_spark_guard", False)


def worker_report(batches):
    """mapInPandas kernel -> one ``(pid long, guarded boolean)`` row per
    task: which worker process ran it and whether the guard is on
    there.  A trivial Python task for probes and tests."""
    import pandas as pd

    for _ in batches:
        pass
    yield pd.DataFrame({"pid": [os.getpid()], "guarded": [installed()]})
