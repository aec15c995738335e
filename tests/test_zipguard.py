"""ir_spark/zipguard.py: importlib.invalidate_caches() re-reads a zip
archive's directory only when the archive changed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from ir_spark import zipguard


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``zg_m1``, first on sys.path, imported; and
    the list of archives ``zipimport._read_directory`` reads from here
    on."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_m1": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    import zg_m1

    assert zg_m1.X == 1
    reads: list[str] = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or real(path))
    yield archive, reads
    for name in ("zg_m1", "zg_m2"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_installed_on_import():
    assert zipguard.installed()
    zipguard.install()  # idempotent: does not wrap the wrapper
    assert zipguard.installed()


def test_unchanged_zip_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    importlib.invalidate_caches()  # stamps every zip importer once
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_zip_is_reread(zip_on_path):
    archive, reads = zip_on_path
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(archive, {"zg_m1": "X = 1\n", "zg_m2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    import zg_m2

    assert zg_m2.Y == 2
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_replaced_zip_with_same_size_and_mtime_is_reread(zip_on_path,
                                                         tmp_path):
    """Only the inode differs: a zip swapped in by rename is re-read."""
    archive, reads = zip_on_path
    importlib.invalidate_caches()
    reads.clear()
    st = os.stat(archive)
    other = str(tmp_path / "other.zip")
    _write_zip(other, {"zg_m1": "X = 7\n"})
    os.utime(other, ns=(st.st_atime_ns, st.st_mtime_ns))
    other_st = os.stat(other)
    assert (other_st.st_size, other_st.st_mtime_ns) == (st.st_size,
                                                        st.st_mtime_ns)
    os.replace(other, archive)
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_guard_installed_in_python_worker(spark):
    """Engine kernels are unpickled by reference, which imports
    ir_spark (and installs the guard) in the worker process."""
    df = spark.range(0, 1, 1, 1).mapInPandas(
        zipguard.worker_report, "pid long, guarded boolean")
    rows = [r for _ in range(3) for r in df.collect()]
    assert len(rows) == 3
    assert all(r["guarded"] for r in rows)
    assert all(r["pid"] != os.getpid() for r in rows)
