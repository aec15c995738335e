"""ir_spark/session.py: the local driver heap cap fits the machine."""

from __future__ import annotations

import os

from ir_spark.session import default_driver_memory


def test_default_driver_heap_fits_in_half_the_ram():
    got = default_driver_memory()
    assert got.endswith("m")
    phys_mb = (os.sysconf("SC_PAGE_SIZE")
               * os.sysconf("SC_PHYS_PAGES")) // 2**20
    assert 512 <= int(got[:-1]) <= min(32 * 1024, max(512, phys_mb // 2))

