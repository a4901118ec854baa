"""Session defaults must fit the host they run on."""

from __future__ import annotations

import os

from entity_deduplication_hack_main_spark.session import (
    default_driver_memory,
    default_parallelism,
)


def test_default_driver_memory_fits_physical_ram():
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    mb = int(default_driver_memory().removesuffix("m"))
    assert 0 < mb <= min(24 * 1024, 0.6 * kb / 1024)


def test_default_parallelism_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
