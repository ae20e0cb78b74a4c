"""Session defaults fit the host they run on."""

import os

from news_information_retrieval_system_spark.session import default_cores, default_heap


def test_default_heap_fits_host():
    # -Xms = -Xmx commits the whole heap, so it must stay well inside RAM
    heap_mb = int(default_heap().removesuffix("m"))
    ram_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 20
    assert 1024 <= heap_mb <= 16 << 10
    assert heap_mb <= max(1024, 0.4 * ram_mb)


def test_default_cores_fit_host(monkeypatch):
    # without the driver's core count, local[N] uses the CPUs this process
    # may run on, not a fixed count larger than the host
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
