"""Session defaults are sized to the host they run on."""

import os

from remine_spark import session


def _mem_total_mib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise AssertionError("no MemTotal in /proc/meminfo")


def test_default_heap_fits_detected_ram():
    heap = session.default_driver_memory()
    assert heap.endswith("m")
    mib = int(heap[:-1])
    assert 0 < mib <= 24 * 1024
    assert mib <= 0.4 * _mem_total_mib()


def test_default_cpus_from_host():
    if not os.environ.get("SPARK_GRAFT_CPUS"):
        assert session.DEFAULT_CPUS == os.cpu_count()
    assert session.DEFAULT_CPUS >= 1
