"""Session defaults fit the host they run on."""

from __future__ import annotations

import os

import pytest

from tap_postgres_spark.session import _default_driver_memory


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="needs procfs")
def test_default_driver_heap_is_a_quarter_of_host_memory():
    with open("/proc/meminfo") as f:
        total_mb = next(
            int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal:")
        )
    heap = _default_driver_memory()
    assert heap.endswith("m")
    assert int(heap[:-1]) == max(1024, min(4096, total_mb // 4))
