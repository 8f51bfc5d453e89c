"""Driver-heap sizing in session.py: the default heap is fitted to the
machine, so one long-lived session JVM (this suite runs in one) cannot ask
for more memory than the host has and be OOM-killed partway through.

The rule is checked without a JVM by patching the memory readers; one test
checks the suite's own session against the real machine.
"""

from __future__ import annotations

import pytest

from hive_hw_spark import session

GIB = 2**30


@pytest.fixture
def host(monkeypatch):
    """Pretend to run on a host with ``phys`` bytes of RAM and an optional
    cgroup-v2 limit, with ``SPARK_GRAFT_DRIVER_MEM`` unset."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)

    def _set(phys: int, cgroup: int | None = None) -> None:
        monkeypatch.setattr(session, "_physical_memory_bytes", lambda: phys)
        monkeypatch.setattr(session, "_cgroup_memory_max_bytes", lambda: cgroup)

    return _set


def test_16gb_host_gets_half_its_memory(host):
    host(16 * GIB)
    assert session.driver_memory() == "8g"
    host(16 * GIB - 210 * 2**20)  # kernel-reserved pages trimmed off
    assert session.driver_memory() == "8087m"


def test_large_host_keeps_48g_cap(host):
    host(256 * GIB)
    assert session.driver_memory() == "48g"
    host(96 * GIB)
    assert session.driver_memory() == "48g"


def test_cgroup_limit_below_ram_wins_and_floor_is_1g(host):
    host(64 * GIB, cgroup=12 * GIB)
    assert session.driver_memory() == "6g"
    host(64 * GIB, cgroup=1 * GIB)
    assert session.driver_memory() == "1g"


def test_explicit_env_passes_through_unchanged(host, monkeypatch):
    host(16 * GIB, cgroup=1 * GIB)
    for value in ("48g", "1g", "7000m"):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", value)
        assert session.driver_memory() == value


def test_cgroup_reader_treats_max_as_no_limit(tmp_path, monkeypatch):
    limit = tmp_path / "memory.max"
    monkeypatch.setattr(session, "_CGROUP_MEMORY_MAX", str(limit))
    assert session._cgroup_memory_max_bytes() is None  # no v2 controller
    limit.write_text("max\n")
    assert session._cgroup_memory_max_bytes() is None
    limit.write_text(f"{4 * GIB}\n")
    assert session._cgroup_memory_max_bytes() == 4 * GIB


def test_suite_session_heap_fits_in_physical_memory(spark):
    conf = spark.sparkContext.getConf().get("spark.driver.memory", "1g")
    heap = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf)
    assert heap <= session._physical_memory_bytes(), conf
