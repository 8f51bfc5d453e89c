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
    monkeypatch.setattr(session, "_CGROUP_V1_MEMORY_LIMIT", str(tmp_path / "v1"))
    assert session._cgroup_memory_max_bytes() is None  # no controller
    limit.write_text("max\n")
    assert session._cgroup_memory_max_bytes() is None
    limit.write_text(f"{4 * GIB}\n")
    assert session._cgroup_memory_max_bytes() == 4 * GIB


def test_cgroup_v1_limit_read_when_v2_absent(tmp_path, monkeypatch):
    """Without a cgroup-v2 ``memory.max`` the v1 ``memory.limit_in_bytes``
    is the limit; v1's no-limit sentinel loses to physical memory."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_CGROUP_MEMORY_MAX", str(tmp_path / "memory.max"))
    v1 = tmp_path / "memory.limit_in_bytes"
    monkeypatch.setattr(session, "_CGROUP_V1_MEMORY_LIMIT", str(v1))
    monkeypatch.setattr(session, "_physical_memory_bytes", lambda: 16 * GIB)
    v1.write_text(f"{6 * GIB}\n")
    assert session._cgroup_memory_max_bytes() == 6 * GIB
    assert session.driver_memory() == "3g"
    v1.write_text("9223372036854771712\n")
    assert session.driver_memory() == "8g"
    (tmp_path / "memory.max").write_text(f"{4 * GIB}\n")  # v2 wins
    assert session.driver_memory() == "2g"


def test_suite_session_heap_fits_in_physical_memory(spark):
    conf = spark.sparkContext.getConf().get("spark.driver.memory", "1g")
    heap = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf)
    assert heap <= session._physical_memory_bytes(), conf


def test_one_session_builder_no_purge_no_stray_dict_cache():
    """scripts/drive.py holds the one vanilla-session builder; no script
    or bench.py purges the session caches mid-run; and session_cache.py
    holds every module-level dict cache in the package (the query
    registry is not a cache)."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    runners = sorted(root.glob("scripts/*.py")) + [root / "bench.py"]
    found = [
        f"{p.relative_to(root)}: SparkSession.builder"
        for p in runners
        if p != root / "scripts" / "drive.py"
        and "SparkSession.builder" in p.read_text()
    ] + [
        f"{p.relative_to(root)}: release_session_caches"
        for p in runners
        if "release_session_caches(" in p.read_text()
    ]
    pkg = root / "hive_hw_spark"
    for p in sorted(pkg.rglob("*.py")):
        if p == pkg / "session_cache.py":
            continue
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            empty_dict = isinstance(value, ast.Dict) and not value.keys
            dict_call = isinstance(value, ast.Call) and ast.unparse(
                value.func
            ).split(".")[-1] in ("dict", "OrderedDict", "defaultdict", "memo")
            names = [ast.unparse(t) for t in targets]
            if (empty_dict or dict_call) and names != ["_REGISTRY"]:
                found.append(f"{p.relative_to(root)}: {', '.join(names)}")
    assert found == []
