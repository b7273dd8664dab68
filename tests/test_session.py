"""Session sizing defaults: derived from what this process may use, not
fixed constants; the environment overrides still win."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gravitydb_spark import session


def _meminfo(tmp_path, kib: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_default_cpus_is_affinity_mask():
    assert session.default_cpus() == len(os.sched_getaffinity(0))


def test_driver_memory_is_half_of_memtotal_without_cgroup_limit(tmp_path):
    meminfo = _meminfo(tmp_path, 16456384)
    v2 = tmp_path / "memory.max"
    v2.write_text("max\n")
    v1 = tmp_path / "memory.limit_in_bytes"
    v1.write_text("9223372036854771712\n")  # v1's "unlimited"
    missing = str(tmp_path / "absent")
    for files in ((), (str(v2),), (str(v1),), (missing,)):
        got = session.default_driver_memory(files, meminfo)
        assert got == f"{16456384 * 1024 // 2 // 2**20}m" == "8035m"


def test_driver_memory_follows_cgroup_limit(tmp_path):
    meminfo = _meminfo(tmp_path, 16456384)
    v2 = tmp_path / "memory.max"
    v2.write_text(f"{4 * 2**30}\n")
    assert session.default_driver_memory((str(v2),), meminfo) == "2048m"


def test_environment_overrides_the_defaults(monkeypatch):
    seen = {}

    class _Builder:
        def master(self, m):
            seen["master"] = m
            return self

        def appName(self, _name):
            return self

        def config(self, key, value):
            seen[key] = value
            return self

        def getOrCreate(self):
            raise RuntimeError("stop before starting a JVM")

    class _Session:
        builder = _Builder()

    monkeypatch.setattr(session, "SparkSession", _Session)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    with pytest.raises(RuntimeError):
        session.get_spark()
    assert seen["master"] == "local[3]"
    assert seen["spark.sql.shuffle.partitions"] == "3"
    assert seen["spark.driver.memory"] == "5g"

    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    with pytest.raises(RuntimeError):
        session.get_spark()
    assert seen["master"] == f"local[{session.default_cpus()}]"
    assert seen["spark.driver.memory"] == session.default_driver_memory()
