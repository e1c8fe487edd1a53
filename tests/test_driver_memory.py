"""The session's driver heap and core count fit the machine it runs on
(and a malformed setting names its variable)."""

from __future__ import annotations

import pytest

from rdbms_metadata_manager_spark import session


@pytest.fixture
def meminfo(monkeypatch, tmp_path):
    """Point the session at a fake /proc/meminfo of ``gib`` GiB."""

    def fake(gib):
        path = tmp_path / "meminfo"
        path.write_text(f"MemTotal:       {gib * 1024 * 1024} kB\nMemFree: 1 kB\n")
        monkeypatch.setattr(session, "MEMINFO", str(path))

    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    return fake


def test_default_heap_is_capped_at_half_of_ram(meminfo):
    meminfo(16)
    assert session.driver_memory() == "8192m"
    meminfo(256)
    assert session.driver_memory() == "48g"


def test_explicit_heap_passes_through_unless_larger_than_ram(meminfo, monkeypatch):
    meminfo(16)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")  # what perfbench pins
    assert session.driver_memory() == "2g"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "17g")
    with pytest.raises(ValueError, match="SPARK_DRIVER_MEM"):
        session.driver_memory()
    monkeypatch.setenv("SPARK_DRIVER_MEM", "lots")
    with pytest.raises(ValueError, match="SPARK_DRIVER_MEM"):
        session.driver_memory()


def test_session_uses_the_computed_heap(spark):
    assert spark.conf.get("spark.driver.memory") == session.driver_memory()


def test_spark_cpus_default_and_explicit(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.spark_cpus() == 32
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")  # what perfbench pins
    assert session.spark_cpus() == 2


@pytest.mark.parametrize("bad", ["abc", "0", "-4", ""])
def test_spark_cpus_rejects_non_positive_values_naming_the_variable(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.spark_cpus()
