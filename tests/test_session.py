"""Session defaults derived from the machine the process runs on."""

import os

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark import session


def test_defaults_follow_visible_cpus_and_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.default_cpus() == len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem = session.driver_memory()
    assert mem.endswith("m")
    assert abs(int(mem[:-1]) - ram_mb * session.DRIVER_MEM_SHARE) <= 1
    assert int(mem[:-1]) < ram_mb


def test_environment_overrides_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert session.default_cpus() == 3
    assert session.driver_memory() == "5g"
