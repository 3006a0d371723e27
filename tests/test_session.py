"""The session factory sizes the driver heap and parallelism to the
machine."""

from __future__ import annotations

import os

from llm_map_reduce_summarizer_spark import session as session_mod

GB = 1 << 30


def _mb(size: str) -> int:
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    return int(float(size[:-1]) * units[size[-1].lower()])


def test_default_heap_is_capped_by_physical_memory(monkeypatch):
    # a 16g heap on a 15 GB machine was grown by the collector until
    # the kernel's OOM killer ended the JVM
    monkeypatch.setattr(session_mod, "physical_memory_bytes", lambda: 15 * GB)
    assert session_mod.default_driver_memory() == "6144m"
    monkeypatch.setattr(session_mod, "physical_memory_bytes", lambda: 256 * GB)
    assert session_mod.default_driver_memory() == "16384m"
    monkeypatch.setattr(session_mod, "physical_memory_bytes", lambda: None)
    assert session_mod.default_driver_memory() == "16384m"


def test_default_cpus_follows_the_machine(monkeypatch):
    # local[N] follows the CPUs the process may use, as nproc does
    monkeypatch.setattr(session_mod.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session_mod.default_cpus() == 3
    # no affinity call (macOS, Windows): the CPU count, else 1
    monkeypatch.delattr(session_mod.os, "sched_getaffinity")
    monkeypatch.setattr(session_mod.os, "cpu_count", lambda: 6)
    assert session_mod.default_cpus() == 6
    monkeypatch.setattr(session_mod.os, "cpu_count", lambda: None)
    assert session_mod.default_cpus() == 1


def test_shared_session_heap_fits_the_machine(spark):
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    wanted = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if wanted:
        assert conf == wanted
    else:
        assert conf == session_mod.default_driver_memory()
        total = session_mod.physical_memory_bytes()
        if total:
            assert _mb(conf) <= total * session_mod.HEAP_SHARE_OF_RAM / (1 << 20)
