"""Host-sized session defaults (spark/session.py): with the env knobs
unset, get_spark sizes local[N] and the driver heap from this host."""

import os

from langid_py_spark.spark import session as S

GIB_PAGES = 2**30 // 4096


def _fake_host(monkeypatch, ram_gib: int) -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gib * GIB_PAGES}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])


def test_cores_from_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert S.default_cores() == 6


def test_cores_default_to_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "cpu_count", lambda: 3)
    assert S.default_cores() == 3


def test_driver_memory_from_env(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "5g")
    _fake_host(monkeypatch, 15)
    assert S.default_driver_memory() == "5g"


def test_driver_memory_below_small_host_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    _fake_host(monkeypatch, 15)
    assert S.default_driver_memory() == "7680m"  # half of 15 GiB


def test_driver_memory_capped_on_big_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    _fake_host(monkeypatch, 256)
    assert S.default_driver_memory() == "16384m"

