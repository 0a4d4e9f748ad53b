"""Session defaults that must fit the host (no JVM is started here)."""

import os

from geminigraph_spark import session as S


def _fake_ram(monkeypatch, gib):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * (1 << 30) // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])


def test_driver_memory_is_capped_to_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    _fake_ram(monkeypatch, 15)
    assert S.default_driver_memory() == "7680m"  # half of 15 GiB
    _fake_ram(monkeypatch, 64)
    assert S.default_driver_memory() == "16384m"  # the 16 GB ceiling
    _fake_ram(monkeypatch, 1)
    assert S.default_driver_memory() == "1024m"  # the 1 GB floor


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    _fake_ram(monkeypatch, 15)
    assert S.default_driver_memory() == "3g"


def test_driver_memory_on_this_host_fits_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert int(S.default_driver_memory()[:-1]) <= max(1024, ram_mb // 2)
