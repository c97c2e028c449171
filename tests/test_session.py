"""Session defaults that need no running Spark."""

from __future__ import annotations

import os

from mongo_cdc_spark import session


def _mib(mem: str) -> int:
    assert mem.endswith("m"), mem
    return int(mem[:-1])


def test_default_driver_mem_never_exceeds_physical_memory(monkeypatch):
    """Without $SPARK_GRAFT_DRIVER_MEM the heap must fit the box: a
    32g default on a 15 GB box got the JVM OOM-killed mid-suite."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert 0 < _mib(session.default_driver_mem()) < phys

    def box(mib):
        def sysconf(name):
            return {"SC_PAGE_SIZE": 4096,
                    "SC_PHYS_PAGES": mib * 256}[name]
        monkeypatch.setattr(session.os, "sysconf", sysconf)
        return _mib(session.default_driver_mem())

    assert 0 < box(4096) < 4096
    assert box(15 * 1024) <= 6 * 1024 + 512
    assert box(1024 * 1024) == 32 * 1024
