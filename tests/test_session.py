"""Session defaults that depend on the host."""

from __future__ import annotations

import importlib
import os

from uncharted_ta1_spark import session


def _mb(size: str) -> int:
    return int(size[:-1]) * {"m": 1, "g": 1024}[size[-1].lower()]


def test_default_driver_heap_is_bounded_by_host_memory(monkeypatch):
    """Unset SPARK_GRAFT_DRIVER_MEM gives a heap of at most 16g and at most
    half the host's physical memory, so the driver's GC runs before the
    machine runs out."""
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    try:
        mem = importlib.reload(session)._DEFAULTS["spark.driver.memory"]
        assert 0 < _mb(mem) <= min(16 * 1024, phys_mb // 2), (mem, phys_mb)
    finally:
        monkeypatch.undo()
        importlib.reload(session)


def test_driver_heap_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    try:
        assert importlib.reload(session)._DEFAULTS["spark.driver.memory"] == "3g"
    finally:
        monkeypatch.undo()
        importlib.reload(session)
