"""Session sizing: the default heap and core count follow the host, so
the session starts on any machine without env overrides."""

from __future__ import annotations

import os

from simages_spark import session


def _bytes(mem: str) -> int:
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    return int(mem[:-1]) * units[mem[-1].lower()]


def test_default_heap_fits_host_memory():
    heap = _bytes(session.default_driver_memory())
    assert 1 << 30 <= heap <= session.host_memory_bytes()
    with open("/proc/meminfo") as f:
        total_kib = int(f.readline().split()[1])  # MemTotal
    assert heap <= total_kib * 1024


def test_default_heap_is_half_host_clamped(monkeypatch):
    gib = 1 << 30
    for host, want in ((12 * gib, 6 * gib), (gib, gib), (256 * gib, 24 * gib)):
        monkeypatch.setattr(session, "host_memory_bytes", lambda h=host: h)
        assert _bytes(session.default_driver_memory()) == want


def test_default_cores_follow_affinity():
    assert session.default_cores() == len(os.sched_getaffinity(0))
