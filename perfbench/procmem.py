"""Peak memory of the driver JVM and its Python workers.

High-water marks, not samples of current RSS or PSS: the kernel keeps
the peak resident set (VmHWM) per process, so a poll only has to see each
worker once before it exits, and the reading does not depend on when the
poll lands. The JVM's heap is pinned (-Xms == -Xmx), so its VmHWM cannot
fall below the heap size: it moves with the JVM's memory outside the heap.
"""

from __future__ import annotations

import os
import threading


def vm_hwm_mb(pid: int) -> float:
    """VmHWM of `pid` in MiB; 0.0 if the process is gone."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def _parent_and_name(pid: int) -> tuple[int, str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            stat = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name is parenthesised and may itself contain spaces
    name = stat[stat.index("(") + 1 : stat.rindex(")")]
    return int(stat[stat.rindex(")") + 2 :].split()[1]), name


def python_descendants(root: int) -> list[int]:
    """Pids of Python processes below `root` (pyspark daemon and workers)."""
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        info = _parent_and_name(int(entry))
        if info:
            children.setdefault(info[0], []).append(int(entry))
            names[int(entry)] = info[1]
    found, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        if names.get(pid, "").startswith("python"):
            found.append(pid)
        stack.extend(children.get(pid, []))
    return found


class WorkerHwmPoller:
    """Polls the largest VmHWM among the Python workers below a JVM."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.2):
        self._jvm_pid = jvm_pid
        self._interval_s = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_mb = 0.0

    def _poll(self) -> None:
        for pid in python_descendants(self._jvm_pid):
            self.peak_mb = max(self.peak_mb, vm_hwm_mb(pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._poll()
            self._stop.wait(self._interval_s)

    def __enter__(self) -> "WorkerHwmPoller":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._poll()

