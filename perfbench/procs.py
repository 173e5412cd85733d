"""The process tree of a benchmark session, read from ``/proc``.

A session is a ``child.py`` process, its JVM, and the JVM's Python daemon
and workers. The daemon puts itself and its workers in a process group of
their own, so the tree is followed by parent pid, not by process group.
"""

from __future__ import annotations

import ctypes
import os
import struct

TICKS = os.sysconf("SC_CLK_TCK")


def table() -> dict[int, list[str]]:
    """pid -> the fields of ``/proc/<pid>/stat`` after the command name
    (state, ppid, pgrp, ...; utime, stime, cutime, cstime at 11-14) of every
    live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out[int(name)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return out


def tree(root: int) -> dict[int, list[str]]:
    """``root`` and its live (not zombie) descendants, as in ``table()``."""
    procs = {p: f for p, f in table().items() if f[0] != "Z"}
    keep, grew = {root}, True
    while grew:
        grew = False
        for p, f in procs.items():
            if p not in keep and int(f[1]) in keep:
                keep.add(p)
                grew = True
    return {p: procs[p] for p in keep if p in procs}


class Instructions:
    """A hardware counter of the user-space instructions retired by this
    process and by every thread and process it starts after the counter is
    opened (``perf_event_open(2)`` with ``inherit``): open it before the
    session starts and it counts the JVM and its Python workers too.

    Unlike CPU time, the count does not grow when another guest of the host
    slows this one's cores down (a shared core or cache, a lower clock)."""

    _PERF_EVENT_OPEN = 298  # x86-64
    _HW_INSTRUCTIONS = 1
    _INHERIT, _EXCLUDE_KERNEL, _EXCLUDE_HV = 1 << 1, 1 << 5, 1 << 6
    _TIMES = 3  # read_format: time enabled and time running after the value
    _FD_CLOEXEC = 8

    def __init__(self):
        attr = bytearray(128)  # perf_event_attr; the fields not set stay 0
        struct.pack_into("IIQQQQQ", attr, 0, 0, len(attr), self._HW_INSTRUCTIONS, 0, 0, self._TIMES,
                         self._INHERIT | self._EXCLUDE_KERNEL | self._EXCLUDE_HV)
        syscall = ctypes.CDLL(None, use_errno=True).syscall
        syscall.restype = ctypes.c_long
        buf = ctypes.create_string_buffer(bytes(attr), len(attr))
        # pid 0 (this process), any cpu, no group leader
        self.fd = syscall(ctypes.c_long(self._PERF_EVENT_OPEN), buf, ctypes.c_int(0), ctypes.c_int(-1),
                          ctypes.c_int(-1), ctypes.c_ulong(self._FD_CLOEXEC))
        if self.fd < 0:
            err = ctypes.get_errno()
            raise OSError(err, f"cannot count instructions (perf_event_open): {os.strerror(err)}")

    def read(self) -> float:
        """Instructions so far, scaled up if the counter was not always on
        a core (when more counters were open than the core has)."""
        value, enabled, running = struct.unpack("QQQ", os.read(self.fd, 24))
        return value * enabled / running if running else 0.0

    def close(self) -> None:
        os.close(self.fd)


def cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root``'s tree. A process
    that exited and was reaped counts in its parent's children's time.

    Unlike a wall, this does not grow while the tree waits for a CPU that
    another process, or another guest of the hypervisor (steal time), holds."""
    return sum(sum(int(x) for x in f[11:15]) for f in tree(root).values()) / TICKS
