"""CPU time, resident-memory high-water marks and process age, read from
``/proc`` for this Python process, the Spark JVM it launched and every
process below the JVM (Python workers)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def process_age_s(pid: int | None = None) -> float:
    """Seconds since ``pid`` (default: this process) started."""
    start_ticks = int(_stat_fields(pid or os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids``, including children they
    have already reaped."""
    total = 0
    for pid in pids:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue  # exited between listing and reading
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def vm_hwm_mb(pids: list[int]) -> float:
    """Sum of the ``VmHWM`` (peak resident set) of ``pids`` in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
