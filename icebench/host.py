"""Host context of a run: none of these adjusts a metric.

They let an out-of-bound run be attributed to its host window: load,
CPU steal over the timed loop, and a fixed CPU probe timed before and
after the loop.
"""

from __future__ import annotations

import os
import time


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def load1() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already inside user/nice
    return steal, sum(vals[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def probe_ms() -> float:
    """Wall time of a fixed pure-Python CPU loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc = (acc + i * i) % 1_000_003
    return (time.perf_counter() - t0) * 1000.0


def _status_kb(pid: int, key: str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return float(line.split()[1])
    except OSError:
        pass
    return 0.0


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process in MiB."""
    return _status_kb(pid, "VmHWM") / 1024.0


def rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmRSS") / 1024.0


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return data[data.rindex(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid`` (children, grandchildren, ...)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                parent[int(d)] = int(st[1])
    out, frontier = [], {pid}
    while frontier:
        nxt = {c for c, p in parent.items() if p in frontier}
        out.extend(nxt)
        frontier = nxt
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime+stime (own and reaped children) summed over ``pids``."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / tick


def jvm_pid(pid: int) -> int | None:
    for c in descendants(pid):
        try:
            with open(f"/proc/{c}/cmdline", "rb") as f:
                if b"java" in f.read().split(b"\0")[0]:
                    return c
        except OSError:
            continue
    return None
