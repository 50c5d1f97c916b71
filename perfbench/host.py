"""Process-tree CPU and memory, and host-noise disclosure (Linux /proc)."""

from __future__ import annotations

import os
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            # fields after the parenthesised command name; index 0 = state
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_pids() -> list[int]:
    """This process and every live descendant (the JVM, its Python workers)."""
    root = os.getpid()
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                parent[int(d)] = int(st[1])
    out, frontier = [root], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def tree_cpu_s() -> float:
    """CPU seconds of the Spark driver, the JVM and the Python workers, counting
    reaped children through their parents' cutime/cstime."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of the Spark driver plus the JVM over the run so far."""
    jvm = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    jvm = max(jvm, _hwm_kb(pid))
        except OSError:
            pass
    return (_hwm_kb(os.getpid()) + jvm) / 1024.0


def cpu_counters() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[1] - before[1]) / max(after[0] - before[0], 1)


def calibration_ms() -> float:
    """Median wall of five runs of a fixed pure-Python loop: how fast the
    host runs right now."""
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        walls.append((time.perf_counter() - t0) * 1000)
    return statistics.median(walls)
