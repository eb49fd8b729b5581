"""Host health and process-tree memory, recorded beside every run.

Nothing is normalised by these figures; they make a contended run visible.
"""

from __future__ import annotations

import os
import statistics
import threading
import time


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime jiffies)."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
            out[int(pid)] = (int(rest[1]), int(rest[11]) + int(rest[12]))
        except (OSError, IndexError, ValueError):
            continue
    return out


def tree_pids(table=None) -> list[int]:
    """This process and all its live descendants."""
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
            stack.extend(kids.get(pid, []))
    return out


class HostWindow:
    """Steal and external-CPU shares over a window (start() .. stop()),
    from the machine and process-tree CPU counters ``bench.py`` samples."""

    def start(self) -> None:
        from bench import _machine_cpu_jiffies, _proc_tree_cpu_jiffies

        self._machine, self._tree = _machine_cpu_jiffies, _proc_tree_cpu_jiffies
        self.m0, self.t0 = self._machine(), self._tree()
        self.load0 = os.getloadavg()[0]

    def stop(self) -> dict:
        m1, t1 = self._machine(), self._tree()
        busy, total, steal = (m1[i] - self.m0[i] for i in range(3))
        ours = t1 - self.t0
        return {
            "steal_frac": round(steal / total, 4) if total else 0.0,
            "external_cpu_frac": round(max(0, busy - ours) / total, 4) if total else 0.0,
            "loadavg_1m_start": round(self.load0, 2),
            "loadavg_1m_end": round(os.getloadavg()[0], 2),
        }


def calibration_s(reps: int = 3) -> float:
    """Median wall of a fixed single-core integer loop."""
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc + i * i) % 1_000_003
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Sums each process's VmHWM over the benchmark's process tree.

    A sampling thread keeps the largest VmHWM seen for every pid of the tree
    (the JVM and the Python workers), so workers that exit before the end
    still count.
    """

    def __init__(self, period_s: float = 0.5) -> None:
        self.period_s = period_s
        self.hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        for pid in tree_pids():
            kb = _hwm_kb(pid)
            if kb > self.hwm.get(pid, 0):
                self.hwm[pid] = kb

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return sum(self.hwm.values()) / 1024.0
