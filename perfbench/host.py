"""Host facts and process-tree sampling from ``/proc``.

The benchmark's process tree is this Python driver, the JVM it launches
and the JVM's Python workers. Peak RSS and CPU are summed over that tree;
CPU used by anything else on the host during a run is reported as foreign
CPU (total busy jiffies from ``/proc/stat`` minus the tree's own).
"""

from __future__ import annotations

import os
import threading

HZ = os.sysconf("SC_CLK_TCK")
INTERVAL_S = 0.2  # RSS sampling period
PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu jiffies incl. reaped children, rss pages)."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                st = f.read()
        except OSError:
            continue
        # comm may hold spaces or parentheses: fields follow the last ')'
        tail = st.rsplit(")", 1)[1].split()
        try:
            out[int(pid)] = (
                int(tail[1]),
                int(tail[11]) + int(tail[12]) + int(tail[13]) + int(tail[14]),
                int(tail[21]),
            )
        except (IndexError, ValueError):
            continue
    return out


def own_tree() -> tuple[int, int]:
    """(cpu jiffies, rss bytes) of this process and all live descendants.
    A reaped worker's CPU survives in its parent's cutime/cstime."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _cpu, _rss) in table.items():
        children.setdefault(ppid, []).append(pid)
    cpu = rss = 0
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in table:
            cpu += table[pid][1]
            rss += table[pid][2] * PAGE
        stack.extend(children.get(pid, ()))
    return cpu, rss


def total_busy_jiffies() -> int:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...: busy = all but idle+iowait
    return sum(vals) - vals[3] - vals[4]


class TreeSampler:
    """Background sampler of the process tree's RSS; also brackets the run
    with CPU readings to derive foreign CPU. ``stop`` joins the thread."""

    def __init__(self) -> None:
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._busy0 = self._own0 = 0
        self._t0 = 0.0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, own_tree()[1])
            self._stop.wait(INTERVAL_S)

    def start(self) -> "TreeSampler":
        import time

        self._t0 = time.monotonic()
        self._busy0, self._own0 = total_busy_jiffies(), own_tree()[0]
        self._thread.start()
        return self

    def stop(self) -> dict:
        """Stop sampling; returns peak RSS and the run's CPU split, in cores."""
        import time

        self._stop.set()
        self._thread.join(timeout=5)
        dt = max(time.monotonic() - self._t0, 1e-9)
        busy = total_busy_jiffies() - self._busy0
        own_cpu, rss = own_tree()
        self.peak_rss = max(self.peak_rss, rss)
        own = own_cpu - self._own0
        return {
            "peak_rss_mb": self.peak_rss / 2**20,
            "own_cpu_cores": own / HZ / dt,
            "foreign_cpu_cores": max(0, busy - own) / HZ / dt,
        }


def host_record() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "cpus": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 2),
        "loadavg": list(os.getloadavg()),
    }
