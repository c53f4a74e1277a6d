"""Host-noise accounting for one benchmark run: tree CPU, occupancy, steal.

Tree CPU is the user+sys time of this process and every live descendant
(the Spark JVM and its Python UDF workers), read from ``/proc``. On a
shared host a contended window inflates tree CPU for the same work, and
hypervisor steal shows up as low occupancy instead; ``steal_frac`` names
that cause directly.
"""

from __future__ import annotations

import glob
import os


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, user+sys CPU seconds, resident-set high-water KiB)."""
    hz = os.sysconf("SC_CLK_TCK")
    out = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        pid = int(path.split("/")[2])
        try:
            with open(path) as f:
                tail = f.read().rsplit(") ", 1)[1].split()
            hwm = 0
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        hwm = int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue  # process ended while we read it
        out[pid] = (int(tail[1]), (int(tail[11]) + int(tail[12])) / hz, hwm)
    return out


def _tree(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in table:
            out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and its
    live descendants."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table, root or os.getpid()))


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the live process tree of each process's peak resident set."""
    table = _proc_table()
    return sum(table[p][2] for p in _tree(table, root or os.getpid())) / 1024.0


def cpu_stat() -> tuple[float, float, int]:
    """Host-wide (steal_s, total_s, n_cpus) from ``/proc/stat``, summed over
    the CPUs this process may run on."""
    hz = os.sysconf("SC_CLK_TCK")
    mine = os.sched_getaffinity(0)
    steal = total = 0.0
    with open("/proc/stat") as f:
        for line in f:
            if not line.startswith("cpu") or line.startswith("cpu "):
                continue
            fields = line.split()
            if int(fields[0][3:]) not in mine:
                continue
            vals = [int(v) for v in fields[1:9]]  # user..steal
            steal += vals[7] / hz
            total += sum(vals) / hz
    return steal, total, len(mine)


class HostWindow:
    """Tree CPU and steal between ``start()`` and ``stop()``."""

    def start(self, now: float) -> None:
        self.t0 = now
        self.cpu0 = tree_cpu_s()
        self.stat0 = cpu_stat()

    def stop(self, now: float) -> dict[str, float]:
        wall = max(1e-9, now - self.t0)
        cpu = tree_cpu_s() - self.cpu0
        steal1, total1, n = cpu_stat()
        d_total = max(1e-9, total1 - self.stat0[1])
        return {
            "tree_cpu_s": cpu,
            "occupancy": cpu / (wall * n),
            "steal_frac": (steal1 - self.stat0[0]) / d_total,
            "wall_s": wall,
        }
