"""Host counters read from /proc: busy and steal CPU ticks, process-tree memory.

Spark's task metrics see only JVM time; the Python workers that run the
extract and verify kernels are invisible to them. Busy ticks from
/proc/stat cover both, so they are the benchmark's CPU measure.
"""

from __future__ import annotations

import os
import threading

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) ticks summed over all CPUs since boot.

    Busy excludes idle, iowait and steal: steal is time the hypervisor
    gave to another guest, which no layer of this program spent."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    vals += [0] * (8 - len(vals))
    steal = vals[7]
    # guest time (fields 9-10) is already counted inside user and nice
    busy = sum(vals[:8]) - vals[3] - vals[4] - steal
    return busy, steal


class CpuWindow:
    """Busy core-seconds and steal share between two /proc/stat reads."""

    def __init__(self) -> None:
        self.start = cpu_ticks()
        self.end: tuple[int, int] | None = None

    def stop(self) -> "CpuWindow":
        self.end = cpu_ticks()
        return self

    @property
    def busy_s(self) -> float:
        end = self.end or cpu_ticks()
        return (end[0] - self.start[0]) * TICK_S

    @property
    def steal_share(self) -> float:
        """Steal ticks as a share of busy plus steal ticks."""
        end = self.end or cpu_ticks()
        busy = end[0] - self.start[0]
        steal = end[1] - self.start[1]
        return steal / max(1, busy + steal)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes mapping it. Python workers fork from one daemon, so their
    plain RSS would count the shared interpreter pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass  # the process ended between listing and reading
    return 0


def tree_memory_bytes(root: int) -> int:
    """Resident memory of `root` and all its descendants (the Spark JVM, the
    Python worker daemon and its workers all descend from this process)."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        total += _pss_bytes(pid)
    return total


class MemorySampler:
    """Background thread that records the peak process-tree memory."""

    def __init__(self, root: int | None = None, period_s: float = 0.2):
        self.root = root or os.getpid()
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes(self.root))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_memory_bytes(self.root))
