"""Peak resident memory of a process tree, sampled from ``/proc``.

The tree rooted at the benchmark process holds the Spark driver JVM
(spark-submit's child), the PySpark worker daemon and its forked Python
workers, and the ``rdd.pipe`` children the JVM spawns. Each sample sums
the ``VmHWM`` (the kernel's own per-process resident high-water mark) of
every process alive in the tree; the reported peak is the largest such
sum. A process that lives and dies between two samples is missed, so the
interval is short next to the jobs being measured.
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # the command name may hold spaces or parens: ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def vm_hwm_kb(pid: int) -> int:
    """The process's VmHWM in kB, or 0 once it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_hwm_mb(root: int) -> float:
    return sum(vm_hwm_kb(p) for p in tree_pids(root)) / 1024.0


class PeakRss:
    """Background sampler of :func:`tree_hwm_mb`; use as a context manager."""

    def __init__(self, root: int | None = None, interval_s: float = 0.2):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def sample(self) -> float:
        mb = tree_hwm_mb(self.root)
        self.peak_mb = max(self.peak_mb, mb)
        return mb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> PeakRss:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
