"""CPU and resident memory of this process tree, read from /proc.

The tree is the benchmark's own Python process, the Spark JVM it
launched, and the PySpark daemon and workers the JVM forks.  CPU is
cumulative per live process, including the reaped children it waited
for (cutime/cstime), so deltas across a pass stay right when Python
workers come and go.  A background thread samples the summed RSS so the
peak between two ``reset_peak`` calls is known.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int):
    """(comm, ppid, cpu_ticks_incl_reaped_children, rss_bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    ticks = sum(int(x) for x in fields[11:15])
    return comm, int(fields[1]), ticks, int(fields[21]) * _PAGE


def tree_stats(root: int) -> dict[int, tuple]:
    """pid -> stat tuple for ``root`` and all its live descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[1], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_split(root: int) -> dict[str, float]:
    """CPU seconds so far, split into driver (this process), jvm and
    worker (every other descendant: the PySpark daemon and workers)."""
    split = {"driver": 0.0, "jvm": 0.0, "worker": 0.0}
    for pid, (comm, _, ticks, _) in tree_stats(root).items():
        role = "driver" if pid == root else "jvm" if comm == "java" else "worker"
        split[role] += ticks / _TICK
    return split


class RssSampler:
    """Peak summed RSS of the tree, sampled every ``interval`` seconds."""

    def __init__(self, root: int, interval: float = 0.1):
        self._root = root
        self._interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        rss = sum(st[3] for st in tree_stats(self._root).values())
        with self._lock:
            self._peak = max(self._peak, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def start(self) -> None:
        self._thread.start()

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = 0
        self._sample()

    def peak_mb(self) -> float:
        self._sample()
        with self._lock:
            return self._peak / 2**20

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
