"""Per-run environment context and the process-tree memory sampler.

The context (a fixed calibration spin, hypervisor steal, load average and
foreign Spark processes) is stored beside every run so a reader can tell a
noisy box from a slow program. It is never used to drop or rescale a run.
The steal and foreign-process probes are ``bench.py``'s own helpers.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def calib_spin(n: int = 2_000_000) -> float:
    """Seconds one core takes for a fixed pure-Python loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc ^= i
    return time.perf_counter() - t0


def context(steal_window_s: float = 0.5) -> dict:
    import bench  # the project's bench harness, used read-only

    try:
        load = list(os.getloadavg())
    except OSError:
        load = [-1.0, -1.0, -1.0]
    foreign = bench._foreign_spark_procs()
    return {
        "calib_s": calib_spin(),
        "steal_per_s": bench._steal_rate(steal_window_s),
        "loadavg": load,
        "cpu_count": os.cpu_count(),
        "foreign_spark_procs": foreign,
    }


def _tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss(root: int) -> dict[str, int]:
    """RSS bytes of ``root`` and of each live JVM or Python descendant, keyed
    by ``<pid>:<program>``. Other descendants are skipped: they are the
    JVM's short-lived helpers (Hadoop's local file system forks ``chmod``),
    whose RSS before ``exec`` is the JVM's own pages shared copy-on-write
    and would count the JVM twice."""
    out = {}
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            if pid != root and not comm.startswith(("python", "java")):
                continue
            with open(f"/proc/{pid}/statm") as fh:
                out[f"{pid}:{comm}"] = int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return out


class RssSampler:
    """Samples the summed RSS of this process, its JVM and its Python
    workers every ``interval_s`` on a daemon thread; ``peak`` holds the
    largest sum seen and ``peak_parts`` its per-process split."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            parts = tree_rss(me)
            if sum(parts.values()) > self.peak:
                self.peak, self.peak_parts = sum(parts.values()), parts
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
