"""Host and process-tree readings from /proc.

The process tree of a session is its driver Python process, the JVM it
launches and the JVM's Python workers: every live descendant of the
session's pid.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """user+sys CPU seconds of the tree, including reaped children.

    A worker that exits is reaped by its parent in the tree, which adds its
    times to its own cutime/cstime, so differences between two readings
    count every process that ran in between.
    """
    total = 0
    for pid in tree(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(v) for v in f[11:15])
    return total / _TICK


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _jvm_fork(pid: int, parent: int) -> bool:
    """A child of the JVM still running the JVM's executable: a fork that
    has not yet exec'd the Python worker daemon. It shares the JVM's memory
    for a moment and is left out, or it would count the JVM twice."""
    exe = _exe(pid)
    return (exe or "").endswith("/java") and _exe(parent) == exe


def reset_peak_rss(pids: list[int]) -> None:
    """Restart the kernel's resident-set high-water mark of each process."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:  # the process exited
            pass


def peak_rss_mib(pids: list[int]) -> float:
    """Summed high-water marks (VmHWM) since :func:`reset_peak_rss`.

    The kernel keeps each mark, so a peak shorter than any sampling period
    still counts. Each process's own peak is summed, whenever it came; a
    page shared by k processes counts k times.
    """
    total_kib = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is None or _jvm_fork(pid, int(f[1])):
            continue
        try:
            with open(f"/proc/{pid}/status") as st:
                for line in st:
                    if line.startswith("VmHWM:"):
                        total_kib += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kib / 1024


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # guest time is already inside user; leave guest/guest_nice out
    return vals[7], sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def alive(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def mem_available_mib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


class Sampler(threading.Thread):
    """Samples (monotonic time, MemAvailable MiB) while a session runs, and
    remembers every pid of its tree.

    Runs in the benchmark's own process, outside the measured tree.
    """

    def __init__(self, root: int, period_s: float = 0.1):
        super().__init__(daemon=True)
        self.root = root
        self.period_s = period_s
        self.samples: list[tuple[float, float]] = []
        #: every pid seen in the tree, so it can be stopped after the root ends
        self.seen: set[int] = set()
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            self.seen.update(tree(self.root))
            self.samples.append((time.monotonic(), mem_available_mib()))
            self._done.wait(self.period_s)

    def stop(self) -> None:
        self._done.set()
        self.join()

    def mem_available_min(self, t0: float, t1: float) -> float | None:
        """Lowest MemAvailable MiB sampled in [t0, t1], or None."""
        inside = [m for t, m in self.samples if t0 <= t <= t1]
        return min(inside) if inside else None
