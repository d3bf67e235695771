"""Host-noise diagnostics and process-tree memory, read from /proc.

Recorded beside every result and never used to drop a run: steal storms on
shared virtual machines are part of what the numbers mean.
"""

from __future__ import annotations

import os
import re
import threading


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def _tree(root: int) -> dict[int, list[str]]:
    """/proc/<pid>/stat fields of ``root`` and all its descendants, by pid."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while being read
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo += children.get(pid, [])
    return out


GC_THREADS = ("GC Thread", "G1 ")


def thread_ticks(pid: int, names: tuple[str, ...]) -> int:
    """CPU ticks of the threads of ``pid`` whose name starts with one of
    ``names`` (0 when it has none)."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(names):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total


def tree_thread_ticks(names: tuple[str, ...]) -> int:
    """``thread_ticks`` summed over this process tree."""
    return sum(thread_ticks(pid, names) for pid in _tree(os.getpid()))


def tree_cpu() -> dict[int, int]:
    """pid -> user + system CPU ticks (reaped children included) of every
    process in this process tree."""
    return {pid: sum(int(x) for x in f[11:15]) for pid, f in _tree(os.getpid()).items()}


def cpu_delta_s(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU seconds the tree spent between two ``tree_cpu`` reads.

    Summed per process: a Python worker that exits is reaped by a daemon
    that ignores SIGCHLD, so its time would vanish from a plain total and
    make the difference negative. Processes started in between count from
    zero; one that ended in between counts nothing.
    """
    return sum(t - before.get(pid, 0) for pid, t in after.items()) / os.sysconf("SC_CLK_TCK")


def tree_pss_bytes() -> dict[str, int]:
    """Proportional set size of this process tree, the driver JVM apart from
    the Python processes (this client and the workers): pages shared between
    the forked workers count once, not once per worker."""
    parts = {"jvm": 0, "python": 0}
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss = next(int(line.split()[1]) * 1024 for line in f
                           if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue  # the process ended while being read
        parts["jvm" if comm == "java" else "python"] += pss
    return parts


class PssSampler:
    """Background sampler of the peak PSS of the driver JVM and, apart, of
    the Python processes; both are this process or its descendants."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = {"jvm": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            for kind, pss in tree_pss_bytes().items():
                self.peak[kind] = max(self.peak[kind], pss)
            self._stop.wait(self.interval_s)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


_GC_PAUSE = re.compile(r"Pause (?:Young|Full) .*?(\d+)([KMG])->(\d+)([KMG])\(")


def gc_log_peak_live_bytes(path: str) -> int:
    """Largest heap occupancy right after a young or full collection in a
    ``-Xlog:gc`` log: the heap the run's data needed, whatever size the
    collector grew the heap to. Remark and cleanup pauses are left out:
    they reclaim nothing, so their occupancy counts garbage awaiting the
    next mixed collection."""
    scale = {"K": 2**10, "M": 2**20, "G": 2**30}
    peak = 0
    with open(path) as f:
        for line in f:
            m = _GC_PAUSE.search(line)
            if m:
                peak = max(peak, int(m.group(3)) * scale[m.group(4)])
    return peak
