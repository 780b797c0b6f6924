"""Process-tree and host readings from /proc and the cgroup files.

The process tree is this Python driver plus everything it started:
the Spark JVM and the Python workers the JVM forks. CPU is the sum of
user and system time over the live tree, including children already
reaped (cutime/cstime), so a worker that exits between two readings
still counts. Memory is proportional set size (PSS), which splits
shared pages between the processes that map them.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # Fields after the parenthesised command name, which may
            # itself contain spaces; index 0 here is field 3 (state).
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(pid)
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(pid))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own + reaped children) of the tree."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(str(pid))
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_pss_mb(root: int) -> dict[int, float]:
    """PSS in MB of every live process of the tree, by pid."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) / 1024
                        break
        except OSError:
            continue
    return out


class PeakPss:
    """Samples the tree's PSS on a background thread; `peak_mb` is the
    highest total and `at_peak` its split by process. Use as a context
    manager so the thread always ends."""

    def __init__(self, root: int, interval_s: float = 1.0) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-pss", daemon=True)

    def _sample(self) -> None:
        by_pid = tree_pss_mb(self.root)
        total = sum(by_pid.values())
        if total > self.peak_mb:
            self.peak_mb = total
            self.at_peak = {f"{pid} {_comm(pid)}": mb for pid, mb in by_pid.items()}

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakPss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def weather() -> dict:
    """Load average, cumulative steal time and cgroup CPU throttling:
    what else was competing for this host's CPUs."""
    out: dict = {}
    with open("/proc/loadavg") as f:
        out["loadavg"] = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    out["steal_s"] = int(cpu[8]) / _TICK if len(cpu) > 8 else None
    out["cpu_total_s"] = sum(int(x) for x in cpu[1:]) / _TICK
    cgroup: dict[str, int] = {}
    for path in _CGROUP_CPU_STAT:
        try:
            with open(path) as f:
                stat = dict(line.split() for line in f if line.strip())
        except OSError:
            continue
        cgroup.update((k, int(v)) for k, v in stat.items() if k in _THROTTLE_KEYS)
    out["cgroup"] = cgroup or None
    return out


#: cgroup v2, v2 in a hybrid layout, v1: whichever exist are merged.
_CGROUP_CPU_STAT = (
    "/sys/fs/cgroup/cpu.stat",
    "/sys/fs/cgroup/unified/cpu.stat",
    "/sys/fs/cgroup/cpu/cpu.stat",
)
_THROTTLE_KEYS = ("nr_periods", "nr_throttled", "throttled_usec", "throttled_time", "usage_usec")
