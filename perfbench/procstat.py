"""Process-tree CPU and memory from ``/proc``.

The benchmark's Python driver starts the Spark JVM, which starts the
PySpark daemon, which forks the Python workers; the JVM also starts
short-lived workers of its own (``-m pyspark.sql.worker.*``) to plan Python
data sources. ``ProcessTree`` finds that tree by parent pid, reports its CPU
seconds exactly at call boundaries and samples its resident memory on a
background thread to catch the peak.
"""

from __future__ import annotations

import os
import re
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, float, int] | None:
    """(parent pid, own CPU seconds, CPU seconds of reaped children,
    resident bytes)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may hold spaces; every later field follows its ')'.
    fields = raw[raw.rindex(b")") + 2 :].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    rss = int(fields[21]) * _PAGE
    return ppid, (utime + stime) / _TICK, (cutime + cstime) / _TICK, rss


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def classify(cmdline: str) -> str:
    """``jvm``, ``python_worker`` (a PySpark module run by the JVM: the
    daemon and its forks, or a planner worker) or ``driver``."""
    if re.search(r"-m pyspark\.|pyspark/(daemon|worker)\.py", cmdline):
        return "python_worker"
    if "java" in cmdline.split(" ", 1)[0]:
        return "jvm"
    return "driver"


class ProcessTree:
    """CPU and resident memory of ``root`` and all of its descendants.

    CPU of a child that has exited and been waited for is carried by its
    parent's ``cutime``/``cstime``, so a delta between two snapshots counts
    short-lived workers too, as long as their parent is in the tree. The
    JVM's only children are Python workers, so the CPU of its reaped
    children counts as ``python_worker``; other processes keep theirs.
    """

    def __init__(self, root: int | None = None, interval_s: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self._kinds: dict[int, str] = {}
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def members(self) -> dict[int, tuple[int, float, float, int]]:
        """pid → ``_stat`` of every process in the tree now."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, st in stats.items():
            children.setdefault(st[0], []).append(pid)
        members: dict[int, tuple[int, float, float, int]] = {}
        frontier = [self.root]
        while frontier:
            pid = frontier.pop()
            if pid in stats and pid not in members:
                members[pid] = stats[pid]
                frontier.extend(children.get(pid, ()))
        return members

    def _kind(self, pid: int) -> str:
        kind = self._kinds.get(pid)
        if kind is None:
            kind = "driver" if pid == self.root else classify(_cmdline(pid))
            self._kinds[pid] = kind
        return kind

    def snapshot(self) -> dict[str, float]:
        """CPU seconds per process kind, plus ``rss_bytes`` of the tree now."""
        out = {"driver": 0.0, "jvm": 0.0, "python_worker": 0.0, "rss_bytes": 0.0}
        members = self.members()
        with self._lock:
            for pid, (_, cpu, reaped_cpu, rss) in members.items():
                kind = self._kind(pid)
                out[kind] += cpu
                out["python_worker" if kind == "jvm" else kind] += reaped_cpu
                out["rss_bytes"] += rss
            self._peak = max(self._peak, int(out["rss_bytes"]))
        return out

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = 0
        self.snapshot()

    def peak_rss_bytes(self) -> int:
        self.snapshot()
        with self._lock:
            return self._peak

    def _sample(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.snapshot()

    def start(self) -> "ProcessTree":
        self._thread = threading.Thread(
            target=self._sample, name="procstat", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    kinds = ("driver", "jvm", "python_worker")
    delta = {k: max(0.0, after[k] - before[k]) for k in kinds}
    delta["total"] = sum(delta.values())
    return delta


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK
