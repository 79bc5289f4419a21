"""Host-side measurement from /proc: the process tree's CPU time split by
role, its resident memory, CPU steal, and stopping what the run started.

CPU times are utime + stime, which leave out hypervisor steal.  A process's
reaped children are in its cutime/cstime, so a worker that exits stays
counted in its parent.  JVM threads are classified by name: the JIT
compiler threads, the garbage-collector threads (with the VM thread, which
runs the collections' safepoint work) and the rest.
"""

from __future__ import annotations

import math
import os
import signal
import threading
import time
from dataclasses import dataclass, fields

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

# RssSampler: RSS read every RSS_INTERVAL_S, the tree's pid list refreshed
# every RSS_REFRESH_S; reap: SIGKILL what is still running after REAP_TIMEOUT_S
RSS_INTERVAL_S = 0.1
RSS_REFRESH_S = 1.0
REAP_TIMEOUT_S = 30.0

_JIT_PREFIXES = ("C1 CompilerThre", "C2 CompilerThre")
_GC_PREFIXES = ("GC ", "G1 ", "VM Thread")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _stat_fields(text: str) -> list[str]:
    # the command name may hold spaces; fields resume after its ')'
    return text.rsplit(")", 1)[1].split()


def _comm(text: str) -> str:
    return text[text.index("(") + 1 : text.rindex(")")]


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        if stat is None:
            continue
        kids.setdefault(int(_stat_fields(stat)[1]), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


@dataclass
class CpuSplit:
    """Process-tree CPU seconds by role."""

    driver: float = 0.0      # the benchmark's own Python process
    pyworker: float = 0.0    # Python processes under the JVM (daemon, workers)
    jvm_jit: float = 0.0
    jvm_gc: float = 0.0
    jvm_other: float = 0.0
    other: float = 0.0       # anything else in the tree

    @property
    def jvm(self) -> float:
        return self.jvm_jit + self.jvm_gc + self.jvm_other

    @property
    def total(self) -> float:
        return self.driver + self.pyworker + self.jvm + self.other

    def __sub__(self, o: "CpuSplit") -> "CpuSplit":
        return CpuSplit(*(getattr(self, f.name) - getattr(o, f.name)
                          for f in fields(self)))


def _proc_cpu(f: list[str]) -> float:
    # utime, stime, cutime, cstime: stat fields 14-17, which are 11-14
    # counted from the state field after the ')'
    return sum(int(x) for x in f[11:15]) / _TICK


def _thread_cpu(f: list[str]) -> float:
    return (int(f[11]) + int(f[12])) / _TICK


def _jvm_split(pid: int, total: float, out: CpuSplit,
               seen: dict[tuple[int, int], tuple[bool, float]]) -> None:
    """Split a JVM's CPU into JIT, GC and other threads.  ``seen`` keeps
    the last reading of every JIT and GC thread, so one that has exited
    stays counted in its class instead of moving into "other"."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        tids = []
    for tid in tids:
        stat = _read(f"/proc/{pid}/task/{tid}/stat")
        if stat is None:
            continue
        name = _comm(stat)
        if name.startswith(_JIT_PREFIXES):
            seen[(pid, int(tid))] = (True, _thread_cpu(_stat_fields(stat)))
        elif name.startswith(_GC_PREFIXES):
            seen[(pid, int(tid))] = (False, _thread_cpu(_stat_fields(stat)))
    jit = sum(c for (p, _), (is_jit, c) in seen.items() if p == pid and is_jit)
    gc = sum(c for (p, _), (is_jit, c) in seen.items() if p == pid and not is_jit)
    out.jvm_jit += jit
    out.jvm_gc += gc
    out.jvm_other += total - jit - gc


def cpu_split(root: int, exclude: set[int],
              seen: dict[tuple[int, int], tuple[bool, float]]) -> CpuSplit:
    """CPU seconds used so far by ``root`` and its descendants, by role.
    Processes in ``exclude`` and their descendants are left out.  ``seen``
    carries JVM thread readings from one call to the next."""
    kids = children_map()
    out = CpuSplit()
    todo: list[tuple[int, str]] = [(root, "driver")]
    while todo:
        pid, role = todo.pop()
        if pid in exclude:
            continue
        stat = _read(f"/proc/{pid}/stat")
        if stat is None:
            continue
        comm = _comm(stat)
        if pid != root:
            if comm == "java":
                role = "jvm"
            elif comm.startswith("python") and role in ("jvm", "pyworker"):
                role = "pyworker"
            elif role == "driver":
                role = "other"
        total = _proc_cpu(_stat_fields(stat))
        if role == "jvm":
            _jvm_split(pid, total, out, seen)
        else:
            setattr(out, role, getattr(out, role) + total)
        todo.extend((c, role) for c in kids.get(pid, []))
    return out


def tree_roles(root: int, exclude: set[int]) -> dict[str, int]:
    """How many processes of each kind the tree holds now."""
    counts = {"java": 0, "python": 0, "other": 0}
    for pid in descendants(root):
        if pid in exclude:
            continue
        stat = _read(f"/proc/{pid}/stat")
        if stat is None:
            continue
        comm = _comm(stat)
        counts["java" if comm == "java" else
               "python" if comm.startswith("python") else "other"] += 1
    return counts


def _rss_bytes(pid: int) -> int:
    statm = _read(f"/proc/{pid}/statm")
    try:
        return int(statm.split()[1]) * _PAGE if statm else 0
    except (IndexError, ValueError):
        return 0


class RssSampler:
    """Samples on a thread the summed RSS of a process and its descendants,
    leaving out ``exclude`` and theirs; ``peak_mb`` is the largest sum.

    Listing the tree scans all of /proc, so the pid list is refreshed only
    every RSS_REFRESH_S and only the known pids' statm is read in between; the
    thread's own CPU, which the driver's CPU would otherwise include, stays
    below a percent of a core."""

    def __init__(self, root: int, exclude: set[int]) -> None:
        self._root = root
        self._exclude = exclude
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._peak = 0
        self._pids: list[int] = []
        self._listed = -math.inf
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _list(self) -> None:
        skip: set[int] = set()
        for e in self._exclude:
            skip.add(e)
            skip.update(descendants(e))
        self._pids = [p for p in [self._root, *descendants(self._root)]
                      if p not in skip]
        self._listed = time.monotonic()

    def _sample(self) -> None:
        if time.monotonic() - self._listed >= RSS_REFRESH_S:
            self._list()
        rss = sum(_rss_bytes(p) for p in self._pids)
        with self._lock:
            self._peak = max(self._peak, rss)

    def _run(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._list()
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._list()
        self._sample()

    @property
    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 1e6


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in jiffies."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return 100.0 * delta[7] / total if total > 0 else 0.0


def busy_cores(before: list[int], after: list[int], wall_s: float) -> float:
    """Cores the whole host kept busy (not idle, not iowait, not stolen)."""
    delta = [b - a for a, b in zip(before, after)]
    busy = sum(delta[:8]) - delta[3] - delta[4] - delta[7]
    return busy / _TICK / wall_s if wall_s > 0 else 0.0


def _alive(pid: int) -> bool:
    stat = _read(f"/proc/{pid}/stat")
    return stat is not None and _stat_fields(stat)[0] != "Z"


def reap(pids: list[int]) -> None:
    """Wait for ``pids`` to end; SIGKILL any still running after
    REAP_TIMEOUT_S."""
    deadline = time.monotonic() + REAP_TIMEOUT_S
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids) and time.monotonic() < deadline + 10:
        time.sleep(0.1)
