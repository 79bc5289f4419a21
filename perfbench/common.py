"""What every workload shares: the per-iteration record, CPU marks and
the r = 8 false-positive check."""

from __future__ import annotations

import math
import os
import resource
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench.procstat import CpuSplit, cpu_split

R_BITS = 8
FP_BOUND = 2.0**-R_BITS
# iteration index of the traced iteration, for its hash seed: far past
# any untraced one
TRACED_ITERATION = 1_000_000


@dataclass(frozen=True)
class Mark:
    """A point in a run: wall clock and the process tree's CPU by role."""

    wall: float
    cpu: CpuSplit


class Meter:
    """Reads marks.  With ``tree`` the CPU is the whole process tree's from
    /proc (driver, JVM, Python workers), leaving out ``exclude``; without
    it, this process's CPU from ``time.process_time``, which has ns
    resolution where /proc has 10 ms ticks, plus its reaped children's
    (as "other")."""

    def __init__(self, tree: bool, exclude: set[int]) -> None:
        self.tree = tree
        self.exclude = exclude
        self._threads: dict[tuple[int, int], tuple[bool, float]] = {}

    def mark(self) -> Mark:
        if self.tree:
            return Mark(time.perf_counter(),
                        cpu_split(os.getpid(), self.exclude, self._threads))
        kids = resource.getrusage(resource.RUSAGE_CHILDREN)
        return Mark(time.perf_counter(), CpuSplit(
            driver=time.process_time(), other=kids.ru_utime + kids.ru_stime))


@dataclass
class Iteration:
    """One checked iteration.  The insert phase is build + merge, the probe
    phase the lookups (decode included where the iteration decodes); cpu
    is the whole iteration, from input to checked result."""

    wall_s: float = math.nan
    cpu: CpuSplit = field(default_factory=CpuSplit)
    insert_cpu_s: float = math.nan
    probe_cpu_s: float = math.nan
    rows_in: int = 0             # rows fed to build + merge
    probes: int = 0
    fp_hits: int = 0
    fp_probes: int = 0
    sketch_bytes: int = 0
    distinct: int = 0
    leaked_rdds: int = 0
    calib_s: float = math.nan    # mean kernel time either side of it
    scale: float = math.nan      # reference kernel time over calib_s
    errors: list[str] = field(default_factory=list)

    @property
    def cpu_s(self) -> float:
        return self.cpu.total

    def set_phases(self, t0: Mark, t1: Mark, t2: Mark, t3: Mark) -> None:
        """t0..t1 insert, t1..t2 probe, t0..t3 the whole iteration."""
        self.wall_s = t3.wall - t0.wall
        self.cpu = t3.cpu - t0.cpu
        self.insert_cpu_s = (t1.cpu - t0.cpu).total
        self.probe_cpu_s = (t2.cpu - t1.cpu).total


def iteration_seed(run_seed: int, i: int) -> int:
    """A hash seed per iteration: every iteration builds a different
    sketch, so none is served from a decoded-sketch cache an earlier one
    filled."""
    return int(np.random.default_rng([run_seed, 99, i]).integers(1, 2**32))


def fp_error(hits: int, n: int) -> list[str]:
    rate = hits / n if n else math.nan
    return [] if rate <= FP_BOUND else [f"fp_rate {rate:.5f} > 2^-{R_BITS}"]
