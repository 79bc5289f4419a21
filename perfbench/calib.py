"""The benchmark's calibration kernel, run in a helper process.

Host speed on a shared VM drifts by about +-10% from minute to minute, so a
CPU time measured now and one measured later differ even when the program
did not change.  The kernel below is a fixed numpy sort + searchsorted over
data it owns, the same kind of memory-bound work the CQF core does, and a
short pure-Python loop: Python workers spend much of the Spark workload's
CPU in the interpreter, and the interpreter's speed moves more than
numpy's (about +-25% against +-12% between vCPUs at one moment).  A run
times it before set-up and between its measured iterations, and divides
each CPU-time metric by the kernel time measured around it, times
``REF_KERNEL_S``.

The speed of one vCPU of this shared host moves by tens of percent from
second to second, and differs between vCPUs at the same moment, so a
sample runs the kernel pinned to each CPU the workload uses and takes the
mean: one CPU for ``core_bm``, whose process is pinned to it, all of them
for ``webtext_bigrams``.

The helper is started before ``import cqf_spark``, with the parent's
allocator settings removed from its environment, so nothing the package
sets can change the kernel.  Its buffers are allocated before the first
timed call; inside the timed window it faults in no page (it reports its
minor-fault count per call so that this can be checked).

Protocol on stdin/stdout, one line each: ``run <cpu>`` runs the kernel
pinned to that CPU and answers ``<cpu_s> <wall_s> <minflt>``; ``quit`` or
end of input stops the helper.
"""

from __future__ import annotations

import os
import resource
import subprocess
import sys
import time

# median kernel CPU seconds on the reference host (4-vCPU KVM guest,
# numpy 1.26); calibrated metrics are in that host's seconds
REF_KERNEL_S = 0.05

N_SORT = 1 << 19    # 4 MB sorted in place: compute- and bandwidth-bound
N_PROBE = 1 << 16   # binary searches into it: memory-latency-bound
N_LOOP = 150_000    # interpreter-bound
CHUNK = 4096        # 32 KB of searchsorted output per call, reused from the heap


def _kernel_loop() -> None:
    import numpy as np

    rng = np.random.default_rng(20240601)
    src = rng.integers(0, 2**63, N_SORT, dtype=np.int64)
    probes = rng.integers(0, 2**63, N_PROBE, dtype=np.int64)
    buf = np.empty_like(src)

    def kernel() -> int:
        np.copyto(buf, src)
        buf.sort()
        acc = 0
        for i in range(0, N_PROBE, CHUNK):
            acc += int(buf.searchsorted(probes[i : i + CHUNK])[-1])
        for i in range(N_LOOP):
            acc ^= i * i % 7
        return acc

    kernel()  # faults in every buffer and the heap chunks it reuses
    for line in sys.stdin:
        cmd = line.split()
        if len(cmd) != 2 or cmd[0] != "run":
            break
        os.sched_setaffinity(0, {int(cmd[1])})
        time.sleep(0.005)  # let the scheduler move the thread first
        f0 = resource.getrusage(resource.RUSAGE_SELF).ru_minflt
        c0, w0 = time.thread_time(), time.perf_counter()
        kernel()
        c1, w1 = time.thread_time(), time.perf_counter()
        f1 = resource.getrusage(resource.RUSAGE_SELF).ru_minflt
        print(f"{c1 - c0!r} {w1 - w0!r} {f1 - f0}", flush=True)


# kernel runs per sample, spread round-robin over the sampled CPUs
RUNS_PER_SAMPLE = 4


class Calibrator:
    """Owns the helper process; ``sample(cpus)`` runs the kernel
    RUNS_PER_SAMPLE times, round-robin over ``cpus``, and records the mean
    kernel CPU time."""

    def __init__(self) -> None:
        env = {k: v for k, v in os.environ.items()
               if not k.startswith(("MALLOC_", "ARROW_"))}
        env["OMP_NUM_THREADS"] = "1"
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, env=env,
        )
        self.samples: list[float] = []
        self.minflt = 0
        self.ref_s = REF_KERNEL_S

    @property
    def pid(self) -> int:
        return self.proc.pid

    def _run(self, cpu: int) -> float:
        self.proc.stdin.write(f"run {cpu}\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("calibration helper exited")
        cpu_s, _, flt = line.split()
        self.minflt += int(flt)
        return float(cpu_s)

    def sample(self, cpus: list[int]) -> float:
        k = sum(self._run(cpus[i % len(cpus)])
                for i in range(RUNS_PER_SAMPLE)) / RUNS_PER_SAMPLE
        self.samples.append(k)
        return k

    def median_s(self) -> float:
        s = sorted(self.samples)
        n = len(s)
        return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.close()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


if __name__ == "__main__":
    _kernel_loop()
