#!/usr/bin/env python3
"""Benchmark entry point; run it from the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: ``core_bm`` (the numpy CQF core in this process, no JVM) and
``webtext_bigrams`` (through Spark on ``local[<cores>]``).  One closed-loop client runs one iteration at a time;
the inputs are generated from ``--seed`` and every iteration is checked.
Times are process-tree CPU seconds scaled to reference-host seconds by the
calibration kernel in calib.py (NOTES.md says why).  With ``--trace 0`` it
reports the end-to-end metrics of BENCHMARK.json; with ``--trace 1`` it
sets up and warms up the same way, traces one iteration and reports the
per-layer metrics.  The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it are
a readable summary.  Exit status: 0 when every check passed, 1 when one
failed, 2 when the directory is not a checkout of the program.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# the calibration kernel is sampled either side of each set-up sample and,
# in the measured window, before the first iteration and after each one
# Spark warm-up: iterations run unmeasured until the JVM's CPU per
# iteration stops falling (WARM_FLAT), at least WARM_MIN and at most
# WARM_MAX of them
WARM_MIN = 5
WARM_MAX = 8
WARM_FLAT = 0.97
# in the traced run, untraced iterations measured for the overhead figure
TRACE_BASELINE = 3


@dataclass
class Result:
    metrics: dict[str, float]
    attempted: int
    failed: int
    lines: list[str] = field(default_factory=list)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else math.nan


def _checked_iteration(wl: Any, meter: Any, calib: Any, i: int,
                       measured: bool = False) -> Any:
    """One checked iteration; a measured one is followed by a kernel
    sample, and is calibrated by the mean of the samples either side."""
    from perfbench.common import Iteration

    try:
        it = wl.iteration(meter, i)
    except Exception as exc:  # a failed job is counted and the loop goes on
        traceback.print_exc()
        it = Iteration(errors=[f"{type(exc).__name__}: {exc}"])
    it.leaked_rdds = wl.after_iteration()
    if measured:
        before = calib.samples[-1]
        it.calib_s = 0.5 * (before + calib.sample(wl.cpus))
        it.scale = calib.ref_s / it.calib_s
    return it


def warm_up(wl: Any, meter: Any, calib: Any, iters: list[Any]) -> int:
    """After the cold iteration, run unmeasured iterations until warm.
    Returns how many ran."""
    if not wl.uses_spark:
        iters.append(_checked_iteration(wl, meter, calib, len(iters)))
        return 1
    n = 0
    while n < WARM_MAX:
        iters.append(_checked_iteration(wl, meter, calib, len(iters)))
        n += 1
        jvm = [it.cpu.jvm for it in iters[1:]]
        # warm once an iteration no longer sets a new low by more than
        # 1 - WARM_FLAT against every iteration before it
        if n >= WARM_MIN and jvm[-1] >= WARM_FLAT * min(jvm[:-1]):
            break
    return n


def _iteration_lines(iters: list[Any], first_measured: int) -> list[str]:
    out = []
    for i, it in enumerate(iters):
        tag = "cold" if i == 0 else "warm-up" if i < first_measured else "measured"
        c = it.cpu
        cal = it.cpu_s * it.scale
        out.append(
            f"iteration {i} ({tag}): wall {it.wall_s:.3f} s, cpu {it.cpu_s:.3f} s raw "
            f"/ {cal:.3f} s cal (driver {c.driver:.2f}, pyworker "
            f"{c.pyworker:.2f}, jit {c.jvm_jit:.2f}, gc {c.jvm_gc:.2f}, jvm other "
            f"{c.jvm_other:.2f}), insert {it.insert_cpu_s:.3f}, probe "
            f"{it.probe_cpu_s:.3f}, calib {it.calib_s:.4f} s, leaked_rdds {it.leaked_rdds}"
            + (f", FAILED: {'; '.join(it.errors)}" if it.errors else "")
        )
    return out


def set_up(wl: Any, seed: int, run_dir: str, calib: Any) -> tuple[Any, dict[str, Any]]:
    """Input generation, then the set-up a user pays before the first job
    (timed), then the oracles (untimed)."""
    from perfbench import procstat

    inp = wl.generate(seed, os.path.join(run_dir, "inputs"))
    s0, c0 = time.perf_counter(), procstat.cpu_times()
    setup = wl.set_up({calib.pid}, calib)
    setup["wall"] = time.perf_counter() - s0
    setup["steal_pct"] = procstat.steal_pct(c0, procstat.cpu_times())
    setup["scale"] = setup["setup_cal"] / setup["setup"]
    wl.prepare(inp, seed)  # oracles, outside every timed window
    return inp, setup


def _setup_lines(setup: dict[str, Any]) -> list[str]:
    samples = setup.get("samples", [setup["setup"]])
    scale = setup["scale"]
    return [
        f"set-up: {setup['wall']:.2f} s wall, steal {setup['steal_pct']:.1f}%; "
        f"cpu {setup['setup']:.3f} s raw / {setup['setup'] * scale:.3f} s cal "
        f"(median of {len(samples)}: {', '.join(f'{s:.3f}' for s in samples)}); "
        f"jvm launch {setup['jvm_launch']:.3f}, worker warm-up "
        f"{setup['worker_warm']:.3f}, imports {setup['import']:.3f} s raw"
    ]


def run_timed(wl: Any, meter: Any, calib: Any, args: argparse.Namespace,
              run_dir: str) -> Result:
    from perfbench import procstat

    _, setup = set_up(wl, args.seed, run_dir, calib)
    iters = [_checked_iteration(wl, meter, calib, 0)]
    n_warm = warm_up(wl, meter, calib, iters)
    extra = wl.sketch_record()  # sizes and FP rate an iteration cannot give
    first = len(iters)
    calib.sample(wl.cpus)
    c0 = procstat.cpu_times()
    with procstat.RssSampler(os.getpid(), meter.exclude) as rss:
        t_start = time.perf_counter()
        while (len(iters) - first < wl.min_measured
               or time.perf_counter() - t_start < args.seconds):
            iters.append(_checked_iteration(wl, meter, calib, len(iters), True))
        window = time.perf_counter() - t_start
    c1 = procstat.cpu_times()
    roles = procstat.tree_roles(os.getpid(), meter.exclude)
    if not wl.uses_spark and (roles["java"] or roles["python"]
                              or any(it.cpu.other for it in iters[first:])):
        iters[-1].errors.append(f"{wl.name} started processes: {roles}")
    checked = iters + ([extra] if extra else [])
    measured = [it for it in iters[first:] if not it.errors]
    scale = calib.ref_s / calib.median_s()

    def med(f: Any) -> tuple[float, float]:
        """Median of f(iteration, 1) raw and of f(iteration, scale) with
        each iteration's own calibration scale."""
        return (_median([f(it, 1.0) for it in measured]),
                _median([f(it, it.scale) for it in measured]))

    fp_probes = sum(it.fp_probes for it in checked)
    raw, cal = {}, {}
    raw["cpu_s"], cal["cpu_s"] = med(lambda it, k: it.cpu_s * k)
    raw["insert_mops"], cal["insert_mops"] = med(
        lambda it, k: it.rows_in / (it.insert_cpu_s * k) / 1e6)
    raw["lookup_mops"], cal["lookup_mops"] = med(
        lambda it, k: it.probes / (it.probe_cpu_s * k) / 1e6)
    raw["setup_s"] = setup["setup"]
    cal["setup_s"] = setup["setup_cal"]
    metrics = {
        **cal,
        "fp_rate": sum(it.fp_hits for it in checked) / fp_probes if fp_probes else math.nan,
        "bits_per_item": _median(
            [8 * it.sketch_bytes / it.distinct for it in checked if it.distinct]),
        "peak_rss_mb": rss.peak_mb,
    }
    failed = sum(bool(it.errors) for it in checked)
    lines = _setup_lines(setup) + _iteration_lines(iters, first) + [
        f"{n_warm} warm-up iteration(s); {len(iters) - first} measured in "
        f"{window:.2f} s wall, steal {procstat.steal_pct(c0, c1):.1f}%, "
        f"{procstat.busy_cores(c0, c1, window):.2f} host cores busy",
        f"calibration on cpus {wl.cpus}: median kernel {calib.median_s():.4f} s of "
        f"{len(calib.samples)} samples (run-median scale {scale:.4f}), "
        f"{calib.minflt} page faults in timed kernels",
        *(f"{k}: {v:.6g} raw / {metrics[k]:.6g} calibrated" for k, v in raw.items()),
        f"failed_frac {failed / len(checked):.4g} ({failed} of {len(checked)} checked)",
        f"processes in the tree after the measured window, besides the driver "
        f"and the kernel helper: {roles}",
    ]
    if extra:
        lines.append("sketch record: " + (
            "FAILED: " + "; ".join(extra.errors) if extra.errors else "ok"))
    return Result(metrics, len(checked), failed, lines)


def run_traced(wl: Any, meter: Any, calib: Any, args: argparse.Namespace,
               run_dir: str, spec: dict[str, Any]) -> Result:
    from perfbench import procstat
    from perfbench.common import TRACED_ITERATION
    from perfbench.tracing import Tracer

    _, setup = set_up(wl, args.seed, run_dir, calib)
    iters = [_checked_iteration(wl, meter, calib, 0)]
    warm_up(wl, meter, calib, iters)
    first = len(iters)
    calib.sample(wl.cpus)
    c0 = procstat.cpu_times()
    w0 = time.perf_counter()
    for _ in range(TRACE_BASELINE):
        iters.append(_checked_iteration(wl, meter, calib, len(iters), True))
    base = [it for it in iters[first:] if not it.errors]
    tracer = Tracer(meter, wl.spark_context())
    layer: dict[str, float] = {}
    try:
        t0 = meter.mark()
        with tracer.span("iteration"):
            errors = wl.traced(tracer, TRACED_ITERATION)
        t1 = meter.mark()
        # the workload's per-layer times are raw CPU; scale them like the rest
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        layer.update({k: v * calib.ref_s / calib.median_s() if units.get(k) in ("ns", "s")
                      else v for k, v in wl.after_trace(tracer).items()})
        wl.after_iteration()
        layer.update(wl.finish_trace())
    except Exception as exc:
        traceback.print_exc()
        errors = [f"{type(exc).__name__}: {exc}"]
    c1 = procstat.cpu_times()
    w1 = time.perf_counter()
    scale = calib.ref_s / calib.median_s()
    attempted = len(iters) + 1
    failed = sum(bool(it.errors) for it in iters) + bool(errors)
    lines = _setup_lines(setup) + _iteration_lines(iters, first)
    if errors:
        lines.append("traced iteration FAILED: " + "; ".join(errors))
        return Result({}, attempted, failed, lines)

    traced_cpu = (t1.cpu - t0.cpu).total
    untraced_cpu = _median([it.cpu_s for it in base])
    residual = tracer.self_cpu("iteration")

    def med(attr: str) -> float:
        return _median([getattr(it.cpu, attr) for it in base]) * scale

    layer.update({
        "proc.driver_cpu_s": med("driver"),
        "proc.pyworker_cpu_s": med("pyworker"),
        "proc.jvm_cpu_s": _median([it.cpu.jvm for it in base]) * scale,
        "proc.jvm_jit_cpu_s": med("jvm_jit"),
        "proc.jvm_gc_cpu_s": med("jvm_gc"),
        "setup.jvm_launch_cpu_s": setup["jvm_launch"] * setup["scale"],
        "setup.worker_warm_cpu_s": setup["worker_warm"] * setup["scale"],
        "setup.import_cpu_s": setup["import"] * setup["scale"],
        "cold.cpu_s": iters[0].cpu_s * scale,
        "cache.leaked_rdds": max(it.leaked_rdds for it in iters),
        "host.calib_s": calib.median_s(),
        "host.steal_pct": procstat.steal_pct(c0, c1),
        "host.iter_wall_s": _median([it.wall_s for it in base]),
        "host.core_util": procstat.busy_cores(c0, c1, w1 - w0),
        "trace.residual_s": residual * scale,
        "trace.overhead_frac": traced_cpu / untraced_cpu - 1.0,
    })
    os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
    spans_path = os.path.join(WORK, "spans", f"{wl.name}-seed{args.seed}.json")
    tracer.write(spans_path)
    counts = getattr(wl, "traced_counts", {})
    lines += [
        f"traced iteration: wall {t1.wall - t0.wall:.3f} s, cpu {traced_cpu:.3f} s raw "
        f"(untraced median: cpu {untraced_cpu:.3f} s raw)",
        "spans (cpu s raw): " + ", ".join(
            f"{s['name']} {s['cpu_s']:.3f}" for s in tracer.spans),
        f"{wl.name} unattributed residual: {residual:.3f} s raw cpu, "
        f"{residual / traced_cpu:.1%} of the traced iteration",
        "exact counts: " + json.dumps(counts, sort_keys=True),
        f"spans written to {os.path.relpath(spans_path, ROOT)}",
    ]
    return Result(layer, attempted, failed, lines)


def _json_value(v: float) -> float | int | None:
    if isinstance(v, float) and not math.isfinite(v):
        return None
    return v


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_run = time.perf_counter()

    needed = ["BENCHMARK.json", "__spark_entry__.py", "cqf_spark/__init__.py",
              "cqf_spark/core.py", "cqf_spark/aggregator.py"]
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} lacks {', '.join(missing)}; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if sys.path[0] == HERE:
        sys.path.pop(0)
    sys.path.insert(0, ROOT)

    from perfbench.calib import Calibrator

    run_dir = os.path.join(WORK, args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # the kernel's helper starts before cqf_spark is imported
    calib = Calibrator()
    wl = None
    try:
        # everything the run writes stays under run_dir, workers included
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
        os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

        from perfbench.common import Meter

        # imported only when it runs, so core_bm never imports pyspark
        if args.workload == "core_bm":
            from perfbench.core_bm import CoreBm as Workload
        elif args.workload == "webtext_bigrams":
            from perfbench.sparkbench import WebtextBigrams as Workload
        else:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        wl = Workload(run_dir, bool(args.trace))
        if not wl.uses_spark:
            # one process on one CPU, which the kernel samples too
            os.sched_setaffinity(0, {wl.cpus[0]})
        meter = Meter(wl.uses_spark, {calib.pid})
        if args.trace:
            result = run_traced(wl, meter, calib, args, run_dir, spec)
        else:
            result = run_timed(wl, meter, calib, args, run_dir)
    finally:
        if wl is not None:
            wl.close()
        calib.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    correct = result.failed == 0 and all(m["name"] in result.metrics for m in wanted)
    metrics = {
        m["name"]: {"value": _json_value(result.metrics[m["name"]]), "unit": m["unit"]}
        for m in wanted if m["name"] in result.metrics
    }
    print(f"workload {wl.name}, seed {args.seed}, "
          f"{'traced' if args.trace else 'untraced'}, {wl.cores} cores, "
          f"{time.perf_counter() - t_run:.1f} s wall in all")
    for line in result.lines:
        print(line)
    missing = [m["name"] for m in wanted if m["name"] not in result.metrics]
    if missing:
        print("metrics not measured: " + ", ".join(missing))
    for name, m in metrics.items():
        v = m["value"]
        print(f"{name} = {v if v is None else format(v, '.6g')} {m['unit']}")
    print(json.dumps({
        "correct": correct,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
