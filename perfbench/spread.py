#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, raw and calibrated.

    python3 perfbench/spread.py --workloads core_bm webtext_bigrams --seeds 1 2 3 4 5

Runs ``run.py`` once per (seed, workload) for BENCHMARK.json's
``run_seconds``, interleaving the workloads, and prints for each metric the median and IQR/median of its values over the
seeds (quartiles as ``statistics.quantiles(values, n=4)`` gives them).
Times appear twice: calibrated (the gated value) and raw CPU seconds.
Each run's full output is kept in ``.perfbench_work/spread/``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_work", "spread")
_RAW = re.compile(r"^(\w+): (\S+) raw / (\S+) calibrated$")


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    os.makedirs(OUT, exist_ok=True)
    values: dict[str, dict[str, list[float]]] = {w: {} for w in args.workloads}
    for seed in args.seeds:
        for w in args.workloads:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            with open(os.path.join(OUT, f"{w}-seed{seed}.txt"), "w") as f:
                f.write(p.stdout + p.stderr)
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else {}
            if p.returncode or not result.get("correct"):
                print(f"{w} seed {seed}: exit {p.returncode}, not correct", flush=True)
                continue
            v = values[w]
            for name, m in result["metrics"].items():
                v.setdefault(name, []).append(m["value"])
            for line in lines:
                m = _RAW.match(line)
                if m:
                    v.setdefault(m[1] + " (raw)", []).append(float(m[2]))
            print(f"{w} seed {seed}: {lines[0]}", flush=True)
    for w, v in values.items():
        print(f"\n{w}:")
        for name, xs in sorted(v.items()):
            if len(xs) >= 2:
                med, s = spread(xs)
                print(f"  {name:24s} n={len(xs):2d} median {med:12.6g}  IQR/median {s:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
