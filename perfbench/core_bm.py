"""core_bm: bm.c's insert, lookup and merge phases against the numpy CQF
core, in this one process, with no JVM and no Python worker.

One iteration, with a fresh hash seed each time:

- insert: hash ~1M distinct uniform keys into an r = 8 universe and build
  one sketch at ~94% load; serialize it; build four partial sketches from
  the key quarters and ``merge_many`` them; build a Zipf(1.5) multiset of
  2M rows with counts, and serialize it;
- lookup: deserialize both sketches and probe them, which decodes their
  counters: every present key, about as many absent keys, and every distinct
  Zipf key;
- checks: no false negatives, ``sum_of_counts`` equals the rows, FP rate
  <= 2^-8, the merge equals the single build byte for byte, and
  ``from_bytes(to_bytes())`` round-trips.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
from typing import Any

import numpy as np

from cqf_spark.config import CqfConfig
from cqf_spark.core import Cqf, hash_keys

from perfbench import inputs as gen
from perfbench.common import Iteration, Meter, fp_error, iteration_seed
from perfbench.tracing import encode_replay

# fresh interpreters timed for setup_s; each costs about 0.2 s of CPU and
# its speed varies by +-25% with its vCPU's
SETUP_SAMPLES = 15
# what a user of the core pays before the first real call: the interpreter,
# the imports and each public entry point's first call
_SETUP_CODE = """
import numpy as np
from cqf_spark.config import CqfConfig
from cqf_spark.core import Cqf, hash_keys
cfg = CqfConfig(key_bits=24, seed=1)
k = np.arange(4096, dtype=np.uint64)
sk = Cqf.from_hashes(cfg, hash_keys(k, cfg), np.full(k.size, 5, np.uint64))
back = Cqf.from_bytes(sk.to_bytes())
if (back.count(k) < 5).any():
    raise SystemExit("false negative in the set-up sketch")
Cqf.merge_many([back, sk])
"""
ZIPF_KEY_BITS = 40


# per-layer metrics of the Spark layers, which core_bm does not run
NO_SPARK = dict.fromkeys([
    "spark.build.cpu_s", "spark.merge.cpu_s", "spark.probe.cpu_s",
    "spark.python_tasks", "spark.python_bytes_in", "spark.python_bytes_out",
    "spark.shuffle_write_mb", "webtext.extract_cpu_s", "preagg.cpu_s",
    "preagg.rows_in", "preagg.rows_out",
], 0)


class CoreBm:
    name = "core_bm"
    uses_spark = False
    cores = 1
    # measured iterations run for --seconds, and at least this many: an
    # iteration's CPU varies by ~9% with the speed of its vCPU, and 8 of
    # ~2.7 s each still fit a run's time
    min_measured = 8

    def __init__(self, run_dir: str, traced: bool) -> None:
        # one CPU for the whole run, not CPU 0 (it takes the host's
        # interrupts) when there is another
        self.cpus = [sorted(os.sched_getaffinity(0))[-1]]

    def after_iteration(self) -> int:
        return 0

    def sketch_record(self) -> None:
        """Every iteration measures its own sketch and FP rate."""
        return None

    def spark_context(self) -> None:
        return None

    def close(self) -> None:
        pass

    def finish_trace(self) -> dict[str, float]:
        return {}

    def generate(self, seed: int, out_dir: str) -> gen.CoreInputs:
        return gen.core(seed)

    def set_up(self, exclude: set[int], calib: Any) -> dict[str, float]:
        """CPU seconds of SETUP_SAMPLES fresh interpreters that import the
        core and make its first calls, on the run's CPU, each calibrated by
        the kernel samples either side of it; the median is setup_s."""
        samples, scaled = [], []
        before = calib.sample(self.cpus)
        for _ in range(SETUP_SAMPLES):
            p = subprocess.Popen([sys.executable, "-c", _SETUP_CODE])
            _, status, ru = os.wait4(p.pid, 0)
            p.returncode = os.waitstatus_to_exitcode(status)
            if p.returncode != 0:
                raise RuntimeError(f"set-up interpreter exited {p.returncode}")
            after = calib.sample(self.cpus)
            samples.append(ru.ru_utime + ru.ru_stime)
            scaled.append(samples[-1] * calib.ref_s / (0.5 * (before + after)))
            before = after
        med = statistics.median(samples)
        return {"setup": med, "setup_cal": statistics.median(scaled),
                "jvm_launch": 0.0, "worker_warm": 0.0, "import": med,
                "samples": samples}

    def prepare(self, inp: gen.CoreInputs, seed: int) -> None:
        self.inp = inp
        self.seed = seed
        n = inp.keys.size
        self.present_end = n
        self.probes = np.concatenate([inp.keys, inp.absent])
        # overcounts come only from hash collisions: each of the n(n-1)/2
        # pairs collides with probability 2^-key_bits and bumps two keys
        nz = inp.zipf_keys.size
        self.zipf_max_over = 3 + int(np.ceil(4 * nz * nz / 2.0**ZIPF_KEY_BITS))

    def configs(self, i: int) -> tuple[CqfConfig, CqfConfig]:
        s = iteration_seed(self.seed, i)
        # bm.c's sizing: key_bits = qbits + r with r = 8
        return (CqfConfig(key_bits=gen.CORE_QBITS + 8, seed=s),
                CqfConfig(key_bits=ZIPF_KEY_BITS, seed=s))

    def iteration(self, meter: Meter, i: int) -> Iteration:
        inp = self.inp
        cfg, zcfg = self.configs(i)
        t0 = meter.mark()
        h = hash_keys(inp.keys, cfg)
        sk = Cqf.from_hashes(cfg, h)
        blob = sk.to_bytes()
        parts = [Cqf.from_hashes(cfg, p).to_bytes()
                 for p in np.array_split(h, gen.CORE_PARTS)]
        merged = Cqf.merge_many([Cqf.from_bytes(b) for b in parts]).to_bytes()
        zsk = Cqf.from_hashes(zcfg, hash_keys(inp.zipf_rows, zcfg))
        zblob = zsk.to_bytes()
        t1 = meter.mark()
        back = Cqf.from_bytes(blob)
        hits = back.count(self.probes)
        zback = Cqf.from_bytes(zblob)
        zcounts = zback.count(inp.zipf_keys)
        t2 = meter.mark()
        errors = self.check(h, sk, blob, back, merged, hits, zsk, zback, zcounts)
        t3 = meter.mark()
        n = inp.keys.size
        it = Iteration(
            rows_in=2 * n + inp.zipf_rows.size,
            probes=self.probes.size + inp.zipf_keys.size,
            fp_hits=int((hits[n:] > 0).sum()), fp_probes=inp.absent.size,
            sketch_bytes=len(blob) + len(zblob),
            distinct=sk.num_distinct + zsk.num_distinct,
            errors=errors,
        )
        it.set_phases(t0, t1, t2, t3)
        return it

    def check(self, h: np.ndarray, sk: Cqf, blob: bytes, back: Cqf,
              merged: bytes, hits: np.ndarray, zsk: Cqf, zback: Cqf,
              zcounts: np.ndarray) -> list[str]:
        inp, n = self.inp, self.inp.keys.size
        errors = []
        fn = int((hits[:n] == 0).sum())
        if fn:
            errors.append(f"{fn} false negatives of {n}")
        if sk.sum_of_counts != n:
            errors.append(f"sum_of_counts {sk.sum_of_counts} != {n} rows")
        distinct = np.unique(h).size
        if sk.num_distinct != distinct:
            errors.append(f"ndistinct {sk.num_distinct} != {distinct} distinct hashes")
        if merged != blob:
            errors.append("merge_many of the partials differs from the single build")
        if back.to_bytes() != blob or zback.to_bytes() != zsk.to_bytes():
            errors.append("from_bytes(to_bytes()) does not round-trip")
        rows = inp.zipf_rows.size
        if zsk.sum_of_counts != rows:
            errors.append(f"zipf sum_of_counts {zsk.sum_of_counts} != {rows} rows")
        under = int((zcounts < inp.zipf_counts).sum())
        over = int((zcounts > inp.zipf_counts).sum())
        if under:
            errors.append(f"{under} zipf keys undercounted")
        if over > self.zipf_max_over:
            errors.append(f"{over} zipf keys overcounted > {self.zipf_max_over}")
        return errors + fp_error(int((hits[n:] > 0).sum()), inp.absent.size)

    # ------------------------------------------------------------------ #
    # traced
    # ------------------------------------------------------------------ #

    def traced(self, tr: Any, i: int) -> list[str]:
        """The iteration with a span around each public call; returns the
        check errors.  ``after_trace`` turns the spans into metrics."""
        inp = self.inp
        cfg, zcfg = self.configs(i)
        n = inp.keys.size
        with tr.span("hash"):
            h = hash_keys(inp.keys, cfg)
            zh = hash_keys(inp.zipf_rows, zcfg)
            ph = hash_keys(self.probes, cfg)
            zph = hash_keys(inp.zipf_keys, zcfg)
        with tr.span("layout"):
            sk = Cqf.from_hashes(cfg, h)
            zsk = Cqf.from_hashes(zcfg, zh)
        with tr.span("serialize.to_bytes"):
            blob = sk.to_bytes()
            zblob = zsk.to_bytes()
        with tr.span("layout.partials"):
            partials = [Cqf.from_hashes(cfg, p) for p in np.array_split(h, gen.CORE_PARTS)]
        with tr.span("serialize.partials"):
            part_blobs = [p.to_bytes() for p in partials]
            inputs = [Cqf.from_bytes(b) for b in part_blobs]
        with tr.span("merge"):
            merged_sk = Cqf.merge_many(inputs)
        with tr.span("serialize.merged"):
            merged = merged_sk.to_bytes()
        with tr.span("serialize.from_bytes"):
            back = Cqf.from_bytes(blob)
            zback = Cqf.from_bytes(zblob)
        with tr.span("decode"):
            back.items()
            zback.items()
        with tr.span("probe"):
            hits = back.count_hashes(ph)
            zcounts = zback.count_hashes(zph)
        with tr.span("check"):
            errors = self.check(h, sk, blob, back, merged, hits, zsk, zback, zcounts)
        self._traced = (h, zh, ph, zph, sk, zsk, partials, merged_sk, part_blobs,
                        blob, zblob, hits)
        return errors

    def after_trace(self, tr: Any) -> dict[str, float]:
        (h, zh, ph, zph, sk, zsk, partials, merged_sk, part_blobs,
         blob, zblob, hits) = self._traced
        n = self.inp.keys.size
        cpu = tr.cpu
        slots = sk.geom.total_slots + zsk.geom.total_slots
        items = sk.num_distinct + zsk.num_distinct
        merge_in = sum(p.num_distinct for p in partials)
        retries = sum(s.geom.qbits - s.config.qbits_for(s.num_distinct)
                      for s in [sk, zsk, merged_sk, *partials])
        layer = {
            "hash.ns_per_key": 1e9 * cpu("hash") / (h.size + zh.size + ph.size + zph.size),
            "layout.ns_per_item": 1e9 * cpu("layout") / (h.size + zh.size),
            "layout.resize_retries": retries,
            "sketch.load": sk.load_factor,
            "sketch.slots_per_item": (sk.num_occupied_slots + zsk.num_occupied_slots) / items,
            "serialize.to_bytes_ns_per_slot": 1e9 * cpu("serialize.to_bytes") / slots,
            "serialize.from_bytes_ns_per_slot": 1e9 * cpu("serialize.from_bytes") / slots,
            "merge.ns_per_item": 1e9 * cpu("merge") / merge_in,
            "merge.rounds": 1,
            "merge.blob_mb": sum(len(b) for b in part_blobs) / 1e6,
            "probe.ns_per_probe": 1e9 * cpu("probe") / (ph.size + zph.size),
            "counter.decode_ns_per_item": 1e9 * cpu("decode") / items,
            **encode_replay([sk, zsk]),
            **NO_SPARK,
        }
        self.traced_counts = {
            "layout.resize_retries": retries,
            "merge.blob_bytes": sum(len(b) for b in part_blobs),
            "sketch.bytes": len(blob) + len(zblob),
            "sketch.occupied_slots": sk.num_occupied_slots + zsk.num_occupied_slots,
            "fp_hits": int((hits[n:] > 0).sum()),
        }
        return layer
