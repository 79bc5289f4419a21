"""The traced run: spans around calls into each layer, Spark's event log
grouped by span, and driver-side replays of one partition's data.

Everything here measures the program from outside: spans wrap calls into
its public functions, and Spark's own event log supplies the task
metrics.  The spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import Any

import numpy as np

from perfbench.common import Meter

_GROUP = "perfbench."


class Tracer:
    """Spans with a name, parent, wall and CPU interval, sharing one trace
    id.  With a SparkContext, each span also labels the Spark jobs it
    starts with a job group named after it."""

    def __init__(self, meter: Meter, sc: Any) -> None:
        self._meter = meter
        self._sc = sc
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[dict[str, Any]] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        parent = self._stack[-1] if self._stack else None
        if self._sc is not None:
            self._sc.setJobGroup(_GROUP + name, name)
        self._stack.append(name)
        start = self._meter.mark()
        try:
            yield
        finally:
            end = self._meter.mark()
            self._stack.pop()
            if self._sc is not None:
                outer = self._stack[-1] if self._stack else "none"
                self._sc.setJobGroup(_GROUP + outer, outer)
            cpu = end.cpu - start.cpu
            self.spans.append({
                "trace_id": self.trace_id, "name": name, "parent": parent,
                "wall_s": end.wall - start.wall, "cpu_s": cpu.total,
                "cpu_split": vars(cpu),
            })

    def cpu(self, name: str) -> float:
        return sum(s["cpu_s"] for s in self.spans if s["name"] == name)

    def self_cpu(self, name: str) -> float:
        """A span's CPU minus the part its child spans cover."""
        return self.cpu(name) - sum(
            s["cpu_s"] for s in self.spans if s["parent"] == name
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# SQL metrics of the Python exec nodes (MapInArrow, ArrowEvalPython,
# FlatMapGroupsInPandas, ...), as task-end accumulables name them
_PY_METRICS = {"data sent to Python workers": "python_bytes_in",
               "data returned from Python workers": "python_bytes_out"}


def spark_event_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics from Spark's event log, summed per job group (one per
    span): tasks, shuffle bytes written and the stages that wrote them,
    and the bytes sent to and returned from Python workers; a task that
    reports Python bytes is a Python task."""
    (name,) = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    stage_group: dict[int, str] = {}
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    shuffle_stages: dict[str, set[int]] = defaultdict(set)
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            if '"SparkListenerStageSubmitted"' in line:
                ev = json.loads(line)
                props = ev.get("Properties") or {}
                stage_group[ev["Stage Info"]["Stage ID"]] = props.get(
                    "spark.jobGroup.id", ""
                ).removeprefix(_GROUP)
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                group = stage_group.get(ev["Stage ID"], "")
                m = ev.get("Task Metrics") or {}
                a = acc[group]
                a["tasks"] += 1
                written = (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                a["shuffle_write_bytes"] += written
                if written:
                    shuffle_stages[group].add(ev["Stage ID"])
                python_task = False
                for upd in (ev.get("Task Info") or {}).get("Accumulables", []):
                    kind = _PY_METRICS.get(upd.get("Name"))
                    if kind is not None:
                        python_task = True
                        a[kind] += int(upd.get("Update") or 0)
                a["python_tasks"] += python_task
    for group, stages in shuffle_stages.items():
        acc[group]["shuffle_stages"] = len(stages)
    return {g: dict(a) for g, a in acc.items()}


def best_cpu(fn: Callable[[], Any], reps: int = 3) -> tuple[float, Any]:
    """Least CPU of ``reps`` calls, and the last call's result."""
    best, out = float("inf"), None
    for _ in range(reps):
        t0 = time.process_time()
        out = fn()
        best = min(best, time.process_time() - t0)
    return best, out


def encode_replay(sketches: list[Any]) -> dict[str, float]:
    """``encode_counters`` on each sketch's decoded (remainder, count)
    pairs: CPU per item, least of three calls, and the share of items
    whose counter takes more than one slot."""
    from cqf_spark.functions.counter import encode_counters

    items = multislot = 0
    enc_s = 0.0
    for s in sketches:
        hashes, _, counts = s.items()
        bps = s.geom.bits_per_slot
        rem = hashes & np.uint64((1 << bps) - 1)
        t, (_, lengths) = best_cpu(lambda: encode_counters(rem, counts, bps))
        enc_s += t
        items += rem.size
        multislot += int((lengths > 1).sum())
    return {
        "counter.encode_ns_per_item": 1e9 * enc_s / max(items, 1),
        "counter.multislot_frac": multislot / max(items, 1),
    }


def replay(cfg: Any, keys: Any, counts: np.ndarray, merged: Any,
           blobs: list[bytes]) -> dict[str, float]:
    """One partition's keys and counts through each layer on the driver:
    hash, layout, counter encode, (de)serialize, decode, probes of the
    same keys and the k-way merge of every partial sketch.  CPU per item,
    least of three calls."""
    from cqf_spark.aggregator import hash_arrow
    from cqf_spark.core import Cqf

    t_hash, h = best_cpu(lambda: hash_arrow(keys, cfg))
    t_layout, part = best_cpu(lambda: Cqf.from_hashes(cfg, h, counts))
    slots = merged.geom.total_slots
    t_to, blob = best_cpu(merged.to_bytes)
    t_from, _ = best_cpu(lambda: Cqf.from_bytes(blob))
    decode = steady = float("inf")
    for _ in range(3):
        fresh = Cqf.from_bytes(blob)
        t0 = time.process_time()
        fresh.items()
        t1 = time.process_time()
        fresh.count_hashes(h)
        t2 = time.process_time()
        decode, steady = min(decode, t1 - t0), min(steady, t2 - t1)
    inputs = [Cqf.from_bytes(b) for b in blobs]
    t_merge, _ = best_cpu(lambda: Cqf.merge_many(inputs), reps=1)
    merge_in = sum(s.num_distinct for s in inputs)
    return {
        "hash.ns_per_key": 1e9 * t_hash / max(len(keys), 1),
        "layout.ns_per_item": 1e9 * t_layout / max(len(keys), 1),
        **encode_replay([part]),
        "counter.decode_ns_per_item": 1e9 * decode / max(merged.num_distinct, 1),
        "serialize.to_bytes_ns_per_slot": 1e9 * t_to / slots,
        "serialize.from_bytes_ns_per_slot": 1e9 * t_from / slots,
        "probe.ns_per_probe": 1e9 * steady / max(len(h), 1),
        "merge.ns_per_item": 1e9 * t_merge / max(merge_in, 1),
    }
