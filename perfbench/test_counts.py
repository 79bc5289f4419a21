"""The benchmark's own test: the exact counts of a traced run repeat for
one seed.  Run it from the repository root with

    python3 -m pytest perfbench/test_counts.py -q

Each workload is traced twice with the same seed; the counts that must
repeat exactly (Python tasks, Python bytes in and out, shuffle bytes,
blob bytes, merge rounds, pre-aggregation rows, resize retries) are read
from the ``exact counts:`` line of each run's summary.  It takes a few
minutes: every Spark run launches its own JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 4242


def _traced_counts(workload: str) -> dict[str, int]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    assert json.loads(lines[-1])["correct"]
    (counts,) = [ln for ln in lines if ln.startswith("exact counts: ")]
    return json.loads(counts.removeprefix("exact counts: "))


@pytest.mark.parametrize("workload", ["core_bm", "webtext_bigrams"])
def test_exact_counts_repeat(workload: str) -> None:
    first = _traced_counts(workload)
    second = _traced_counts(workload)
    assert first, "no exact counts reported"
    assert first == second
