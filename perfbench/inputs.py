"""Seeded inputs for the benchmark workloads.

The generators live here, not in the program, so a change to the program
cannot change what the benchmark feeds it.  Every array is drawn from
``numpy.random.default_rng([seed, stream])``: one seed gives the same
inputs on any host.  ``webtext_bigrams``' inputs are written as parquet
files under ``out_dir``; ``core_bm`` keeps its arrays in memory.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_KEY_MAX = 2**63
# the skew of both workloads' Zipf draws
ZIPF_S = 1.5

# core_bm: bm.c's fill of a 2^CORE_QBITS-slot r = 8 sketch to ~94% load
# (just under the 95% rule), one absent probe per present one, and a
# Zipf(1.5) multiset whose counts need multi-slot counters
CORE_QBITS = 20
CORE_KEYS = int(0.94 * (1 << CORE_QBITS))
CORE_ABSENT = 1_000_000
CORE_PARTS = 4
CORE_ZIPF_ROWS = 2_000_000
CORE_ZIPF_UNIVERSE = 1_000_000

# webtext_bigrams: FIXTURES.md section 1 (Zipf(1.5) over a 50k vocabulary,
# 20-200 tokens per document)
WEBTEXT_DOCS = 1_200
WEBTEXT_VOCAB = 50_000
WEBTEXT_FILES = 4
WEBTEXT_FP_PROBES = 1_000_000

def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def zipf_ranks(rng: np.random.Generator, n: int, universe: int) -> np.ndarray:
    """n Zipf(ZIPF_S) draws over ranks [0, universe) by inverse CDF."""
    w = np.arange(1, universe + 1, dtype=np.float64) ** -ZIPF_S
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n)), universe - 1)


def distinct_keys(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct uniform int64 keys in [0, 2^63), in random order."""
    keys = np.empty(0, dtype=np.int64)
    while keys.size < n:
        more = rng.integers(0, _KEY_MAX, n - keys.size + 1024, dtype=np.int64)
        keys = np.unique(np.concatenate([keys, more]))
    return rng.permutation(keys)[:n]


def disjoint_keys(rng: np.random.Generator, n: int, present: np.ndarray) -> np.ndarray:
    """n uniform int64 keys, none of them in ``present``."""
    out = np.empty(0, dtype=np.int64)
    while out.size < n:
        more = rng.integers(0, _KEY_MAX, n - out.size + 1024, dtype=np.int64)
        out = np.concatenate([out, more[~np.isin(more, present)]])
    return out[:n]


@dataclass
class CoreInputs:
    keys: np.ndarray          # uint64, all distinct
    absent: np.ndarray        # uint64, none of them in keys
    zipf_rows: np.ndarray     # uint64, a Zipf(1.5) multiset
    zipf_keys: np.ndarray     # its distinct keys, ascending
    zipf_counts: np.ndarray   # their multiplicities


def core(seed: int) -> CoreInputs:
    rng = _rng(seed, 3)
    keys = distinct_keys(rng, CORE_KEYS)
    absent = disjoint_keys(rng, CORE_ABSENT, keys)
    universe = rng.integers(0, _KEY_MAX, CORE_ZIPF_UNIVERSE, dtype=np.int64)
    rows = universe[zipf_ranks(rng, CORE_ZIPF_ROWS, CORE_ZIPF_UNIVERSE)]
    zk, zc = np.unique(rows, return_counts=True)
    u64 = np.uint64
    return CoreInputs(keys.view(u64), absent.view(u64), rows.view(u64),
                      zk.view(u64), zc.astype(u64))


def _write_split(table: pa.Table, directory: str, n_files: int) -> None:
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(np.int64)
    for i in range(n_files):
        path = os.path.join(directory, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)


@dataclass
class WebtextInputs:
    sf_dir: str            # holds documents.parquet, as the registered query expects
    docs_glob: str         # the same files, for the DuckDB oracle
    fp_probes: pa.Array    # bigrams that cannot occur in the corpus


def webtext(seed: int, out_dir: str) -> WebtextInputs:
    rng = _rng(seed, 1)
    lengths = rng.integers(20, 201, WEBTEXT_DOCS)
    vocab = np.array([f"tok{i:05d}" for i in range(WEBTEXT_VOCAB)], dtype=object)
    words = vocab[zipf_ranks(rng, int(lengths.sum()), WEBTEXT_VOCAB)]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - n : e]) for e, n in zip(ends, lengths)]
    lang = rng.choice(
        np.array(["en", "de", "fr", "es"]), WEBTEXT_DOCS, p=[0.9, 0.04, 0.03, 0.03]
    )
    ids = np.arange(WEBTEXT_DOCS, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array([f"site{i % 97}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    docs_dir = os.path.join(out_dir, "documents.parquet")
    _write_split(table, docs_dir, WEBTEXT_FILES)
    return WebtextInputs(
        out_dir, os.path.join(docs_dir, "*.parquet"), _absent_bigrams(rng)
    )


def _absent_bigrams(rng: np.random.Generator) -> pa.Array:
    """Bigrams "x####### y#######": no vocabulary token starts with x or y.
    Built as one fixed-width byte buffer; a Python string per probe would
    make this the slowest step of input generation."""
    n, width = WEBTEXT_FP_PROBES, 17
    digits = rng.integers(0, 10, (n, 14), dtype=np.uint8) + ord("0")
    buf = np.empty((n, width), dtype=np.uint8)
    buf[:, 0], buf[:, 8], buf[:, 9] = ord("x"), ord(" "), ord("y")
    buf[:, 1:8], buf[:, 10:17] = digits[:, :7], digits[:, 7:]
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets.tobytes()), pa.py_buffer(buf.tobytes())
    )
