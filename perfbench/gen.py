"""Seeded input generators for the product benchmark.

Each generator writes parquet files with pyarrow (no Spark involved, so the
same seed gives byte-identical files) and returns the answers the checks
need: planted spikes, expected row counts, near-copy sources.

Sizes are per input kind; ``SIZES["tiny"]`` is the smoke-test scale.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_MS = 1_700_000_000_000  # a multiple of every bucket width used below
CADENCE_MS = 1_000
BUCKET_MS = 10_000
VALUE_FLOOR = 0.0
OUT_OF_RANGE = -1.0e6  # below VALUE_FLOOR: the retrieval filter drops it
DUP_GARBAGE = 1_000.0  # added to the stale copy of a duplicate timestamp
N_STREAM_FILES = 3

# Per input kind. "full" is what the benchmark measures; "tiny" is the
# smoke-test scale.
SIZES = {
    "full": {
        "ts_monitor": {"series": 100, "points": 500},
        "fuzzy_dedup": {"originals": 160, "copies": 40},
        "ts_stream": {"series": 100, "points": 300},
    },
    "tiny": {
        "ts_monitor": {"series": 12, "points": 120},
        "fuzzy_dedup": {"originals": 40, "copies": 10},
        "ts_stream": {"series": 10, "points": 300},
    },
}


@dataclass
class Inputs:
    """Generated files plus what a correct program must answer."""

    path: str  # file or directory handed to the program
    rows: int  # input rows (points or docs)
    expect: dict = field(default_factory=dict)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _series_values(rng: np.random.Generator, n_series: int, n_points: int) -> np.ndarray:
    level = rng.uniform(50.0, 150.0, size=(n_series, 1))
    return level + rng.normal(0.0, 1.0, size=(n_series, n_points))


def _plant_spikes(rng, values, lo_bucket: int, hi_bucket: int) -> list:
    """One spike per series on one point of a bucket in [lo, hi]; returns
    [(series index, bucket start ms, point index)]."""
    per_bucket = BUCKET_MS // CADENCE_MS
    spikes = []
    for s in range(values.shape[0]):
        b = int(rng.integers(lo_bucket, hi_bucket + 1))
        p = b * per_bucket + int(rng.integers(0, per_bucket))
        values[s, p] += float(rng.uniform(300.0, 600.0))
        spikes.append((s, T0_MS + b * BUCKET_MS, p))
    return spikes


def _key(s: int) -> str:
    return f"s{s:04d}"


def gen_ts_monitor(out_dir: str, seed: int, series: int, points: int) -> Inputs:
    """Raw points with ~2 % duplicate timestamps (the stale row has the
    lower ``seq`` and a garbage value), ~1 % values below the floor, and
    one planted spike per series."""
    rng = np.random.default_rng([seed, 1])
    values = _series_values(rng, series, points)
    n_buckets = points * CADENCE_MS // BUCKET_MS
    spikes = _plant_spikes(rng, values, 5, n_buckets - 3)
    spike_pts = {(s, p) for s, _, p in spikes}

    keys, ts, vals, seqs = [], [], [], []
    seq = 0
    for s in range(series):
        # duplicates and out-of-range rows never touch a spike point, and
        # never the same timestamp, so each has one known correct value
        kind = rng.random(points)
        for p in range(points):
            t = T0_MS + p * CADENCE_MS
            v = float(values[s, p])
            if (s, p) not in spike_pts and kind[p] < 0.02:
                keys.append(_key(s)); ts.append(t); vals.append(v + DUP_GARBAGE)
                seqs.append(seq); seq += 1
            elif (s, p) not in spike_pts and kind[p] < 0.03:
                v = OUT_OF_RANGE
            keys.append(_key(s)); ts.append(t); vals.append(v); seqs.append(seq)
            seq += 1
    order = rng.permutation(len(keys))
    table = pa.table(
        {
            "series_key": pa.array(keys, pa.string()).take(order),
            "ts_ms": pa.array(ts, pa.int64()).take(order),
            "value": pa.array(vals, pa.float64()).take(order),
            "seq": pa.array(seqs, pa.int64()).take(order),
        }
    )
    path = os.path.join(out_dir, "points.parquet")
    _write(table, path)
    return Inputs(
        path=path,
        rows=table.num_rows,
        expect={
            "series": series,
            "buckets_per_series": n_buckets,
            "spikes": {_key(s): b for s, b, _ in spikes},
        },
    )


def gen_ts_stream(out_dir: str, seed: int, series: int, points: int) -> Inputs:
    """Clean points, one spike per series late enough that the running
    normalizer has history, split into time slices (one file each) so a
    ``maxFilesPerTrigger=1`` replay arrives in time order."""
    rng = np.random.default_rng([seed, 2])
    values = _series_values(rng, series, points)
    n_buckets = points * CADENCE_MS // BUCKET_MS
    spikes = _plant_spikes(rng, values, (3 * n_buckets) // 5, n_buckets - 3)
    src = os.path.join(out_dir, "stream")
    os.makedirs(src, exist_ok=True)
    keys = np.repeat(np.array([_key(s) for s in range(series)]), points)
    ts = np.tile(T0_MS + np.arange(points, dtype=np.int64) * CADENCE_MS, series)
    flat = values.reshape(-1)
    per_file = points // N_STREAM_FILES
    for f in range(N_STREAM_FILES):
        sel = (ts >= T0_MS + f * per_file * CADENCE_MS) & (
            ts < T0_MS + (f + 1) * per_file * CADENCE_MS
        )
        table = pa.table(
            {
                "series_key": pa.array(keys[sel], pa.string()),
                "ts_ms": pa.array(ts[sel], pa.int64()),
                "value": pa.array(flat[sel], pa.float64()),
            }
        )
        _write(table, os.path.join(src, f"part-{f}.parquet"))
    return Inputs(
        path=src,
        rows=series * points,
        expect={
            "series": series,
            # the trailing bucket of every series stays open
            "closed_buckets": series * (n_buckets - 1),
            "batches": N_STREAM_FILES,
            "spikes": {_key(s): b for s, b, _ in spikes},
        },
    )


# -- fuzzy dedup ------------------------------------------------------------

MINHASH_K = 12
ROWS_PER_BAND = 2
JACCARD_THRESHOLD = 0.2  # fuzzy_dedup_e2e's default


def _shingles(words: list) -> set:
    return {"_".join(words[i : i + 3]) for i in range(len(words) - 2)}


def _signature(sh: set) -> list:
    return [
        min(hashlib.md5(f"{j}|{s}".encode()).hexdigest() for s in sh)
        for j in range(MINHASH_K)
    ]


def _jaccard(a: list, b: list) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _share_band(a: list, b: list) -> bool:
    return any(
        a[i : i + ROWS_PER_BAND] == b[i : i + ROWS_PER_BAND]
        for i in range(0, MINHASH_K, ROWS_PER_BAND)
    )


def _vocab(rng: random.Random, n: int) -> list:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def gen_fuzzy_dedup(out_dir: str, seed: int, originals: int, copies: int) -> Inputs:
    """Originals of 40-80 words from a 20k-word vocabulary; each near-copy
    substitutes 3 % of its source's words (at least one). Ids of originals
    are below every copy id, so each two-doc cluster keeps its original.

    MinHash-LSH finds a pair only with some probability. The generator
    computes the program's documented hash family (md5 of ``j|shingle``,
    ``rows_per_band`` rows per band) and redraws a copy's substitutions
    until it shares a band with its source, so a correct program must
    find every copy.

    Near misses: ``copies // 2`` pairs of other originals share a passage
    sized so that their exact shingle Jaccard is just below the verify
    threshold. Some become LSH candidates; verification must reject all
    of them, so they never merge."""
    rng = random.Random(f"fuzzy_dedup/{seed}")
    vocab = _vocab(rng, 20_000)
    docs = [
        [rng.choice(vocab) for _ in range(rng.randint(40, 80))]
        for _ in range(originals)
    ]
    sources = rng.sample(range(originals), copies)
    copy_of = {}
    for c, src in enumerate(sources):
        words = docs[src]
        sig = _signature(_shingles(words))
        n_sub = max(1, round(0.03 * len(words)))
        while True:
            new = list(words)
            for pos in rng.sample(range(len(words)), n_sub):
                new[pos] = rng.choice(vocab)
            if _share_band(sig, _signature(_shingles(new))):
                break
        copy_of[originals + c] = src
        docs.append(new)
    taken = set(sources)
    free = [i for i in range(originals) if i not in taken]
    picked = rng.sample(free, 2 * (copies // 2))
    for a, b in zip(picked[::2], picked[1::2]):
        wa, wb = docs[a], docs[b]
        m = min(len(wa), len(wb)) // 3
        while True:
            i, j = rng.randrange(len(wa) - m + 1), rng.randrange(len(wb) - m + 1)
            new = wb[:j] + wa[i : i + m] + wb[j + m :]
            if _jaccard(wa, new) < JACCARD_THRESHOLD:
                break
            m -= 1
        docs[b] = new
    order = list(range(len(docs)))
    rng.shuffle(order)
    table = pa.table(
        {
            "doc_id": pa.array(order, pa.int64()),
            "text": pa.array([" ".join(docs[i]) for i in order], pa.string()),
        }
    )
    path = os.path.join(out_dir, "docs.parquet")
    _write(table, path)
    return Inputs(
        path=path,
        rows=len(docs),
        expect={
            "originals": originals,
            "copy_of": copy_of,
            "near_misses": list(zip(picked[::2], picked[1::2])),
        },
    )


GENERATORS = {
    "ts_monitor": gen_ts_monitor,
    "fuzzy_dedup": gen_fuzzy_dedup,
    "ts_stream": gen_ts_stream,
}


def generate(kind: str, out_dir: str, seed: int, size: str = "full") -> Inputs:
    out_dir = os.path.join(out_dir, kind)
    os.makedirs(out_dir, exist_ok=True)
    return GENERATORS[kind](out_dir, seed, **SIZES[size][kind])
