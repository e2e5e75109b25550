"""Sampled per-column statistics driving codec selection.

The reference computes dataset-level sampled stats with a fixed-seed RNG
(1000-sample deterministic, /root/reference/src/raster/band_stats_v01.cpp:
104-131, seed at :109) to enrich its manifest, and exact per-block stats
columns for decode-free queries (/root/reference/src/raster/
read_raster.cpp:1080-1090). We do the same two levels: this module's
sampled stats pick the codec per column per block; the block encoder
additionally emits exact per-block stats (min/max/sum/count, category
counts) that the read path aggregates without decoding payloads.

Everything is deterministic (evenly-spaced sample positions, no RNG at
encode time) so re-encoding the same block yields identical bytes —
required for checkpoint-resume idempotency.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

SAMPLE_VALUES = 1024


def _sample_indices(n: int, k: int = SAMPLE_VALUES) -> np.ndarray:
    if n <= k:
        return np.arange(n)
    return np.linspace(0, n - 1, k).astype(np.int64)


def byte_entropy(data: bytes, limit: int = 1 << 16) -> float:
    """Shannon entropy (bits/byte) of a bounded prefix sample."""
    if not data:
        return 0.0
    arr = np.frombuffer(data[:limit], dtype=np.uint8)
    counts = np.bincount(arr, minlength=256)
    p = counts[counts > 0] / len(arr)
    return float(-(p * np.log2(p)).sum())


def str_column_stats(arr: pa.Array) -> dict:
    """Stats for a no-null binary array (selector input)."""
    n = len(arr)
    if n == 0:
        return {
            "n": 0, "distinct": 0, "distinct_frac": 0.0, "avg_len": 0.0,
            "run_frac": 0.0, "entropy": 0.0, "data_bytes": 0,
        }
    lengths = pc.binary_length(arr).to_numpy(zero_copy_only=False)
    data_bytes = int(lengths.sum())
    idx = _sample_indices(n)
    sample = arr.take(pa.array(idx))
    distinct = pc.count_distinct(sample).as_py()
    # adjacent-equal fraction on the sample (RLE signal)
    eq = pc.equal(sample.slice(1), sample.slice(0, len(sample) - 1))
    run_frac = (
        float(pc.sum(eq.cast(pa.int32())).as_py() or 0) / max(1, len(sample) - 1)
    )
    sample_bytes = b"".join(v.as_py() or b"" for v in sample.slice(0, 128))
    return {
        "n": n,
        "distinct": distinct,
        "distinct_frac": distinct / len(sample),
        "avg_len": data_bytes / n,
        "run_frac": run_frac,
        "entropy": byte_entropy(sample_bytes),
        "data_bytes": data_bytes,
    }


def int_column_stats(values: np.ndarray) -> dict:
    n = len(values)
    if n == 0:
        return {"n": 0, "sorted_frac": 1.0, "run_frac": 0.0, "range_bits": 0}
    idx = _sample_indices(n)
    s = values[idx]
    if len(s) > 1:
        d = np.diff(s)
        sorted_frac = float((d >= 0).mean())
        run_frac = float((d == 0).mean())
    else:
        sorted_frac, run_frac = 1.0, 0.0
    lo, hi = int(values.min()), int(values.max())
    return {
        "n": n,
        "sorted_frac": sorted_frac,
        "run_frac": run_frac,
        "range_bits": (hi - lo).bit_length(),
        "min": lo,
        "max": hi,
    }
