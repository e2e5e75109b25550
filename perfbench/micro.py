"""Codec kernel microbenchmark: one process, no Spark.

Calls ``selector.encode_column_arrow`` / ``decode_column_arrow`` per
column and ``encode.encode_block_arrow`` per block on blocks sampled
from the workload's own webtext input. The block rate is the
single-process floor that ``encode.core_s_over_floor`` divides by.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa

EFFORTS = ("max", "fast")
COLUMNS = (
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
)
# outer codec of a payload -> histogram bucket (names are metric-safe)
HIST_BUCKETS = (
    "zstd", "bz2", "zlib", "fsst", "dict", "str_plain", "const", "rle",
    "delta", "for", "plain", "other",
)
_BUCKET_OF = {
    "zstd": "zstd", "bz2": "bz2", "zlib": "zlib", "fsst": "fsst", "dict": "dict",
    "str_plain": "str_plain", "const": "const", "rle": "rle",
    "delta+for+bitpack": "delta", "for+bitpack": "for", "plain": "plain",
}


def codec_bucket(name: str) -> str:
    while name.startswith("nullable(") and name.endswith(")"):
        name = name[len("nullable("):-1]
    return _BUCKET_OF.get(name, "other")


def sample_blocks(tbl: pa.Table, seed: int, n_blocks: int, rows: int) -> list[pa.Table]:
    """``n_blocks`` contiguous row ranges of ``rows`` rows, at seeded
    offsets (contiguous, so per-domain runs survive as in a real block)."""
    rng = np.random.default_rng([seed, 3])
    rows = min(rows, tbl.num_rows)
    starts = rng.integers(0, tbl.num_rows - rows + 1, n_blocks)
    return [tbl.slice(int(s), rows) for s in starts]


def _median_s(fn, reps: int) -> float:
    """Median wall seconds of ``reps`` calls of ``fn``."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run(blocks: list[pa.Table], reps: int = 3) -> tuple[dict, dict]:
    """-> (metrics, codec histogram). Metrics are
    ``codecs.encode_mbps.<col>.<effort>``, ``codecs.decode_mbps.<col>.<effort>``
    and ``encode.block_mbps.<effort>`` over raw value bytes; the
    histogram counts the codec the selector picked per (block, column)
    at max effort."""
    from duckdb_raquet_spark import encode, selector

    out: dict[str, float] = {}
    hist = dict.fromkeys(HIST_BUCKETS, 0)
    for effort in EFFORTS:
        block_raw = 0
        for name, kind in COLUMNS:
            raw = enc_s = dec_s = 0.0
            for b in blocks:
                col = b[name].combine_chunks()
                payload, cname, st = selector.encode_column_arrow(
                    col, kind, 6, effort=effort
                )
                if effort == "max":
                    hist[codec_bucket(cname)] += 1
                n = len(col)
                raw += st["raw_bytes"]
                enc_s += _median_s(
                    lambda c=col: selector.encode_column_arrow(c, kind, 6, effort=effort),
                    reps,
                )
                dec_s += _median_s(
                    lambda p=payload, n=n: selector.decode_column_arrow(p, kind, n),
                    reps,
                )
            block_raw += raw
            out[f"codecs.encode_mbps.{name}.{effort}"] = raw / 1e6 / max(enc_s, 1e-9)
            out[f"codecs.decode_mbps.{name}.{effort}"] = raw / 1e6 / max(dec_s, 1e-9)
        specs = [(name, kind) for name, kind in COLUMNS]
        blk_s = 0.0
        for b in blocks:
            blk_s += _median_s(
                lambda b=b: encode.encode_block_arrow(
                    b, specs, ["warc_ts", "url"], 6, 0, 0, "warc_ts", effort
                ),
                reps,
            )
        out[f"encode.block_mbps.{effort}"] = block_raw / 1e6 / max(blk_s, 1e-9)
    return out, hist
