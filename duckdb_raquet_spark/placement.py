"""Exact shuffle placement: invert HashPartitioning's murmur3 so a
driver-computed assignment (e.g. LPT bin packing of codec-bound work)
survives the shuffle instead of being re-rolled by the partitioner's
own hash (balls-into-bins collisions leave some tasks with several
serial codec groups while cores idle — guide §2.5).

:func:`plan` is the one entry point, shared by the planned encode
placement (encode.py) and the per-block re-encode spread (scan.py).

:func:`driver_wins` is the other placement decision: whether a small
read or write runs in the driver process or as a Spark plan. Its one
inequality gates both the driver-local read (``scan._read_on_driver``)
and the driver-side chunk write (``encode._write_on_driver``)."""

from __future__ import annotations

import heapq


def murmur3_hash_long(v: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashLong for one non-null LongType column
    — the hash HashPartitioning applies (pmod(murmur3(key), n)).
    Replicated bit for bit (pinned by tests against F.hash)."""
    m = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & m

    def mixk1(k1: int) -> int:
        k1 = (k1 * 0xCC9E2D51) & m
        k1 = rotl(k1, 15)
        return (k1 * 0x1B873593) & m

    def mixh1(h1: int, k1: int) -> int:
        h1 ^= k1
        h1 = rotl(h1, 13)
        return (h1 * 5 + 0xE6546B64) & m

    v &= 0xFFFFFFFFFFFFFFFF
    h1 = seed & m
    h1 = mixh1(h1, mixk1(v & m))
    h1 = mixh1(h1, mixk1((v >> 32) & m))
    h1 ^= 8
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & m
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & m
    h1 ^= h1 >> 16
    return h1


def partition_reps(n: int) -> list[int]:
    """reps[p] = a long x with pmod(murmur3(x), n) == p, for every
    partition p — coupon-collector search, ~n*ln(n) hashes."""
    reps: list[int | None] = [None] * n
    found = 0
    x = 0
    while found < n:
        h = murmur3_hash_long(x)
        signed = h - (1 << 32) if h >= (1 << 31) else h
        p = signed % n  # == Spark's Pmod for positive n
        if reps[p] is None:
            reps[p] = x
            found += 1
        x += 1
    return reps  # type: ignore[return-value]


def lpt_bins(sizes: list[int], n_bins: int) -> list[int]:
    """LPT greedy: item i (with cost sizes[i]) -> bin, bins byte-
    near-equal; bins relabeled so the HEAVIEST loads get the LOWEST
    indices (partitions are scheduled in index order — a heavy bin
    started first can never become a late tail). Returns bin index per
    item position."""
    order = sorted(range(len(sizes)), key=lambda i: -sizes[i])
    heap = [(0, b) for b in range(n_bins)]
    heapq.heapify(heap)
    raw = [0] * len(sizes)
    loads = [0] * n_bins
    for i in order:
        load, b = heapq.heappop(heap)
        raw[i] = b
        loads[b] = load + sizes[i]
        heapq.heappush(heap, (loads[b], b))
    by_load = sorted(range(n_bins), key=lambda b: -loads[b])
    relabel = {b: pid for pid, b in enumerate(by_load)}
    return [relabel[b] for b in raw]


def plan(df, key_cols: list[str], cost_col, n_bins: int, cap: int):
    """Decide placement on small rows, move the payload once (Jigsaw,
    SIGMOD'21): aggregate ``cost_col`` per key of ``df`` — keys are
    unique by construction, so joining the plan back never multiplies
    rows — LPT-pack the keys into ``n_bins`` cost-near-equal bins, and
    return the broadcast-sized plan frame ``key_cols + [_px]``, where
    ``_px`` is the searched murmur representative of the key's bin:
    ``repartition(n_bins, "_px")`` then lands each key in exactly its
    bin. ``None`` when there are more than ``cap`` keys (driver-metadata
    bound) — callers keep their unplanned placement."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    rows = (
        df.groupBy(*key_cols)
        .agg(F.sum(cost_col).alias("_cost"))
        .limit(cap + 1)
        .collect()
    )
    if not rows or len(rows) > cap:
        return None
    bins = lpt_bins([int(r["_cost"] or 0) for r in rows], n_bins)
    reps = partition_reps(n_bins)
    schema = T.StructType(
        [df.schema[k] for k in key_cols] + [T.StructField("_px", T.LongType())]
    )
    return df.sparkSession.createDataFrame(
        [(*(r[k] for k in key_cols), reps[b]) for r, b in zip(rows, bins)],
        schema=schema,
    )


# ------------------------------------------------- driver or plan ----
#
# Kernel rates and fixed plan costs, measured on a 4-core VM at
# local[4] on the benchmark's webtext (1-2 KB raw per row):
#
# * R_DEC: one core decoded a whole 7.9 MB-raw block row in 0.34 s, and
#   ~2 MB block rows at 20-21.5 MB/s.
# * R_ENC: one core encodes 600-1,500-row groups at ~6.6 MB/s at max
#   effort (bz2-led) and 50-90 MB/s at fast effort (zstd-led).
# * F_READ: a url lookup or one-day range costs 0.46-0.61 s more as a
#   Spark plan than in-process (medians of 10).
# * F_WRITE: a 150-row append took 0.99-1.36 s as a Spark write and
#   0.20-0.37 s from the driver; the plan's encode, write and recount
#   jobs cost ~0.9 s more.
# * T_KEY: the driver keys each row with a pure-Python XXH64 of its url
#   (14 us for a 34-byte url), work the Spark plan does in the JVM.
R_DEC = 23e6
R_ENC = {"max": 6.6e6, "fast": 50e6}
F_READ = 0.55
F_WRITE = 0.9
T_KEY = 15e-6


def driver_wins(kernel_s: float, units: int, parallelism: int, fixed_s: float) -> bool:
    """True when ``kernel_s`` seconds of one-core kernel work run no
    slower in the driver than as a Spark plan. The plan can spread the
    work over ``min(units, parallelism)`` cores, saving ``kernel_s *
    (1 - 1 / min(units, P))``, and pays ``fixed_s`` for its jobs; the
    driver wins while that saving is at most ``fixed_s``."""
    spread = max(1, min(units, parallelism))
    return kernel_s * (1 - 1 / spread) <= fixed_s
