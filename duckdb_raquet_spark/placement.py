"""Exact shuffle placement: invert HashPartitioning's murmur3 so a
driver-computed assignment (e.g. LPT bin packing of codec-bound work)
survives the shuffle instead of being re-rolled by the partitioner's
own hash (balls-into-bins collisions leave some tasks with several
serial codec groups while cores idle — guide §2.5).

:func:`plan` is the one entry point, shared by the planned encode
placement (encode.py) and the per-block re-encode spread (scan.py).

:func:`driver_gate` is the other placement decision: whether a small
read or write runs in the driver process or as a Spark plan. Its one
inequality (:func:`driver_wins`) gates both the driver-local reads
(``scan._read_on_driver``) and the driver-side writes
(``encode._write_on_driver``), and :func:`driver_map` runs the driver
branch's kernels on one bounded pool of :func:`driver_threads`."""

from __future__ import annotations

import heapq
import json
import logging
import os
from concurrent.futures import ThreadPoolExecutor


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
# Kernel rates, driver-only costs and fixed plan costs, measured on a
# 4-core VM at local[4] on the benchmark's 6,000-row webtext table
# (7.9 MB raw, 1-2 KB a row, 4 block rows; medians of 3-5):
#
# * R_DEC: one thread decoded its 4 block rows at 24.6 MB/s (0.32 s);
#   2 threads took 0.18 s and 4 threads 0.11 s.
# * R_ENC: one thread encoded its 4 groups at 7.5 MB/s at max effort
#   (bz2-led, 1.06 s) and 73 MB/s at fast effort (zstd-led), keying
#   excluded; 4 threads took the max-effort encode to 0.37 s.
# * F_READ: a url lookup or one-day range costs 0.46-0.61 s more as a
#   Spark plan than in-process; a full read_rows took 0.66 s as a plan
#   and 0.38 s on the driver, hand-back included.
# * F_WRITE: a 150-row append took 0.99-1.36 s as a Spark write and
#   0.20-0.37 s from the driver, and a 150-row encode_to_path 1.05 s
#   and 0.33 s: the plan's encode, write and recount jobs cost ~0.7-0.9 s.
# * T_KEY: the driver keys each row with a pure-Python XXH64 of its url
#   (0.08 s for the 6,000 rows), work the Spark plan does in the JVM.
# * R_COLLECT: ``toArrow`` of the parquet input took 0.32 s, its job
#   included.
# * R_HAND: a driver result handed back as a DataFrame
#   (``createDataFrame`` from Arrow, then the caller's ``toArrow``) took
#   0.16 s.
R_DEC = 24e6
R_ENC = {"max": 7.5e6, "fast": 70e6}
F_READ = 0.55
F_WRITE = 0.8
T_KEY = 14e-6
R_COLLECT = 28e6
R_HAND = 50e6

# The most raw bytes any driver branch collects, reads or encodes: the
# salt cap, 4 cells' worth (16 MiB).
DRIVER_MAX_RAW = 16 << 20

log = logging.getLogger(__name__)


def driver_cores() -> int:
    """Cores this driver process may run on."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - not Linux
        return os.cpu_count() or 1


def driver_threads(units: int, parallelism: int) -> int:
    """The driver plane's pool size for ``units`` independent kernel
    calls: ``min(P, units, driver cores)``, P the session's
    ``defaultParallelism``. 1 means serial, with no pool."""
    return max(1, min(parallelism, units, driver_cores()))


def driver_wins(
    kernel_s: float, units: int, parallelism: int, threads: int,
    fixed_s: float, local_s: float,
) -> bool:
    """True when ``kernel_s`` seconds of one-core kernel work, split
    into ``units`` independent calls, finish no later in the driver
    than as a Spark plan. The plan spreads them over ``min(units, P)``
    cores and pays ``fixed_s`` for its jobs; the driver spreads them
    over ``min(units, threads)`` cores and pays ``local_s`` for what
    only it does (keying, the collect, the hand-back). With as many
    driver threads as plan cores the kernel terms cancel, and the
    driver-only costs meet the plan's fixed cost."""
    plan_s = kernel_s / max(1, min(units, parallelism)) + fixed_s
    local = kernel_s / max(1, min(units, threads)) + local_s
    return local <= plan_s


def driver_gate(
    gate: str, *, raw_bytes: int, rows: int | None, units: int,
    parallelism: int, kernel_s: float, fixed_s: float, local_s: float,
) -> bool:
    """One driver-or-plan decision: :func:`driver_wins` at the pool
    size :func:`driver_threads` gives, refused above ``DRIVER_MAX_RAW``.
    Logs one JSON record of its inputs, the branch and the threads."""
    threads = driver_threads(units, parallelism)
    on = raw_bytes <= DRIVER_MAX_RAW and driver_wins(
        kernel_s, units, parallelism, threads, fixed_s, local_s
    )
    if log.isEnabledFor(logging.INFO):
        log.info(json.dumps({
            "gate": gate, "raw_bytes": raw_bytes, "rows": rows, "units": units,
            "parallelism": parallelism, "driver_threads": threads,
            "kernel_s": round(kernel_s, 4), "fixed_s": round(fixed_s, 4),
            "local_s": round(local_s, 4), "branch": "driver" if on else "spark",
            "threads": threads if on else 0,
        }))
    return on


def driver_map(fn, items, threads: int):
    """``fn`` over ``items``, results in ``items`` order. With
    ``threads > 1`` one bounded pool of that many threads runs the
    calls (the codec kernels release the GIL); otherwise the calls run
    lazily in this thread and no pool starts."""
    if threads <= 1:
        yield from map(fn, items)
        return
    with ThreadPoolExecutor(max_workers=threads) as pool:
        yield from pool.map(fn, items)
