"""64-bit hierarchical block key — the QUADBIN analog for webtext.

The reference keys raster blocks with QUADBIN: a 64-bit cell id holding a
header, a 5-bit resolution, a Morton interleave of (x, y) tile coords and
a trailing-ones footer (/root/reference/src/include/quadbin.hpp:17-60).
Its engine exploits three properties: O(1) point->key, prefix-hierarchical
parents/children, and Morton-range scannability (block BETWEEN lo AND hi
plus exact membership, /root/reference/src/raquet_extension.cpp:61-64).

We rebuild the same key algebra over webtext coordinates:

    x = top 26 bits of xxhash64(url)            (uniform spread)
    y = warc_ts epoch-seconds // bucket_seconds  (26-bit time bucket)

Layout (bit 63 is zero so keys are positive Spark LongType and order
correctly; ``block = 0`` is reserved for the manifest row exactly like the
reference's metadata row)::

    bit 63    : 0
    bit 62    : 1   (header — distinguishes real cells from block=0)
    bits 57-61: 0
    bits 52-56: resolution r in [0, 26]
    bits 0-51 : Morton26(y, x) — y (time) bits at the ODD (higher)
                positions so ordering is time-major; bits below the top
                2r are all-ones footer (quadbin's trailing-ones trick)

Everything exists twice: vectorized numpy kernels (used inside encode
UDFs and driver-side) and Spark Column expressions (pure JVM bit math —
no UDF; mirrors quadbin_resolution etc. being pure uint64 arithmetic).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from .xxh64 import to_unsigned64, xxh64_str

HEADER = 1 << 62
RES_SHIFT = 52
RES_MASK = 0x1F
MAX_RES = 26
MORTON_MASK = (1 << 52) - 1
COORD_BITS = 26
COORD_MAX = (1 << COORD_BITS) - 1
HASH_SHIFT = 64 - COORD_BITS  # top 26 bits of xxhash64(url)
DEFAULT_BUCKET_SECONDS = 86400  # one day per time bucket
MANIFEST_BLOCK = 0
# Default raw bytes per cell. The reference's block is a 256x256 raster
# tile of at most 512 KB; a webtext row is 1-2 KB raw, so taking its
# 65,536 pixels as rows made 86-140 MB blocks, each decoded and
# re-encoded as one serial task. A 4 MiB ceiling lands every cell in
# (1, 4] MiB, around the ~2 MB blocks whose ratio bench.py validates;
# smaller cells pay more parquet footers and drop more payloads under
# selector.BZ2_MIN_BYTES.
TARGET_CELL_BYTES = 4 << 20

_SPREAD = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]

_U64 = np.uint64


# ---------------------------------------------------------------- numpy ----


def _as_u64(v) -> np.ndarray:
    return np.asarray(v, dtype=_U64)


def spread26(v) -> np.ndarray:
    """Insert a zero bit above each of the low 26 bits (Morton spread)."""
    v = _as_u64(v) & _U64(COORD_MAX)
    for sh, mask in _SPREAD:
        v = (v | (v << _U64(sh))) & _U64(mask)
    return v


def compact26(v) -> np.ndarray:
    """Inverse of :func:`spread26` — gather every second bit."""
    v = _as_u64(v) & _U64(0x5555555555555555)
    v = (v | (v >> _U64(1))) & _U64(0x3333333333333333)
    v = (v | (v >> _U64(2))) & _U64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> _U64(4))) & _U64(0x00FF00FF00FF00FF)
    v = (v | (v >> _U64(8))) & _U64(0x0000FFFF0000FFFF)
    v = (v | (v >> _U64(16))) & _U64(0x00000000FFFFFFFF)
    return v


def footer(res: int) -> int:
    return (1 << (52 - 2 * res)) - 1


def key_from_parts(x, y, res: int) -> np.ndarray:
    """Cell key for 26-bit coords (x=url-hash prefix, y=ts bucket) at res."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution {res} out of [0, {MAX_RES}]")
    fm = (spread26(y) << _U64(1)) | spread26(x)
    foot = footer(res)
    mask = _U64(MORTON_MASK ^ foot)
    return _U64(HEADER | (res << RES_SHIFT)) | (fm & mask) | _U64(foot)


def key_resolution(key) -> np.ndarray:
    return (_as_u64(key) >> _U64(RES_SHIFT)) & _U64(RES_MASK)


def key_x(key) -> np.ndarray:
    """26-bit x coordinate (url-hash prefix); bits below res are footer."""
    return compact26(_as_u64(key) & _U64(MORTON_MASK))


def key_y(key) -> np.ndarray:
    """26-bit y coordinate (time bucket); bits below res are footer."""
    return compact26((_as_u64(key) & _U64(MORTON_MASK)) >> _U64(1))


def key_parent(key, res: int | None = None) -> np.ndarray:
    """Re-key at a coarser resolution (quadbin_to_parent analog)."""
    key = _as_u64(key)
    r = int(key_resolution(key if key.ndim == 0 else key.flat[0]))
    new_r = r - 1 if res is None else res
    if new_r < 0 or new_r > r:
        raise ValueError(f"parent resolution {new_r} invalid for res {r}")
    fm = key & _U64(MORTON_MASK)
    foot = footer(new_r)
    return (
        _U64(HEADER | (new_r << RES_SHIFT))
        | (fm & _U64(MORTON_MASK ^ foot))
        | _U64(foot)
    )


def key_children(key: int) -> list[int]:
    """The four child cells one resolution finer (quadbin_to_children)."""
    key = int(key)
    r = int(key_resolution(key))
    if r >= MAX_RES:
        raise ValueError(f"no children below resolution {MAX_RES}")
    new_r = r + 1
    foot_new = footer(new_r)
    base = (key & MORTON_MASK) & (MORTON_MASK ^ footer(r))
    pair_shift = 52 - 2 * new_r
    out = []
    for q in range(4):
        fm = base | (q << pair_shift)
        out.append(HEADER | (new_r << RES_SHIFT) | fm | foot_new)
    return out


def key_siblings(key: int) -> list[int]:
    """The four cells sharing this cell's parent, self included
    (quadbin_sibling analog, /root/reference/src/include/quadbin.hpp:270-284)."""
    key = int(key)
    r = int(key_resolution(key))
    if r == 0:
        return [key]
    return key_children(int(key_parent(key)))


def key_kring(key: int, k: int = 1) -> list[int]:
    """Cells within Chebyshev distance k in (x, y) cell space — the
    quadbin_kring analog (/root/reference/src/include/quadbin.hpp:242-267):
    adjacent time buckets x adjacent hash slices, clamped at the borders.
    Sorted, self included."""
    key = int(key)
    r = int(key_resolution(key))
    shift = COORD_BITS - r
    xr = int(key_x(key)) >> shift
    yr = int(key_y(key)) >> shift
    n = 1 << r
    out = set()
    for dy in range(-k, k + 1):
        for dx in range(-k, k + 1):
            nx, ny = xr + dx, yr + dy
            if 0 <= nx < n and 0 <= ny < n:
                out.add(
                    int(
                        key_from_parts(
                            np.uint64(nx << shift), np.uint64(ny << shift), r
                        )
                    )
                )
    return sorted(out)


def hash_x_from_url(url: str) -> int:
    """Driver-side O(1) url -> x coordinate (Spark xxhash64 parity)."""
    return to_unsigned64(xxh64_str(url)) >> HASH_SHIFT


def ts_params(
    ts_min_epoch: int,
    ts_max_epoch: int,
    res: int,
    bucket_seconds: int = DEFAULT_BUCKET_SECONDS,
) -> tuple[int, int]:
    """(ts_origin, effective bucket) so the table's time span fills the
    2^res time cells.

    Absolute epoch buckets would leave the y coordinate's high bits
    constant for any real crawl window (all of 2024 is day ~19.7k-20.1k
    of the 2^26-day space), collapsing every row into one time cell —
    no time pruning and a parallelism cliff. Anchoring at the table's
    own origin and widening the bucket until ``span / bucket <= 2^res``
    makes time cells meaningful at every scale; both parameters live in
    the manifest, so readers reconstruct the identical mapping (the
    reference's metadata-driven tiling, raquet_metadata.hpp tiling
    block: scheme/zoom bounds are manifest state there too)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution {res} out of [0, {MAX_RES}]")
    origin = (ts_min_epoch // bucket_seconds) * bucket_seconds
    span = max(0, ts_max_epoch - origin) + 1
    n_cells = 1 << res
    bucket = bucket_seconds
    need = -(-span // n_cells)  # ceil
    if need > bucket:
        bucket = -(-need // bucket_seconds) * bucket_seconds
    return origin, bucket


def y_from_epoch(
    epoch_seconds,
    res: int,
    bucket_seconds: int = DEFAULT_BUCKET_SECONDS,
    ts_origin: int = 0,
):
    """Epoch -> 26-bit y coordinate: time-cell index (clipped to the
    2^res cells) shifted into the coordinate's high bits."""
    e = np.asarray(epoch_seconds, dtype=np.int64)
    cell = np.clip((e - ts_origin) // bucket_seconds, 0, (1 << res) - 1)
    return (cell.astype(_U64)) << _U64(COORD_BITS - res)


def key_for_point(
    url: str,
    epoch_seconds: int | None,
    res: int,
    bucket_seconds: int = DEFAULT_BUCKET_SECONDS,
    ts_origin: int = 0,
) -> int:
    """O(1) point->key for a single lookup (lonlat_to_cell analog)."""
    x = hash_x_from_url(url)
    y = (
        0
        if epoch_seconds is None
        else int(y_from_epoch(epoch_seconds, res, bucket_seconds, ts_origin))
    )
    return int(key_from_parts(x, y, res))


def keys_from_arrays(
    hashes_u64: np.ndarray,
    epoch_seconds: np.ndarray,
    res: int,
    bucket_seconds: int = DEFAULT_BUCKET_SECONDS,
    ts_origin: int = 0,
) -> np.ndarray:
    x = _as_u64(hashes_u64) >> _U64(HASH_SHIFT)
    y = y_from_epoch(epoch_seconds, res, bucket_seconds, ts_origin)
    return key_from_parts(x, y, res)


def hash_cell_span(x26: int, res: int) -> tuple[int, int, int]:
    """``(cell, lo, hi)`` for a url-hash x coordinate at ``res``: the
    hash cell ``x26 >> (26 - res)`` and the Morton BETWEEN envelope
    ``[lo, hi]`` holding every key of that cell (one per time cell)."""
    shift = COORD_BITS - res
    xr = int(x26) >> shift
    lo = int(key_from_parts(_U64(xr << shift), _U64(0), res))
    hi = int(key_from_parts(_U64(xr << shift), _U64(COORD_MAX), res))
    return xr, lo, hi


def ts_cell_span(
    lo_epoch: int | None,
    hi_epoch: int | None,
    res: int,
    bucket_seconds: int = DEFAULT_BUCKET_SECONDS,
    ts_origin: int = 0,
) -> tuple[int, int, int, int]:
    """``(ylr, yhr, lo, hi)`` for an inclusive epoch-second range at
    ``res``: the clipped time cells it touches and the Morton BETWEEN
    envelope ``[lo, hi]`` holding every key of those cells. ``None``
    leaves that side open."""
    shift = COORD_BITS - res
    max_cell = (1 << res) - 1

    def cell(e, open_cell):
        if e is None:
            return open_cell
        return min(max(0, (int(e) - ts_origin) // bucket_seconds), max_cell)

    ylr, yhr = cell(lo_epoch, 0), cell(hi_epoch, max_cell)
    lo = int(key_from_parts(_U64(0), _U64(ylr << shift), res))
    hi = int(key_from_parts(_U64(COORD_MAX), _U64(yhr << shift), res))
    return ylr, yhr, lo, hi


def cover_keys_for_ts_range(
    ylr: int, yhr: int, res: int, x_prefix: tuple[int, int] | None = None
) -> list[int]:
    """Cover set of cells at ``res`` for a time-cell range (POLYFILL analog).

    ``ylr``/``yhr`` are inclusive time-cell indices at ``res`` (from
    ``(epoch - ts_origin) // bucket_seconds``). ``x_prefix`` optionally
    restricts the hash dimension to [lo, hi] cell coords (prefix scans);
    default spans all hash cells. Mirrors QUADBIN_POLYFILL producing an
    explicit cell list for BETWEEN+isin pruning
    (/root/reference/src/quadbin/quadbin_polyfill.cpp).
    """
    shift = COORD_BITS - res
    ylr, yhr = max(0, ylr), min((1 << res) - 1, yhr)
    if x_prefix is None:
        xlr, xhr = 0, (1 << res) - 1
    else:
        xlr, xhr = x_prefix
    ys = np.arange(ylr, yhr + 1, dtype=np.uint64)
    xs = np.arange(xlr, xhr + 1, dtype=np.uint64)
    yy, xx = np.meshgrid(ys, xs, indexing="ij")
    keys = key_from_parts(xx.ravel() << _U64(shift), yy.ravel() << _U64(shift), res)
    return sorted(int(k) for k in keys)


# ---------------------------------------------------------------- Spark ----


def _spread26_col(c: Column) -> Column:
    c = c.bitwiseAND(F.lit(COORD_MAX))
    for sh, mask in _SPREAD:
        c = (c.bitwiseOR(F.shiftleft(c, sh))).bitwiseAND(F.lit(mask))
    return c


def _compact26_col(c: Column) -> Column:
    c = c.bitwiseAND(F.lit(0x5555555555555555))
    c = c.bitwiseOR(F.shiftrightunsigned(c, 1)).bitwiseAND(F.lit(0x3333333333333333))
    c = c.bitwiseOR(F.shiftrightunsigned(c, 2)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    c = c.bitwiseOR(F.shiftrightunsigned(c, 4)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    c = c.bitwiseOR(F.shiftrightunsigned(c, 8)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    c = c.bitwiseOR(F.shiftrightunsigned(c, 16)).bitwiseAND(F.lit(0x00000000FFFFFFFF))
    return c


def x_col_from_url(url: Column) -> Column:
    """url -> 26-bit hash coordinate, all JVM-side (xxhash64 + bit ops)."""
    return F.shiftrightunsigned(F.xxhash64(url), HASH_SHIFT)


def y_col_from_ts(
    ts: Column,
    res: int,
    bucket_seconds: int = DEFAULT_BUCKET_SECONDS,
    ts_origin: int = 0,
) -> Column:
    """ts -> 26-bit y coordinate (time-cell index in the high bits),
    numpy twin: :func:`y_from_epoch`."""
    secs = F.coalesce(F.unix_timestamp(ts), F.lit(ts_origin))
    cell = F.floor((secs - F.lit(ts_origin)) / F.lit(bucket_seconds)).cast("long")
    cell = F.greatest(F.lit(0), F.least(F.lit((1 << res) - 1), cell))
    return F.shiftleft(cell, COORD_BITS - res)


def key_col(
    url: Column,
    ts: Column | None,
    res: int,
    bucket_seconds: int = DEFAULT_BUCKET_SECONDS,
    ts_origin: int = 0,
) -> Column:
    """Block-key Column — pure Catalyst bit arithmetic, no UDF.

    Mirrors quadbin_from_lonlat being registered as plain uint64 math
    (/root/reference/src/quadbin/quadbin_functions.cpp:340-351).
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution {res} out of [0, {MAX_RES}]")
    x = x_col_from_url(url)
    y = y_col_from_ts(ts, res, bucket_seconds, ts_origin) if ts is not None else F.lit(0)
    fm = F.shiftleft(_spread26_col(y), 1).bitwiseOR(_spread26_col(x))
    foot = footer(res)
    header_res = HEADER | (res << RES_SHIFT)
    return (
        fm.bitwiseAND(F.lit(MORTON_MASK ^ foot))
        .bitwiseOR(F.lit(header_res | foot))
        .alias("block")
    )


def resolution_col(block: Column) -> Column:
    """(block >> 52) & 31 — quadbin_resolution analog, pure Column expr."""
    return F.shiftrightunsigned(block, RES_SHIFT).bitwiseAND(F.lit(RES_MASK))


def ts_bucket_col(block: Column, res: int) -> Column:
    """Extract the y (ts-bucket) cell coordinate from a key — no UDF.

    Enables sargable time-range scans at any scale without materializing
    a cover list: ``ts_bucket_col(block, r).between(lo >> s, hi >> s)``.
    """
    y = _compact26_col(F.shiftrightunsigned(block.bitwiseAND(F.lit(MORTON_MASK)), 1))
    return F.shiftrightunsigned(y, COORD_BITS - res)


def hash_cell_col(block: Column, res: int) -> Column:
    x = _compact26_col(block.bitwiseAND(F.lit(MORTON_MASK)))
    return F.shiftrightunsigned(x, COORD_BITS - res)


def chunk_col(x: Column, y: Column, res: int, n: int) -> Column:
    """Chunk id in ``[0, n)`` of the res-``res`` cell holding the 26-bit
    coordinates ``x``/``y`` (:func:`x_col_from_url`,
    :func:`y_col_from_ts`, as :func:`key_col` takes them): the 4^res
    cells in url-hash-major order (hash cell, then time cell), cut into
    ``n`` contiguous ranges of equal width. Every salt of a block lands
    in its chunk. With ``n <= 2^res`` every range spans at least 2^res
    cells, so it meets each time cell in some hash cell; url hashing
    fills every hash cell, so no chunk is left empty.

    Not Morton order: the Morton index's top bit is the time bit, so a
    table without a time column, or inside one time cell, would leave
    every upper chunk empty."""
    if n << (2 * res) >= 1 << 63:
        raise ValueError(f"{n} chunks at resolution {res} overflow a long")
    shift = COORD_BITS - res
    cell = F.shiftleft(F.shiftrightunsigned(x, shift), res).bitwiseOR(
        F.shiftrightunsigned(y, shift)
    )
    return F.shiftrightunsigned(cell * F.lit(n), 2 * res).cast("int")


def chunk_of_keys(keys, res: int, n: int) -> np.ndarray:
    """Numpy twin of :func:`chunk_col` on block keys: a key holds its
    cell's top ``res`` bits of x and y, which are all the chunk rule
    reads, so every row and salt of a block gets the block's chunk."""
    if n << (2 * res) >= 1 << 63:
        raise ValueError(f"{n} chunks at resolution {res} overflow a long")
    shift = _U64(COORD_BITS - res)
    cell = ((key_x(keys) >> shift) << _U64(res)) | (key_y(keys) >> shift)
    return ((cell * _U64(n)) >> _U64(2 * res)).astype(np.int32)


def _key_from_cells_col(xcell: Column, ycell: Column, res: int) -> Column:
    """Key from (x, y) CELL indices at ``res`` — Column twin of
    key_from_parts on shifted coords."""
    shift = COORD_BITS - res
    x = F.shiftleft(xcell, shift)
    y = F.shiftleft(ycell, shift)
    fm = F.shiftleft(_spread26_col(y), 1).bitwiseOR(_spread26_col(x))
    foot = footer(res)
    return fm.bitwiseAND(F.lit(MORTON_MASK ^ foot)).bitwiseOR(
        F.lit(HEADER | (res << RES_SHIFT) | foot)
    )


def children_col(block: Column, res: int) -> Column:
    """Array of the four child keys one resolution finer —
    quadbin_to_children as a vectorized Column expression (the reference
    registers it as a SQL function,
    /root/reference/src/quadbin/quadbin_functions.cpp:618-708). ``res``
    is the resolution of the input keys (compile-time, like the other
    ``*_col`` helpers — engine tables are single-resolution)."""
    if not 0 <= res < MAX_RES:
        raise ValueError(f"no children below resolution {MAX_RES}")
    new_r = res + 1
    pair_shift = 52 - 2 * new_r
    base = block.bitwiseAND(F.lit(MORTON_MASK)).bitwiseAND(
        F.lit(MORTON_MASK ^ footer(res))
    )
    header_foot = HEADER | (new_r << RES_SHIFT) | footer(new_r)
    return F.array(
        *[
            base.bitwiseOR(F.lit((q << pair_shift) | header_foot))
            for q in range(4)
        ]
    )


def kring_col(block: Column, res: int, k: int = 1) -> Column:
    """Array of same-resolution keys within Chebyshev distance ``k`` in
    (x, y) cell space, border-clamped, sorted, self included —
    quadbin_kring as a Column expression (ref
    quadbin_functions.cpp:711-819). Enables in-plan neighborhood
    expansion: ``explode(kring_col(block, r))`` then join/isin, no
    driver round-trip. (2k+1)^2 candidate exprs; out-of-range neighbors
    become NULL and are compacted away."""
    xr = hash_cell_col(block, res).cast("long")
    yr = ts_bucket_col(block, res).cast("long")
    n = 1 << res
    # one transform() lambda instead of (2k+1)^2 inlined when() entries:
    # the spread/compact bit-twiddle trees appear ONCE in the plan and
    # are re-evaluated per array element at runtime, so plan size (and
    # Catalyst analysis time, ~1.6 s/k-ring the old way) stays O(1) in k
    deltas = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dy in range(-k, k + 1)
            for dx in range(-k, k + 1)
        ]
    )

    def neighbor(d: Column) -> Column:
        nx = xr + d["dx"]
        ny = yr + d["dy"]
        ok = (nx >= 0) & (nx < n) & (ny >= 0) & (ny < n)
        return F.when(ok, _key_from_cells_col(nx, ny, res))

    return F.array_sort(
        F.array_distinct(F.array_compact(F.transform(deltas, neighbor)))
    )


def choose_resolution(amount: int, per_cell: int = TARGET_CELL_BYTES) -> int:
    """The smallest resolution at which ``amount / 4^res <= per_cell``
    (2 bits per res step), capped at ``MAX_RES``.

    By default ``amount`` is the input's raw bytes and each cell holds
    at most ``TARGET_CELL_BYTES``; pass a row count and a rows-per-cell
    target for row semantics. At 10^12 documents and 64K rows per cell
    this lands at res 12 (~16.8M cells); the 26-res ceiling leaves
    headroom for 10^15+ rows.
    """
    res = 0
    while res < MAX_RES and amount > per_cell << (2 * res):
        res += 1
    return res
