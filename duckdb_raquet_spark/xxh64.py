"""Pure-Python XXH64, compatible with Spark SQL's ``xxhash64()``.

Spark's ``F.xxhash64(col)`` hashes a string column's UTF-8 bytes with the
public XXH64 algorithm (Yann Collet, BSD) at seed 42. We need the same
value driver-side so a point lookup can compute its block key without a
Spark job (the reference computes its QUADBIN key O(1) on the query
thread — /root/reference/src/include/quadbin.hpp:118-122).

Per row it runs only in the in-process encoder (``encode.row_keys``),
which writes chunks small enough that Python hashing is a small share
of the encode; bulk hashing runs JVM-side via ``F.xxhash64``.
``tests/test_blockkey.py`` and ``tests/test_write_gate.py`` assert
parity with Spark's output.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M64
    acc = _rotl(acc, 31)
    return (acc * _P1) & _M64


def _merge_round(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` — returns the unsigned 64-bit digest."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        h ^= _round(0, k)
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def xxh64_str(s: str, seed: int = 42) -> int:
    """Unsigned XXH64 of a Python string's UTF-8 bytes (Spark parity)."""
    return xxh64(s.encode("utf-8"), seed)


def to_signed64(u: int) -> int:
    """Unsigned 64-bit -> Java/Spark signed long."""
    return u - (1 << 64) if u >= (1 << 63) else u


def to_unsigned64(s: int) -> int:
    return s & _M64
