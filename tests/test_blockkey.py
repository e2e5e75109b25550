"""Block-key algebra tests — mirror of the reference quadbin suite
(/root/reference/test/sql/quadbin.test: known-cell goldens, encode∘decode
round trips, parent/children/kring identities)."""

import datetime

import numpy as np
import pytest

from duckdb_raquet_spark import blockkey as bk
from duckdb_raquet_spark.xxh64 import to_signed64, xxh64, xxh64_str


def test_xxh64_reference_vectors():
    # public XXH64 test vectors (seed 0) + our seed-42 goldens
    assert xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert xxh64(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc", 0) == 0x44BC2CF5AD770999
    # golden at Spark's seed (42) — locks driver/executor parity
    assert xxh64(b"hello", 42) == 0xC3629E6318D53932


def test_key_round_trip_coords():
    rng = np.random.default_rng(42)
    x = rng.integers(0, 1 << 26, 500).astype(np.uint64)
    y = rng.integers(0, 1 << 26, 500).astype(np.uint64)
    for r in (0, 1, 7, 13, 26):
        k = bk.key_from_parts(x, y, r)
        assert (bk.key_resolution(k) == r).all()
        sh = np.uint64(26 - r)
        assert np.array_equal(bk.key_x(k) >> sh, x >> sh)
        assert np.array_equal(bk.key_y(k) >> sh, y >> sh)
        # positive signed longs, never the manifest block
        assert (k.astype(np.int64) > 0).all()


def test_key_time_bit_dominates_within_level():
    # y (time) sits at the higher bit of each Morton pair: at equal bit
    # level the time coordinate dominates ordering (any x cannot outrank
    # a set top y bit)
    r = 10
    k_early = int(bk.key_from_parts(np.uint64((1 << 26) - 1), np.uint64(100), r))
    k_late = int(bk.key_from_parts(np.uint64(0), np.uint64(1 << 25), r))
    assert k_early < k_late


def test_parent_children_identities():
    k = int(bk.key_from_parts(np.uint64(0x2AAAAAA), np.uint64(0x1555555), 12))
    p = int(bk.key_parent(k))
    assert int(bk.key_resolution(p)) == 11
    ch = bk.key_children(p)
    assert len(set(ch)) == 4
    assert k in ch
    for c in ch:
        assert int(bk.key_parent(c)) == p
    # grandparent via explicit resolution
    g = int(bk.key_parent(k, 5))
    assert int(bk.key_resolution(g)) == 5


def test_cover_keys_contain_point_and_bound_range():
    res = 6
    cov = bk.cover_keys_for_ts_range(10, 20, res)  # time cells 10..20
    assert cov == sorted(cov)
    assert len(cov) == 11 * (1 << res)  # 11 time cells x all hash cells
    pk = bk.key_for_point("https://x.example/a", 15 * bk.DEFAULT_BUCKET_SECONDS, res)
    assert pk in cov
    outside = bk.key_for_point(
        "https://x.example/a", 30 * bk.DEFAULT_BUCKET_SECONDS, res
    )
    assert outside not in cov


def test_ts_params_fill_cell_space():
    # one year of 2024 at res 5: 32 cells, ~12-day effective buckets
    lo = 1704067200
    hi = lo + 365 * 86400 - 1
    origin, bucket = bk.ts_params(lo, hi, 5)
    assert origin == (lo // 86400) * 86400
    assert bucket % 86400 == 0
    n_cells = -(-(hi - origin + 1) // bucket)
    assert n_cells <= 32
    assert bucket <= 12 * 86400
    # cells actually spread: first and last day land in different cells
    y_lo = int(bk.y_from_epoch(lo, 5, bucket, origin))
    y_hi = int(bk.y_from_epoch(hi, 5, bucket, origin))
    assert y_lo != y_hi
    # narrow span keeps the requested bucket
    origin2, bucket2 = bk.ts_params(lo, lo + 3 * 86400, 5)
    assert bucket2 == bk.DEFAULT_BUCKET_SECONDS


def test_choose_resolution_scales():
    assert bk.choose_resolution(1_000) == 0
    r1 = bk.choose_resolution(10**12, 65536)
    assert 0 < r1 <= 26
    # 10^12 docs at 64K/block needs ~16M cells -> res 12
    assert r1 == 12
    assert bk.choose_resolution(65537, 65536) == 1
    assert bk.choose_resolution(10**30) == bk.MAX_RES


@pytest.mark.spark
def test_spark_column_parity(spark):
    from pyspark.sql import functions as F

    urls = ["", "a", "https://example.com/x?q=1", "ünïcødé ✓ 中文", "z" * 99]
    rows = [
        (u, datetime.datetime(2024, 3, 1 + i, 6, 30)) for i, u in enumerate(urls)
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp")
    got_hash = [r[0] for r in df.select(F.xxhash64("url")).collect()]
    assert got_hash == [to_signed64(xxh64_str(u)) for u in urls]

    res = 11
    origin = 1704067200  # 2024-01-01, mirrors a real table's ts_origin
    kc = bk.key_col(F.col("url"), F.col("warc_ts"), res, ts_origin=origin)
    got = [r[0] for r in df.select(kc).collect()]
    want = []
    for u, ts in rows:
        es = int(ts.replace(tzinfo=datetime.timezone.utc).timestamp())
        want.append(bk.key_for_point(u, es, res, ts_origin=origin))
    assert got == want

    sel = df.select(
        bk.resolution_col(kc).alias("r"), bk.ts_bucket_col(kc, res).alias("yb")
    ).collect()
    assert all(row["r"] == res for row in sel)
    for (u, ts), row in zip(rows, sel):
        es = int(ts.replace(tzinfo=datetime.timezone.utc).timestamp())
        cell = min((es - origin) // bk.DEFAULT_BUCKET_SECONDS, (1 << res) - 1)
        assert row["yb"] == cell
