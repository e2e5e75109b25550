"""Default block geometry: cells sized by raw bytes, both sides of the gate.

A default encode picks the smallest resolution with at most
``blockkey.TARGET_CELL_BYTES`` (4 MiB) of raw bytes per cell, from the
raw-byte total of its one bind-time stats job. An explicit
``target_rows_per_block`` keeps row semantics and the payload bytes
row-sized encodes always had. ``chunks=n`` cuts the cells into ``n``
contiguous ranges, so no chunk is left empty while there are at least
``n`` hash cells."""

from __future__ import annotations

import datetime
import glob
import hashlib
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_raquet_spark import blockkey as bk
from duckdb_raquet_spark import encode, reader, scan, synth
from duckdb_raquet_spark import manifest as mf

MIB = 1 << 20
ROW_BYTES = 4096  # raw bytes per row: url + 8-byte warc_ts + text
N_ROWS = bk.TARGET_CELL_BYTES // ROW_BYTES
T0 = datetime.datetime(2024, 3, 1)


@pytest.mark.parametrize("r", [0, 1, 2, 5])
def test_choose_resolution_byte_boundary(r):
    at = 4 * MIB * 4**r
    assert bk.choose_resolution(at - 1) == r
    assert bk.choose_resolution(at) == r
    assert bk.choose_resolution(at + 1) == r + 1


def _frame(spark, extra: int = 0, days: int = 30):
    """``N_ROWS`` rows of exactly ``ROW_BYTES`` raw bytes (4 MiB in
    all), plus ``extra`` bytes on the first row's text; timestamps
    spread over ``days`` days."""
    rng = np.random.default_rng(7)
    words = np.array(["alpha", "beta", "gamma", "delta", "kappa", "sigma"])
    urls, ts, texts = [], [], []
    for i in range(N_ROWS):
        url = f"https://example.com/p/{i:06d}"
        body = " ".join(rng.choice(words, 900))
        n = ROW_BYTES - 8 - len(url) + (extra if i == 0 else 0)
        urls.append(url)
        ts.append(T0 + datetime.timedelta(seconds=int(rng.integers(days * 86_400))))
        texts.append((body * 2)[:n])
    tbl = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us")),
            "text": pa.array(texts, pa.string()),
        }
    )
    return spark.createDataFrame(tbl.to_pandas()).repartition(4)


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _chunk_rows(path: str) -> dict[int, int]:
    out = {}
    for d in glob.glob(os.path.join(path, "data", "chunk=*")):
        k = int(d.rsplit("=", 1)[1])
        if k >= 0:
            files = glob.glob(os.path.join(d, "*.parquet"))
            out[k] = sum(pq.read_metadata(f).num_rows for f in files)
    return out


@pytest.mark.spark
@pytest.mark.parametrize("extra,res", [(0, 0), (1, 1)])
def test_default_encode_either_side_of_4mib(spark, tmp_path, extra, res):
    df = _frame(spark, extra)
    rows, raw, _ = encode.bind_stats(df)
    assert (rows, raw) == (N_ROWS, bk.TARGET_CELL_BYTES + extra)
    path = str(tmp_path / "t")
    man = encode.encode_to_path(spark, df, path, effort="fast")
    assert man["key"]["resolution"] == res
    assert man["num_blocks"] == 4**res
    # the bind-time estimate is the figure the encoder records
    assert man["raw_bytes"] == raw
    assert _rows(scan.read_rows(spark, path)) == _rows(df)


@pytest.mark.spark
@pytest.mark.parametrize("raw_mib,n_salt", [(16, 1), (17, 2), (33, 3)])
def test_salt_cap_is_16mib_raw_per_group(spark, raw_mib, n_salt):
    # one cell (resolution 0): the byte rule's rows figure is the rows
    # of 4 MiB raw, and a group is salted past 4x that (16 MiB)
    df = _frame(spark)
    _, man = encode.encode_table(
        df, resolution=0, est_rows=N_ROWS, est_raw_bytes=raw_mib * MIB,
        ts_range=(0, 0),
    )
    assert man["key"]["n_salt"] == n_salt


@pytest.mark.spark
@pytest.mark.parametrize("days", [30, 1])
def test_chunks_split_leaves_no_chunk_empty(spark, tmp_path, days):
    # one day is one time cell: a Morton-order split would leave every
    # upper chunk empty, the url-hash-major split does not
    df = _frame(spark, 1, days)
    path = str(tmp_path / "t")
    man = encode.encode_to_path(spark, df, path, chunks=2, effort="fast")
    assert man["key"]["resolution"] == 1
    per_chunk = _chunk_rows(path)
    assert sorted(per_chunk) == [0, 1]
    assert all(n > 0 for n in per_chunk.values()), per_chunk
    assert _rows(scan.read_rows(spark, path)) == _rows(df)


@pytest.mark.spark
def test_url_lookup_selects_one_block_row(spark, tmp_path):
    df = _frame(spark, 1, days=1)
    path = str(tmp_path / "t")
    man = encode.encode_to_path(spark, df, path, effort="fast")
    assert man["key"]["resolution"] == 1 and man["num_blocks"] == 2
    files = reader.visible_files(path, mf.current_snapshot(path, spark))
    url = "https://example.com/p/000123"
    env = reader.Envelope(man)
    env.url(url)
    sels = reader.select_block_rows(files, man, env)
    assert sum(s.n_blocks for s in sels) == 1
    assert 0 < sum(s.raw_bytes for s in sels) <= bk.TARGET_CELL_BYTES
    got = scan.point_lookup(spark, path, url, cols=["url"]).collect()
    assert [r.url for r in got] == [url]


def _payload_digest(path: str) -> str:
    """sha256 over every data block row's (block, salt, payloads), in
    (block, salt) order; the chunk a row landed in does not count."""
    rows = []
    for f in glob.glob(os.path.join(path, "data", "chunk=*", "*.parquet")):
        t = pq.read_table(f)
        blobs = sorted(c for c in t.column_names if c.endswith("_blob"))
        for r in t.select(["block", "salt"] + blobs).to_pylist():
            if r["block"] != bk.MANIFEST_BLOCK:
                rows.append(
                    (r["block"], r["salt"], [r[b] or b"" for b in blobs])
                )
    h = hashlib.sha256()
    for block, salt, payloads in sorted(rows):
        h.update(f"{block}/{salt}".encode())
        for p in payloads:
            h.update(hashlib.sha256(p).digest())
    return h.hexdigest()


# resolution, block rows and payload digest of this encode as the
# row-count geometry (65,536 rows per cell by default) wrote it, one
# chunk or two
ROW_TARGET_GOLDEN = (
    2, 16, "b892b06a22699ff0042430e902a97bb12d1c03d7e2266e2f2c0d5aab7ba847b5"
)


@pytest.mark.spark
@pytest.mark.parametrize("chunks", [1, 2])
def test_explicit_row_target_keeps_payloads(spark, tmp_path, chunks):
    df = synth.synth_webtext(spark, 600, num_partitions=4)
    path = str(tmp_path / "t")
    man = encode.encode_to_path(
        spark, df, path, chunks=chunks, target_rows_per_block=64, effort="fast"
    )
    got = (man["key"]["resolution"], man["num_blocks"], _payload_digest(path))
    assert got == ROW_TARGET_GOLDEN
