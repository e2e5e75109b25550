"""Both sides of the driver-side write gate give the same table.

``encode._write_on_driver`` sends a small ``append_chunk`` (and every
caller of it: stream micro-batches, ``upsert_rows``, staged appends)
and a small ``compact_chunks`` to the in-process encoder
(``encode.encode_rows``); larger writes stay a Spark plan. Each case
below runs once with the gate pinned on and once pinned off, on copies
of one table, and compares per-(chunk, block, salt) payload digests,
manifest totals, the codec histogram and the row multiset. The
in-process block keys are checked against ``blockkey.key_col`` row for
row, NULLs and clipped time cells included."""

from __future__ import annotations

import hashlib
import os
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from duckdb_raquet_spark import blockkey as bk
from duckdb_raquet_spark import encode, manifest as mf, placement, reader, scan, streaming

pytestmark = pytest.mark.spark

ORIGIN = 1704067200  # 2024-01-01 UTC


def _webtext(spark, lo: int, hi: int):
    """Rows ``doc_id`` in [lo, hi) of the sf0.001 documents with a
    unique url and a timestamp spread over ~2 weeks."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where(
        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
    )
    return docs.select(
        F.concat(
            F.lit("https://d"), (F.col("doc_id") % 17).cast("string"),
            F.lit(".example/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(ORIGIN) + F.col("doc_id") * 3607).alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )


def _pin(monkeypatch, on: bool) -> None:
    monkeypatch.setattr(encode, "_write_on_driver", lambda *a, **k: on)


def _state(spark, path: str) -> dict:
    """What must not depend on the branch: payload digests per
    (chunk, block, salt), manifest totals, codec histogram, rows."""
    snap = mf.current_snapshot(path, spark)
    digests = {}
    for chunk, f in reader.visible_files(path, snap):
        t = pq.read_table(f)
        blobs = [c for c in t.column_names if c.endswith("_blob")]
        for r in t.select(["block", "salt", "n_rows", *blobs]).to_pylist():
            h = hashlib.sha256(str(r["n_rows"]).encode())
            for b in blobs:
                h.update(b.encode() + (r[b] or b""))
            key = (chunk, r["block"], r["salt"])
            assert key not in digests, f"duplicate block row {key}"
            digests[key] = h.hexdigest()
    man = scan.read_manifest(spark, path)
    rows = Counter(
        tuple(r) for r in scan.read_rows(spark, path).collect()
    )
    return {
        "digests": digests,
        "totals": {k: man[k] for k in ("num_blocks", "num_rows", "raw_bytes", "enc_bytes")},
        "hist": man["codec_histogram"],
        "rows": rows,
    }


def _newest_writer(spark, path: str) -> str:
    k = max(mf.current_snapshot(path, spark)["chunks"])
    return mf.read_chunk_lineage(path, spark, chunks=[k])[k]["writer"]


def _both_sides(spark, tmp_path, monkeypatch, base: str, op) -> dict:
    """Run ``op(path)`` on a copy of ``base`` with the gate pinned on,
    then off; assert equal states and that each side took its branch."""
    states = {}
    for on in (True, False):
        path = str(tmp_path / f"driver-{on}")
        shutil.copytree(base, path)
        _pin(monkeypatch, on)
        op(path)
        assert _newest_writer(spark, path) == ("driver" if on else "spark")
        states[on] = _state(spark, path)
    assert states[True] == states[False]
    return states[True]


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """A default one-chunk encode, a ``chunks=2`` table with row-sized
    cells, the latter schema-evolved, and the latter with 3 appends; a
    table with a column group."""
    root = tmp_path_factory.mktemp("gate")
    out = {k: str(root / k) for k in ("one", "two", "evolved", "appended", "grouped")}
    encode.encode_to_path(spark, _webtext(spark, 0, 120), out["one"])
    encode.encode_to_path(
        spark, _webtext(spark, 0, 120), out["grouped"],
        target_rows_per_block=32, column_groups=[["text", "lang"]],
    )
    encode.encode_to_path(
        spark, _webtext(spark, 0, 160), out["two"], chunks=2,
        target_rows_per_block=24,
    )
    shutil.copytree(out["two"], out["evolved"])
    encode.evolve_add_column(spark, out["evolved"], "score", "bigint", default=9)
    encode.evolve_rename_column(spark, out["evolved"], "text", "body")
    shutil.copytree(out["two"], out["appended"])
    for lo in (300, 330, 360):
        encode.append_chunk(spark, _webtext(spark, lo, lo + 30), out["appended"])
    return out


@pytest.mark.parametrize("base,kwargs", [
    ("one", {}),
    ("two", {}),
    ("two", {"codec_overrides": {"text": "zstd", "lang": "dict"}}),
    ("two", {"effort": "fast"}),
])
def test_append_same_on_both_sides(spark, tmp_path, monkeypatch, bases, base, kwargs):
    delta = _webtext(spark, 200, 260)
    st = _both_sides(
        spark, tmp_path, monkeypatch, bases[base],
        lambda p: encode.append_chunk(spark, delta, p, **kwargs),
    )
    assert sum(st["rows"].values()) == st["totals"]["num_rows"]


def test_append_evolved_table(spark, tmp_path, monkeypatch, bases):
    delta = _webtext(spark, 200, 240).withColumnRenamed("text", "body")
    st = _both_sides(
        spark, tmp_path, monkeypatch, bases["evolved"],
        lambda p: encode.append_chunk(spark, delta, p),
    )
    man = mf.committed_manifest(str(tmp_path / "driver-True"), spark)[0]
    names = [c["name"] for c in man["columns"]]
    scores = Counter(r[names.index("score")] for r in st["rows"].elements())
    assert scores == Counter({9: 200})  # the default, on old and new rows


def test_append_keeps_column_groups(spark, tmp_path, monkeypatch, bases):
    """An appended chunk is encoded with the table's column groups, so
    the manifest keeps them and the older chunks' grouped payloads stay
    readable."""
    st = _both_sides(
        spark, tmp_path, monkeypatch, bases["grouped"],
        lambda p: encode.append_chunk(spark, _webtext(spark, 200, 230), p),
    )
    assert None not in {r[2] for r in st["rows"]}  # text
    man = scan.read_manifest(spark, str(tmp_path / "driver-True"))
    assert man["column_groups"] == {"text+lang": ["text", "lang"]}


def test_staged_append_then_publish(spark, tmp_path, monkeypatch, bases):
    delta = _webtext(spark, 200, 230)

    def op(p):
        rec = encode.append_chunk(spark, delta, p, staged=True)
        encode.publish_staged(spark, p, rec["token"])

    _both_sides(spark, tmp_path, monkeypatch, bases["two"], op)


def test_upsert_rows(spark, tmp_path, monkeypatch, bases):
    up = _webtext(spark, 100, 180).withColumn("lang", F.lit("xx"))
    st = _both_sides(
        spark, tmp_path, monkeypatch, bases["two"],
        lambda p: encode.upsert_rows(spark, up, p, "url"),
    )
    assert sum(n for r, n in st["rows"].items() if r[3] == "xx") == 80


def _v1_delete(spark, path: str, col: str, value) -> None:
    """A hand-written legacy v1 delete file and entry (one value
    column, constant seq)."""
    rel = "delete-v1-legacy"
    d = os.path.join(path, encode.DELETES_DIR, rel)
    os.makedirs(d)
    pq.write_table(pa.table({col: pa.array([value])}), os.path.join(d, "p.parquet"))
    man = dict(mf.read_sidecar(path, spark))
    cur = mf.current_snapshot(path, spark)
    man["delete_files"] = list(man.get("delete_files") or []) + [
        {"dir": f"{encode.DELETES_DIR}/{rel}", "col": col,
         "seq": max(cur["chunks"]), "n": 1}
    ]
    encode._commit(spark, path, man, chunks=cur["chunks"], op="delete", parent=cur)


@pytest.mark.parametrize("deletes", ["none", "v1", "v2"])
def test_compact_chunks(spark, tmp_path, monkeypatch, bases, deletes):
    def op(p):
        if deletes == "v2":
            encode.delete_rows(spark, p, "url", [
                f"https://d{i % 17}.example/{i}" for i in (5, 301, 302, 345)
            ])
        elif deletes == "v1":
            _v1_delete(spark, p, "lang", "en")
        chunks = mf.current_snapshot(spark=spark, path=p)["chunks"]
        encode.compact_chunks(spark, p, chunk_ids=[c for c in chunks if c >= 2])

    st = _both_sides(spark, tmp_path, monkeypatch, bases["appended"], op)
    got = {r[4] for r in st["rows"]}
    if deletes == "v2":
        assert not {5, 301, 302, 345} & got
    elif deletes == "v1":
        assert "en" not in {r[3] for r in st["rows"]}
    else:
        assert {5, 301, 345} <= got


def test_stream_batch_and_replay_across_branches(spark, tmp_path, monkeypatch, bases):
    """One micro-batch, then its replay (checkpoint commit lost) on the
    other branch: the chunk dir is cleared first, so neither order
    leaves a second file, and both orders give the same table."""
    src = str(tmp_path / "src")
    _webtext(spark, 200, 240).write.parquet(src)
    key = mf.committed_manifest(bases["two"], spark)[0]["key"]
    states = {}
    for first in (True, False):
        path = str(tmp_path / f"first-{first}")
        ckpt = str(tmp_path / f"ckpt-{first}")
        shutil.copytree(bases["two"], path)
        for on in (first, not first):
            _pin(monkeypatch, on)
            q = streaming.encode_stream(
                spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
                path, resolution=key["resolution"], ts_origin=key["ts_origin"],
                bucket_seconds=key["bucket_seconds"], checkpoint_dir=ckpt,
            )
            q.awaitTermination(300)
            assert _newest_writer(spark, path) == ("driver" if on else "spark")
            commits = os.path.join(ckpt, "commits")
            last = max(int(f) for f in os.listdir(commits) if f.isdigit())
            for f in (str(last), f".{last}.crc"):
                if os.path.exists(os.path.join(commits, f)):
                    os.remove(os.path.join(commits, f))
        k = max(mf.current_snapshot(path, spark)["chunks"])
        files = [
            f for f in os.listdir(os.path.join(path, "data", f"chunk={k}"))
            if f.endswith(".parquet")
        ]
        if first:  # the Spark replay replaced the driver's one file
            assert files and "part-00000.parquet" not in files
        else:  # the driver replay cleared the Spark files first
            assert files == ["part-00000.parquet"]
        states[first] = _state(spark, path)
        assert states[first]["totals"]["num_rows"] == 200
    assert states[True] == states[False]


def test_gate_bounds_the_collect(spark, tmp_path, monkeypatch, bases):
    """Above 16 MiB raw the gate never admits, whatever the rates. Below
    it, with as many driver threads as plan cores the kernel time
    cancels and the driver-only costs (keying, the collect) meet the
    plan's fixed cost. A driver with fewer cores than the plan loses
    once the kernel dominates: unpinned, a small append runs on the
    driver, and with one driver core and the encode rate pinned low the
    same delta runs as a Spark write."""
    cap = placement.DRIVER_MAX_RAW
    assert not encode._write_on_driver(cap + 1, 1000, 0, 4, "fast")
    assert encode._write_on_driver(cap, 1000, 0, 4, "max")
    assert encode._write_on_driver(cap, 1000, 1, 4, "max")
    # the driver's per-row keying counts against the plan's fixed cost
    assert encode._write_on_driver(0, 10_000, 3, 4, "max")
    assert not encode._write_on_driver(0, 100_000, 3, 4, "max")
    monkeypatch.setattr(placement, "driver_cores", lambda: 1)
    assert encode._write_on_driver(cap, 1000, 0, 4, "max")
    assert not encode._write_on_driver(cap, 1000, 1, 4, "max")
    delta = _webtext(spark, 200, 230)
    for slow, writer in ((False, "driver"), (True, "spark")):
        path = str(tmp_path / f"slow-{slow}")
        shutil.copytree(bases["two"], path)
        if slow:
            monkeypatch.setattr(placement, "R_ENC", {"max": 1.0, "fast": 1.0})
        encode.append_chunk(spark, delta, path)
        assert _newest_writer(spark, path) == writer


def test_row_keys_match_key_col(spark):
    """In-process keys equal ``blockkey.key_col`` over random urls and
    timestamps: NULL, empty and non-ASCII urls; NULL timestamps, ones
    before the origin (pre-1970 ones with fractional seconds too) and
    ones past the last time cell. The hash salt matches too."""
    rng = np.random.default_rng(7)
    n = 2000
    words = ["", "é", "中文字", "🎉", "a b", "https://x.example/", "Ünïcode"]
    urls = [
        None if i % 97 == 0 else
        words[i % len(words)] + str(rng.integers(0, 10**6)) * int(i % 3 != 0)
        for i in range(n)
    ]
    us = ORIGIN * 1_000_000 + rng.integers(-400, 400, n) * 86_400_000_000
    us = us + rng.integers(0, 1_000_000, n)
    us[::50] = rng.integers(-10**15, 0, len(us[::50]))  # before 1970
    ts = pa.array(us, type=pa.timestamp("us", tz="UTC"))
    ts = pa.array([None if i % 31 == 0 else v for i, v in enumerate(ts.to_pylist())],
                  type=pa.timestamp("us", tz="UTC"))
    tbl = pa.table({"i": pa.array(np.arange(n)), "url": pa.array(urls, pa.string()),
                    "warc_ts": ts})
    df = spark.createDataFrame(tbl)
    for res in (0, 1, 5):
        man = mf.build_manifest(
            columns=[], resolution=res, bucket_seconds=86400, ts_origin=ORIGIN,
            url_col="url", ts_col="warc_ts", n_salt=3,
        )
        want = [
            r[0] for r in df.orderBy("i").select(
                bk.key_col(F.col("url"), F.col("warc_ts"), res, 86400, ORIGIN)
            ).collect()
        ]
        assert encode.row_keys(tbl, man).tolist() == want
    salts = [
        r[0] for r in df.orderBy("i").select(
            F.pmod(F.xxhash64(F.col("url"), F.lit(7)), F.lit(3))
        ).collect()
    ]
    assert encode._hash_salts(urls, 3).tolist() == salts
