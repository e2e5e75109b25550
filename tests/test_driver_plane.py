"""The driver plane: whole-table encodes and reads in-process, on a
bounded pool.

``encode_to_path`` (one chunk and ``chunks=k``) and ``read_rows`` (at
any snapshot, ref or tag, with the in-process delete rule) take the
driver branch when their gate admits them (``encode._write_on_driver``,
``scan._read_on_driver``). Each case here runs with the gate pinned
both ways: encodes give equal per-``(chunk, block, salt)`` payload
digests and equal file counts per chunk, reads equal row multisets
under one schema. The pool never has more threads than
``defaultParallelism`` and a one-group encode starts none; each gate
logs one JSON record."""

from __future__ import annotations

import hashlib
import json
import logging
import os
import threading
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conftest import sf_dir
from duckdb_raquet_spark import encode, manifest as mf, placement, reader, scan

pytestmark = pytest.mark.spark

ORIGIN = 1704067200  # 2024-01-01 UTC


def _webtext(spark, lo: int, hi: int):
    """Rows ``doc_id`` in [lo, hi) of the sf0.001 documents with a
    unique url, a timestamp spread over ~3 weeks and an int column."""
    docs = spark.read.parquet(os.path.join(sf_dir(), "documents.parquet")).where(
        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
    )
    return docs.select(
        F.concat(
            F.lit("https://d"), (F.col("doc_id") % 13).cast("string"),
            F.lit(".example/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(ORIGIN) + F.col("doc_id") * 5011).alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
        (F.col("doc_id") % 40).cast("int").alias("n"),
    )


def _layout(path: str) -> tuple[dict, dict]:
    """Payload digest per (chunk, block, salt) and data files per chunk."""
    snap = mf.current_snapshot(path)
    digests, files = {}, Counter()
    for chunk, f in reader.visible_files(path, snap):
        files[chunk] += 1
        t = pq.read_table(f)
        blobs = sorted(c for c in t.column_names if c.endswith("_blob"))
        for r in t.select(["block", "salt", "n_rows", *blobs]).to_pylist():
            h = hashlib.sha256(str(r["n_rows"]).encode())
            for b in blobs:
                h.update(b.encode() + (r[b] or b""))
            key = (chunk, r["block"], r["salt"])
            assert key not in digests, f"duplicate block row {key}"
            digests[key] = h.hexdigest()
    return digests, dict(files)


def _writers(path: str) -> set[str]:
    chunks = mf.current_snapshot(path)["chunks"]
    return {r["writer"] for r in mf.read_chunk_lineage(path, chunks=chunks).values()}


@pytest.mark.parametrize("chunks", [1, 3])
@pytest.mark.parametrize("effort", ["max", "fast"])
def test_encode_same_on_both_sides(spark, tmp_path, monkeypatch, chunks, effort):
    df = _webtext(spark, 0, 300)
    sides = {}
    for on in (True, False):
        monkeypatch.setattr(encode, "_write_on_driver", lambda *a, **k: on)
        path = str(tmp_path / f"driver-{on}")
        man = encode.encode_to_path(
            spark, df, path, chunks=chunks, effort=effort,
            target_rows_per_block=24,
        )
        assert _writers(path) == {"driver" if on else "spark"}
        rows = Counter(tuple(r) for r in scan.read_rows(spark, path).collect())
        totals = {k: man[k] for k in ("num_blocks", "num_rows", "raw_bytes", "enc_bytes")}
        sides[on] = (*_layout(path), man["codec_histogram"], totals, rows)
    assert sides[True] == sides[False]
    digests, files = sides[True][:2]
    assert len({c for c, _, _ in digests}) == chunks
    assert sum(sides[True][-1].values()) == 300
    if chunks == 1:  # block-ordered files, not one per chunk
        assert files[0] >= 2


@pytest.fixture(scope="module")
def deleted(spark, tmp_path_factory):
    """A ``chunks=2`` table, tagged, then: an append, a single-key url
    delete, a composite (url, warc_ts) delete, an int key delete, that
    key widened to bigint and deleted again, and an append re-inserting
    some deleted rows (chunk ids above the deletes' sequence)."""
    path = str(tmp_path_factory.mktemp("plane") / "tbl")
    df = _webtext(spark, 0, 160)
    encode.encode_to_path(spark, df, path, chunks=2, target_rows_per_block=24)
    encode.create_tag(spark, path, "v0")
    encode.append_chunk(spark, _webtext(spark, 400, 440), path)
    rows = df.orderBy("url").collect()
    encode.delete_rows(spark, path, "url", [r["url"] for r in rows[:5]])
    encode.delete_rows(
        spark, path, ["url", "warc_ts"], [(r["url"], r["warc_ts"]) for r in rows[5:9]]
    )
    encode.delete_rows(spark, path, "n", [3])
    encode.evolve_widen_column(spark, path, "n", "bigint")
    encode.delete_rows(spark, path, "n", [7])
    back = df.where(F.col("url").isin([rows[0]["url"], rows[5]["url"]]))
    encode.append_chunk(spark, back.withColumn("n", F.col("n").cast("bigint")), path)
    return path


def _read_both(spark, monkeypatch, read) -> Counter:
    out = {}
    for on in (True, False):
        monkeypatch.setattr(scan, "_read_on_driver", lambda *a: on)
        df = read()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ("FileScan parquet" in plan) != on, plan
        out[on] = (df.schema, Counter(tuple(r) for r in df.collect()))
    assert out[True] == out[False]
    return out[True][1]


@pytest.mark.parametrize("at", ["current", "snapshot", "ref", "cols"])
def test_read_rows_same_on_both_sides(spark, monkeypatch, deleted, at):
    path = deleted
    snaps = mf.read_snapshots(path, spark)
    kwargs = {
        "current": {},
        # the int key delete, before the widen: an int32 key file read
        # under the table's current bigint column
        "snapshot": {"snapshot_id": [
            i for i in sorted(snaps) if snaps[i]["op"] == "delete"
        ][2]},
        "ref": {"ref": "v0"},
        "cols": {"cols": ["n", "url"]},
    }[at]
    got = _read_both(spark, monkeypatch, lambda: scan.read_rows(spark, path, **kwargs))
    if at == "ref":
        assert sum(got.values()) == 160
    if at in ("current", "cols"):
        ns = [r[0] if at == "cols" else r[4] for r in got.elements()]
        assert 3 not in ns and 7 not in ns
        # 160 + 40 appended, less the deletes, plus 2 re-inserted rows
        assert 150 < sum(got.values()) < 190


def test_pool_is_bounded_and_one_group_starts_none(spark, tmp_path, monkeypatch):
    """A many-group encode on a driver claiming 64 cores runs its
    groups on at most ``defaultParallelism`` threads; a one-group
    encode and read start no pool."""
    p = spark.sparkContext.defaultParallelism
    monkeypatch.setattr(placement, "driver_cores", lambda: 64)
    pools, live, peak = [], set(), []
    lock = threading.Lock()
    real_pool, real_kernel = placement.ThreadPoolExecutor, encode.encode_block_arrow

    def pool(max_workers):
        pools.append(max_workers)
        return real_pool(max_workers=max_workers)

    def kernel(*a, **k):
        with lock:
            live.add(threading.get_ident())
            peak.append(len(live))
        try:
            return real_kernel(*a, **k)
        finally:
            with lock:
                live.discard(threading.get_ident())

    monkeypatch.setattr(placement, "ThreadPoolExecutor", pool)
    monkeypatch.setattr(encode, "encode_block_arrow", kernel)
    monkeypatch.setattr(encode, "_write_on_driver", lambda *a, **k: True)
    monkeypatch.setattr(scan, "_read_on_driver", lambda *a: True)
    df = _webtext(spark, 0, 200)
    encode.encode_to_path(spark, df, str(tmp_path / "many"), target_rows_per_block=16)
    assert pools == [p] and 1 <= max(peak) <= p
    pools.clear()
    one = str(tmp_path / "one")
    encode.encode_to_path(spark, df, one, resolution=0)
    assert scan.read_rows(spark, one).count() == 200
    assert pools == []


def test_gates_log_one_record(spark, tmp_path, monkeypatch, caplog):
    """Unpinned, a small encode and its read run on the driver; with
    the plan's fixed cost below the driver-only costs both run as Spark
    plans. Each gate logs its inputs, branch and threads as JSON."""
    df = _webtext(spark, 0, 120)
    caplog.set_level(logging.INFO, logger=placement.__name__)
    branches = []
    for fixed in (None, -1.0):
        if fixed is not None:
            monkeypatch.setattr(placement, "F_WRITE", fixed)
            monkeypatch.setattr(placement, "F_READ", fixed)
        caplog.clear()
        path = str(tmp_path / f"t{fixed}")
        encode.encode_to_path(spark, df, path, chunks=2, target_rows_per_block=24)
        assert scan.read_rows(spark, path).count() == 120
        recs = [json.loads(r.getMessage()) for r in caplog.records
                if r.name == placement.__name__]
        assert [r["gate"] for r in recs] == ["write", "read"]
        for r in recs:
            assert {"raw_bytes", "rows", "units", "parallelism", "driver_threads",
                    "branch", "threads"} <= set(r)
            assert r["threads"] == (r["driver_threads"] if r["branch"] == "driver" else 0)
        assert recs[0]["rows"] == 120 and recs[0]["raw_bytes"] > 0
        branches.append([r["branch"] for r in recs])
        assert _writers(path) == {recs[0]["branch"]}
    assert branches == [["driver", "driver"], ["spark", "spark"]]
