"""One append path: each stream micro-batch is one ``append_chunk``.

A batch therefore carries everything an append carries onto an
existing table — live deletes, added-column defaults, renamed columns
and the table's key geometry — and a fresh stream keys its rows with
the geometry its manifest records. An empty append commits nothing."""

import os

import pytest
from pyspark.sql import functions as F

from duckdb_raquet_spark import blockkey as bk
from duckdb_raquet_spark import encode, manifest as mf, scan, streaming, synth

pytestmark = pytest.mark.spark

ORIGIN = 1704067200  # 2024-01-01 UTC, not a multiple of one week
WEEK = 7 * 86400


def _stream(spark, path, src, tmp_path, **geometry):
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = streaming.encode_stream(
        stream, path, checkpoint_dir=str(tmp_path / "ckpt"), **geometry
    )
    q.awaitTermination(300)


def _table_pins(spark, path):
    key = mf.committed_manifest(path, spark)[0]["key"]
    return {
        "resolution": key["resolution"],
        "ts_origin": key["ts_origin"],
        "bucket_seconds": key["bucket_seconds"],
    }


def _misplaced(spark, path) -> int:
    """Rows whose block is not the one the manifest's key geometry
    computes for them: every reader prunes by that computation."""
    man = scan.read_manifest(spark, path)
    key = man["key"]
    rows = scan.decode_blocks(
        scan.read_blocks(spark, path), man, ["url", "warc_ts"], with_block=True
    )
    want = bk.key_col(
        F.col("url"), F.col("warc_ts"), key["resolution"],
        key["bucket_seconds"], key["ts_origin"],
    )
    return rows.where(F.col("block") != want).count()


def test_stream_batch_keeps_deletes_and_evolution(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = synth.synth_webtext(spark, 60, num_partitions=2)
    encode.encode_to_path(spark, base, path, target_rows_per_block=64)
    gone = [r["url"] for r in base.select("url").limit(10).collect()]
    encode.delete_rows(spark, path, "url", gone)
    encode.evolve_add_column(spark, path, "score", "bigint", default=9)
    encode.evolve_rename_column(spark, path, "text", "body")

    src = str(tmp_path / "src")
    batch = synth.synth_webtext(spark, 20, num_partitions=1, start=1_000_000)
    batch.withColumnRenamed("text", "body").withColumn(
        "score", F.lit(5).cast("bigint")
    ).write.parquet(src)
    _stream(spark, path, src, tmp_path, **_table_pins(spark, path))

    rows = scan.read_rows(spark, path, ["url", "score", "body"]).collect()
    assert len(rows) == 60 - 10 + 20
    new = {r["url"] for r in batch.select("url").collect()}
    assert {r["score"] for r in rows if r["url"] not in new} == {9}
    assert {r["score"] for r in rows if r["url"] in new} == {5}
    assert all(r["body"] is not None for r in rows)
    assert "delete_files" in scan.read_manifest(spark, path)


def test_stream_geometry_must_match_table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    encode.encode_to_path(
        spark, synth.synth_webtext(spark, 40, num_partitions=2), path,
        target_rows_per_block=32,
    )
    src = str(tmp_path / "src")
    synth.synth_webtext(spark, 10, num_partitions=1, start=1_000_000).write.parquet(src)
    pins = _table_pins(spark, path)
    pins["resolution"] += 2
    with pytest.raises(Exception, match="does not match the table's key"):
        _stream(spark, path, src, tmp_path, **pins)
    assert sorted(mf.read_snapshots(path, spark)) == [0]


def test_fresh_stream_keys_match_manifest(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "tbl")
    src = str(tmp_path / "src")
    synth.synth_webtext(spark, 150, num_partitions=3).write.parquet(src)
    _stream(
        spark, path, src, tmp_path,
        resolution=3, ts_origin=ORIGIN, bucket_seconds=WEEK,
    )
    assert scan.read_manifest(spark, path)["key"]["ts_origin"] == ORIGIN // WEEK * WEEK
    # a restart with the same pins appends: they are the table's key
    more = str(tmp_path / "more")
    synth.synth_webtext(spark, 10, num_partitions=1, start=1_000_000).write.parquet(more)
    _stream(
        spark, path, more, tmp_path / "again",
        resolution=3, ts_origin=ORIGIN, bucket_seconds=WEEK,
    )
    assert scan.read_manifest(spark, path)["num_rows"] == 160
    assert _misplaced(spark, path) == 0

    epochs = [
        int(r[0])
        for r in spark.read.parquet(src, more)
        .select(F.unix_timestamp("warc_ts"))
        .collect()
    ]
    # days 5 and 11 lie 3+ days into a week counted from ORIGIN, where
    # keys from the floored origin land one time cell later
    for on_driver in (True, False):
        monkeypatch.setattr(scan, "_read_on_driver", lambda *a: on_driver)
        for day in (0, 2, 5, 11):
            lo = ORIGIN + day * 86400
            got = scan.range_scan_ts(spark, path, lo, lo + 86400, ["url"]).count()
            assert got == sum(lo <= e < lo + 86400 for e in epochs), (on_driver, day)


def test_append_keys_rows_with_the_tables_origin(spark, tmp_path):
    """A table whose time bucket was widened past one day keeps an
    origin that is not a multiple of it; appended and compacted rows
    are keyed with that origin as recorded, not re-floored."""
    path = str(tmp_path / "tbl")
    encode.encode_to_path(
        spark, synth.synth_webtext(spark, 100, num_partitions=2), path,
        target_rows_per_block=16,
    )
    key = scan.read_manifest(spark, path)["key"]
    assert key["ts_origin"] % key["bucket_seconds"] != 0
    encode.append_chunk(
        spark, synth.synth_webtext(spark, 100, num_partitions=1, start=1_000_000), path
    )
    encode.compact_chunks(spark, path, chunk_ids=[0, 1])
    assert _misplaced(spark, path) == 0


def test_empty_append_commits_nothing(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = synth.synth_webtext(spark, 40, num_partitions=2)
    encode.encode_to_path(spark, df, path, chunks=2, target_rows_per_block=32)

    def state():
        lineage = sorted(os.listdir(mf.lineage_dir(path)))
        return sorted(mf.read_snapshots(path, spark)), lineage, mf.read_sidecar(path, spark)

    before = state()
    encode.append_chunk(spark, df.limit(0), path)
    assert state() == before

    # a compaction whose rows are all deleted still commits its rewrite
    encode.delete_rows(spark, path, "url", df.select("url"))
    encode.compact_chunks(spark, path, chunk_ids=[0, 1])
    snap = mf.current_snapshot(path, spark)
    assert snap["op"] == "compact-chunks" and snap["chunks"] == [2]
    assert scan.read_rows(spark, path, ["url"]).count() == 0
