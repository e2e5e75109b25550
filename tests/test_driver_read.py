"""Driver-local reads, both sides of the gate.

``scan.point_lookup`` and ``scan.range_scan_ts`` run on the in-process
block reader when ``scan._read_on_driver`` admits the read, and as a
Spark plan otherwise. Each test pins the gate both ways and requires
the same ``df.schema`` and the same row multiset from both sides, on
every table layout. The datasource always reads through the
in-process reader; it must agree with the Spark ``read_rows`` at a
pinned snapshot."""

from __future__ import annotations

import datetime
from collections import Counter

import pytest
from pyspark.sql import functions as F

from duckdb_raquet_spark import encode, scan, synth
from duckdb_raquet_spark.datasource import RaquetDataSource

pytestmark = pytest.mark.spark

DAY = 86_400


def _rows(df) -> Counter:
    return Counter(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in df.collect()
    )


def _side(monkeypatch, on_driver: bool, read):
    monkeypatch.setattr(scan, "_read_on_driver", lambda *a: on_driver)
    df = read()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the Spark side scans the table's parquet; the driver side hands
    # Spark decoded rows
    assert ("FileScan parquet" in plan) != on_driver, plan
    return df.schema, _rows(df)


def _same(monkeypatch, read) -> Counter:
    """The rows ``read()`` returns, checked equal on both sides."""
    local = _side(monkeypatch, True, read)
    spark_side = _side(monkeypatch, False, read)
    assert local[0] == spark_side[0]
    assert local[1] == spark_side[1]
    return local[1]


def _epoch(ts: datetime.datetime) -> int:
    return int(ts.replace(tzinfo=datetime.timezone.utc).timestamp())


def _check_reads(spark, monkeypatch, path, row, gone=()):
    """Every lookup shape around the live row ``row``; ``gone`` rows
    were deleted and must come back on neither side."""
    url, ts = row["url"], _epoch(row["warc_ts"])
    assert sum(_same(monkeypatch, lambda: scan.point_lookup(spark, path, url)).values()) == 1
    got = _same(monkeypatch, lambda: scan.point_lookup(spark, path, url, ts))
    assert sum(got.values()) == 1
    got = _same(
        monkeypatch,
        lambda: scan.point_lookup(spark, path, url, cols=["text", "lang"]),
    )
    assert list(got) == [(row["text"], row["lang"])]
    miss = url + "-absent"
    assert not _same(monkeypatch, lambda: scan.point_lookup(spark, path, miss))
    for g in gone:
        assert not _same(monkeypatch, lambda: scan.point_lookup(spark, path, g["url"]))
    day = ts // DAY * DAY
    got = _same(monkeypatch, lambda: scan.range_scan_ts(spark, path, day, day + DAY))
    assert sum(got.values()) >= 1
    got = _same(
        monkeypatch,
        lambda: scan.range_scan_ts(spark, path, day, day + DAY, cols=["url"]),
    )
    assert (url,) in got
    empty = day - 400 * DAY
    assert not _same(
        monkeypatch, lambda: scan.range_scan_ts(spark, path, empty, empty + DAY)
    )


def _webtext(spark, n, start=0):
    return synth.synth_webtext(spark, n, num_partitions=2, start=start)


def test_one_chunk_table_and_session_time_zone(spark, monkeypatch, tmp_path):
    """The default one-chunk table; the second pass runs under a
    non-UTC session time zone, which must not shift timestamps."""
    path = str(tmp_path / "one")
    df = _webtext(spark, 120)
    encode.encode_to_path(spark, df, path, target_rows_per_block=32)
    row = df.orderBy("url").first()
    _check_reads(spark, monkeypatch, path, row)
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        _check_reads(spark, monkeypatch, path, row)
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_two_chunks_and_append(spark, monkeypatch, tmp_path):
    path = str(tmp_path / "two")
    encode.encode_to_path(spark, _webtext(spark, 120), path, chunks=2,
                          target_rows_per_block=32)
    extra = _webtext(spark, 40, start=5_000)
    encode.append_chunk(spark, extra, path)
    _check_reads(spark, monkeypatch, path, extra.orderBy("url").first())


def test_deletes_single_and_composite_key(spark, monkeypatch, tmp_path):
    """A url delete and a (url, warc_ts) delete, then an append that
    re-inserts some deleted rows: the re-inserted copies stay visible
    (chunk id above the delete's sequence), the others do not."""
    path = str(tmp_path / "del")
    df = _webtext(spark, 120)
    encode.encode_to_path(spark, df, path, chunks=2, target_rows_per_block=32)
    rows = df.orderBy("url").collect()
    by_url, by_key = rows[:6], rows[6:12]
    encode.delete_rows(spark, path, "url", [r["url"] for r in by_url])
    encode.delete_rows(
        spark, path, ["url", "warc_ts"], [(r["url"], r["warc_ts"]) for r in by_key]
    )
    back = [by_url[0]["url"], by_key[0]["url"]]
    encode.append_chunk(spark, df.where(F.col("url").isin(back)), path)
    gone = by_url[1:] + by_key[1:]
    _check_reads(spark, monkeypatch, path, rows[20], gone=gone)
    _check_reads(spark, monkeypatch, path, by_url[0])
    _check_reads(spark, monkeypatch, path, by_key[0])


def test_schema_evolved_table(spark, monkeypatch, tmp_path):
    """An added column with a default (old chunks decode it as the
    default) and a renamed column, on rows of both generations."""
    path = str(tmp_path / "evo")
    encode.encode_to_path(spark, _webtext(spark, 80), path, chunks=2,
                          target_rows_per_block=32)
    encode.evolve_add_column(spark, path, "score", "bigint", default=7)
    new = _webtext(spark, 40, start=9_000).withColumn("score", F.lit(3).cast("bigint"))
    encode.append_chunk(spark, new, path)
    encode.evolve_rename_column(spark, path, "lang", "language")
    old_row = _webtext(spark, 80).orderBy("url").first()
    for row, score in ((old_row, 7), (new.orderBy("url").first(), 3)):
        url = row["url"]
        got = _same(
            monkeypatch,
            lambda: scan.point_lookup(spark, path, url, cols=["score", "language"]),
        )
        assert list(got) == [(score, row["lang"])]
        day = _epoch(row["warc_ts"]) // DAY * DAY
        assert _same(
            monkeypatch,
            lambda: scan.range_scan_ts(spark, path, day, day + DAY),
        )


def test_datasource_at_snapshot_after_append(spark, tmp_path):
    """A datasource read pinned to snapshot 0, after a later append and
    a delete, returns what the Spark ``read_rows`` returns there —
    unfiltered and with a pushed url equality."""
    spark.dataSource.register(RaquetDataSource)
    path = str(tmp_path / "tt")
    df = _webtext(spark, 120)
    encode.encode_to_path(spark, df, path, chunks=2, target_rows_per_block=32)
    encode.append_chunk(spark, _webtext(spark, 30, start=7_000), path)
    row = df.orderBy("url").first()
    encode.delete_rows(spark, path, "url", [row["url"]])
    at0 = spark.read.format("raquet").option("snapshotId", 0).load(path)
    eng = scan.read_rows(spark, path, snapshot_id=0)
    assert at0.schema == eng.schema
    assert _rows(at0) == _rows(eng) and sum(_rows(at0).values()) == 120
    one = at0.where(F.col("url") == row["url"])
    assert _rows(one) == _rows(eng.where(F.col("url") == row["url"]))
    assert sum(_rows(one).values()) == 1
    cur = spark.read.format("raquet").load(path)
    assert _rows(cur) == _rows(scan.read_rows(spark, path))
    assert sum(_rows(cur).values()) == 149
