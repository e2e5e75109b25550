"""purge_deletes across the delete layouts the engine writes: the
purged table holds exactly the rows ``read_rows`` gives on the source
(the Spark anti-join rule is the oracle for the in-process rule the
rewrite applies) and carries no delete files."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from duckdb_raquet_spark import encode, scan

pytestmark = pytest.mark.spark


def _webtext(spark, n=80, shift=0, n_urls=None):
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).where(F.col("doc_id") < n)
    key = F.col("doc_id") + shift
    if n_urls is not None:
        key = key % n_urls
    return docs.select(
        F.concat(F.lit("https://d/"), key.cast("string")).alias("url"),
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("doc_id") + shift) * 60
        ).alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
        (F.col("doc_id") + shift).alias("doc_id"),
    )


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _purge_matches_read(spark, src: str, dst: str) -> Counter:
    """Purge ``src`` into ``dst``; assert the row multiset and the
    dropped delete files. Returns the rows."""
    want = _rows(scan.read_rows(spark, src))
    final = scan.purge_deletes(spark, src, dst)
    assert "delete_files" not in scan.read_manifest(spark, dst)
    got = _rows(scan.read_rows(spark, dst))
    assert got == want
    assert final["num_rows"] == sum(want.values())
    return got


def _urls(df, cond) -> list[str]:
    return [r["url"] for r in df.where(cond).select("url").collect()]


def test_purge_reinsert_between_deletes(spark, tmp_path):
    """(a) Two chunks, a url delete, an append re-inserting half the
    deleted urls, then a lang delete over all three chunks."""
    src = str(tmp_path / "src")
    web = _webtext(spark)
    encode.encode_to_path(spark, web, src, chunks=2, target_rows_per_block=32)
    encode.delete_rows(spark, src, "url", _urls(web, F.col("doc_id") % 7 == 0))
    reins = web.where(F.col("doc_id") % 14 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    encode.append_chunk(spark, reins, src)
    encode.delete_rows(spark, src, "lang", ["de"])
    got = _purge_matches_read(spark, src, str(tmp_path / "dst"))
    assert any(r[4] >= 1_000_000 for r in got)  # re-inserts survive


def test_purge_composite_key(spark, tmp_path):
    """(b) A (url, warc_ts) key on a table whose urls repeat."""
    src = str(tmp_path / "src")
    web = _webtext(spark, n_urls=20)
    encode.encode_to_path(spark, web, src, chunks=2, target_rows_per_block=32)
    victims = web.where(F.col("doc_id") % 3 == 0).select("url", "warc_ts")
    encode.delete_rows(spark, src, ["url", "warc_ts"], victims)
    got = _purge_matches_read(spark, src, str(tmp_path / "dst"))
    assert sum(got.values()) == web.where(F.col("doc_id") % 3 != 0).count()


def test_purge_compacted_delete_file_keeps_per_row_seq(spark, tmp_path):
    """(c) Two url deletes with an append between them, merged by
    compact_delete_files into ONE v2 file whose rows carry _dseq 1 and
    2: a url of the first delete re-inserted by the append survives,
    although the file's entry seq is 2."""
    import pyarrow.parquet as pq

    src = str(tmp_path / "src")
    web = _webtext(spark)
    encode.encode_to_path(spark, web, src, chunks=2, target_rows_per_block=32)
    first = web.where(F.col("doc_id") % 5 == 0)
    encode.delete_rows(spark, src, "url", _urls(first, F.lit(True)))
    encode.append_chunk(
        spark, first.withColumn("doc_id", F.col("doc_id") + 1_000_000), src
    )
    encode.delete_rows(spark, src, "url", _urls(web, F.col("doc_id") % 5 == 1))
    man = encode.compact_delete_files(spark, src)
    (entry,) = man["delete_files"]
    assert entry["v"] == 2 and entry["seq"] == 2
    dseq = pq.read_table(os.path.join(src, entry["dir"]))["_dseq"]
    assert set(dseq.to_pylist()) == {1, 2}
    got = _purge_matches_read(spark, src, str(tmp_path / "dst"))
    reins = {r[4] for r in got if r[4] >= 1_000_000}
    assert reins == {r["doc_id"] + 1_000_000 for r in first.collect()}


def test_purge_renamed_delete_column(spark, tmp_path):
    """(d) A delete on a column renamed after the delete committed."""
    src = str(tmp_path / "src")
    web = _webtext(spark)
    encode.encode_to_path(spark, web, src, chunks=2, target_rows_per_block=32)
    encode.delete_rows(spark, src, "lang", ["de"])
    encode.evolve_rename_column(spark, src, "lang", "language")
    got = _purge_matches_read(spark, src, str(tmp_path / "dst"))
    assert got and all(r[3] != "de" for r in got)


def test_purge_widened_key(spark, tmp_path):
    """(e) An int32 delete file next to an int64 one after a widen."""
    src = str(tmp_path / "src")
    web = _webtext(spark).withColumn("doc_id", F.col("doc_id").cast("int"))
    encode.encode_to_path(spark, web, src, chunks=2, target_rows_per_block=32)
    encode.delete_rows(spark, src, "doc_id", [1, 2, 3])
    encode.evolve_widen_column(spark, src, "doc_id", "bigint")
    encode.delete_rows(spark, src, "doc_id", [4, 5])
    got = _purge_matches_read(spark, src, str(tmp_path / "dst"))
    assert sorted(r[4] for r in got) == [
        d for d in range(80) if d not in (1, 2, 3, 4, 5)
    ]


def test_purge_file_scheme_table(spark, tmp_path):
    """(f) A ``file://`` table: its delete sets load through fsio."""
    src = "file://" + str(tmp_path / "src")
    web = _webtext(spark)
    encode.encode_to_path(spark, web, src, chunks=2, target_rows_per_block=32)
    encode.delete_rows(spark, src, "lang", ["de"])
    got = _purge_matches_read(spark, src, "file://" + str(tmp_path / "dst"))
    assert sum(got.values()) == web.where(F.col("lang") != "de").count()


def test_purge_fully_deleted_block_emits_no_row(spark, tmp_path):
    """(g) A block whose every row is deleted leaves no block row."""
    src = str(tmp_path / "src")
    web = _webtext(spark)
    encode.encode_to_path(spark, web, src, chunks=2, target_rows_per_block=16)
    man = scan.read_manifest(spark, src)
    by_block = scan.decode_blocks(
        scan.read_blocks(spark, src), man, ["url"], with_block=True
    )
    blocks = {r["block"] for r in by_block.select("block").collect()}
    victim = min(blocks)
    encode.delete_rows(
        spark, src, "url", _urls(by_block, F.col("block") == victim)
    )
    dst = str(tmp_path / "dst")
    _purge_matches_read(spark, src, dst)
    left = {r["block"] for r in scan.read_blocks(spark, dst).select("block").collect()}
    assert left == blocks - {victim}
