"""Equality deletes across the delete layouts the engine writes.

Each layout is built once per module. ``purge_deletes`` and every read
that applies deletes, pinned to its Spark side, must give exactly the
rows of the reference rule in ``delete_ref``, which shares no code with
the package's delete rule. A purged table carries no delete files."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from delete_ref import counts, live_table
from duckdb_raquet_spark import encode, manifest as mf, scan

pytestmark = pytest.mark.spark

T0 = 1704067200  # warc_ts of doc 0; docs are 60 s apart


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
            F.lit(T0) + (F.col("doc_id") + shift) * 60
        ).alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
        (F.col("doc_id") + shift).alias("doc_id"),
    )


def _urls(df, cond) -> list[str]:
    return [r["url"] for r in df.where(cond).select("url").collect()]


def _reinsert(spark, src):
    """(a) Two chunks, a url delete, an append re-inserting half the
    deleted urls, then a lang delete over all three chunks."""
    web = _webtext(spark)
    encode.encode_to_path(spark, web, src, chunks=2, target_rows_per_block=32)
    encode.delete_rows(spark, src, "url", _urls(web, F.col("doc_id") % 7 == 0))
    reins = web.where(F.col("doc_id") % 14 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    encode.append_chunk(spark, reins, src)
    encode.delete_rows(spark, src, "lang", ["de"])
    return web


def _composite(spark, src):
    """(b) A (url, warc_ts) key on a table whose urls repeat."""
    web = _webtext(spark, n_urls=20)
    encode.encode_to_path(spark, web, src, chunks=2, target_rows_per_block=32)
    victims = web.where(F.col("doc_id") % 3 == 0).select("url", "warc_ts")
    encode.delete_rows(spark, src, ["url", "warc_ts"], victims)
    return web


def _compacted(spark, src):
    """(c) Two url deletes with an append re-inserting the first one's
    urls between them, merged by ``compact_delete_files`` into one v2
    file whose rows carry ``_dseq`` 1 and 2."""
    web = _webtext(spark)
    encode.encode_to_path(spark, web, src, chunks=2, target_rows_per_block=32)
    first = web.where(F.col("doc_id") % 5 == 0)
    encode.delete_rows(spark, src, "url", _urls(first, F.lit(True)))
    encode.append_chunk(
        spark, first.withColumn("doc_id", F.col("doc_id") + 1_000_000), src
    )
    encode.delete_rows(spark, src, "url", _urls(web, F.col("doc_id") % 5 == 1))
    encode.compact_delete_files(spark, src)
    return web


def _renamed(spark, src):
    """(d) A delete on a column renamed after the delete committed."""
    web = _webtext(spark)
    encode.encode_to_path(spark, web, src, chunks=2, target_rows_per_block=32)
    encode.delete_rows(spark, src, "lang", ["de"])
    encode.evolve_rename_column(spark, src, "lang", "language")
    return web


def _widened(spark, src):
    """(e) An int32 delete file next to an int64 one after a widen."""
    web = _webtext(spark).withColumn("doc_id", F.col("doc_id").cast("int"))
    encode.encode_to_path(spark, web, src, chunks=2, target_rows_per_block=32)
    encode.delete_rows(spark, src, "doc_id", [1, 2, 3])
    encode.evolve_widen_column(spark, src, "doc_id", "bigint")
    encode.delete_rows(spark, src, "doc_id", [4, 5])
    return web


def _file_scheme(spark, src):
    """(f) A ``file://`` table: its delete sets load through fsio."""
    web = _webtext(spark)
    encode.encode_to_path(spark, web, src, chunks=2, target_rows_per_block=32)
    encode.delete_rows(spark, src, "lang", ["de"])
    return web


def _full_block(spark, src):
    """(g) Every url of the table's first block deleted."""
    web = _webtext(spark)
    encode.encode_to_path(spark, web, src, chunks=2, target_rows_per_block=16)
    by_block = _by_block(spark, src)
    victim = min(r["block"] for r in by_block.select("block").collect())
    encode.delete_rows(
        spark, src, "url", _urls(by_block, F.col("block") == victim)
    )
    return web


def _v1_mix(spark, src):
    """(h) A composite delete, an append re-inserting half its victim
    tuples, then a legacy v1 file (one value column, the entry's
    constant seq 1) deleting lang 'fr' from chunks 0 and 1 only."""
    web = _webtext(spark, n_urls=20)
    encode.encode_to_path(spark, web, src, chunks=2, target_rows_per_block=32)
    victims = web.where(F.col("doc_id") % 3 == 0)
    encode.delete_rows(spark, src, ["url", "warc_ts"], victims.select("url", "warc_ts"))
    encode.append_chunk(
        spark,
        victims.where(F.col("doc_id") % 2 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        ),
        src,
    )
    rel = f"{encode.DELETES_DIR}/delete-v1-legacy"
    os.makedirs(os.path.join(src, rel))
    pq.write_table(
        pa.table({"lang": ["fr"]}), os.path.join(src, rel, "p.parquet")
    )
    man = dict(mf.read_sidecar(src, spark))
    cur = mf.current_snapshot(src, spark)
    man["delete_files"] = [
        *man["delete_files"],
        {"dir": rel, "col": "lang", "seq": 1, "n": 1},
    ]
    encode._commit(spark, src, man, chunks=cur["chunks"], op="delete", parent=cur)
    return web


LAYOUTS = {
    f.__name__[1:]: f
    for f in (
        _reinsert, _composite, _compacted, _renamed, _widened,
        _file_scheme, _full_block, _v1_mix,
    )
}


def _by_block(spark, src):
    return scan.decode_blocks(
        scan.read_blocks(spark, src), scan.read_manifest(spark, src),
        ["url"], with_block=True,
    )


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """``table(layout) -> (path, input rows)``, built on first use."""
    built: dict[str, tuple[str, object]] = {}

    def get(layout):
        if layout not in built:
            src = str(tmp_path_factory.mktemp(layout) / "src")
            if layout == "file_scheme":
                src = "file://" + src
            built[layout] = (src, LAYOUTS[layout](spark, src))
        return built[layout]

    return get


def _copy(src: str, tmp_path) -> str:
    """A copy of the table ``src`` to mutate, under the same scheme."""
    local = src.removeprefix("file://")
    dst = str(tmp_path / "copy")
    shutil.copytree(local, dst)
    return src[: len(src) - len(local)] + dst


def _purge_matches_ref(spark, src: str, dst: str):
    """Purge ``src`` into ``dst``; assert the reference's row multiset
    and the dropped delete files. Returns the rows."""
    want = counts(live_table(spark, src))
    final = scan.purge_deletes(spark, src, dst)
    assert "delete_files" not in scan.read_manifest(spark, dst)
    got = counts(scan.read_rows(spark, dst))
    assert got == want
    assert final["num_rows"] == sum(want.values())
    return got


def test_purge_reinsert_between_deletes(spark, table, tmp_path):
    src, _ = table("reinsert")
    got = _purge_matches_ref(spark, src, str(tmp_path / "dst"))
    assert any(r[4] >= 1_000_000 for r in got)  # re-inserts survive


def test_purge_composite_key(spark, table, tmp_path):
    src, web = table("composite")
    got = _purge_matches_ref(spark, src, str(tmp_path / "dst"))
    assert sum(got.values()) == web.where(F.col("doc_id") % 3 != 0).count()


def test_purge_compacted_delete_file_keeps_per_row_seq(spark, table, tmp_path):
    """A url of the first delete re-inserted by the append survives,
    although the merged file's entry seq is 2."""
    src, web = table("compacted")
    (entry,) = scan.read_manifest(spark, src)["delete_files"]
    assert entry["v"] == 2 and entry["seq"] == 2
    dseq = pq.read_table(os.path.join(src, entry["dir"]))["_dseq"]
    assert set(dseq.to_pylist()) == {1, 2}
    got = _purge_matches_ref(spark, src, str(tmp_path / "dst"))
    reins = {r[4] for r in got if r[4] >= 1_000_000}
    first = web.where(F.col("doc_id") % 5 == 0)
    assert reins == {r["doc_id"] + 1_000_000 for r in first.collect()}


def test_purge_renamed_delete_column(spark, table, tmp_path):
    src, _ = table("renamed")
    got = _purge_matches_ref(spark, src, str(tmp_path / "dst"))
    assert got and all(r[3] != "de" for r in got)


def test_purge_widened_key(spark, table, tmp_path):
    src, _ = table("widened")
    got = _purge_matches_ref(spark, src, str(tmp_path / "dst"))
    assert sorted(r[4] for r in got) == [
        d for d in range(80) if d not in (1, 2, 3, 4, 5)
    ]


def test_purge_file_scheme_table(spark, table, tmp_path):
    src, web = table("file_scheme")
    got = _purge_matches_ref(spark, src, "file://" + str(tmp_path / "dst"))
    assert sum(got.values()) == web.where(F.col("lang") != "de").count()


def test_purge_fully_deleted_block_emits_no_row(spark, table, tmp_path):
    """A block whose every row is deleted leaves no block row."""
    src, _ = table("full_block")
    blocks = {r["block"] for r in _by_block(spark, src).select("block").collect()}
    dst = str(tmp_path / "dst")
    _purge_matches_ref(spark, src, dst)
    left = {r["block"] for r in scan.read_blocks(spark, dst).select("block").collect()}
    assert left == blocks - {min(blocks)}


# ------------------------------------------- Spark side of every read ----


def _spark_plan(df):
    """``df``, asserted to be a Spark plan over the table's parquet
    (the driver-local side hands Spark decoded rows instead)."""
    assert "FileScan parquet" in df._jdf.queryExecution().executedPlan().toString()
    return df


def _check_read_rows(spark, src, tmp_path):
    for cols in (None, ["url", "doc_id"]):
        got = counts(_spark_plan(scan.read_rows(spark, src, cols)))
        assert got == counts(live_table(spark, src, cols))


def _check_read_staged_rows(spark, src, tmp_path):
    """A staged append of live rows, and a staged delete of urls that
    include deleted ones, each read as if published."""
    path = _copy(src, tmp_path)
    live = live_table(spark, path)
    extra = scan.read_rows(spark, path).orderBy("doc_id").limit(4)
    urls = [*live["url"].to_pylist()[::9], *_dead_urls(spark, path)[:3]]
    for tok in (
        encode.append_chunk(spark, extra, path, staged=True)["token"],
        encode.delete_rows(spark, path, "url", urls, staged=True)["token"],
    ):
        got = counts(_spark_plan(scan.read_staged_rows(spark, path, tok)))
        assert got == counts(live_table(spark, path, staged=tok))


def _dead_urls(spark, path) -> list[str]:
    """Urls of rows the reference deletes, sorted."""
    every = counts(live_table(spark, path, ["url"], apply_deletes=False))
    return sorted(u for (u,), n in (every - counts(live_table(spark, path, ["url"]))).items())


def _check_lookups(spark, src, tmp_path):
    """Point lookups of deleted, re-inserted and live urls, and a
    range scan over the first 40 minutes."""
    ref = live_table(spark, src)
    urls = ref["url"].to_pylist()
    for url in [*_dead_urls(spark, src)[:3], *urls[:: max(1, len(urls) // 3)]]:
        got = counts(_spark_plan(scan.point_lookup(spark, src, url)))
        assert got == counts(ref.filter(pc.equal(ref["url"], url)))
    lo, hi = T0, T0 + 40 * 60
    us = ref["warc_ts"].cast(pa.int64())
    want = ref.filter(pc.and_(pc.greater_equal(us, lo * 10**6), pc.less(us, hi * 10**6)))
    got = counts(_spark_plan(scan.range_scan_ts(spark, src, lo, hi)))
    assert got == counts(want) and sum(got.values())


def _check_compact_chunks(spark, src, tmp_path, monkeypatch):
    """Every chunk merged by the Spark write: the deletes apply
    physically, so the table's rows do not change."""
    path = _copy(src, tmp_path)
    want = counts(live_table(spark, path))
    monkeypatch.setattr(encode, "_write_on_driver", lambda *a, **k: False)
    encode.compact_chunks(spark, path, small_bytes=1 << 40)
    local = path.removeprefix("file://")
    k = max(mf.current_snapshot(local)["chunks"])
    assert mf.read_chunk_lineage(local, spark, chunks=[k])[k]["writer"] == "spark"
    assert counts(live_table(spark, path)) == want


READS = {
    "read_rows": _check_read_rows,
    "read_staged_rows": _check_read_staged_rows,
    "lookups": _check_lookups,
}


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
@pytest.mark.parametrize("read", [*READS, "compact_chunks"])
def test_spark_side_matches_reference(spark, table, tmp_path, monkeypatch, read, layout):
    """Each delete-applying read on the Spark side of its gate gives
    the reference's rows."""
    src, _ = table(layout)
    monkeypatch.setattr(scan, "_read_on_driver", lambda *a: False)
    if read == "compact_chunks":
        _check_compact_chunks(spark, src, tmp_path, monkeypatch)
    else:
        READS[read](spark, src, tmp_path)
