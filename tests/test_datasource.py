"""Python Data Source surface: spark.read/write.format("raquet").

The writer is the map-only encode through Spark's own commit protocol
(the table's one commit written LAST in commit()); the reader serves the
LOGICAL schema, one partition per visible data file, and Spark applies
every predicate to the decoded rows."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from duckdb_raquet_spark import encode, manifest as mf, scan, synth
from duckdb_raquet_spark.datasource import RaquetDataSource, RaquetReader

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(RaquetDataSource)
    return spark


def test_datasource_write_read_roundtrip(registered, tmp_path):
    spark = registered
    df = synth.synth_webtext(spark, 200, num_partitions=2)
    out = str(tmp_path / "ds_table")
    (
        df.write.format("raquet").mode("overwrite")
        .option("resolution", 3)
        .option("ts_origin", 1704067200)
        .option("bucket_seconds", 604800)
        .save(out)
    )
    # writer committed a readable manifest LAST (engine readers work)
    man = scan.read_manifest(spark, out)
    assert man["num_rows"] == 200
    assert man["writer"] == "datasource" and man["shuffle"] == "none"
    back = spark.read.format("raquet").load(out)
    src = df.select(*back.columns)
    assert back.exceptAll(src).count() == 0
    assert src.exceptAll(back).count() == 0
    # engine decode agrees with the DataSource read
    dec = scan.decode_blocks(
        scan.read_blocks(spark, out), man, list(back.columns)
    )
    assert dec.exceptAll(back).count() == 0
    # column selection option prunes decoded payloads
    two = spark.read.format("raquet").option("columns", "url,text").load(out)
    assert two.columns == ["url", "text"] and two.count() == 200


def test_datasource_overwrite_of_logged_table(registered, tmp_path):
    """Overwriting a table that has a snapshot log commits a new
    one-chunk snapshot: the manifest, the engine read and the datasource
    read all see the new 50-row, 4-column table, not the old one."""
    spark = registered
    path = str(tmp_path / "tbl")
    df = synth.synth_webtext(spark, 200, num_partitions=2)
    encode.encode_to_path(spark, df, path, chunks=2, target_rows_per_block=64)
    new = synth.synth_webtext(spark, 50, num_partitions=1).drop("lang")
    new.write.format("raquet").mode("overwrite").save(path)
    man = scan.read_manifest(spark, path)
    assert man["num_rows"] == 50 and len(man["columns"]) == 4
    rows = scan.read_rows(spark, path)
    assert rows.count() == 50 and len(rows.columns) == 4
    back = spark.read.format("raquet").load(path)
    assert back.count() == 50 and len(back.columns) == 4
    assert back.exceptAll(new.select(*back.columns)).count() == 0


def test_datasource_overwrite_clears_old_lineage(registered, tmp_path):
    """An overwrite drops the old chunks' lineage records with their
    data: after a 200-row chunks=3 table is overwritten with 20 rows,
    the only record is the new chunk 0's, and a later append adds its
    own (compact_chunks sizes its selection from them)."""
    spark = registered
    path = str(tmp_path / "ow")
    old = synth.synth_webtext(spark, 200, num_partitions=2)
    encode.encode_to_path(spark, old, path, chunks=3, target_rows_per_block=32)
    assert sorted(mf.read_chunk_lineage(path, spark)) == [0, 1, 2]
    new = synth.synth_webtext(spark, 20, num_partitions=1)
    new.write.format("raquet").mode("overwrite").save(path)
    lin = mf.read_chunk_lineage(path, spark)
    assert {c: r["rows"] for c, r in lin.items()} == {0: 20}
    # the record carries the figures the commit summed
    man = scan.read_manifest(spark, path)
    assert (lin[0]["blocks"], lin[0]["enc_bytes"], lin[0]["codec_histogram"]) == (
        man["num_blocks"], man["enc_bytes"], man["codec_histogram"]
    )
    extra = synth.synth_webtext(spark, 10, num_partitions=1, start=900)
    encode.append_chunk(spark, extra, path)
    lin = mf.read_chunk_lineage(path, spark)
    snap = mf.current_snapshot(path, spark)
    assert sorted(lin) == sorted(snap["chunks"])
    assert {c: r["rows"] for c, r in lin.items() if c != 0} == {
        max(snap["chunks"]): 10
    }
    assert scan.read_rows(spark, path).count() == 30


def test_datasource_chunk_sized_for_compaction(registered, tmp_path):
    """compact_chunks(small_bytes=...) sizes chunks from their lineage
    records: a datasource-written chunk 0 larger than the bound is not
    selected, only the two small appended chunks are merged."""
    spark = registered
    path = str(tmp_path / "sel")
    synth.synth_webtext(spark, 400, num_partitions=2).write.format(
        "raquet"
    ).mode("overwrite").option("resolution", 2).save(path)
    base_bytes = scan.read_manifest(spark, path)["enc_bytes"]
    for start in (5_000, 6_000):
        encode.append_chunk(
            spark, synth.synth_webtext(spark, 10, num_partitions=1, start=start),
            path,
        )
    lin = mf.read_chunk_lineage(path, spark)
    small = max(lin[1]["enc_bytes"], lin[2]["enc_bytes"]) + 1
    assert base_bytes > small
    encode.compact_chunks(spark, path, small_bytes=small)
    snap = mf.current_snapshot(path, spark)
    assert snap["compacted_from"] == [1, 2]
    assert sorted(snap["chunks"]) == [0, 3]
    assert scan.read_rows(spark, path).count() == 420


def test_datasource_file_uri_and_other_schemes(registered, tmp_path):
    """A ``file://`` URI reads and writes the local table it names;
    any other scheme raises a ValueError naming ``scan.read_rows``."""
    spark = registered
    path = str(tmp_path / "uri")
    df = synth.synth_webtext(spark, 120, num_partitions=2)
    encode.encode_to_path(spark, df, path, chunks=2, target_rows_per_block=32)
    back = spark.read.format("raquet").load("file://" + path)
    assert back.count() == 120
    out = str(tmp_path / "uri-out")
    back.write.format("raquet").mode("overwrite").save("file://" + out)
    assert scan.read_rows(spark, out).count() == 120
    url = df.first()["url"]
    got = spark.read.format("raquet").load("file://" + out).where(F.col("url") == url)
    assert got.count() == 1
    for uri in ("s3a://bucket/t", "hdfs://nn/t"):
        with pytest.raises(ValueError, match="scan.read_rows"):
            RaquetReader({"path": uri}, None)
        with pytest.raises(Exception, match="scan.read_rows"):
            spark.read.format("raquet").load(uri).count()


def test_datasource_reads_engine_tables_with_pushdown(registered, tmp_path):
    """Interop: format('raquet') reads encode_to_path tables, and url /
    warc_ts predicates return exactly the right rows (pruning is a
    superset; Spark re-applies the filters)."""
    spark = registered
    df = synth.synth_webtext(spark, 300, num_partitions=3)
    path = str(tmp_path / "eng_table")
    encode.encode_to_path(spark, df, path, target_rows_per_block=32, resolution=4)
    back = spark.read.format("raquet").load(path)
    assert back.count() == 300
    row = df.orderBy("url").first()
    got = back.where(F.col("url") == row["url"]).collect()
    assert len(got) == 1 and got[0]["text"] == row["text"]
    lo = df.agg(F.min("warc_ts")).first()[0]
    cutoff = F.lit(lo) + F.expr("INTERVAL 3 DAYS")
    want = df.where(F.col("warc_ts") <= cutoff).count()
    assert back.where(F.col("warc_ts") <= cutoff).count() == want


def test_requery_of_one_loaded_frame(registered, tmp_path):
    """One loaded DataFrame, queried with a filter and then without:
    the unfiltered count and a write see every row. Spark reuses a
    filtered query's planned partitions for a later query that pushes
    no filter, so no filter may narrow them. The partitions exclude the
    chunk=-1 manifest row."""
    spark = registered
    df = synth.synth_webtext(spark, 120, num_partitions=2)
    path = str(tmp_path / "two_chunks")
    encode.encode_to_path(spark, df, path, chunks=2, target_rows_per_block=16)
    parts = RaquetReader({"path": path}, None).partitions()
    assert parts and all("chunk=-1" not in p.path for p in parts)
    back = spark.read.format("raquet").load(path)
    u = df.orderBy("url").first()["url"]
    assert back.where(back.url == u).count() == 1
    assert back.count() == 120
    out = str(tmp_path / "rewritten")
    back.write.format("raquet").mode("overwrite").save(out)
    assert spark.read.format("raquet").load(out).count() == 120


def test_datasource_and_compact_on_column_groups(registered, tmp_path):
    """Cross-feature matrix: a column-group (interleaved blob) table
    must read correctly through format('raquet') AND survive
    compact_blocks (group payloads decoded via the shared blob, rows
    re-encoded with the same group layout)."""
    spark = registered
    df = synth.synth_webtext(spark, 150, num_partitions=3)
    path = str(tmp_path / "grp_table")
    encode.encode_to_path(
        spark, df, path, target_rows_per_block=32, resolution=3,
        column_groups=[["text", "html"]],
    )
    back = spark.read.format("raquet").load(path)
    src = df.select(*back.columns)
    assert back.exceptAll(src).count() == 0
    assert src.exceptAll(back).count() == 0

    man = scan.read_manifest(spark, path)
    cpath = str(tmp_path / "grp_compacted")
    final = scan.compact_to_path(spark, path, cpath)
    assert final["num_rows"] == 150
    assert final.get("column_groups")
    man2 = scan.read_manifest(spark, cpath)
    dec = scan.decode_blocks(
        scan.read_blocks(spark, cpath), man2, ["url", "text", "html"]
    )
    src2 = df.select("url", "text", "html")
    assert dec.exceptAll(src2).count() == 0
    assert src2.exceptAll(dec).count() == 0


def test_datasource_read_applies_equality_deletes(registered, tmp_path):
    """format('raquet') honors encode.delete_rows: deleted keys vanish,
    re-inserted keys in later chunks survive (sequence rule), and a
    projection that EXCLUDES the delete column still filters."""
    spark = registered
    path = str(tmp_path / "del_ds")
    df = synth.synth_webtext(spark, 120, num_partitions=2)
    encode.encode_to_path(spark, df, path, chunks=2, target_rows_per_block=32)
    victims = [r["url"] for r in df.orderBy("url").limit(20).collect()]
    encode.delete_rows(spark, path, "url", victims)
    # re-insert half the victims as a later chunk (> seq): visible again
    reins = df.where(F.col("url").isin(victims[:10]))
    encode.append_chunk(spark, reins, path)

    back = spark.read.format("raquet").load(path)
    urls = [r["url"] for r in back.select("url").collect()]
    assert set(victims[10:]).isdisjoint(urls)
    for u in victims[:10]:
        assert urls.count(u) == 1  # the re-inserted copy only
    assert len(urls) == 120 - 20 + 10

    # projection without the delete column: filter still applies
    langs = spark.read.format("raquet").option("columns", "lang").load(path)
    assert langs.count() == 120 - 20 + 10
    assert langs.columns == ["lang"]
    # engine reader and datasource agree row-for-row
    eng = scan.read_rows(spark, path, ["url"]).collect()
    assert sorted(r["url"] for r in eng) == sorted(urls)


def test_datasource_time_travel_by_snapshot_and_ref(registered, tmp_path):
    """.option('snapshotId', N) / .option('ref', 'tag') pin chunk
    visibility AND the equality-delete set to that snapshot — the
    DataFrame-source twin of scan.read_rows(ref=...)."""
    spark = registered
    path = str(tmp_path / "tt_ds")
    df = synth.synth_webtext(spark, 120, num_partitions=2)
    encode.encode_to_path(spark, df, path, chunks=2, target_rows_per_block=32)
    extra = synth.synth_webtext(spark, 30, num_partitions=1, start=5_000_000)
    encode.append_chunk(spark, extra, path)  # snapshot 1
    encode.create_tag(spark, path, "v0", snapshot_id=0)
    # delete some rows at the tip (snapshot 2): the tagged read must
    # NOT apply the later delete
    langs = [r[0] for r in df.select("lang").distinct().collect()]
    encode.delete_rows(spark, path, "lang", [langs[0]])
    n_lang0 = df.where(F.col("lang") == langs[0]).count()
    cur = spark.read.format("raquet").load(path)
    old_id = spark.read.format("raquet").option("snapshotId", 0).load(path)
    old_ref = spark.read.format("raquet").option("ref", "v0").load(path)
    assert old_id.count() == 120 and old_ref.count() == 120
    assert cur.count() == 150 - (
        n_lang0 + extra.where(F.col("lang") == langs[0]).count()
    )
    assert old_ref.where(F.col("lang") == langs[0]).count() == n_lang0
    # snapshot 1 sees the append but still no delete
    assert (
        spark.read.format("raquet").option("snapshotId", 1).load(path).count()
        == 150
    )
    with pytest.raises(Exception, match="not both"):
        spark.read.format("raquet").option("snapshotId", 0).option(
            "ref", "v0"
        ).load(path).count()
    with pytest.raises(Exception, match="no snapshot"):
        spark.read.format("raquet").option("snapshotId", 9).load(path).count()


def test_datasource_tagged_read_survives_rename(registered, tmp_path):
    """Delete on a column, tag, then RENAME that column: the tagged
    DataSource read must remap the pinned snapshot's delete entries to
    the current logical name (decode serves current names), exactly
    like scan.read_delete_entries does."""
    spark = registered
    path = str(tmp_path / "tt_ren")
    df = synth.synth_webtext(spark, 120, num_partitions=2)
    encode.encode_to_path(spark, df, path, chunks=2, target_rows_per_block=32)
    langs = [r[0] for r in df.select("lang").distinct().collect()]
    encode.delete_rows(spark, path, "lang", [langs[0]])  # snapshot 1
    encode.create_tag(spark, path, "v-del", snapshot_id=1)
    encode.evolve_rename_column(spark, path, "lang", "language")
    n_lang0 = df.where(F.col("lang") == langs[0]).count()
    got = spark.read.format("raquet").option("ref", "v-del").load(path)
    assert got.count() == 120 - n_lang0
    assert "language" in got.columns and "lang" not in got.columns
    assert got.where(F.col("language") == langs[0]).count() == 0
    # engine reader agrees
    eng = scan.read_rows(spark, path, ref="v-del")
    assert eng.count() == 120 - n_lang0
