"""Iceberg-style row-level deletes: equality-delete files, merge-on-read
(encode.delete_rows / scan.read_rows), sequence-number semantics, purge."""

import pytest
from pyspark.sql import functions as F

from duckdb_raquet_spark import encode, manifest as mf, scan


def _webtext(spark, n=80, shift=0):
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(n)
    return docs.select(
        F.concat(
            F.lit("https://d/"), (F.col("doc_id") + shift).cast("string")
        ).alias("url"),
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("doc_id") + shift) * 60
        ).alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
        (F.col("doc_id") + shift).alias("doc_id"),
    )


@pytest.fixture(scope="module")
def del_table(spark, tmp_path_factory):
    """2 chunks, delete doc_id%7==0 urls (seq=1), append a chunk that
    RE-INSERTS the doc_id%14==0 half of them, then delete lang='de'
    (seq=2, applies to all three chunks)."""
    path = str(tmp_path_factory.mktemp("del") / "tbl")
    web = _webtext(spark)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=32)
    urls = [
        r["url"]
        for r in web.where(F.col("doc_id") % 7 == 0).select("url").collect()
    ]
    encode.delete_rows(spark, path, "url", urls)
    # re-insert half the deleted keys with fresh doc_ids
    reins = _webtext(spark).where(F.col("doc_id") % 14 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    encode.append_chunk(spark, reins, path)
    encode.delete_rows(spark, path, "lang", ["de"])
    return path, web


def _expected_ids(web_rows, reins_shift=1_000_000):
    keep = set()
    for r in web_rows:
        if r["doc_id"] % 7 != 0 and r["lang"] != "de":
            keep.add(r["doc_id"])
        if r["doc_id"] % 14 == 0 and r["lang"] != "de":
            keep.add(r["doc_id"] + reins_shift)
    return keep


def test_delete_rows_merge_on_read(spark, del_table):
    path, web = del_table
    man = scan.read_manifest(spark, path)
    assert len(man["delete_files"]) == 2
    assert [e["col"] for e in man["delete_files"]] == ["url", "lang"]
    assert man["delete_files"][0]["seq"] == 1  # chunks 0,1 visible then
    assert man["delete_files"][1]["seq"] == 2  # after the append

    out = scan.read_rows(spark, path, ["doc_id", "lang"])
    got = {r["doc_id"] for r in out.collect()}
    assert got == _expected_ids(web.collect())
    # no data file was rewritten: chunk dirs are 0,1,2 and the delete
    # commit is metadata + a small parquet
    assert sorted(
        int(r["chunk"])
        for r in scan.read_blocks(spark, path).select("chunk").distinct().collect()
    ) == [0, 1, 2]


def test_sequence_rule_reinserted_rows_survive(spark, del_table):
    path, web = del_table
    # every re-inserted url is one the first delete targeted, yet all
    # non-'de' re-inserts are visible (chunk 2 > seq 1)
    out = scan.read_rows(spark, path, ["doc_id", "url", "lang"])
    reins = [r for r in out.collect() if r["doc_id"] >= 1_000_000]
    assert reins, "re-inserted rows must survive the earlier delete"
    deleted_urls = {
        r["url"] for r in web.where(F.col("doc_id") % 14 == 0).collect()
    }
    assert all(r["url"] in deleted_urls for r in reins)
    assert all(r["lang"] != "de" for r in reins)


def test_time_travel_sees_deletes_as_of_snapshot(spark, del_table):
    path, web = del_table
    snaps = mf.read_snapshots(path, spark)
    by_op = {}
    for s in snaps.values():
        by_op.setdefault(s["op"], []).append(s["snapshot_id"])
    pre_delete = min(by_op["delete"]) - 1
    first_delete = min(by_op["delete"])

    # before any delete: full original table
    out0 = scan.read_rows(spark, path, ["doc_id"], snapshot_id=pre_delete)
    assert out0.count() == 80
    # at the first delete: %7 urls gone, no re-inserts yet, 'de' intact
    out1 = scan.read_rows(
        spark, path, ["doc_id", "lang"], snapshot_id=first_delete
    )
    rows1 = out1.collect()
    assert {r["doc_id"] for r in rows1} == {
        r["doc_id"] for r in web.collect() if r["doc_id"] % 7 != 0
    }
    assert any(r["lang"] == "de" for r in rows1)


def test_point_lookup_respects_deletes(spark, del_table):
    path, web = del_table
    victim = next(
        r for r in web.collect() if r["doc_id"] % 7 == 0 and r["doc_id"] % 14 != 0
    )
    ts = 1704067200 + victim["doc_id"] * 60
    assert scan.point_lookup(spark, path, victim["url"], ts).count() == 0
    survivor = next(
        r for r in web.collect() if r["doc_id"] % 7 != 0 and r["lang"] != "de"
    )
    ts2 = 1704067200 + survivor["doc_id"] * 60
    assert scan.point_lookup(spark, path, survivor["url"], ts2).count() == 1


def test_purge_deletes_physical_rewrite(spark, del_table, tmp_path):
    path, web = del_table
    dst = str(tmp_path / "purged")
    final = scan.purge_deletes(spark, path, dst)
    man2 = scan.read_manifest(spark, dst)
    assert "delete_files" not in man2
    expected = _expected_ids(web.collect())
    out = scan.read_rows(spark, dst, ["doc_id"])
    assert {r["doc_id"] for r in out.collect()} == expected
    assert final["num_rows"] == len(expected)
    # purged table reads identically through the plain physical layer
    phys = scan.decode_blocks(
        scan.read_blocks(spark, dst), man2, ["doc_id"]
    )
    assert {r["doc_id"] for r in phys.collect()} == expected


def test_compact_refuses_delete_tables(spark, del_table, tmp_path):
    path, _ = del_table
    with pytest.raises(ValueError, match="purge_deletes"):
        scan.compact_to_path(spark, path, str(tmp_path / "c"))


def test_delete_rows_dataframe_input(spark, tmp_path):
    """The dedup-pipeline tie-in: a DataFrame drop list deletes rows
    without ever collecting to the driver."""
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=40)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=32)
    drop = web.where(F.col("doc_id") % 3 == 0).select("url")
    man = encode.delete_rows(spark, path, "url", drop)
    assert man["delete_files"][0]["n"] == web.where(
        F.col("doc_id") % 3 == 0
    ).count()
    out = scan.read_rows(spark, path, ["doc_id"])
    assert {r["doc_id"] for r in out.collect()} == {
        r["doc_id"] for r in web.collect() if r["doc_id"] % 3 != 0
    }


def test_delete_guards(spark, tmp_path):
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=20)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=32)
    with pytest.raises(ValueError, match="no column"):
        encode.delete_rows(spark, path, "nope", ["x"])
    with pytest.raises(ValueError, match="empty delete set"):
        encode.delete_rows(spark, path, "url", [])


def test_rollback_restores_pre_delete_state(spark, tmp_path):
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=30)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=32)
    pre = mf.current_snapshot(path, spark)["snapshot_id"]
    encode.delete_rows(spark, path, "lang", ["en"])
    assert scan.read_rows(spark, path).where(F.col("lang") == "en").count() == 0
    encode.rollback_to_snapshot(spark, path, pre)
    man = scan.read_manifest(spark, path)
    assert not man.get("delete_files")
    out = scan.read_rows(spark, path, ["doc_id"])
    assert out.count() == 30
    # and an append after the rollback still carries no delete list
    encode.append_chunk(spark, _webtext(spark, n=10, shift=5000), path)
    snap = mf.current_snapshot(path, spark)
    assert "delete_files" not in snap


def test_upsert_rows_merge(spark, tmp_path):
    """MERGE: matched keys replaced with df's version, unmatched keys
    inserted; untouched rows unchanged; no data file rewritten."""
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=30)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=32)
    pre_chunks = {
        int(r["chunk"])
        for r in scan.read_blocks(spark, path).select("chunk").distinct().collect()
    }
    # the append claims the id past every chunk the snapshot lists,
    # empty ones included (30 rows are one cell: one chunk holds them)
    listed = mf.current_snapshot(path, spark)["chunks"]
    # update: flip lang of every %5 doc; insert: 5 brand-new urls
    upd = web.where(F.col("doc_id") % 5 == 0).withColumn("lang", F.lit("xx"))
    ins = _webtext(spark, n=5, shift=9000)
    encode.upsert_rows(spark, upd.unionByName(ins), path, "url")

    out = {r["url"]: r for r in scan.read_rows(spark, path).collect()}
    base = {r["url"]: r for r in web.collect()}
    assert len(out) == 30 + 5
    for url, row in base.items():
        if row["doc_id"] % 5 == 0:
            assert out[url]["lang"] == "xx"
            assert out[url]["text"] == row["text"]  # full row carried
        else:
            assert out[url]["lang"] == row["lang"]
    for r in ins.collect():
        assert out[r["url"]]["doc_id"] == r["doc_id"]
    # merge-on-read: original chunks untouched, exactly one appended
    post_chunks = {
        int(r["chunk"])
        for r in scan.read_blocks(spark, path).select("chunk").distinct().collect()
    }
    assert post_chunks == pre_chunks | {max(listed) + 1}


def test_upsert_guards(spark, tmp_path):
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=10)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=16)
    with pytest.raises(ValueError, match="full column set"):
        encode.upsert_rows(spark, web.select("url", "lang"), path, "url")
    dup = web.limit(1).unionByName(web.limit(1))
    with pytest.raises(ValueError, match="duplicate"):
        encode.upsert_rows(spark, dup, path, "url")


def test_upsert_then_upsert_latest_wins(spark, tmp_path):
    """Two upserts of the same key: the later chunk's version is the
    visible one (each merge deletes the prior version at its seq)."""
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=12)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=16)
    v1 = web.limit(3).withColumn("lang", F.lit("v1"))
    v2 = web.limit(3).withColumn("lang", F.lit("v2"))
    encode.upsert_rows(spark, v1, path, "url")
    encode.upsert_rows(spark, v2, path, "url")
    out = scan.read_rows(spark, path, ["url", "lang"])
    marked = {r["url"]: r["lang"] for r in out.collect() if r["lang"] in ("v1", "v2")}
    assert set(marked.values()) == {"v2"}
    assert out.count() == 12


def test_rename_carries_deletes_drop_refuses(spark, tmp_path):
    """Schema evolution x deletes: RENAME remaps the delete entries'
    logical column (value files read positionally), DROP of a column
    with live deletes is refused until purge."""
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=24)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=16)
    encode.delete_rows(spark, path, "lang", ["de", "fr"])
    with pytest.raises(ValueError, match="purge_deletes"):
        encode.evolve_drop_column(spark, path, "lang")
    encode.evolve_rename_column(spark, path, "lang", "language")
    man = scan.read_manifest(spark, path)
    assert [e["col"] for e in man["delete_files"]] == ["language"]
    out = scan.read_rows(spark, path, ["doc_id", "language"])
    rows = out.collect()
    assert all(r["language"] not in ("de", "fr") for r in rows)
    assert {r["doc_id"] for r in rows} == {
        r["doc_id"] for r in web.collect() if r["lang"] not in ("de", "fr")
    }
    # the renamed-away old name is gone from the read surface
    assert "language" in out.columns and "lang" not in out.columns


def test_range_scan_respects_deletes(spark, del_table):
    path, web = del_table
    lo = 1704067200
    hi = lo + 80 * 60 + 1  # whole fixture window
    out = scan.range_scan_ts(spark, path, lo, hi, cols=["doc_id", "lang"])
    got = {r["doc_id"] for r in out.collect()}
    # re-inserted rows carry shifted doc_ids but warc_ts from the
    # shifted helper too (outside this window is fine to exclude)
    expect = {
        r["doc_id"]
        for r in web.collect()
        if r["doc_id"] % 7 != 0 and r["lang"] != "de"
    }
    assert got & expect == expect
    deleted = {
        r["doc_id"]
        for r in web.collect()
        if r["doc_id"] % 7 == 0 or r["lang"] == "de"
    }
    assert not (got & deleted)


def test_register_rows_view_sql(spark, del_table):
    path, web = del_table
    scan.register_rows_view(spark, path, "del_tbl_v")
    n = spark.sql("SELECT count(*) AS n FROM del_tbl_v").first()["n"]
    assert n == len(_expected_ids(web.collect()))
    de = spark.sql("SELECT count(*) AS n FROM del_tbl_v WHERE lang = 'de'")
    assert de.first()["n"] == 0


def test_read_changes_changelog(spark, tmp_path):
    """Changelog between snapshots: net inserts from appended chunks,
    net deletes from new equality-delete files; pre-range deletes and
    insert-then-delete-in-range rows appear as neither."""
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=40)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=32)
    encode.delete_rows(spark, path, "lang", ["de"])  # pre-range delete
    s_from = mf.current_snapshot(path, spark)["snapshot_id"]

    # in range: append 10 new docs, delete %5 urls (hits old chunks
    # AND, per sequence rule, not the appended chunk)
    extra = _webtext(spark, n=10, shift=7000)
    encode.append_chunk(spark, extra, path)
    encode.delete_rows(
        spark, path, "url",
        web.where(F.col("doc_id") % 5 == 0).select("url"),
    )
    s_to = mf.current_snapshot(path, spark)["snapshot_id"]

    ch = scan.read_changes(spark, path, s_from, s_to, cols=["doc_id", "lang"])
    rows = ch.collect()
    ins = {r["doc_id"] for r in rows if r["_change_type"] == "insert"}
    dels = {r["doc_id"] for r in rows if r["_change_type"] == "delete"}
    assert ins == {r["doc_id"] for r in extra.collect()}
    # deleted: %5 docs alive at s_from (lang != 'de')
    assert dels == {
        r["doc_id"]
        for r in web.collect()
        if r["doc_id"] % 5 == 0 and r["lang"] != "de"
    }
    # consistency: rows(s_from) + inserts - deletes == rows(s_to)
    at_from = {
        r["doc_id"]
        for r in scan.read_rows(spark, path, ["doc_id"], snapshot_id=s_from).collect()
    }
    at_to = {
        r["doc_id"]
        for r in scan.read_rows(spark, path, ["doc_id"], snapshot_id=s_to).collect()
    }
    assert (at_from | ins) - dels == at_to

    # empty range: no changes, schema preserved
    none = scan.read_changes(spark, path, s_to, s_to)
    assert none.count() == 0
    assert "_change_type" in none.columns


def test_read_changes_rollback_deletes(spark, tmp_path):
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=20)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=16)
    extra = _webtext(spark, n=5, shift=8000)
    encode.append_chunk(spark, extra, path)
    s_from = mf.current_snapshot(path, spark)["snapshot_id"]
    encode.rollback_to_snapshot(spark, path, s_from - 1)  # drop the append
    s_to = mf.current_snapshot(path, spark)["snapshot_id"]
    ch = scan.read_changes(spark, path, s_from, s_to, cols=["doc_id"])
    rows = ch.collect()
    assert {r["doc_id"] for r in rows if r["_change_type"] == "delete"} == {
        r["doc_id"] for r in extra.collect()
    }
    assert not [r for r in rows if r["_change_type"] == "insert"]


def test_expire_reclaims_orphan_delete_files(spark, tmp_path):
    """Rollback to a pre-delete snapshot, then expire history: the
    orphaned delete dir is reclaimed; a referenced one is kept."""
    import os

    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=20)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=16)
    pre = mf.current_snapshot(path, spark)["snapshot_id"]
    encode.delete_rows(spark, path, "lang", ["en"])
    encode.rollback_to_snapshot(spark, path, pre)
    out = encode.expire_snapshots(spark, path, keep_last=1)
    assert out["removed_delete_files"]
    assert not os.listdir(os.path.join(path, encode.DELETES_DIR))
    # and a live delete file survives expiry
    encode.delete_rows(spark, path, "lang", ["de"])
    out2 = encode.expire_snapshots(spark, path, keep_last=1)
    assert out2["removed_delete_files"] == []
    assert scan.read_rows(spark, path).where(F.col("lang") == "de").count() == 0


def test_rollback_forward_to_delete_snapshot(spark, tmp_path):
    """Review regression: rolling FORWARD to a delete snapshot changes
    only the delete list; the commit must not be swallowed by the
    resume-idempotency check (snapshot log would desync from sidecar)."""
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=40)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=32)
    s0 = mf.current_snapshot(path, spark)["snapshot_id"]
    encode.delete_rows(spark, path, "lang", ["de"])
    s1 = mf.current_snapshot(path, spark)["snapshot_id"]
    n_del = scan.read_rows(spark, path).count()
    encode.rollback_to_snapshot(spark, path, s0)   # deletes off
    encode.rollback_to_snapshot(spark, path, s1)   # deletes back ON
    cur = mf.current_snapshot(path, spark)
    assert cur["snapshot_id"] > s1 + 1  # both rollbacks committed
    assert cur.get("delete_files")
    # snapshot-log reads and sidecar reads agree
    assert scan.read_rows(spark, path).count() == n_del
    assert (
        scan.read_rows(spark, path).where(F.col("lang") == "de").count() == 0
    )


def test_time_travel_across_rename_resolves_old_delete_names(spark, tmp_path):
    """Review regression: a pre-rename snapshot's delete entries carry
    the old column name; reads replay later rename ops to resolve them
    against the current manifest."""
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=24)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=16)
    encode.delete_rows(spark, path, "lang", ["de"])
    s_pre = mf.current_snapshot(path, spark)["snapshot_id"]
    n_pre = scan.read_rows(spark, path).count()
    encode.evolve_rename_column(spark, path, "lang", "language")
    out = scan.read_rows(spark, path, ["doc_id", "language"], snapshot_id=s_pre)
    rows = out.collect()
    assert len(rows) == n_pre
    assert all(r["language"] != "de" for r in rows)


def test_read_changes_reports_resurrected_rows(spark, tmp_path):
    """Review regression: a rollback that removes a delete file in the
    changelog range resurrects rows — they must appear as inserts."""
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=30)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=16)
    pre = mf.current_snapshot(path, spark)["snapshot_id"]
    encode.delete_rows(spark, path, "lang", ["de"])
    s_from = mf.current_snapshot(path, spark)["snapshot_id"]
    encode.rollback_to_snapshot(spark, path, pre)
    s_to = mf.current_snapshot(path, spark)["snapshot_id"]
    ch = scan.read_changes(spark, path, s_from, s_to, cols=["doc_id", "lang"])
    rows = ch.collect()
    res = {r["doc_id"] for r in rows if r["_change_type"] == "insert"}
    assert res == {r["doc_id"] for r in web.collect() if r["lang"] == "de"}
    assert not [r for r in rows if r["_change_type"] == "delete"]


def test_purge_into_reused_path_clears_stale_meta(spark, tmp_path):
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=20)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=16)
    encode.delete_rows(spark, path, "lang", ["de"])
    dst = str(tmp_path / "dst")
    # dst previously held a chunked table WITH deletes
    encode.encode_to_path(
        spark, _webtext(spark, n=10, shift=4000), dst,
        chunks=2, target_rows_per_block=16,
    )
    encode.delete_rows(spark, dst, "lang", ["en"])
    final = scan.purge_deletes(spark, path, dst)
    out = scan.read_rows(spark, dst, ["doc_id", "lang"])
    assert out.count() == final["num_rows"]
    assert {r["doc_id"] for r in out.collect()} == {
        r["doc_id"] for r in web.collect() if r["lang"] != "de"
    }
    with pytest.raises(ValueError, match="must differ"):
        scan.purge_deletes(spark, path, path)


def test_empty_dataframe_delete_set_rejected(spark, tmp_path):
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=10)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=16)
    with pytest.raises(ValueError, match="empty delete set"):
        encode.delete_rows(
            spark, path, "url", web.where(F.lit(False)).select("url")
        )
    assert not scan.read_manifest(spark, path).get("delete_files")


def test_rollback_across_rename_remaps_delete_entries(spark, tmp_path):
    """Review regression: rollback copies a historical snapshot's
    delete entries into a NEW snapshot id — they must be remapped
    through renames committed since, or the table becomes unreadable."""
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=20)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=16)
    encode.delete_rows(spark, path, "lang", ["de"])
    s_del = mf.current_snapshot(path, spark)["snapshot_id"]
    n_del = scan.read_rows(spark, path).count()
    encode.evolve_rename_column(spark, path, "lang", "language")
    encode.rollback_to_snapshot(spark, path, s_del)
    man = scan.read_manifest(spark, path)
    assert [e["col"] for e in man["delete_files"]] == ["language"]
    out = scan.read_rows(spark, path, ["doc_id", "language"])
    assert out.count() == n_del
    assert out.where(F.col("language") == "de").count() == 0


def test_read_changes_across_rename(spark, tmp_path):
    """Review regression: changelog endpoints before a rename resolve
    their delete entries via the same rename replay as read_rows."""
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=20)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=16)
    s0 = mf.current_snapshot(path, spark)["snapshot_id"]
    encode.delete_rows(spark, path, "lang", ["de"])
    s1 = mf.current_snapshot(path, spark)["snapshot_id"]
    encode.evolve_rename_column(spark, path, "lang", "language")
    ch = scan.read_changes(spark, path, s0, s1, cols=["doc_id"])
    dels = {r["doc_id"] for r in ch.collect() if r["_change_type"] == "delete"}
    assert dels == {r["doc_id"] for r in web.collect() if r["lang"] == "de"}


def test_numeric_literal_delete_values(spark, tmp_path):
    """Review regression: CLI-style string literals against a numeric
    column cast instead of failing (table_job delete --values 5,7)."""
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=15)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=16)
    encode.delete_rows(spark, path, "doc_id", ["3", "5"])
    got = {r["doc_id"] for r in scan.read_rows(spark, path, ["doc_id"]).collect()}
    assert got == {r["doc_id"] for r in web.collect()} - {3, 5}


def test_upsert_empty_df_is_noop(spark, tmp_path):
    path = str(tmp_path / "tbl")
    web = _webtext(spark, n=10)
    encode.encode_to_path(spark, web, path, chunks=2, target_rows_per_block=16)
    before = mf.current_snapshot(path, spark)["snapshot_id"]
    encode.upsert_rows(spark, web.where(F.lit(False)), path, "url")
    assert mf.current_snapshot(path, spark)["snapshot_id"] == before
    assert scan.read_rows(spark, path).count() == 10


def test_delete_set_mask_matches_brute_force(tmp_path):
    """``reader.load_deletes`` + ``DeleteSet.mask`` against a brute-force
    rule over keys that trip hash lookups: NULL and NaN keys (never
    match), int64 keys past 2**53 probed by a column with NULLs, an
    int32 v1 file merged with an int64 v2 file, naive-ns timestamps
    merged with aware-us ones, a three-column key, one key in several
    files under different sequences."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_raquet_spark import reader

    big = 2**60
    ts = lambda us, tz=None: pa.array(us, pa.timestamp("us", tz))

    def write(name, tbl):
        d = tmp_path / name
        d.mkdir()
        pq.write_table(tbl, d / "part-0.parquet")
        return name

    entries = [
        {"dir": write("v1", pa.table({"old_id": pa.array([1, 2, None], pa.int32())})),
         "col": "id", "seq": 1},
        {"dir": write("v2", pa.table({
            "_k0": pa.array([2, big + 1, 3], pa.int64()),
            "_dseq": pa.array([4, 2, 0], pa.int64())})),
         "cols": ["id"], "seq": 4, "v": 2},
        {"dir": write("f", pa.table({
            "_k0": pa.array([0.5, float("nan")]), "_dseq": pa.array([3, 3])})),
         "cols": ["f"], "seq": 3, "v": 2},
        {"dir": write("ns", pa.table({
            "_k0": pa.array(["a", "b"]),
            "_k1": pa.array([1000, 2000], pa.timestamp("ns")),
            "_k2": pa.array([7, 7], pa.int64()),
            "_dseq": pa.array([1, 3])})),
         "cols": ["u", "t", "id"], "seq": 3, "v": 2},
        {"dir": write("us", pa.table({
            "_k0": pa.array(["a", None]),
            "_k1": ts([1, 2], "UTC"),
            "_k2": pa.array([7, 7], pa.int64()),
            "_dseq": pa.array([2, 3])})),
         "cols": ["u", "t", "id"], "seq": 3, "v": 2},
    ]
    sets = reader.load_deletes(str(tmp_path), entries)
    # merged to distinct non-NULL, non-NaN tuples
    assert [(s.cols, s.keys.num_rows) for s in sets] == [
        (("f",), 1), (("id",), 4), (("u", "t", "id"), 2)
    ]

    # brute force: key tuple -> highest seq, NULL and NaN keys absent
    horizon = {
        ("id",): {(1,): 1, (2,): 4, (big + 1,): 2, (3,): 0},
        ("f",): {(0.5,): 3},
        ("u", "t", "id"): {("a", 1, 7): 2, ("b", 2, 7): 3},
    }
    batch = pa.record_batch({
        "id": pa.array([1, 2, 3, big, big + 1, None, 7, 7], pa.int64()),
        "f": pa.array([0.5, float("nan"), None, 1.0, 0.5, 0.5, 2.0, 0.5]),
        "u": pa.array(["a", "b", "a", "a", None, "b", "a", "b"]),
        "t": ts([1, 2, 2, 1, 1, 2, 1, 2], "UTC"),
    })
    rows = batch.to_pylist()
    for chunk in (None, 0, 1, 2, 3, 4, 5):
        want = np.array([
            any(
                (chunk or 0) <= horizon[s.cols].get(
                    tuple(
                        int(r[c].timestamp() * 1e6) if c == "t" else r[c]
                        for c in s.cols
                    ),
                    -1,
                )
                for s in sets
            )
            for r in rows
        ])
        got = np.zeros(len(rows), dtype=bool)
        for s in sets:
            got |= s.mask(batch, chunk)
        assert got.tolist() == want.tolist(), chunk
        kept = reader._apply_deletes(batch, chunk, sets, names=["id"])
        assert kept.column_names == ["id"] and kept.num_rows == (~want).sum()


def test_delete_set_lookup_shared_by_threads():
    """A driver read's decode threads share one ``DeleteSet``: 16
    threads that probe a fresh set at once, with a short
    switch interval, all see the full lookup, never a half-built one."""
    import sys
    import threading

    import numpy as np
    import pyarrow as pa

    from duckdb_raquet_spark import reader

    n = 200_000
    keys = pa.table({
        "u": pa.array([f"k{i}" for i in range(n)]),
        "_dseq": pa.array(np.arange(n) % 3, pa.int64()),
    })
    probe = pa.record_batch({"u": pa.array([f"k{i}" for i in range(0, 2 * n, 7)])})
    idx = np.arange(0, 2 * n, 7)
    want = (idx < n) & (idx % 3 >= 1)  # chunk 1 <= _dseq
    dset = reader.DeleteSet(("u",), keys)
    got, errors = [], []

    def run():
        try:
            got.append(dset.mask(probe, 1))
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors and len(got) == len(threads)
    assert all(g.tolist() == want.tolist() for g in got)
