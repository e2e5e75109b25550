"""Incremental data-file compaction (encode.compact_chunks) — the
Iceberg ``rewrite_data_files`` bin-packing analog, committed in place:
merge only the selected (small) chunks into one fresh chunk at
O(selected bytes), applying live equality deletes physically for the
rewritten rows, while untouched chunks keep merge-on-read semantics.
Incremental readers refuse ranges that span the rewrite (spurious
delete+insert pairs otherwise) but stay exact on either side of it.

Reference parity: the reference's maintenance rebuilds are likewise
scoped rewrites over an immutable Parquet layout; the snapshot
mechanics mirror Iceberg's replace commits."""

import pytest
from pyspark.sql import functions as F

from duckdb_raquet_spark import encode, manifest as mf, scan, synth


def _rows(spark, path, **kw):
    return sorted(
        (r["url"], r["lang"])
        for r in scan.read_rows(spark, path, ["url", "lang"], **kw).collect()
    )


@pytest.fixture(scope="module")
def cc_table(spark, tmp_path_factory):
    """2-chunk base + 3 small appended chunks + a delete over both
    generations + a re-insert AFTER the delete (sequence rule)."""
    path = str(tmp_path_factory.mktemp("cc") / "tbl")
    base = synth.synth_webtext(spark, 240, num_partitions=4)
    encode.encode_to_path(spark, base, path, chunks=2, target_rows_per_block=64)
    for s in (1_000_000, 2_000_000, 3_000_000):
        encode.append_chunk(
            spark, synth.synth_webtext(spark, 40, num_partitions=2, start=s),
            path,
        )
    # delete 30 base urls + 10 appended urls (seq = 4, applies to all)
    victims = (
        base.select("url").limit(30)
        .unionByName(
            synth.synth_webtext(spark, 10, num_partitions=1, start=1_000_000)
            .select("url")
        )
    )
    encode.delete_rows(spark, path, "url", victims)
    # re-insert 10 of the deleted base urls in a NEWER chunk (id 5 >
    # seq 4): the sequence rule keeps them visible
    reins = base.limit(10)
    encode.append_chunk(spark, reins, path)
    return path


def test_compact_preserves_reads_and_history(spark, cc_table):
    before = _rows(spark, cc_table)
    pre = mf.current_snapshot(cc_table, spark)
    assert sorted(pre["chunks"]) == [0, 1, 2, 3, 4, 5]

    man = encode.compact_chunks(spark, cc_table, chunk_ids=[2, 3, 4, 5])
    post = mf.current_snapshot(cc_table, spark)
    assert post["op"] == "compact-chunks"
    assert post["compacted_from"] == [2, 3, 4, 5]
    assert sorted(post["chunks"]) == [0, 1, 6]

    # the merge-on-read view is unchanged — including the re-inserted
    # urls (alive via the sequence rule before, alive physically after)
    assert _rows(spark, cc_table) == before
    # time travel to the pre-compaction snapshot still sees the old view
    assert _rows(spark, cc_table, snapshot_id=pre["snapshot_id"]) == before
    # delete entries survive for the untouched chunks (0, 1)
    assert man.get("delete_files"), "delete list must not be dropped"

    # the rewritten chunk holds exactly the live rows of its sources:
    # 3x40 appended - 10 deleted + 10 re-inserted
    lin = mf.read_chunk_lineage(cc_table, spark)
    assert lin[6]["compacted_from"] == [2, 3, 4, 5]
    assert lin[6]["rows"] == 3 * 40 - 10 + 10


def test_changelog_refuses_spanning_ranges_only(spark, cc_table):
    snaps = mf.read_snapshots(cc_table, spark)
    rw = next(i for i in snaps if snaps[i]["op"] == "compact-chunks")
    with pytest.raises(ValueError, match="spans data-rewrite"):
        scan.read_changes(spark, cc_table, 0).count()
    with pytest.raises(ValueError, match="spans data-rewrite"):
        scan.read_appended_between(spark, cc_table, rw - 1, rw).count()
    # exact on either side of the boundary
    assert scan.read_changes(spark, cc_table, 0, rw - 1).count() > 0
    assert scan.read_changes(spark, cc_table, rw).count() == 0


def test_smallest_first_selection_and_expiry(spark, cc_table):
    pre = mf.current_snapshot(cc_table, spark)
    before = _rows(spark, cc_table)
    vis = sorted(int(c) for c in pre["chunks"])
    lin = mf.read_chunk_lineage(cc_table, spark)
    smallest2 = sorted(
        sorted(vis, key=lambda c: int(lin[c]["enc_bytes"]))[:2]
    )
    encode.compact_chunks(spark, cc_table, max_chunks=2)
    post = mf.current_snapshot(cc_table, spark)
    assert post["compacted_from"] == smallest2
    new_id = max(int(c) for c in post["chunks"])
    assert sorted(int(c) for c in post["chunks"]) == sorted(
        [c for c in vis if c not in smallest2] + [new_id]
    )
    assert _rows(spark, cc_table) == before
    res = encode.expire_snapshots(spark, cc_table, keep_last=1)
    # everything not visible at the final snapshot is reclaimed
    assert set(res["removed_chunks"]) == set(range(new_id)) - set(
        int(c) for c in post["chunks"]
    )
    assert _rows(spark, cc_table) == before


def test_selection_validation(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = synth.synth_webtext(spark, 120, num_partitions=2)
    encode.encode_to_path(spark, df, path, chunks=2, target_rows_per_block=64)
    with pytest.raises(ValueError, match="chunk_ids, small_bytes or max_chunks"):
        encode.compact_chunks(spark, path)
    with pytest.raises(ValueError, match="not visible"):
        encode.compact_chunks(spark, path, chunk_ids=[0, 9])
    with pytest.raises(ValueError, match="at least 2 chunks"):
        encode.compact_chunks(spark, path, chunk_ids=[0])
    with pytest.raises(ValueError, match="at least 2 chunks"):
        # a huge threshold capped to one chunk still refuses
        encode.compact_chunks(spark, path, small_bytes=1, max_chunks=5)


def test_concurrent_commit_fails_the_compaction(spark, tmp_path):
    """A writer committing between the selection/delete-entry capture
    and the replace commit must fail the compaction loudly: the
    rewrite would miss the new delete, whose entry (seq < new chunk
    id) no longer applies to the rewritten chunk."""
    path = str(tmp_path / "tbl")
    df = synth.synth_webtext(spark, 120, num_partitions=2)
    encode.encode_to_path(spark, df, path, chunks=2, target_rows_per_block=64)
    names = ["url", "warc_ts", "html", "text", "lang"]
    stale = mf.committed_manifest(path, spark)
    rows = scan.read_rows(spark, path, names)
    # the interleaved commit
    encode.delete_rows(spark, path, "url", df.select("url").limit(5))
    with pytest.raises(mf.ConcurrentCommitError, match="advanced"):
        encode.append_chunk(
            spark, rows, path,
            _replace_chunks=[0, 1], _op="compact-chunks",
            _base=stale,
        )
    # the retry path: a fresh capture succeeds and folds the delete in
    before = _rows(spark, path)
    encode.compact_chunks(spark, path, chunk_ids=[0, 1])
    assert _rows(spark, path) == before


def test_stream_inline_maintenance(spark, tmp_path):
    """upsert_stream(maintenance_every=4): the ingest loop itself keeps
    both accumulations bounded — delete files collapse to one per key
    set and small chunks bin-pack in place — with the final state
    identical to the unmaintained stream's."""
    from duckdb_raquet_spark import streaming

    base = synth.synth_webtext(spark, 40, num_partitions=2)
    path = str(tmp_path / "tbl")
    encode.encode_to_path(spark, base, path, chunks=2, target_rows_per_block=32)

    src = str(tmp_path / "cdc")
    for i in range(8):
        (
            base.withColumn("lang", F.lit(f"v{i:02d}"))
            .coalesce(1)
            .write.parquet(f"{src}/f={i:02d}")
        )
    schema = spark.read.parquet(f"{src}/f=00").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/f=*")
    )
    q = streaming.upsert_stream(
        stream,
        path,
        ["url", "warc_ts"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        maintenance_every=4,
        maintenance_small_bytes=1 << 30,  # everything is "small" here
    )
    q.awaitTermination(300)

    man = scan.read_manifest(spark, path)
    # 8 per-batch delete files collapsed at batches 4 and 8; batches
    # 5-8 added 4 more, merged again at 8 -> exactly one live file
    assert len(man["delete_files"]) == 1
    snaps = mf.read_snapshots(path, spark)
    ops = [snaps[i]["op"] for i in sorted(snaps)]
    assert ops.count("compact-chunks") == 2
    # visible chunks bin-packed: one merged chunk per maintenance run
    # survives, not one per micro-batch
    cur = mf.current_snapshot(path, spark)
    assert len(cur["chunks"]) <= 3
    out = {
        (r["url"], str(r["warc_ts"])): r["lang"]
        for r in scan.read_rows(
            spark, path, ["url", "warc_ts", "lang"]
        ).collect()
    }
    assert len(out) == 40 and set(out.values()) == {"v07"}


def test_compact_evolved_table_and_rollback(spark, tmp_path):
    """The risk matrix in one table: ADD (with default) + RENAME, then
    compact — the rewrite must backfill the added column physically,
    route the renamed payload through its immutable physical name, and
    keep the datasource + rollback views exact."""
    from duckdb_raquet_spark.datasource import RaquetDataSource

    path = str(tmp_path / "tbl")
    df = synth.synth_webtext(spark, 120, num_partitions=2)
    encode.encode_to_path(spark, df, path, chunks=2, target_rows_per_block=32)
    encode.evolve_add_column(spark, path, "score", "double", default=0.5)
    encode.evolve_rename_column(spark, path, "lang", "language")
    # one post-evolution chunk carrying real values for both columns
    extra = (
        synth.synth_webtext(spark, 30, num_partitions=1, start=5_000_000)
        .withColumnRenamed("lang", "language")
        .withColumn("score", F.lit(2.0))
    )
    encode.append_chunk(spark, extra, path)

    def view(**kw):
        return sorted(
            (r["url"], r["language"], r["score"])
            for r in scan.read_rows(
                spark, path, ["url", "language", "score"], **kw
            ).collect()
        )

    before = view()
    assert {s for _, _, s in before} == {0.5, 2.0}
    pre = mf.current_snapshot(path, spark)
    encode.compact_chunks(spark, path, chunk_ids=[0, 1, 2])
    post = mf.current_snapshot(path, spark)
    assert view() == before
    # the rewritten chunk now carries the added column PHYSICALLY: even
    # a reader that ignores defaults (decode of the raw payload) sees
    # 0.5 — i.e. the blob exists for every row
    blocks = scan.read_blocks(spark, path)
    man = scan.read_manifest(spark, path)
    dec = scan.decode_blocks(blocks, man, ["score"])
    assert dec.where(F.col("score").isNull()).count() == 0

    # datasource view agrees
    spark.dataSource.register(RaquetDataSource)
    ds = sorted(
        (r["url"], r["language"], r["score"])
        for r in spark.read.format("raquet")
        .load(path)
        .select("url", "language", "score")
        .collect()
    )
    assert ds == before

    # rollback to the pre-compaction snapshot, then append again: the
    # fresh chunk id must not collide with the (burned) compacted one
    encode.rollback_to_snapshot(spark, path, pre["snapshot_id"])
    assert view() == before
    more = (
        synth.synth_webtext(spark, 10, num_partitions=1, start=9_000_000)
        .withColumnRenamed("lang", "language")
        .withColumn("score", F.lit(9.0))
    )
    encode.append_chunk(spark, more, path)
    cur = mf.current_snapshot(path, spark)
    compacted_id = max(int(c) for c in post["chunks"])
    assert compacted_id not in [int(c) for c in cur["chunks"]]
    assert len(view()) == len(before) + 10


def test_rewrite_boundaries_consumption_plan(spark, tmp_path):
    """scan.rewrite_boundaries: the guard's actionable answer. Apply
    each sub-range's changelog in order (skipping the net-no-op replace
    steps) and the reconstructed state equals the table at `to`."""
    path = str(tmp_path / "tbl")
    base = synth.synth_webtext(spark, 60, num_partitions=2)
    encode.encode_to_path(spark, base, path, chunks=2, target_rows_per_block=32)
    encode.delete_rows(spark, path, "url", base.select("url").limit(8))
    encode.compact_chunks(spark, path, chunk_ids=[0, 1])
    extra = synth.synth_webtext(spark, 15, num_partitions=1, start=1_000_000)
    encode.append_chunk(spark, extra, path)
    encode.compact_chunks(spark, path, max_chunks=2)
    extra2 = synth.synth_webtext(spark, 5, num_partitions=1, start=2_000_000)
    encode.append_chunk(spark, extra2, path)

    cur = mf.current_snapshot(path, spark)["snapshot_id"]
    ranges = scan.rewrite_boundaries(spark, path, 0)
    snaps = mf.read_snapshots(path, spark)
    rewrites = {i for i in snaps if snaps[i]["op"] == "compact-chunks"}
    assert len(rewrites) == 2 and len(ranges) >= 2
    # the plan covers (0, cur] minus exactly the replace steps
    covered = set()
    for lo, hi in ranges:
        covered.update(range(lo + 1, hi + 1))
        assert not (set(range(lo + 1, hi + 1)) & rewrites)
    assert covered == set(range(1, cur + 1)) - rewrites

    # replaying the deltas in order reproduces the final state
    state = {
        r["url"]: r["lang"]
        for r in scan.read_rows(spark, path, ["url", "lang"],
                                snapshot_id=0).collect()
    }
    for lo, hi in ranges:
        ch = scan.read_changes(spark, path, lo, hi,
                               cols=["url", "lang"]).collect()
        for r in (x for x in ch if x["_change_type"] == "delete"):
            state.pop(r["url"], None)
        for r in (x for x in ch if x["_change_type"] == "insert"):
            state[r["url"]] = r["lang"]
    final = {
        r["url"]: r["lang"]
        for r in scan.read_rows(spark, path, ["url", "lang"]).collect()
    }
    assert state == final
