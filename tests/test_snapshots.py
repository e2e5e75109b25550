"""Snapshot log + time travel (Iceberg VERSION/TIMESTAMP AS OF analog):
every commit (encode, append, rollback) writes an immutable
`_snapshots/snap-<n>.json` naming its visible chunk set; reads at a
snapshot are a partition filter on `chunk`, so old versions stay
readable without copying data."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from duckdb_raquet_spark import encode, manifest as mf, scan, synth


def _decode_urls(blocks, man):
    return sorted(
        r["url"] for r in scan.decode_blocks(blocks, man, ["url"]).collect()
    )


def _urls_of(df):
    return sorted(r["url"] for r in df.select("url").collect())


@pytest.fixture(scope="module")
def tt_table(spark, tmp_path_factory):
    """Chunked table: encode 300 rows in 2 chunks, append 60 more."""
    path = str(tmp_path_factory.mktemp("snap") / "tbl")
    df = synth.synth_webtext(spark, 300, num_partitions=4)
    encode.encode_to_path(
        spark, df, path, chunks=2, target_rows_per_block=64
    )
    extra = synth.synth_webtext(spark, 60, num_partitions=2, start=1_000_000)
    encode.append_chunk(spark, extra, path)
    return path


def test_snapshot_log_written(spark, tt_table):
    snaps = mf.read_snapshots(tt_table, spark)
    assert sorted(snaps) == [0, 1]
    assert snaps[0]["op"] == "encode" and snaps[0]["chunks"] == [0, 1]
    assert snaps[1]["op"] == "append" and snaps[1]["chunks"] == [0, 1, 2]
    assert snaps[1]["parent_id"] == 0
    assert snaps[1]["committed_unix"] >= snaps[0]["committed_unix"]
    assert snaps[1]["num_rows"] == 360


def test_time_travel_by_id_and_timestamp(spark, tt_table):
    man = scan.read_manifest(spark, tt_table)
    base = _urls_of(synth.synth_webtext(spark, 300, num_partitions=4))
    extra = _urls_of(
        synth.synth_webtext(spark, 60, num_partitions=2, start=1_000_000)
    )
    old = scan.read_blocks_at(spark, tt_table, snapshot_id=0)
    cur = scan.read_blocks_at(spark, tt_table)
    assert _decode_urls(old, man) == base
    assert _decode_urls(cur, man) == sorted(base + extra)
    snaps = mf.read_snapshots(tt_table, spark)
    asof = scan.read_blocks_at(
        spark, tt_table, as_of_unix=snaps[0]["committed_unix"]
    )
    assert _decode_urls(asof, man) == base
    with pytest.raises(KeyError):
        scan.read_blocks_at(spark, tt_table, snapshot_id=99)
    with pytest.raises(KeyError):
        scan.read_blocks_at(
            spark, tt_table, as_of_unix=snaps[0]["committed_unix"] - 1
        )


def test_time_travel_prunes_partitions(spark, tt_table):
    """The snapshot filter must reach the scan as a partition filter:
    a snapshot-0 read touches only chunk=0/1 files."""
    old = scan.read_blocks_at(spark, tt_table, snapshot_id=0)
    files = {
        os.path.basename(os.path.dirname(r[0]))
        for r in old.select(F.input_file_name()).distinct().collect()
    }
    assert files == {"chunk=0", "chunk=1"}


def test_table_history(spark, tt_table):
    h = scan.table_history(spark, tt_table).orderBy("snapshot_id").collect()
    assert [r["op"] for r in h] == ["encode", "append"]
    assert h[1]["n_chunks"] == 3


def test_rollback_and_append_after(spark, tt_table, tmp_path):
    """Rollback re-finalizes the manifest over the target's chunks and
    appends a rollback snapshot; a later append skips the orphaned
    chunk dir entirely."""
    path = str(tmp_path / "tbl")
    shutil.copytree(tt_table, path)
    pre = scan.read_manifest(spark, path)
    final = encode.rollback_to_snapshot(spark, path, 0)
    assert final["num_rows"] == 300
    assert final["enc_bytes"] < pre["enc_bytes"]
    man = scan.read_manifest(spark, path)
    assert man["num_rows"] == 300
    base = _urls_of(synth.synth_webtext(spark, 300, num_partitions=4))
    cur = scan.read_blocks_at(spark, path)
    assert _decode_urls(cur, man) == base
    snaps = mf.read_snapshots(path, spark)
    assert snaps[2]["op"] == "rollback"
    assert snaps[2]["chunks"] == [0, 1]
    assert snaps[2]["rolled_back_to"] == 0

    # EVERY ordinary read path honors the rollback, not just
    # read_blocks_at: legacy read_blocks agrees with the manifest
    assert scan.read_blocks(spark, path).agg(
        F.sum("n_rows")
    ).collect()[0][0] == 300
    # ... while time travel to the PRE-rollback snapshot still sees the
    # appended chunk (on disk until expire_snapshots reclaims it)
    pre_roll = scan.read_blocks_at(spark, path, snapshot_id=1)
    assert pre_roll.agg(F.sum("n_rows")).collect()[0][0] == 360

    # append after rollback: fresh chunk id, orphan chunk 2 stays out
    extra = synth.synth_webtext(spark, 10, num_partitions=1, start=2_000_000)
    fin2 = encode.append_chunk(spark, extra, path)
    assert fin2["num_rows"] == 310
    snaps = mf.read_snapshots(path, spark)
    assert snaps[3]["chunks"] == [0, 1, 3]
    man2 = scan.read_manifest(spark, path)
    got = _decode_urls(scan.read_blocks_at(spark, path), man2)
    extra2 = _urls_of(
        synth.synth_webtext(spark, 10, num_partitions=1, start=2_000_000)
    )
    assert got == sorted(base + extra2)


def test_flat_table_snapshot(spark, tmp_path):
    """A default encode (chunks=1) is a one-chunk table, not a flat
    one: its snapshot lists chunk 0, and rollback works."""
    path = str(tmp_path / "flat")
    df = synth.synth_webtext(spark, 80, num_partitions=2)
    encode.encode_to_path(spark, df, path, target_rows_per_block=64)
    snaps = mf.read_snapshots(path, spark)
    assert sorted(snaps) == [0]
    assert snaps[0]["chunks"] == [0]
    man = scan.read_manifest(spark, path)
    got = _decode_urls(scan.read_blocks_at(spark, path, snapshot_id=0), man)
    assert got == _urls_of(df)
    final = encode.rollback_to_snapshot(spark, path, 0)
    assert final["num_rows"] == 80
    assert mf.current_snapshot(path, spark)["chunks"] == [0]


def test_pre_log_table_reads_fully(spark):
    """Tables written before the snapshot log (the committed
    1.0-generation fixture) read unchanged; explicit time travel on
    them is a clear error."""
    fx = os.path.join(os.path.dirname(__file__), "fixtures", "raquet_v10_table")
    man = scan.read_manifest(spark, fx)
    n = scan.read_blocks_at(spark, fx).count()
    assert n == scan.read_blocks(spark, fx).count() and n > 0
    assert man is not None
    with pytest.raises(FileNotFoundError):
        scan.read_blocks_at(spark, fx, snapshot_id=0)


def test_resume_rerun_does_not_duplicate_snapshot(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = synth.synth_webtext(spark, 120, num_partitions=2)
    encode.encode_to_path(spark, df, path, chunks=2, target_rows_per_block=64)
    encode.encode_to_path(
        spark, df, path, chunks=2, resume=True, target_rows_per_block=64
    )
    assert sorted(mf.read_snapshots(path, spark)) == [0]


def test_streaming_batches_write_snapshots(spark, tmp_path):
    """Each micro-batch commit appends a snapshot, so streaming ingest
    gets time travel for free: reading at snapshot k sees exactly the
    first k+1 batches."""
    from duckdb_raquet_spark import streaming

    src = str(tmp_path / "src")
    synth.synth_webtext(spark, 150, num_partitions=3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    out = str(tmp_path / "stream_enc")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = streaming.encode_stream(
        stream,
        out,
        resolution=3,
        ts_origin=1704067200,
        bucket_seconds=7 * 86400,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    snaps = mf.read_snapshots(out, spark)
    assert len(snaps) == 3
    assert all(s["op"] == "append" for s in snaps.values())
    assert snaps[max(snaps)]["num_rows"] == 150
    assert len(snaps[max(snaps)]["chunks"]) == 3
    man = scan.read_manifest(spark, out)
    first = scan.read_blocks_at(spark, out, snapshot_id=0)
    n_first = scan.decode_blocks(first, man, ["url"]).count()
    assert 0 < n_first < 150
    cur = scan.read_blocks_at(spark, out)
    assert scan.decode_blocks(cur, man, ["url"]).count() == 150
    # per-batch lineage bytes sum to the manifest's whole-table totals
    lin = mf.read_chunk_lineage(out, spark)
    assert sum(r["enc_bytes"] for r in lin.values()) == man["enc_bytes"]


def test_incremental_read_between_snapshots(spark, tt_table):
    """CDC-style delta: snapshot 0 -> 1 added exactly the appended 60
    rows; same-snapshot delta is empty."""
    man = scan.read_manifest(spark, tt_table)
    delta = scan.read_appended_between(spark, tt_table, 0)
    extra = _urls_of(
        synth.synth_webtext(spark, 60, num_partitions=2, start=1_000_000)
    )
    assert _decode_urls(delta, man) == extra
    assert scan.read_appended_between(spark, tt_table, 0, 0).count() == 0
    with pytest.raises(KeyError):
        scan.read_appended_between(spark, tt_table, 42)


def test_expire_snapshots_reclaims_orphans(spark, tt_table, tmp_path):
    """Expire after a rollback: the rolled-back chunk's directory is
    deleted, the retained snapshot stays readable, lineage keeps every
    chunk id so a later append never reuses one."""
    path = str(tmp_path / "tbl")
    shutil.copytree(tt_table, path)
    encode.rollback_to_snapshot(spark, path, 0)  # orphans chunk 2
    res = encode.expire_snapshots(spark, path, keep_last=1)
    assert res["retained_snapshots"] == [2]
    assert res["expired_snapshots"] == [0, 1]
    assert res["removed_chunks"] == [2]
    assert not os.path.isdir(os.path.join(path, "data", "chunk=2"))
    snaps = mf.read_snapshots(path, spark)
    assert sorted(snaps) == [2]
    man = scan.read_manifest(spark, path)
    base = _urls_of(synth.synth_webtext(spark, 300, num_partitions=4))
    assert _decode_urls(scan.read_blocks_at(spark, path), man) == base
    with pytest.raises(KeyError):
        scan.read_blocks_at(spark, path, snapshot_id=0)
    # lineage intact -> append picks id 3, not a reused 2
    assert sorted(mf.read_chunk_lineage(path, spark)) == [0, 1, 2]
    extra = synth.synth_webtext(spark, 10, num_partitions=1, start=3_000_000)
    encode.append_chunk(spark, extra, path)
    assert mf.current_snapshot(path, spark)["chunks"] == [0, 1, 3]


def test_expire_keep_all_is_noop(spark, tt_table, tmp_path):
    path = str(tmp_path / "tbl")
    shutil.copytree(tt_table, path)
    res = encode.expire_snapshots(spark, path, keep_last=5)
    assert res["expired_snapshots"] == [] and res["removed_chunks"] == []
    assert sorted(mf.read_snapshots(path, spark)) == [0, 1]
    with pytest.raises(ValueError):
        encode.expire_snapshots(spark, path, keep_last=0)


def test_datasource_read_honors_rollback(spark, tt_table, tmp_path):
    """The Python DataSource plans only the current snapshot's chunk
    files — a rolled-back chunk's rows never reach the scan."""
    from duckdb_raquet_spark.datasource import RaquetDataSource

    path = str(tmp_path / "tbl")
    shutil.copytree(tt_table, path)
    spark.dataSource.register(RaquetDataSource)
    assert spark.read.format("raquet").load(path).count() == 360
    encode.rollback_to_snapshot(spark, path, 0)
    assert spark.read.format("raquet").load(path).count() == 300


def test_reencode_over_existing_path_commits_new_snapshot(spark, tmp_path):
    """Overwriting a table with DIFFERENT data is a real commit: the
    snapshot log must grow, and history reflects the new totals."""
    path = str(tmp_path / "tbl")
    df1 = synth.synth_webtext(spark, 120, num_partitions=2)
    encode.encode_to_path(spark, df1, path, chunks=2, target_rows_per_block=64)
    df2 = synth.synth_webtext(spark, 200, num_partitions=2, start=500_000)
    encode.encode_to_path(spark, df2, path, chunks=2, target_rows_per_block=64)
    snaps = mf.read_snapshots(path, spark)
    assert sorted(snaps) == [0, 1]
    assert snaps[1]["num_rows"] == 200


def test_concurrent_commit_detected(spark, tt_table, tmp_path):
    """Optimistic concurrency: a second writer trying to commit the
    same snapshot id loses with ConcurrentCommitError instead of
    silently overwriting the winner's commit."""
    path = str(tmp_path / "tbl")
    shutil.copytree(tt_table, path)
    cur = mf.current_snapshot(path, spark)
    dup = mf.make_snapshot(
        snapshot_id=cur["snapshot_id"],
        chunks=cur["chunks"],
        op="append",
        parent_id=cur["parent_id"],
    )
    with pytest.raises(mf.ConcurrentCommitError):
        mf.write_snapshot(path, dup, spark)
    # the original commit is untouched
    assert mf.current_snapshot(path, spark)["num_rows"] == cur["num_rows"]


def test_append_losing_cas_leaves_caches_at_tip(spark, tmp_path, monkeypatch):
    """An append racing a delete that commits after the append read its
    base loses the CAS — and loses it before it touches any shared
    file: the sidecar and the chunk=-1 manifest row still equal the tip
    snapshot's manifest (remote datasource reads plan from the
    sidecar)."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "tbl")
    df = synth.synth_webtext(spark, 200, num_partitions=2)
    encode.encode_to_path(spark, df, path, chunks=2, target_rows_per_block=64)
    orig = encode.encode_table
    calls = {"n": 0}

    def racing(*a, **k):
        calls["n"] += 1
        if calls["n"] == 1:  # the other writer commits mid-append
            encode.delete_rows(spark, path, "lang", ["en"])
        return orig(*a, **k)

    monkeypatch.setattr(encode, "encode_table", racing)
    # the race is injected through encode_table: the Spark write branch
    monkeypatch.setattr(encode, "_write_on_driver", lambda *a, **k: False)
    extra = synth.synth_webtext(spark, 40, num_partitions=1, start=1_000_000)
    with pytest.raises(mf.ConcurrentCommitError):
        encode.append_chunk(spark, extra, path)
    tip, _ = mf.committed_manifest(path, spark)
    assert tip["num_rows"] == 200 and len(tip["delete_files"]) == 1
    assert mf.read_sidecar(path, spark) == tip
    row = pq.read_table(os.path.join(path, "data", "chunk=-1"))
    assert mf.from_json(row.column("metadata")[0].as_py()) == tip


# -------------------------------------------------------- tags (refs) ----


def test_tag_create_read_drop(spark, tt_table, tmp_path):
    path = str(tmp_path / "tbl")
    shutil.copytree(tt_table, path)
    ref = encode.create_tag(spark, path, "corpus-v1", snapshot_id=0)
    tip = encode.create_tag(spark, path, "latest")  # default: current tip
    assert ref == {"name": "corpus-v1", "snapshot_id": 0, "kind": "tag"}
    assert tip["snapshot_id"] == 1
    assert sorted(encode.list_tags(spark, path)) == ["corpus-v1", "latest"]
    # read at tag == read at its snapshot
    man = scan.read_manifest(spark, path)
    base = _urls_of(synth.synth_webtext(spark, 300, num_partitions=4))
    assert _decode_urls(
        scan.read_blocks_at(spark, path, ref="corpus-v1"), man
    ) == base
    got = sorted(
        r["url"] for r in
        scan.read_rows(spark, path, ["url"], ref="corpus-v1").collect()
    )
    assert got == base
    # tags are immutable: re-pointing needs drop + create
    with pytest.raises(FileExistsError):
        encode.create_tag(spark, path, "corpus-v1", snapshot_id=1)
    with pytest.raises(ValueError):
        encode.create_tag(spark, path, "bad/name")
    with pytest.raises(KeyError):
        encode.create_tag(spark, path, "nope", snapshot_id=42)
    with pytest.raises(ValueError):
        scan.read_rows(spark, path, ref="corpus-v1", snapshot_id=0)
    encode.drop_tag(spark, path, "corpus-v1")
    with pytest.raises(KeyError):
        scan.read_rows(spark, path, ref="corpus-v1")
    with pytest.raises(KeyError):
        encode.drop_tag(spark, path, "corpus-v1")


def test_tag_protects_from_expiry(spark, tt_table, tmp_path):
    """expire_snapshots never reclaims a tagged snapshot or its chunks;
    dropping the tag makes it expirable again."""
    path = str(tmp_path / "tbl")
    shutil.copytree(tt_table, path)
    encode.create_tag(spark, path, "pinned", snapshot_id=0)
    res = encode.expire_snapshots(spark, path, keep_last=1)
    assert res["retained_snapshots"] == [0, 1]
    assert res["expired_snapshots"] == [] and res["removed_chunks"] == []
    man = scan.read_manifest(spark, path)
    base = _urls_of(synth.synth_webtext(spark, 300, num_partitions=4))
    assert _decode_urls(
        scan.read_blocks_at(spark, path, ref="pinned"), man
    ) == base
    encode.drop_tag(spark, path, "pinned")
    res = encode.expire_snapshots(spark, path, keep_last=1)
    assert res["retained_snapshots"] == [1]
    assert res["expired_snapshots"] == [0]


def test_incremental_read_refuses_expired_middle(spark, tt_table, tmp_path):
    """Once tags pin non-contiguous survivors, a changelog range whose
    middle snapshots were expired must refuse loudly: the history that
    proves the range rewrite-free is gone."""
    path = str(tmp_path / "tbl")
    shutil.copytree(tt_table, path)
    extra = synth.synth_webtext(spark, 20, num_partitions=1, start=2_000_000)
    encode.append_chunk(spark, extra, path)  # snapshots now 0, 1, 2
    encode.create_tag(spark, path, "base", snapshot_id=0)
    res = encode.expire_snapshots(spark, path, keep_last=1)
    assert res["retained_snapshots"] == [0, 2]
    with pytest.raises(ValueError, match="expired"):
        scan.read_changes(spark, path, 0, 2).collect()
    with pytest.raises(ValueError, match="expired"):
        scan.read_appended_between(spark, path, 0, 2).collect()


def test_rollback_to_tag_and_age_expiry(spark, tt_table, tmp_path):
    """rollback_to_tag restores the tagged state; age-based expiry
    retains every snapshot at/after older_than_unix plus the keep_last
    floor and tag pins."""
    path = str(tmp_path / "tbl")
    shutil.copytree(tt_table, path)
    encode.create_tag(spark, path, "base", snapshot_id=0)
    man = encode.rollback_to_tag(spark, path, "base")  # snapshot 2
    base = _urls_of(synth.synth_webtext(spark, 300, num_partitions=4))
    assert man["num_rows"] == 300
    assert _decode_urls(
        scan.read_blocks_at(spark, path), scan.read_manifest(spark, path)
    ) == base
    snaps = mf.read_snapshots(path, spark)
    assert sorted(snaps) == [0, 1, 2]
    # age policy: cutoff after snapshot 1's commit -> 0 survives only
    # via its tag, 1 expires, 2 is recent
    cutoff = snaps[1]["committed_unix"] + 0.001
    res = encode.expire_snapshots(
        spark, path, keep_last=1, older_than_unix=cutoff
    )
    assert res["retained_snapshots"] == [0, 2]
    assert res["expired_snapshots"] == [1]
    # everything newer than an ancient cutoff is retained
    res = encode.expire_snapshots(spark, path, keep_last=1, older_than_unix=0)
    assert res["expired_snapshots"] == []
    with pytest.raises(KeyError):
        encode.rollback_to_tag(spark, path, "nope")


def test_rewrite_boundaries_refuses_expired_middle(spark, tt_table, tmp_path):
    path = str(tmp_path / "tbl")
    shutil.copytree(tt_table, path)
    extra = synth.synth_webtext(spark, 20, num_partitions=1, start=2_500_000)
    encode.append_chunk(spark, extra, path)  # snapshots 0, 1, 2
    encode.create_tag(spark, path, "base", snapshot_id=0)
    encode.expire_snapshots(spark, path, keep_last=1)  # 1 expires
    with pytest.raises(ValueError, match="expired"):
        scan.rewrite_boundaries(spark, path, 0, 2)
    # contiguous retained ranges still plan fine
    assert scan.rewrite_boundaries(spark, path, 0, 0) == []
