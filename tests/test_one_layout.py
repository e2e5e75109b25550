"""One table layout: every writer lands its data in ``data/chunk=<k>/``
next to the ``chunk=-1`` manifest row and commits a snapshot listing
its chunks, so every table op works on a default (one-chunk) encode.
Legacy flat tables — data files directly under ``data/`` — stay
readable and every writer refuses them through one guard."""

import glob
import json
import os
import shutil

import pytest

from duckdb_raquet_spark import encode, manifest as mf, scan, streaming, synth
from duckdb_raquet_spark.datasource import RaquetDataSource

pytestmark = pytest.mark.spark

COLS = ["url", "text", "lang"]


def _rows(df):
    return sorted(tuple(r) for r in df.select(*COLS).collect())


def _decoded(spark, path, blocks):
    return _rows(scan.decode_blocks(blocks, scan.read_manifest(spark, path), COLS))


def _live(spark, path):
    return _rows(scan.read_rows(spark, path, COLS))


def test_default_table_supports_every_op(spark, tmp_path):
    """On a default-encoded table, append, delete, add-column,
    chunk compaction, rollback, time travel and the incremental read
    all work, each checked against decode-then-filter of the inputs."""
    path = str(tmp_path / "tbl")
    base = synth.synth_webtext(spark, 80, num_partitions=2)
    extra = synth.synth_webtext(spark, 30, num_partitions=1, start=1_000_000)
    encode.encode_to_path(spark, base, path, target_rows_per_block=64)
    snap0 = mf.current_snapshot(path, spark)
    assert snap0["chunks"] == [0] and "layout" not in snap0
    assert os.path.isdir(os.path.join(path, "data", "chunk=0"))
    want_base, want_extra = _rows(base), _rows(extra)

    encode.append_chunk(spark, extra, path)
    assert _live(spark, path) == sorted(want_base + want_extra)

    encode.delete_rows(spark, path, "lang", ["de"])
    kept = sorted(r for r in want_base + want_extra if r[2] != "de")
    assert _live(spark, path) == kept

    encode.evolve_add_column(spark, path, "score", "int", default=7)
    scored = scan.read_rows(spark, path, ["url", "score"]).collect()
    assert len(scored) == len(kept) and {r["score"] for r in scored} == {7}

    encode.compact_chunks(spark, path, chunk_ids=[0, 1])
    assert _live(spark, path) == kept
    assert mf.current_snapshot(path, spark)["chunks"] == [2]

    encode.rollback_to_snapshot(spark, path, 1)  # the append, pre-delete
    assert _live(spark, path) == sorted(want_base + want_extra)
    at0 = scan.read_blocks_at(spark, path, snapshot_id=0)
    assert _decoded(spark, path, at0) == want_base
    assert _decoded(spark, path, scan.read_appended_between(spark, path, 0, 1)) == want_extra


def test_append_after_rewrites_keeps_old_rows(spark, tmp_path):
    """Chunk ids for an append are picked past every chunk the table
    has, so appending onto a purge_deletes / compact_to_path output and
    onto a datasource overwrite (which writes no lineage) keeps every
    old row."""
    spark.dataSource.register(RaquetDataSource)
    base = synth.synth_webtext(spark, 80, num_partitions=2)
    extra = synth.synth_webtext(spark, 30, num_partitions=1, start=1_000_000)
    want_base, want_extra = _rows(base), _rows(extra)

    src = str(tmp_path / "src")
    encode.encode_to_path(spark, base, src, chunks=2, target_rows_per_block=64)
    compacted = str(tmp_path / "compacted")
    scan.compact_to_path(spark, src, compacted)
    encode.delete_rows(spark, src, "lang", ["de"])
    purged = str(tmp_path / "purged")
    scan.purge_deletes(spark, src, purged)
    written = str(tmp_path / "written")
    base.write.format("raquet").mode("overwrite").save(written)

    for path, old in (
        (compacted, want_base),
        (purged, [r for r in want_base if r[2] != "de"]),
        (written, want_base),
    ):
        assert mf.current_snapshot(path, spark)["chunks"] == [0]
        encode.append_chunk(spark, extra, path)
        assert _live(spark, path) == sorted(old + want_extra), path


def _stream_into(spark, path, src, ckpt):
    key = scan.read_manifest(spark, path)["key"]
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = streaming.encode_stream(
        stream,
        path,
        resolution=key["resolution"],
        ts_origin=key["ts_origin"],
        bucket_seconds=key["bucket_seconds"],
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(300)


def test_stream_onto_existing_table_keeps_its_chunks(spark, tmp_path):
    """Streaming into an existing chunked table claims fresh chunk ids
    instead of writing batch N into chunk=N; a replayed batch (its
    checkpoint commit lost) rewrites its own chunk, adding no rows."""
    path = str(tmp_path / "tbl")
    base = synth.synth_webtext(spark, 80, num_partitions=2)
    encode.encode_to_path(spark, base, path, chunks=2, target_rows_per_block=64)
    new = synth.synth_webtext(spark, 30, num_partitions=1, start=1_000_000)
    src = str(tmp_path / "src")
    new.write.parquet(src)
    ckpt = str(tmp_path / "ckpt")

    _stream_into(spark, path, src, ckpt)
    want = sorted(_rows(base) + _rows(new))
    assert _live(spark, path) == want

    streamed = os.path.join(mf.lineage_dir(path), "chunk-00002.json")
    first_run = os.stat(streamed).st_mtime_ns
    # lose the last batch's commit (and its local-FS checksum): the
    # restarted query replays that batch under the same batch id
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    n_snaps = len(mf.read_snapshots(path, spark))
    _stream_into(spark, path, src, ckpt)
    assert os.stat(streamed).st_mtime_ns > first_run  # the batch re-ran
    assert sorted(mf.read_chunk_lineage(path, spark)) == [0, 1, 2]
    assert _live(spark, path) == want
    # the replay re-commits as a no-op: its chunk is counted once
    assert len(mf.read_snapshots(path, spark)) == n_snaps
    assert scan.read_manifest(spark, path)["num_rows"] == 110


def _legacy_flat(path, *, keep_log):
    """Rewrite a fresh one-chunk table into the legacy flat layout:
    data and manifest-row files directly under data/, and either no
    snapshot log or one whose snapshot says ``layout: flat``."""
    data = os.path.join(path, "data")
    for sub in ("chunk=0", "chunk=-1"):
        for f in glob.glob(os.path.join(data, sub, "*.parquet")):
            shutil.move(f, os.path.join(data, os.path.basename(f)))
        shutil.rmtree(os.path.join(data, sub))
    if not keep_log:
        shutil.rmtree(mf.snapshots_dir(path))
        return
    (snap_file,) = glob.glob(os.path.join(mf.snapshots_dir(path), "*.json"))
    with open(snap_file) as fh:
        snap = json.load(fh)
    with open(snap_file, "w") as fh:
        json.dump(dict(snap, layout="flat"), fh)


@pytest.mark.parametrize("keep_log", [False, True])
def test_legacy_flat_table_is_read_only(spark, tmp_path, keep_log):
    path = str(tmp_path / "flat")
    base = synth.synth_webtext(spark, 40, num_partitions=2)
    extra = synth.synth_webtext(spark, 10, num_partitions=1, start=1_000_000)
    encode.encode_to_path(spark, base, path, target_rows_per_block=32)
    _legacy_flat(path, keep_log=keep_log)
    assert _live(spark, path) == _rows(base)
    if keep_log:
        at0 = scan.read_blocks_at(spark, path, snapshot_id=0)
        assert _decoded(spark, path, at0) == _rows(base)

    writers = [
        lambda: encode.encode_to_path(spark, base, path),
        lambda: encode.append_chunk(spark, extra, path),
        lambda: encode.delete_rows(spark, path, "lang", ["de"]),
        lambda: encode.evolve_add_column(spark, path, "score", "int"),
        lambda: encode.evolve_drop_column(spark, path, "html"),
        lambda: encode.compact_chunks(spark, path, chunk_ids=[0, 1]),
    ]
    if keep_log:
        writers.append(lambda: encode.rollback_to_snapshot(spark, path, 0))
    for write in writers:
        with pytest.raises(ValueError, match="legacy flat table"):
            write()
    assert not os.path.isdir(os.path.join(path, "data", "chunk=-1"))
    assert _live(spark, path) == _rows(base)

    upgraded = str(tmp_path / "upgraded")
    scan.compact_to_path(spark, path, upgraded)
    encode.append_chunk(spark, extra, upgraded)
    assert _live(spark, upgraded) == sorted(_rows(base) + _rows(extra))
