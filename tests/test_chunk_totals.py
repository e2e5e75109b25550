"""Table totals are the sum of the committed chunks' lineage records.

Every commit derives the manifest's ``num_blocks/num_rows/raw_bytes/
enc_bytes/codec_histogram`` from the lineage records of exactly its
chunk set (``encode._chunk_totals``), each record written once when its
chunk lands. These tests pin that rule against a full recount
(``encode._aggregate_written`` over the snapshot's chunk dirs) after
every kind of commit, and pin the recount fallback for records that
lack figures."""

from __future__ import annotations

import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from duckdb_raquet_spark import encode, manifest as mf, streaming, synth

pytestmark = pytest.mark.spark


def _recount(spark, path) -> tuple[list, list, dict]:
    """(committed manifest's totals, full recount of the current
    snapshot's chunks, snapshot)."""
    man, snap = mf.committed_manifest(path, spark)
    fig = encode._aggregate_written(spark, path, snap["chunks"])
    got = [man[k] for k in
           ("num_blocks", "num_rows", "raw_bytes", "enc_bytes", "codec_histogram")]
    return got, [fig[k] for k in encode.FIGURES], snap


def _assert_recount(spark, path) -> dict:
    """The totals equal the recount, and every committed chunk's record
    carries figures."""
    got, want, snap = _recount(spark, path)
    assert got == want
    lin = mf.read_chunk_lineage(path, spark)
    assert all(set(encode.FIGURES) <= set(lin[c]) for c in snap["chunks"])
    return snap


def test_totals_equal_recount_after_every_commit(spark, tmp_path):
    rng = random.Random(7)
    path = str(tmp_path / "tbl")
    start = iter(range(10_000, 100_000, 1_000))

    def delta():
        return synth.synth_webtext(
            spark, rng.randint(10, 30), num_partitions=1, start=next(start)
        )

    base = synth.synth_webtext(spark, 300, num_partitions=2)
    kw = dict(chunks=2, target_rows_per_block=64)
    encode.encode_to_path(spark, base, path, **kw)
    _assert_recount(spark, path)
    # resume re-encodes the chunk whose record is gone; the other
    # chunk's totals come from its surviving record
    os.remove(os.path.join(mf.lineage_dir(path), "chunk-00001.json"))
    encode.encode_to_path(spark, base, path, resume=True, **kw)
    _assert_recount(spark, path)

    encode.append_chunk(spark, delta(), path)
    after_append = _assert_recount(spark, path)["snapshot_id"]

    staged = encode.append_chunk(spark, delta(), path, staged=True)
    encode.append_chunk(spark, delta(), path)
    _assert_recount(spark, path)
    encode.publish_staged(spark, path, staged["token"], rebase=True)
    snap = _assert_recount(spark, path)

    encode.compact_chunks(spark, path, chunk_ids=[c for c in snap["chunks"] if c > 1])
    _assert_recount(spark, path)

    encode.delete_rows(spark, path, "url", base.select("url").limit(20))
    _assert_recount(spark, path)

    encode.evolve_add_column(spark, path, "score", "bigint")
    _assert_recount(spark, path)
    encode.append_chunk(
        spark, delta().withColumn("score", F.lit(3).cast("bigint")), path
    )
    _assert_recount(spark, path)

    encode.rollback_to_snapshot(spark, path, after_append)
    _assert_recount(spark, path)

    src = str(tmp_path / "src")
    delta().withColumn("score", F.lit(5).cast("bigint")).write.parquet(src)
    key = mf.committed_manifest(path, spark)[0]["key"]
    q = streaming.encode_stream(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        path,
        resolution=key["resolution"],
        ts_origin=key["ts_origin"],
        bucket_seconds=key["bucket_seconds"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert _assert_recount(spark, path)["op"] == "append"


def _count_aggregates(monkeypatch) -> list[list[int]]:
    calls: list[list[int]] = []
    real = encode._aggregate_written

    def counting(spark, path, visible_chunks):
        calls.append(sorted(visible_chunks))
        return real(spark, path, visible_chunks)

    monkeypatch.setattr(encode, "_aggregate_written", counting)
    return calls


def test_fallback_recounts_records_without_figures(spark, tmp_path, monkeypatch):
    """With complete records an append aggregates its new chunk only;
    records stripped of figures (as older versions wrote them) are
    recounted by one aggregate over just those chunks."""
    path = str(tmp_path / "full")
    encode.encode_to_path(
        spark, synth.synth_webtext(spark, 120, num_partitions=2), path,
        chunks=2, target_rows_per_block=64,
    )
    old = str(tmp_path / "old")
    shutil.copytree(path, old)
    for c, rec in mf.read_chunk_lineage(old, spark).items():
        for k in ("codec_histogram", "blocks"):
            del rec[k]
        mf.write_chunk_lineage(old, c, rec, spark)

    # the Spark write branch: its new chunk's figures come from one
    # aggregate (the driver branch takes them from the encoded rows)
    monkeypatch.setattr(encode, "_write_on_driver", lambda *a, **k: False)
    calls = _count_aggregates(monkeypatch)
    for p in (path, old):
        extra = synth.synth_webtext(spark, 15, num_partitions=1, start=5_000)
        encode.append_chunk(spark, extra, p)
    assert calls == [[2], [2], [0, 1]]
    monkeypatch.undo()
    _assert_recount(spark, path)
    got, want, _ = _recount(spark, old)
    assert got == want and got[1] == 135
