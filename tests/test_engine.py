"""End-to-end engine tests — the Spark twin of the reference's
write->read round-trip suites (/root/reference/test/sql/
read_raquet_macros.test, read_raquet_at.test, read_raster_metadata.test):
deterministic seeded fixture -> encode -> parquet -> pruned scan ->
decode, with byte-identity per url as the correctness invariant."""

import datetime
import json
import shutil

import pytest
from pyspark.sql import functions as F

from duckdb_raquet_spark import encode, manifest as mf, scan, synth

N_ROWS = 3000
PATH = "/tmp/raquet_test_engine"


@pytest.fixture(scope="module")
def table(spark):
    df = synth.synth_webtext(spark, N_ROWS, num_partitions=4)
    shutil.rmtree(PATH, ignore_errors=True)
    final = encode.encode_to_path(
        spark, df, PATH, target_rows_per_block=256, resolution=4
    )
    return df, final


pytestmark = pytest.mark.spark


def test_manifest_finalized_and_valid(spark, table):
    df, final = table
    man = scan.read_manifest(spark, PATH)
    ok, errors, warnings = mf.validate_manifest(man)
    assert ok, errors
    assert man["num_rows"] == N_ROWS
    assert man["num_blocks"] > 1
    assert man["enc_bytes"] < man["raw_bytes"]
    # manifest row present and last-committed (block=0 convention)
    meta_rows = scan.read_all(spark, PATH).where(F.col("block") == 0).collect()
    assert len(meta_rows) == 1
    assert json.loads(meta_rows[0]["metadata"])["num_rows"] == N_ROWS


def test_round_trip_byte_identity(spark, table):
    """The BASELINE.json invariant: byte-identical text (and every other
    column) per url after encode->decode."""
    df, _ = table
    man = scan.read_manifest(spark, PATH)
    dec = scan.decode_blocks(scan.read_blocks(spark, PATH), man)
    key = ["url", "warc_ts", "text", "lang", F.md5(F.base64("html")).alias("h")]
    a = dec.select(*key)
    b = df.select(*key)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_compression_beats_zlib_baseline_total(spark, table):
    """Selector always includes the zlib candidate, so totals can never
    exceed the reference-codec baseline."""
    _, final = table
    hist = final["codec_histogram"]
    assert set(hist) == {"url", "warc_ts", "html", "text", "lang"}
    assert final["enc_bytes"] <= final["raw_bytes"]


def test_point_lookup_touches_one_block(spark, table, monkeypatch):
    df, _ = table
    row = df.where(F.col("url").endswith("doc-42")).first()
    es = int(row["warc_ts"].replace(tzinfo=datetime.timezone.utc).timestamp())
    # the Spark side of the driver-local read gate: its plan is asserted
    monkeypatch.setattr(scan, "_read_on_driver", lambda *a: False)
    got = scan.point_lookup(spark, PATH, row["url"], es, cols=["text", "lang"])
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(block), EqualTo(block," in plan
    r = got.first()
    assert r["text"] == row["text"] and r["lang"] == row["lang"]
    # url-only lookup (cover set over time cells)
    r2 = scan.point_lookup(spark, PATH, row["url"], cols=["text"]).first()
    assert r2["text"] == row["text"]
    # the driver-local side returns the same row
    monkeypatch.setattr(scan, "_read_on_driver", lambda *a: True)
    local = scan.point_lookup(spark, PATH, row["url"], es, cols=["text", "lang"])
    assert local.schema == got.schema
    assert local.collect() == got.collect()
    r3 = scan.point_lookup(spark, PATH, row["url"], cols=["text"]).first()
    assert r3["text"] == row["text"]


def test_range_scan_matches_raw_filter(spark, table):
    df, _ = table
    lo, hi = 1704067200, 1704067200 + 45 * 86400
    got = scan.range_scan_ts(spark, PATH, lo, hi, cols=["url"]).count()
    want = df.where(
        (F.col("warc_ts") >= F.timestamp_seconds(F.lit(lo)))
        & (F.col("warc_ts") < F.timestamp_seconds(F.lit(hi)))
    ).count()
    assert got == want


def test_summary_stats_no_decode(spark, table):
    df, _ = table
    blocks = scan.read_blocks(spark, PATH)
    ss = scan.summary_stats(blocks, "len_text").first()
    exp = df.select(
        F.count("text"),
        F.sum(F.length("text")),
        F.min(F.length("text")),
        F.max(F.length("text")),
        F.stddev(F.length("text")),
    ).first()
    assert (ss["cnt"], ss["sum"], ss["min"], ss["max"]) == tuple(exp[:4])
    assert abs(ss["stddev"] - exp[4]) < 1e-9 * max(1.0, exp[4])


def test_cat_counts_no_decode(spark, table):
    df, _ = table
    blocks = scan.read_blocks(spark, PATH)
    got = {r["value"]: r["cnt"] for r in scan.cat_value_counts(blocks, "lang").collect()}
    want = {
        r["lang"]: r["count"]
        for r in df.groupBy("lang").count().collect()
        if r["lang"] is not None
    }
    assert got == want


def test_mask_values_round_trip(spark, table):
    df, _ = table
    man = scan.read_manifest(spark, PATH)
    blocks = scan.read_blocks(spark, PATH)
    masked = scan.mask_values_in(blocks, man, "lang", ["en"])
    dec = scan.decode_blocks(masked, man, ["url", "lang", "text"])
    want = df.where(F.col("lang") == "en")
    assert dec.count() == want.count()
    # masked text still byte-identical
    a = dec.select("url", "text")
    b = want.select("url", "text")
    assert a.exceptAll(b).count() == 0


def test_mask_range_null_semantics(spark, table):
    df, _ = table
    man = scan.read_manifest(spark, PATH)
    blocks = scan.read_blocks(spark, PATH)
    # NULL low bound = open side (ST_MaskBandValuesRange SPECIAL_HANDLING)
    masked = scan.mask_values_range(blocks, man, "lang", low=None, high="es")
    dec = scan.decode_blocks(masked, man, ["lang"])
    want = df.where(F.col("lang") <= "es")
    assert dec.count() == want.count()


def test_chunked_encode_and_resume(spark):
    df = synth.synth_webtext(spark, 800, num_partitions=2)
    path = "/tmp/raquet_test_chunks"
    shutil.rmtree(path, ignore_errors=True)
    final = encode.encode_to_path(
        spark, df, path, chunks=3, target_rows_per_block=128, resolution=3
    )
    assert final["num_rows"] == 800
    lineage = mf.read_chunk_lineage(path)
    assert sorted(lineage) == [0, 1, 2]
    # resume: nothing to redo, no duplicate rows, manifest intact
    final2 = encode.encode_to_path(
        spark, df, path, chunks=3, resume=True, target_rows_per_block=128, resolution=3
    )
    assert final2["num_rows"] == 800
    man = scan.read_manifest(spark, path)
    dec = scan.decode_blocks(scan.read_blocks(spark, path), man, ["url"])
    assert dec.count() == 800
    assert dec.distinct().count() == 800

    # partial resume: drop one chunk's lineage (simulate crash before its
    # lineage commit) -> that chunk re-runs as an idempotent overwrite,
    # row set unchanged, no duplicates
    import os

    os.remove(os.path.join(mf.lineage_dir(path), "chunk-00001.json"))
    encode.encode_to_path(
        spark, df, path, chunks=3, resume=True, target_rows_per_block=128, resolution=3
    )
    assert sorted(mf.read_chunk_lineage(path)) == [0, 1, 2]
    dec2 = scan.decode_blocks(scan.read_blocks(spark, path), man, ["url"])
    assert dec2.count() == 800
    assert dec2.distinct().count() == 800

    # a chunk landed under the older (block, salt) hash split carries no
    # split tag: resuming under the cell-range split would mix the rules
    rec = mf.read_chunk_lineage(path)[0]
    del rec["split"]
    mf.write_chunk_lineage(path, 0, rec)
    with pytest.raises(ValueError, match="older rule"):
        encode.encode_to_path(
            spark, df, path, chunks=3, resume=True, target_rows_per_block=128,
            resolution=3,
        )


def test_decode_only_requested_columns_plan(spark, table):
    man = scan.read_manifest(spark, PATH)
    dec = scan.decode_blocks(scan.read_blocks(spark, PATH), man, ["lang"])
    plan = dec._jdf.queryExecution().executedPlan().toString()
    # only the lang payload is read; text/html blobs are pruned
    assert "lang_blob" in plan
    assert "text_blob" not in plan.split("ReadSchema")[-1]


def test_mask_tri_state_passthrough_and_drop(spark):
    """Blocks whose stats PROVE the mask (single-lang table: every block's
    cat_counts covers all rows) must take the decode-free passthrough /
    JVM-side drop branches and still produce exactly the brute-force
    result (st_raster_stats.cpp:311-349 passthrough semantics)."""
    path = "/tmp/raquet_test_tristate"
    shutil.rmtree(path, ignore_errors=True)
    rows = [
        (f"https://c{i % 7:02d}.example.org/d/{i}",
         datetime.datetime(2024, 1, 1 + i % 20),
         f"body text {i} " * 5,
         "en",
         100 + (i % 50))
        for i in range(600)
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string, n int"
    )
    encode.encode_to_path(spark, df, path, target_rows_per_block=64, resolution=3)
    man = scan.read_manifest(spark, path)
    blocks = scan.read_blocks(spark, path)

    # all-match proof -> passthrough: every row survives, text bit-exact
    kept = scan.mask_values_in(blocks, man, "lang", ["en", "de"])
    dec = scan.decode_blocks(kept, man, ["url", "text"])
    assert dec.count() == 600
    assert dec.exceptAll(df.select("url", "text")).count() == 0

    # none-match proof -> JVM-side drop, no decode work at all
    assert scan.mask_values_in(blocks, man, "lang", ["fr"]).count() == 0

    # int num_stats proofs: n in [100, 149] everywhere
    assert scan.mask_values_range(blocks, man, "n", low=0, high=500).count() == \
        blocks.count()  # all blocks pass through whole
    assert scan.mask_values_range(blocks, man, "n", low=1000).count() == 0
    # eq with value outside [min,max] everywhere -> none-match drop
    assert scan.mask_values_eq(blocks, man, "n", 99).count() == 0
    # undecidable eq goes through decode and matches brute force
    got = scan.decode_blocks(
        scan.mask_values_eq(blocks, man, "n", 117), man, ["url", "n"]
    )
    assert got.count() == df.where(F.col("n") == 117).count()


def test_codec_overrides_round_trip(spark):
    """Per-column codec pinning (the reference encoder's `compression`
    parameter, read_raster.cpp:733-1100): the override is recorded in the
    manifest, every block honors it, re-encode paths keep honoring it,
    and decode stays bit-exact."""
    path = "/tmp/raquet_test_overrides"
    shutil.rmtree(path, ignore_errors=True)
    df = synth.synth_webtext(spark, 500, num_partitions=2)
    final = encode.encode_to_path(
        spark, df, path, target_rows_per_block=128, resolution=3,
        codec_overrides={"text": "zlib", "url": "fsst", "lang": "dict"},
    )
    hist = final["codec_histogram"]
    assert set(hist["text"]) <= {"zlib", "nullable(zlib)"}
    assert set(hist["url"]) <= {"fsst", "nullable(fsst)"}
    assert set(hist["lang"]) <= {"dict", "nullable(dict)"}
    man = scan.read_manifest(spark, path)
    assert {c["name"]: c.get("codec") for c in man["columns"]}["text"] == "zlib"
    blocks = scan.read_blocks(spark, path)
    dec = scan.decode_blocks(blocks, man, ["url", "text"])
    assert dec.exceptAll(df.select("url", "text")).count() == 0
    # transform (mask) re-encode inherits the pinned codecs via the manifest
    masked = scan.mask_values_in(blocks, man, "lang", ["en", "de"])
    got = scan.decode_blocks(masked, man, ["url", "lang"])
    want = df.where(F.col("lang").isin("en", "de"))
    assert got.count() == want.count()

    import pytest as _pytest
    with _pytest.raises(ValueError):
        encode.encode_to_path(
            spark, df, path + "_bad", codec_overrides={"text": "jpeg"}
        )
    with _pytest.raises(ValueError):
        encode.encode_to_path(
            spark, df, path + "_bad2", codec_overrides={"nope": "zlib"}
        )


def test_numeric_kinds_round_trip_bit_exact(spark):
    """double (NaN/±inf/-0.0 bit patterns) and nullable int columns
    survive encode->decode bit-exactly (the engine's IEEE-754-bits-as-
    int64 bijective view; reference dtype-edge care at
    raquet_metadata.hpp:180-206)."""
    import math

    path = "/tmp/raquet_test_numeric"
    shutil.rmtree(path, ignore_errors=True)
    vals = [1.5, -0.0, 0.0, float("inf"), float("-inf"), float("nan"), 3.14159, 2.0**-1049]
    rows = [
        (f"https://n.example.org/{i}",
         datetime.datetime(2024, 2, 1 + i % 10),
         vals[i % len(vals)],
         None if i % 7 == 0 else i * 1_000_000_007)
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, score double, big bigint"
    )
    encode.encode_to_path(spark, df, path, target_rows_per_block=64, resolution=3)
    man = scan.read_manifest(spark, path)
    dec = scan.decode_blocks(scan.read_blocks(spark, path), man, ["url", "score", "big"])
    got = {r["url"]: (r["score"], r["big"]) for r in dec.collect()}
    assert len(got) == 400
    for r in rows:
        s, b = got[r[0]]
        want = r[2]
        if math.isnan(want):
            assert math.isnan(s)
        else:
            assert s == want and math.copysign(1, s) == math.copysign(1, want)
        assert b == r[3]
