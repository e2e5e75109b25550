"""Round-3 additions: cosine_pairs hot-group cap, datasource
append-refusal + missing-block-column pruning, minhash uncapped default."""

from __future__ import annotations

import os

import numpy as np
import pytest

from duckdb_raquet_spark.datasource import RaquetDataSource
from duckdb_raquet_spark.functions import dedup

pytestmark = pytest.mark.spark


def _vec(rng, base=None, jitter=0.0):
    v = base if base is not None else rng.normal(size=8)
    v = v + rng.normal(scale=jitter, size=8) if jitter else v
    return [float(x) for x in v]


def test_cosine_pairs_hot_group_chains(spark):
    """An all-one-group fixture must not go quadratic: with max_group
    below the group size the emitted pair count is linear, and the
    near-identical cluster stays transitively connected."""
    rng = np.random.default_rng(7)
    base = rng.normal(size=8)
    rows = [(i, "g", _vec(rng, base, jitter=0.01)) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    pairs = dedup.cosine_pairs(
        df, "vec_id", "embedding", "label", 0.9, max_group=40
    ).collect()
    # linear, not quadratic: 100 near-identical vectors -> ~99 chained
    # pairs, far below all-pairs' 4950
    assert 0 < len(pairs) < 300
    parent = {i: i for i in range(100)}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for r in pairs:
        parent[find(int(r["a"]))] = find(int(r["b"]))
    assert len({find(i) for i in range(100)}) == 1


def test_cosine_pairs_uncapped_matches_small_groups(spark):
    """With groups under the cap, capped and uncapped plans agree."""
    rng = np.random.default_rng(11)
    rows = []
    for g in ("a", "b"):
        base = rng.normal(size=8)
        for i in range(5):
            rows.append((len(rows), g, _vec(rng, base, jitter=0.01)))
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    uncapped = {
        (r["a"], r["b"], round(r["cos"], 9))
        for r in dedup.cosine_pairs(
            df, "vec_id", "embedding", "label", 0.9, max_group=None
        ).collect()
    }
    capped = {
        (r["a"], r["b"], round(r["cos"], 9))
        for r in dedup.cosine_pairs(
            df, "vec_id", "embedding", "label", 0.9, max_group=100
        ).collect()
    }
    assert uncapped == capped and len(uncapped) > 0


def test_cosine_pairs_default_is_safe(spark):
    """Round 4: the DEFAULT call caps hot groups — an all-one-group
    fixture larger than the default max_group (1000) completes with a
    linear pair count instead of ~561k all-pairs rows."""
    rng = np.random.default_rng(13)
    base = rng.normal(size=8)
    rows = [(i, "g", _vec(rng, base, jitter=0.005)) for i in range(1060)]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    n = dedup.cosine_pairs(df, "vec_id", "embedding", "label", 0.9).count()
    assert 0 < n < 3000  # chained (~1059), nowhere near 561k


def test_minhash_uncapped_default_full_recall(spark):
    """Default (max_bucket=None) emits ALL verified pairs of an
    oversized bucket — pair-level recall is only traded away opt-in."""
    boiler = "cookie notice please accept our terms and conditions today"
    rows = [(i, boiler) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(df, "doc_id", "text", 0.8, k=16, bands=4).collect()
    assert len(pairs) == 30 * 29 // 2


def test_ivf_kmeans_deterministic(spark):
    from duckdb_raquet_spark.functions import similarity

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c1 = similarity.ivf_kmeans_centroids(df, "vec_id", "embedding", 4)
    c2 = similarity.ivf_kmeans_centroids(
        df.repartition(7), "vec_id", "embedding", 4
    )
    assert c1 == c2  # bit-identical across partitionings


def test_ivf_kmeans_recall_at_10(spark, tmp_path):
    """Trained coarse quantizer quality gate (VERDICT r2 #3): IVF with
    n_probe=3 of 8 centroids must recall >= 0.9 of the exact top-10 on
    the sf0.1 embeddings."""
    import os

    from duckdb_raquet_spark.functions import similarity

    sf_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.1 testdata not present")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    query = [float(x) for x in emb.where("vec_id = 0").collect()[0]["embedding"]]
    exact = {
        r["vec_id"]
        for r in similarity.ann_bruteforce(
            emb, "vec_id", "embedding", query, k=10, exclude_id=0
        ).collect()
    }
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, "vec_id", "embedding", path, n_centroids=8)
    approx = {
        r["vec_id"]
        for r in similarity.ann_ivf(
            emb, "vec_id", "embedding", query, k=10, n_probe=3,
            exclude_id=0, index_path=path,
        ).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.9


def test_quantized_ann_recall(spark):
    """int8 cosine search recalls >= 0.8 of the exact fp top-10 on the
    sf0.1 embeddings — quantization composes with search usefully."""
    from pyspark.sql import functions as F

    from duckdb_raquet_spark.functions import similarity

    sf_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.1 testdata not present")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    query = [float(x) for x in emb.where("vec_id = 0").collect()[0]["embedding"]]
    exact = {
        r["vec_id"]
        for r in similarity.ann_bruteforce(
            emb, "vec_id", "embedding", query, k=10, exclude_id=0
        ).collect()
    }
    qz = similarity.quantize_embeddings(emb, "vec_id", "embedding")
    qcodes = [int(x) for x in qz.where("vec_id = 0").collect()[0]["q"]]
    v = F.col("q").cast("array<double>")
    approx = {
        r["vec_id"]
        for r in qz.where("vec_id <> 0")
        .select(
            "vec_id",
            similarity.cosine_col(v, similarity._lit_vec(qcodes)).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(10)
        .collect()
    }
    assert len(exact & approx) / len(exact) >= 0.8


def test_manifest_reads_previous_generation(spark, tmp_path):
    """One reader, every generation: a 1.0 manifest (string key.hash)
    parses, validates, and its table still scans after the 1.1 bump."""
    import json

    from duckdb_raquet_spark import FORMAT_VERSION, encode, manifest as mf, scan, synth

    v10 = {
        "format_version": "1.0",
        "engine": "duckdb_raquet_spark/0.3.0",
        "key": {
            "scheme": "hashts-morton-v1",
            "resolution": 6,
            "bucket_seconds": 86400,
            "ts_origin": 0,
            "hash": "xxhash64(url, seed=42) >> 38",
            "n_salt": 1,
        },
        "columns": [{"name": "url", "kind": "string"}],
        "url_col": "url",
        "ts_col": None,
        "num_blocks": 1,
        "num_rows": 1,
        "raw_bytes": 1,
        "enc_bytes": 1,
        "codec_histogram": {},
    }
    m = mf.from_json(json.dumps(v10))
    ok, errors, _ = mf.validate_manifest(m)
    assert ok, errors
    assert m["key"]["hash"]["fn"] == "xxhash64"  # normalized to 1.1 shape
    assert m["key"]["hash"]["legacy"].startswith("xxhash64(")

    # e2e: a committed table whose manifest row is rewritten to the 1.0
    # generation scans identically
    df = synth.synth_webtext(spark, 120, num_partitions=2)
    out = str(tmp_path / "tbl")
    encode.encode_to_path(spark, df, out, target_rows_per_block=64, resolution=4)
    side = os.path.join(out, "_raquet_manifest.json")
    cur = json.loads(open(side).read())
    cur["format_version"] = "1.0"
    cur["key"]["hash"] = "xxhash64(url, seed=42) >> 38"
    open(side, "w").write(json.dumps(cur))
    blocks = scan.read_blocks(spark, out)
    man = scan.read_manifest(spark, out)
    assert man["key"]["hash"]["fn"] == "xxhash64"
    n = scan.decode_blocks(blocks, man, ["url"]).count()
    assert n == 120
    assert FORMAT_VERSION == "1.1"


def test_connected_components_chain_and_clique(spark):
    """A 5-node chain (diameter 4, needs multiple propagation rounds),
    a triangle, and an isolated pair all label to their minimum id."""
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)]
    df = spark.createDataFrame(pairs, "a long, b long")
    got = {
        r["id"]: r["comp"]
        for r in dedup.connected_components(df, "a", "b").collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_chunk_dedup_boundaries(spark):
    """Docs shorter than one chunk emit nothing; identical passages at
    different offsets DON'T collide (fixed windows, not substrings);
    aligned identical chunks do."""
    a = " ".join(f"w{i}" for i in range(40))  # 2 chunks
    rows = [(0, a), (1, a), (2, "short doc"), (3, "x " + a)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.chunk_dedup(df, "doc_id", "text", chunk_tokens=20).collect()
    # doc 0 and 1 share both chunks; doc 3 is offset by one token so its
    # windows differ; doc 2 has no full chunk
    assert len(out) == 2
    assert all(r["n_copies"] == 2 and r["keep_id"] == 0 for r in out)


def test_gopher_quality_rules(spark):
    from duckdb_raquet_spark.functions import text as textfn

    good = " ".join(["the quick brown fox jumps over that lazy dog with style"] * 6)
    short = "too short"
    symbols = " ".join(["### ### ### ..."] * 20)
    df = spark.createDataFrame(
        [(0, good), (1, short), (2, symbols)], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *textfn.gopher_quality_columns("text")
        ).collect()
    }
    assert rows[0]["gopher_pass"] is True
    assert rows[1]["gopher_pass"] is False  # under 50 tokens
    assert rows[2]["gopher_pass"] is False  # symbol ratio + no alpha
    assert rows[2]["symbol_ratio"] > 0.1


def test_unsorted_write_decodes_and_compacts(spark, tmp_path):
    """sorted_write=False (no persist, no range pass — the cluster-
    memory-safe write) must decode identically to the sorted layout,
    and compact_to_path must restore the canonical sorted table."""
    from duckdb_raquet_spark import encode, scan, synth

    df = synth.synth_webtext(spark, 300, num_partitions=4)
    srt = str(tmp_path / "sorted")
    uns = str(tmp_path / "unsorted")
    encode.encode_to_path(spark, df, srt, target_rows_per_block=64, resolution=4)
    encode.encode_to_path(
        spark, df, uns, target_rows_per_block=64, resolution=4,
        sorted_write=False,
    )
    man_s = scan.read_manifest(spark, srt)
    man_u = scan.read_manifest(spark, uns)
    assert man_u.get("sorted") is False
    assert man_u["num_rows"] == man_s["num_rows"]
    assert man_u["enc_bytes"] == man_s["enc_bytes"]  # same blocks, same bytes

    def decoded(path, man):
        rows = scan.decode_blocks(
            scan.read_blocks(spark, path), man, ["url", "text", "lang"]
        ).collect()
        return sorted(tuple(r) for r in rows)

    assert decoded(uns, man_u) == decoded(srt, man_s)
    # compaction rewrites into the canonical sorted layout, bit-identical
    cmp_path = str(tmp_path / "compacted")
    scan.compact_to_path(spark, uns, cmp_path)
    man_c = scan.read_manifest(spark, cmp_path)
    assert man_c["enc_bytes"] == man_s["enc_bytes"]
    assert decoded(cmp_path, man_c) == decoded(srt, man_s)


def test_append_chunk_extends_table(spark, tmp_path):
    """append_chunk adds a new chunk under the existing key geometry and
    re-finalizes the manifest; readers see old+new rows; a default
    one-chunk encode appends too; mismatched schema refuses."""
    from pyspark.sql import functions as F

    from duckdb_raquet_spark import encode, scan, synth

    df = synth.synth_webtext(spark, 200, num_partitions=2)
    tbl = str(tmp_path / "tbl")
    encode.encode_to_path(
        spark, df, tbl, chunks=2, target_rows_per_block=64, resolution=4
    )
    extra = synth.synth_webtext(spark, 100, num_partitions=1, start=200)
    final = encode.append_chunk(spark, extra, tbl)
    assert final["num_rows"] == 300
    man = scan.read_manifest(spark, tbl)
    dec = scan.decode_blocks(scan.read_blocks(spark, tbl), man, ["url", "text"])
    got = {r["url"]: r["text"] for r in dec.collect()}
    want = {
        r["url"]: r["text"]
        for r in df.unionByName(extra).select("url", "text").collect()
    }
    assert got == want
    # lineage records the appended chunk
    from duckdb_raquet_spark import manifest as mf

    lineage = mf.read_chunk_lineage(tbl, spark)
    k = max(lineage)
    assert lineage[k]["appended"] is True
    # ... with the new chunk's own bytes, which compact_chunks' smallest-
    # first selection reads
    stats = (
        spark.read.parquet(os.path.join(tbl, "data", f"chunk={k}"))
        .agg(F.sum("stats.raw_bytes"), F.sum("stats.enc_bytes"))
        .first()
    )
    assert (lineage[k]["raw_bytes"], lineage[k]["enc_bytes"]) == tuple(stats)
    assert lineage[k]["rows"] == 100
    # schema mismatch refused
    with pytest.raises(ValueError, match="columns"):
        encode.append_chunk(spark, extra.drop("lang"), tbl)
    # a default (one-chunk) encode appends too: every table is chunked
    one = str(tmp_path / "one")
    encode.encode_to_path(spark, df, one, target_rows_per_block=64, resolution=4)
    final = encode.append_chunk(spark, extra, one)
    assert final["num_rows"] == 300
    assert scan.read_rows(spark, one, ["url"]).count() == 300


def test_sampled_salt_splits_hot_cell(spark, tmp_path):
    """A crawl-burst time bucket (every row in one day) defeats the
    average-based salt (n_salt=1 -> one straggler encode group);
    salt_mode='sampled' detects the hot cell and splits it, and the
    table still decodes identically."""
    from pyspark.sql import functions as F

    from duckdb_raquet_spark import encode, scan, synth

    df = synth.synth_webtext(spark, 9000, num_partitions=4).withColumn(
        "warc_ts", F.lit("2024-01-05 12:00:00").cast("timestamp")
    )
    avg_p = str(tmp_path / "avg")
    smp_p = str(tmp_path / "sampled")
    kw = dict(
        resolution=4, target_rows_per_block=4096, max_rows_per_block=256,
        effort="fast",
    )
    encode.encode_to_path(spark, df, avg_p, **kw)
    encode.encode_to_path(spark, df, smp_p, salt_mode="sampled", **kw)
    man_a = scan.read_manifest(spark, avg_p)
    man_s = scan.read_manifest(spark, smp_p)
    # avg: 3000 rows / 256 cells < 256 -> no salt; sampled: the hot
    # cell's ~3000/16 rows per url-slice... every row shares ONE ts
    # bucket, so the largest block holds ~3000/16 = 187? depends on
    # hash spread; assert the lever engaged and bounded the groups
    # avg: 9000 rows / 256 cells = 35 << 256 -> n_salt 1, but every row
    # shares ONE ts bucket so the 16 live cells hold ~560 rows each;
    # sampled sizes n_salt off that hottest cell
    assert man_a["key"]["n_salt"] == 1
    assert man_s["key"]["n_salt"] >= 2
    mx = scan.read_blocks(spark, smp_p).agg(F.max("n_rows")).first()[0]
    assert mx <= 2 * 256  # sampling slack, but nowhere near one group

    def decoded(path, man):
        rows = scan.decode_blocks(
            scan.read_blocks(spark, path), man, ["url", "text"]
        ).collect()
        return sorted(tuple(r) for r in rows)

    assert decoded(avg_p, man_a) == decoded(smp_p, man_s)


def test_index_probe_touches_fraction(spark, tmp_path):
    """A probe of a persisted index must touch strictly less than the
    whole index (row groups AND rows), proven from parquet footers —
    the reference's pruned-scan property (VERDICT r2 #10)."""
    from duckdb_raquet_spark.functions import similarity

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(2000)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    query = rows[0][1]

    lsh_path = str(tmp_path / "lsh")
    similarity.build_ann_index(
        df, "vec_id", "embedding", lsh_path, n_planes=12, num_files=16
    )
    st = similarity.lsh_probe_stats(spark, lsh_path, query, probe_hamming=2)
    assert st["touched"]["rows"] < st["total"]["rows"]
    assert st["touched"]["row_groups"] < st["total"]["row_groups"]

    ivf_path = str(tmp_path / "ivf")
    similarity.build_ivf_index(
        df, "vec_id", "embedding", ivf_path, n_centroids=8, num_files=16
    )
    st = similarity.ivf_probe_stats(spark, ivf_path, query, n_probe=3)
    # n_assign=2 doubles index rows; a 3-of-8 probe still reads well
    # under half of them
    assert st["touched"]["rows"] < 0.6 * st["total"]["rows"]
    assert st["touched"]["row_groups"] < st["total"]["row_groups"]


def test_children_kring_cols_match_driver_lists(spark):
    """Column-expression children/kring agree with the driver-side key
    math for interior AND border cells (VERDICT r2 #9)."""
    from pyspark.sql import functions as F

    from duckdb_raquet_spark import blockkey as bk

    res = 3
    n = 1 << res
    shift = bk.COORD_BITS - res
    keys = [
        int(bk.key_from_parts(np.uint64(x << shift), np.uint64(y << shift), res))
        for (x, y) in [(0, 0), (3, 5), (n - 1, n - 1), (0, n - 1), (4, 0)]
    ]
    df = spark.createDataFrame([(k,) for k in keys], "block long")
    got = (
        df.select(
            "block",
            bk.children_col(F.col("block"), res).alias("ch"),
            bk.kring_col(F.col("block"), res, 1).alias("kr"),
        )
        .orderBy("block")
        .collect()
    )
    for r in got:
        assert sorted(r["ch"]) == sorted(bk.key_children(r["block"]))
        assert list(r["kr"]) == bk.key_kring(r["block"], 1)


def test_datasource_append_mode_refused(spark, tmp_path):
    spark.dataSource.register(RaquetDataSource)
    df = spark.createDataFrame(
        [("http://a/1", "hello world", "en")], "url string, text string, lang string"
    )
    out = str(tmp_path / "tbl")
    df.write.format("raquet").mode("overwrite").option("resolution", 4).save(out)
    with pytest.raises(Exception, match="overwrite"):
        df.write.format("raquet").mode("append").option("resolution", 4).save(out)
