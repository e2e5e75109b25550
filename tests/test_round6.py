"""Round-6 optimization tests: the driver-local short-circuits of the
two driver-orchestrated loops (connected components, BPE rounds) must
produce outputs identical to the distributed paths they replace."""

import random

from duckdb_raquet_spark.functions import dedup


def _labels(df):
    return sorted((r["id"], r["comp"]) for r in df.collect())


def test_components_local_equals_distributed(spark):
    """Same random graph through the union-find short-circuit (default
    gate) and the distributed loop (gate forced off): identical
    (id, comp) sets — chains, cliques, isolated pairs, singleton-free."""
    rng = random.Random(13)
    pairs = [(rng.randint(0, 400), rng.randint(0, 400)) for _ in range(600)]
    pairs += [(i, i + 1) for i in range(500, 560)]  # a 60-link chain
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "a long, b long")
    local = dedup.connected_components(df, "a", "b")
    dist = dedup.connected_components(df, "a", "b", local_edges=0)
    got_local, got_dist = _labels(local), _labels(dist)
    assert got_local == got_dist
    # and both satisfy the contract: comp = min id of the component
    comp_min = {}
    for i, c in got_local:
        comp_min.setdefault(c, set()).add(i)
    for c, members in comp_min.items():
        assert c == min(members)


def test_components_local_empty_edges(spark):
    df = spark.createDataFrame([], "a long, b long")
    out = dedup.connected_components(df, "a", "b")
    assert out.columns == ["id", "comp"]
    assert out.count() == 0


def test_learn_bpe_local_equals_distributed(spark):
    """Merge tables from the driver-local rounds (default gate) and the
    distributed rounds (gate forced off) match merge for merge —
    including the overlapping-run case where greedy replace order
    matters and a tie round."""
    from duckdb_raquet_spark.functions import tokenizer as tk

    rng = random.Random(11)
    words = ["".join(rng.choice("abcd") for _ in range(rng.randint(1, 5)))
             for _ in range(30)]
    texts = [" ".join(rng.choice(words) for _ in range(10)) for _ in range(20)]
    texts.append("aaa aa aaaa")  # overlapping pairs within a word
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    key = lambda m: (m["rank"], m["left"], m["right"], m["merged"], m["freq"])  # noqa: E731
    local = [key(m) for m in tk.learn_bpe(df, "text", n_merges=8)]
    dist = [key(m) for m in tk.learn_bpe(df, "text", n_merges=8, local_words=0)]
    assert local == dist and len(local) == 8


def test_murmur_matches_spark_hash(spark):
    """_murmur3_hash_long must equal Spark's Murmur3 (seed 42) on longs
    — the exact-placement shuffle trick (partition_reps) depends on
    replicating HashPartitioning's hash bit for bit."""
    from pyspark.sql import functions as F

    from duckdb_raquet_spark import placement

    rng = random.Random(7)
    vals = [0, 1, -1, 2**62, -(2**62), 42] + [
        rng.randint(-(2**63), 2**63 - 1) for _ in range(50)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r["v"]: r["h"] for r in df.select("v", F.hash("v").alias("h")).collect()}
    for v in vals:
        h = placement.murmur3_hash_long(v)
        signed = h - (1 << 32) if h >= (1 << 31) else h
        assert signed == got[v], v


def test_partition_reps_place_exactly(spark):
    """A row keyed by partition_reps(n)[p] must land in shuffle
    partition p — the invariant the LPT block spread builds on."""
    from pyspark.sql import functions as F

    from duckdb_raquet_spark import placement

    for n in (7, 64):
        reps = placement.partition_reps(n)
        df = spark.createDataFrame(
            [(p, reps[p]) for p in range(n)], "p int, k long"
        )
        out = (
            df.repartition(n, "k")
            .withColumn("pid", F.spark_partition_id())
            .collect()
        )
        for r in out:
            assert r["pid"] == r["p"], (n, r)


def test_spread_block_rows_keeps_rows(spark, tmp_path):
    """The LPT spread is placement-only: a mask over a table whose
    blocks went through _spread_block_rows returns exactly the rows the
    predicate selects."""
    from pyspark.sql import functions as F

    from duckdb_raquet_spark import encode, scan

    n = 400
    df = spark.range(n).select(
        F.concat(F.lit("https://ex.com/"), F.col("id")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("de").alias("lang"),
        F.concat(F.lit("text "), F.col("id")).alias("text"),
    )
    path = str(tmp_path / "tbl")
    man = encode.encode_to_path(spark, df, path, est_rows=n)
    blocks = scan.read_blocks(spark, path)
    out = scan.mask_values_in(blocks, man, "lang", ["en"])
    decoded = scan.decode_blocks(out, man, ["url", "lang"])
    rows = decoded.collect()
    assert len(rows) == len([i for i in range(n) if i % 3 == 0])
    assert all(r["lang"] == "en" for r in rows)


def test_planned_encode_bytes_identical(spark, tmp_path):
    """The planned (LPT-binned) encode placement must produce
    byte-identical block rows to the plain hash placement — only task
    placement may differ. The mask path's re-encode must too: an
    all-true predicate rewrites every block to its own payload bytes."""
    import numpy as np
    from pyspark.sql import functions as F

    from duckdb_raquet_spark import encode, scan

    n = 3000
    df = spark.range(n).select(
        F.concat(F.lit("https://ex.com/"), F.col("id")).alias("url"),
        F.to_timestamp(
            F.from_unixtime(F.lit(1704067200) + F.col("id") * 60)
        ).alias("warc_ts"),
        F.concat(F.lit("body text "), F.col("id") % 97).alias("text"),
        (F.col("id") % 5).alias("score"),
    )
    p1 = str(tmp_path / "planned")
    p2 = str(tmp_path / "grouped")
    # target small enough that est_rows >= 64 * target (planned path)
    m1 = encode.encode_to_path(
        spark, df, p1, est_rows=n, target_rows_per_block=16
    )
    # num_partitions pins the plain hash path
    m2 = encode.encode_to_path(
        spark, df, p2, est_rows=n, target_rows_per_block=16, num_partitions=8
    )
    assert m1["enc_bytes"] == m2["enc_bytes"]
    assert m1["num_blocks"] == m2["num_blocks"] and m1["num_blocks"] > 16
    blobs = [c for c in scan.read_blocks(spark, p1).columns if c.endswith("_blob")]

    def payloads(blocks):
        return {
            (r["block"], r["salt"]): tuple(bytes(r[c]) for c in blobs)
            for r in blocks.collect()
        }

    b1 = payloads(scan.read_blocks(spark, p1))
    b2 = payloads(scan.read_blocks(spark, p2))
    assert b1 == b2
    b3 = payloads(
        scan.transform_blocks(
            scan.read_blocks(spark, p2), m2,
            lambda pdf: np.ones(len(pdf), dtype=bool), filter_cols=["score"],
        )
    )
    assert b3 == b2
