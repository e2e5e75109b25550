"""The shared block-exec pieces on the layouts that stress them: the
re-encode spread on a table whose block rows repeat a (block, salt)
key, with its placement gate pinned on and off, and the block decode
iterator on a schema-evolved table."""

import pytest
from pyspark.sql import functions as F

from duckdb_raquet_spark import encode, placement, scan

N = 400


def _rows(spark, lo: int):
    return spark.range(lo, lo + N).select(
        F.concat(F.lit("https://ex.com/"), F.col("id")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("de").alias("lang"),
        F.concat(F.lit("text "), F.col("id")).alias("text"),
    )


def _decoded(spark, path: str) -> list[tuple]:
    man = scan.read_manifest(spark, path)
    rows = scan.decode_blocks(
        scan.read_blocks(spark, path), man, ["url", "lang", "text"]
    ).collect()
    return sorted(tuple(r) for r in rows)


@pytest.mark.parametrize("planned", [True, False], ids=["gate-on", "gate-off"])
def test_spread_keeps_rows_on_repeated_keys(spark, tmp_path, monkeypatch, planned):
    """Two chunks, then an append that pins the key geometry: block
    rows of different chunks share one (block, salt). The spread plan
    must place each key once — a plan with repeated keys joined back
    multiplied every such block row (534 rows where 267 match). Masks
    and purges must equal decode-then-filter on both sides of the
    spread-planning byte gate."""
    path = str(tmp_path / "tbl")
    encode.encode_to_path(spark, _rows(spark, 0), path, chunks=2, est_rows=N)
    man = encode.append_chunk(spark, _rows(spark, N), path)
    blocks = scan.read_blocks(spark, path)
    keys = [(r["block"], r["salt"]) for r in blocks.select("block", "salt").collect()]
    assert len(keys) > len(set(keys))  # the layout under test

    # pin the gate through the byte probe: 1 GiB plans, 0 does not
    monkeypatch.setattr(scan, "_input_bytes", lambda df: (1 << 30) if planned else 0)
    plans = []
    real_plan = placement.plan

    def spy(*args, **kwargs):
        plans.append(real_plan(*args, **kwargs))
        return plans[-1]

    monkeypatch.setattr(placement, "plan", spy)

    full = _decoded(spark, path)
    assert len(full) == 2 * N
    en = [r for r in full if r[1] == "en"]

    def rows_of(df):
        return sorted(tuple(r) for r in scan.decode_blocks(
            df, man, ["url", "lang", "text"]).collect())

    assert rows_of(scan.mask_values_in(blocks, man, "lang", ["en"])) == en
    assert rows_of(
        scan.mask_to_null_in(blocks, man, "lang", ["en"], ["text"])
    ) == sorted((u, lang, t if lang == "en" else None) for u, lang, t in full)

    encode.delete_rows(spark, path, "lang", ["de"])
    dst = str(tmp_path / "purged")
    scan.purge_deletes(spark, path, dst)
    assert _decoded(spark, dst) == en
    if planned:
        assert plans and all(p is not None for p in plans)
    else:
        assert not plans


def test_column_math_stats_on_evolved_table(spark, tmp_path):
    """A column added after the data was written has no payload in old
    chunks; the fused stats decode must fill its default, as
    decode_blocks does."""
    path = str(tmp_path / "tbl")
    encode.encode_to_path(spark, _rows(spark, 0), path, chunks=2, est_rows=N)
    man = encode.evolve_add_column(spark, path, "extra", "bigint", default=7)
    blocks = scan.read_blocks(spark, path)
    r = scan.column_math_stats(blocks, man, ["extra"], lambda a: a["extra"]).first()
    assert (r["cnt"], r["sum"]) == (N, 7 * N)
    dec = scan.decode_blocks(blocks, man, ["extra"])
    assert dec.agg(F.sum("extra")).first()[0] == 7 * N
