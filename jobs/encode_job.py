#!/usr/bin/env python
"""spark-submit entry point for the encode job (north-rule packaging).

Usage (cluster):
    python tools/package.py                      # -> dist/duckdb_raquet_spark.zip
    spark-submit --py-files dist/duckdb_raquet_spark.zip \
        jobs/encode_job.py \
        --input /path/to/webtext_parquet_or_table \
        --output /path/to/raquet_table \
        --chunks 16 --resume

Local sandbox twin (no cluster available here):
    spark-submit --master 'local[32]' --py-files dist/duckdb_raquet_spark.zip \
        jobs/encode_job.py --input ... --output ... --synth-rows 20000

The job reads the input (a parquet path, or a catalog table name with
--table, e.g. an Iceberg table when the catalog is configured on the
cluster), runs the chunked checkpoint-resumable encode, and prints the
finalized manifest summary as one JSON line. Re-running with --resume
after an interruption skips chunks whose lineage record exists
(duckdb_raquet_spark.encode.encode_to_path).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path (or table name with --table)")
    ap.add_argument("--table", action="store_true", help="treat --input as a catalog table")
    ap.add_argument("--output", required=True)
    ap.add_argument("--chunks", type=int, default=1)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--url-col", default="url")
    ap.add_argument("--ts-col", default="warc_ts")
    ap.add_argument(
        "--target-rows-per-block",
        type=int,
        default=None,
        help="rows per cell; default: size cells by raw bytes, the smallest "
        "resolution with at most 4 MiB raw per cell (~2 MB blocks)",
    )
    ap.add_argument("--zlib-level", type=int, default=6)
    ap.add_argument(
        "--codec",
        action="append",
        default=[],
        metavar="COL=CODEC",
        help="pin a column's codec (plain|zlib|bz2|zstd|dict|fsst; numeric: "
        "plain|auto) instead of auto-selection — the reference encoder's "
        "`compression` parameter, per column; repeatable",
    )
    ap.add_argument(
        "--effort",
        choices=("max", "fast"),
        default="max",
        help="codec effort: max = size-optimal candidate race (bz2 "
        "included); fast = zstd-led race (bz2 dropped, zlib sample-gated) "
        "for multi-x encode throughput at ~0.99x the reference codec size",
    )
    ap.add_argument(
        "--group",
        action="append",
        default=[],
        metavar="COL,COL[,...]",
        help="store these columns as ONE interleaved blob (column-group "
        "layout — the reference's interleave_bands); repeatable",
    )
    ap.add_argument(
        "--shuffle",
        choices=("hash", "none"),
        default="hash",
        help="hash = co-locate each block's rows (one shuffle of the raw "
        "input); none = map-only encode, salt=partition id — zero raw-byte "
        "shuffle, for inputs already clustered by url-hash/time",
    )
    ap.add_argument(
        "--salt-mode",
        choices=("avg", "sampled"),
        default="avg",
        help="salt fan-out sizing: avg = rows/cells (free); sampled = "
        "one sample aggregation sizes n_salt for the HOTTEST cell — the "
        "skew lever for crawl-burst time buckets",
    )
    ap.add_argument(
        "--unsorted-write",
        action="store_true",
        help="skip the sorted (range-partitioned) final layout: each "
        "encode task streams straight to its own file — no persist of "
        "the encoded blocks, the memory-safe path when they exceed "
        "cluster memory; run compact_job afterwards for the canonical "
        "sorted table",
    )
    ap.add_argument(
        "--synth-rows",
        type=int,
        default=0,
        help="ignore --input; encode N deterministic synthetic webtext rows",
    )
    args = ap.parse_args()

    spark = SparkSession.builder.appName("raquet-encode").getOrCreate()
    # imports resolve from --py-files after the session exists
    from duckdb_raquet_spark import encode, synth

    if args.synth_rows:
        df = synth.synth_webtext(spark, args.synth_rows)
        est = args.synth_rows
    elif args.table:
        df = spark.table(args.input)
        est = None
    elif args.input:
        df = spark.read.parquet(args.input)
        est = None
    else:
        ap.error("--input or --synth-rows required")

    man = encode.encode_to_path(
        spark,
        df,
        args.output,
        chunks=args.chunks,
        resume=args.resume,
        url_col=args.url_col,
        ts_col=args.ts_col,
        est_rows=est,
        target_rows_per_block=args.target_rows_per_block,
        zlib_level=args.zlib_level,
        codec_overrides=dict(kv.split("=", 1) for kv in args.codec) or None,
        effort=args.effort,
        column_groups=[g.split(",") for g in args.group] or None,
        shuffle=args.shuffle,
        sorted_write=not args.unsorted_write,
        salt_mode=args.salt_mode,
    )
    summary = {
        k: man[k]
        for k in ("num_blocks", "num_rows", "raw_bytes", "enc_bytes", "codec_histogram")
    }
    summary["output"] = args.output
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
