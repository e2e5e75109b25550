"""Plan audit: dump `.explain("formatted")` for the headline plans and
grep them for the properties that matter at 100 TB — pushed filters,
exchange count, whole-stage codegen spans. Output goes to stdout and
(with --out) to a markdown file committed as evidence.

Usage: python tools/plan_audit.py [--sf-dir DIR] [--out docs/PLANS.md]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from duckdb_raquet_spark import encode, scan, synth

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sections: list[tuple[str, str, list[str]]] = []

    # 1. encode plan: ONE exchange (hash on block/salt), then the
    #    sorted-partition Arrow kernel with no second exchange
    df = synth.synth_webtext(spark, 2000, num_partitions=4)
    blocks, _man = encode.encode_table(df, est_rows=2000, target_rows_per_block=256)
    p = formatted(blocks)
    sections.append(
        (
            "encode (blocks plan)",
            p,
            [
                (
                    "exactly one Exchange",
                    len(re.findall(r"\(\d+\) Exchange", p)) == 1,
                ),
                ("partition Arrow kernel", "MapInArrow" in p),
            ],
        )
    )

    # 2. point lookup: block-key equality pushed to the parquet scan
    enc_path = entry._enc_path(args.sf_dir)
    if not os.path.isdir(enc_path):
        entry._encoded(spark, args.sf_dir)
    man = scan.read_manifest(spark, enc_path)
    url0 = "https://example-0.com/page/0"
    # lookups, ranges and table reads small enough run on the driver,
    # without a plan: the plans audited here are the Spark side of that gate
    spark_side = mock.patch.object(scan, "_read_on_driver", lambda *a: False)
    with spark_side:
        p = formatted(
            scan.point_lookup(spark, enc_path, url0, cols=["text"], man=man)
        )
    sections.append(
        (
            "point_lookup",
            p,
            [
                ("block filter pushed", "PushedFilters: [IsNotNull(block)" in p),
                ("codegen span", "codegen id" in p),
            ],
        )
    )

    # 3. time-range scan: sargable bucket predicate, pushed range
    lo, hi = 1704067200 + 86400, 1704067200 + 3 * 86400
    with spark_side:
        p = formatted(
            scan.range_scan_ts(
                spark, enc_path, lo, hi, cols=["url", "lang"], man=man
            )
        )
    sections.append(
        (
            "range_scan_ts",
            p,
            [
                ("block range pushed", "GreaterThanOrEqual(block" in p),
                ("codegen span", "codegen id" in p),
            ],
        )
    )

    # 4. ANN LSH probe: sig IN (...) pushed into the index scan
    path = entry._ann_index_path(spark, args.sf_dir)
    qv = entry._query_vec(spark, args.sf_dir)
    from duckdb_raquet_spark.functions import similarity

    p = formatted(
        similarity.ann_probe_index(spark, path, qv, 10, probe_hamming=2, exclude_id=0)
    )
    sections.append(
        (
            "ann_lsh probe",
            p,
            [
                ("sig IN pushed", "In(sig" in p.replace(" ", "")),
                ("distributed top-k", "TakeOrderedAndProject" in p),
            ],
        )
    )

    # 5. broadcast join: small dim broadcast, no shuffle of the fact side
    qs = entry.queries()
    p = formatted(qs["join_top_customers"](spark, args.sf_dir))
    sections.append(
        (
            "join_top_customers",
            p,
            [("broadcast join", "BroadcastHashJoin" in p)],
        )
    )

    # 6. decontamination: eval-gram side broadcast (corpus side streams
    #    through the join without a raw-text shuffle)
    p = formatted(qs["txt_decontam"](spark, args.sf_dir))
    sections.append(
        (
            "txt_decontam",
            p,
            [("eval grams broadcast", "BroadcastHashJoin" in p)],
        )
    )

    # 6a. fuzzy decontamination: both eval sides (banded signatures AND
    #     shingle arrays) broadcast — the corpus side streams through
    #     candidate generation and verification without shuffling raw
    #     text; the whole retrieval is JVM Column exprs
    p = formatted(qs["txt_decontam_fuzzy"](spark, args.sf_dir))
    sections.append(
        (
            "txt_decontam_fuzzy",
            p,
            [
                ("eval signatures + shingles broadcast",
                 p.count("BroadcastHashJoin") >= 2),
                (
                    "no Python nodes",
                    "EvalPython" not in p and "MapInPandas" not in p,
                ),
            ],
        )
    )

    # 6b. DSIR: both n-gram models join back as broadcasts (they are
    #     <= n_buckets rows whatever the corpus size) and the whole
    #     scoring plan is JVM-side — no Python eval node anywhere
    p = formatted(qs["txt_dsir"](spark, args.sf_dir))
    sections.append(
        (
            "txt_dsir",
            p,
            [
                ("model broadcast", "BroadcastHashJoin" in p),
                (
                    "no Python nodes",
                    "EvalPython" not in p and "MapInPandas" not in p,
                ),
            ],
        )
    )

    # 7. time travel: the snapshot's chunk set prunes whole partition
    #    directories at planning time (PartitionFilters, not a
    #    post-scan Filter)
    import duckdb_raquet_spark as drs
    from duckdb_raquet_spark import manifest as mf_mod

    tt_path = (
        f"/tmp/raquet_audit_tt_{os.path.basename(args.sf_dir)}"
        f"_v{drs.__version__}"
    )
    # validity-gated, not existence-gated: an interrupted build must be
    # rebuilt, not trusted
    try:
        ok = len(mf_mod.read_snapshots(tt_path, spark)) >= 2
    except Exception:
        ok = False
    if not ok:
        import shutil

        shutil.rmtree(tt_path, ignore_errors=True)
        small = synth.synth_webtext(spark, 400, num_partitions=2)
        encode.encode_to_path(
            spark, small, tt_path, chunks=2, target_rows_per_block=128
        )
        encode.append_chunk(
            spark,
            synth.synth_webtext(spark, 100, num_partitions=1, start=900_000),
            tt_path,
        )
    p = formatted(scan.read_blocks_at(spark, tt_path, snapshot_id=0))
    sections.append(
        (
            "rt_time_travel",
            p,
            [
                (
                    "chunk partition pruned",
                    bool(re.search(r"PartitionFilters: \[.*chunk.*IN", p)),
                ),
            ],
        )
    )

    # 8. merge-on-read deletes: the equality-delete sets apply inside
    #    the block decode — no join against the delete files, no
    #    Exchange of the decoded fact side
    del_path = (
        f"/tmp/raquet_audit_del_{os.path.basename(args.sf_dir)}"
        f"_v{drs.__version__}"
    )
    try:
        ok = len(
            scan.read_manifest(spark, del_path).get("delete_files", [])
        ) == 2
    except Exception:
        ok = False
    if not ok:
        import shutil

        shutil.rmtree(del_path, ignore_errors=True)
        small = synth.synth_webtext(spark, 400, num_partitions=2)
        encode.encode_to_path(
            spark, small, del_path, chunks=2, target_rows_per_block=128
        )
        encode.delete_rows(
            spark, del_path, "url",
            small.limit(40).select("url"),
        )
        encode.delete_rows(spark, del_path, "lang", ["de"])
    with spark_side:
        p = formatted(scan.read_rows(spark, del_path, ["url", "text"]))
    sections.append(
        (
            "read_rows (equality deletes)",
            p,
            [
                (
                    "no join against delete files",
                    "Join" not in p and encode.DELETES_DIR not in p,
                ),
                (
                    "no shuffle of the decoded side",
                    not re.search(r"Exchange hashpartitioning", p),
                ),
            ],
        )
    )

    # 9. deterministic global shuffle: the prefix sum must never become
    #    a single-partition window — the windows run within md5-range
    #    buckets and the O(n_buckets) offset table joins as a broadcast
    p = formatted(qs["corpus_shuffle"](spark, args.sf_dir))
    sections.append(
        (
            "corpus_shuffle",
            p,
            [
                ("bucketed windows only", "Window" in p),
                (
                    "no single-partition exchange",
                    "Exchange SinglePartition" not in p,
                ),
                ("offset table broadcast", "BroadcastHashJoin" in p),
            ],
        )
    )

    # 10. bigram LM: all-JVM scoring (no Python eval anywhere) and the
    #     1-row vocab total rides a broadcast, never a shuffle
    p = formatted(qs["txt_bigram_lm"](spark, args.sf_dir))
    sections.append(
        (
            "txt_bigram_lm",
            p,
            [
                (
                    "no Python nodes",
                    "EvalPython" not in p and "MapInPandas" not in p,
                ),
                ("vocab broadcast", "BroadcastNestedLoopJoin" in p),
            ],
        )
    )

    # 11. incremental dedup: the batch-vs-index comparison is one
    #     anti-join and the keep-first re-attach one semi-join — digests
    #     move, documents don't
    p = formatted(qs["dedup_incremental"](spark, args.sf_dir))
    sections.append(
        (
            "dedup_incremental",
            p,
            [
                ("digest anti-join", "LeftAnti" in p),
                ("keep-first semi-join", "LeftSemi" in p),
            ],
        )
    )

    # 12. staged audit read (write-audit-publish): like read_rows,
    #     parent deletes apply inside the block decode and the decoded
    #     side never shuffles
    wap_path = (
        f"/tmp/raquet_audit_wap_{os.path.basename(args.sf_dir)}"
        f"_v{drs.__version__}"
    )
    if not encode.list_staged(spark, wap_path):
        encode.encode_to_path(
            spark, synth.synth_webtext(spark, 400, num_partitions=2),
            wap_path, chunks=2, target_rows_per_block=64,
        )
        encode.delete_rows(spark, wap_path, "lang", ["de"])
        encode.append_chunk(
            spark,
            synth.synth_webtext(spark, 100, num_partitions=1, seed=7),
            wap_path,
            staged=True,
        )
    tok = sorted(encode.list_staged(spark, wap_path))[0]
    p = formatted(scan.read_staged_rows(spark, wap_path, tok, ["url", "text"]))
    sections.append(
        (
            "read_staged_rows (WAP audit)",
            p,
            [
                (
                    "parent deletes in the decode, no join",
                    "Join" not in p and encode.DELETES_DIR not in p,
                ),
                (
                    "no shuffle of the decoded side",
                    not re.search(r"Exchange hashpartitioning", p),
                ),
            ],
        )
    )

    # 13. ExactSubstr removal: the cut is a higher-order filter (no
    #     Python), spans join back by id only
    p = formatted(qs["dedup_spans_removed"](spark, args.sf_dir))
    sections.append(
        (
            "dedup_spans_removed",
            p,
            [
                (
                    "no Python nodes",
                    "EvalPython" not in p and "MapInPandas" not in p,
                ),
                (
                    "no single-partition exchange on the cut",
                    # the final global orderBy is presentation-only;
                    # strip rangepartitioning before the check
                    "Exchange SinglePartition" not in p,
                ),
            ],
        )
    )

    # 14. incremental fuzzy dedup: the batch-vs-index candidate join
    #     must broadcast the BATCH's bucket rows (the index side — the
    #     10^12-doc corpus — streams map-side, never shuffles), and the
    #     index scan for candidate generation must read only
    #     (_id, _bands), leaving the heavy _hs shingle payload unread
    #     until verification's candidate semi-join
    from duckdb_raquet_spark.functions import dedup as dedupfn

    fidx_path = "/tmp/plan_audit_fidx"
    base = spark.createDataFrame(
        [(i, f"base doc {i} alpha beta gamma delta {i}") for i in range(64)],
        "doc_id long, text string",
    )
    dedupfn.build_minhash_index(base, "doc_id", "text").write.mode(
        "overwrite"
    ).parquet(fidx_path)
    idx_b = spark.read.parquet(fidx_path)
    delta = spark.createDataFrame(
        [(1000 + i, f"new doc {i} epsilon zeta eta {i}") for i in range(8)],
        "doc_id long, text string",
    )
    idx_d = dedupfn.build_minhash_index(delta, "doc_id", "text")
    bd = dedupfn._index_buckets(idx_d)
    bb = dedupfn._index_buckets(idx_b)
    cand_db = (
        bd.alias("x")
        .join(
            bb.alias("y"),
            (F.col("x.band") == F.col("y.band")) & (F.col("x.h") == F.col("y.h")),
        )
        .select(F.col("x._id").alias("a"), F.col("y._id").alias("b"))
        .distinct()
    )
    v_db = dedupfn._verify_pairs(cand_db, idx_d, idx_b, 0.5)
    p = formatted(v_db)
    # r6: _verify_pairs checkpoints the candidate frame (it is read
    # three times), so the candidate-generation subtree no longer
    # appears inside v_db's plan — assert its pruned index read on the
    # candidate frame's own plan, where it is visible
    p_cand = formatted(cand_db)
    cand_schemas = re.findall(
        r"Location[^\n]*plan_audit_fidx[^\n]*\n(?:[^\n]*\n)*?[^\n]*ReadSchema: ([^\n]*)",
        p_cand,
    )
    sections.append(
        (
            "incremental_minhash_dedup (batch vs index)",
            p + "\n-- candidate generation subplan --\n" + p_cand,
            [
                (
                    "index side never shuffled (batch bucket rows broadcast)",
                    "BroadcastExchange" in p_cand,
                ),
                (
                    "candidate generation reads only (_id,_bands) of the index",
                    any(
                        "_bands" in s and "_hs" not in s for s in cand_schemas
                    ),
                ),
                ("no Python nodes", "EvalPython" not in p and "EvalPython" not in p_cand),
            ],
        )
    )

    # 15. NDV sketch: the bottom-k must be TakeOrderedAndProject
    #     (per-partition top-k merged on the driver — never a global
    #     sort), and the pruned decode must read ONLY the requested
    #     column's blob (url_blob, not text/html)
    with spark_side:
        bk_df = (
            scan.read_rows(spark, enc_path, cols=["url"], man=man)
            .where(F.col("url").isNotNull())
            .select(scan.ndv_hash_col(F.col("url")).alias("h"))
            .distinct()
            .orderBy("h")
            .limit(scan.NDV_SKETCH_K)
        )
        p = formatted(bk_df)
    sections.append(
        (
            "analyze_ndv (bottom-k sketch scan)",
            p,
            [
                (
                    "distributed bottom-k (TakeOrderedAndProject)",
                    "TakeOrderedAndProject" in p,
                ),
                (
                    "only url_blob read (column-pruned decode)",
                    "url_blob" in p
                    and "text_blob" not in p
                    and "html_blob" not in p,
                ),
            ],
        )
    )

    lines = ["# Plan audit (auto-generated by tools/plan_audit.py)", ""]
    failures = 0
    for title, plan, checks in sections:
        lines.append(f"## {title}")
        lines.append("")
        for name, ok in checks:
            mark = "PASS" if ok else "FAIL"
            if not ok:
                failures += 1
            lines.append(f"- [{mark}] {name}")
            print(f"{title:24s} {mark}  {name}")
        lines.append("")
        lines.append("```")
        lines.append(plan.rstrip())
        lines.append("```")
        lines.append("")
    if args.out:
        with open(args.out, "w") as f:
            f.write("\n".join(lines) + "\n")
        print(f"wrote {args.out}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
