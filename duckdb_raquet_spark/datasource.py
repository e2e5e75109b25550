"""PySpark Python Data Source (Spark 4.1 API) for raquet tables.

    from duckdb_raquet_spark.datasource import RaquetDataSource
    spark.dataSource.register(RaquetDataSource)
    # filter pushdown requires (Spark 4.1):
    #   spark.conf: spark.sql.python.filterPushdown.enabled=true

    df = spark.read.format("raquet").load("/path/table")           # decoded rows
    (df.write.format("raquet").mode("overwrite")
       .option("resolution", 6).save("/path/out"))                 # encode

The idiomatic-Spark twin of the reference's `read_raquet` macro
(/root/reference/src/raquet_extension.cpp:36-45): the table shows up as
its LOGICAL schema (url, warc_ts, html, text, lang, ...), decode
happens lazily per partition, and the engine's block-key pruning runs
underneath the DataFrame API.

Reader
------
* Schema comes from the manifest sidecar (block=0 row fallback).
* ``pushFilters`` maps url equality and warc_ts range predicates onto
  the sargable block-key envelopes (the same math as
  ``scan.prune_blocks_for_url_hash`` / ``prune_blocks_for_ts``); files
  and row groups whose ``block`` min/max fall outside the envelope are
  skipped via parquet footer statistics — before any payload byte is
  read. Every filter is also handed back to Spark, which re-applies
  them exactly on the decoded rows (pruning is a superset guarantee).
* The Python DataSource API has no column-pruning hook yet, so
  ``.option("columns", "url,text")`` selects which payloads decode;
  the default decodes all.
* Time travel: ``.option("snapshotId", 3)`` or ``.option("ref",
  "corpus-v1")`` (a tag from ``encode.create_tag``) pins chunk
  visibility and the equality-delete set to that snapshot; the read
  schema stays the current manifest's, matching ``scan.read_rows``.
* Write-audit-publish: ``.option("stagedToken", t)`` reads the audit
  view of a staged append (``scan.read_staged_rows``'s twin); plain
  reads never see staged chunks.

Writer
------
* Each task encodes ITS OWN partition's rows — the map-only encode shape
  (salt = partition id, zero raw-byte shuffle; see
  ``encode.encode_table(shuffle="none")``) — into one parquet file under
  ``data/``. Like ``streaming.encode_stream``, the writer cannot scan
  its own future, so the key geometry is pinned up front via options:
  ``resolution`` (default 6), ``ts_origin`` (default 0),
  ``bucket_seconds`` (default 86400), plus ``url_col``/``ts_col``/
  ``effort``/``zlib_level``/``target_rows_per_block``-free knobs.
* The driver-side ``commit()`` aggregates per-task stats from the
  commit messages and writes the manifest row + sidecar LAST — the
  reference's metadata-row-after-all-data invariant expressed through
  Spark's own commit protocol. Task retries overwrite their own
  ``part-<partition>.parquet``, keeping the write idempotent.
"""

from __future__ import annotations

import dataclasses
import json
import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from . import blockkey as bk
from . import manifest as mf


@dataclasses.dataclass
class _FilePart(InputPartition):
    path: str


@dataclasses.dataclass
class _TaskStats(WriterCommitMessage):
    n_rows: int
    n_blocks: int
    raw_bytes: int
    enc_bytes: int
    codec_histogram: dict
    ts_min: int | None
    ts_max: int | None


def _load_manifest(path: str) -> dict:
    from . import fsio

    if fsio.is_remote(path):
        # no session is available here and the snapshot-log listing
        # needs the JVM gateway for remote schemes — fall back to the
        # sidecar cache (rewritten on every commit) rather than
        # dereferencing a None session inside committed_manifest
        man = mf.read_sidecar(path, None)
    else:
        man, _ = mf.committed_manifest(path, None)
    if man is not None:
        return man
    # fall back to the block=0 manifest row via pyarrow (no Spark here:
    # DataSource planning happens driver-side, possibly pre-session)
    import pyarrow.dataset as pa_ds

    data = os.path.join(path, "data")
    ds = pa_ds.dataset(data, format="parquet")
    tbl = ds.to_table(
        columns=["metadata"], filter=pa_ds.field("block") == bk.MANIFEST_BLOCK
    )
    rows = [m for m in tbl.column("metadata").to_pylist() if m]
    if not rows:
        raise FileNotFoundError(f"no raquet manifest in {path}")
    mans = [mf.from_json(m) for m in rows]
    return max(mans, key=lambda m: m.get("created_unix") or 0)


def _datatype(type_str: str):
    """spark_type string -> DataType, session-free (the DataSource
    planning hooks run in a bare Python worker where
    _parse_datatype_string's JVM round-trip is unavailable)."""
    from pyspark.sql import types as T

    m = {
        "string": T.StringType(), "binary": T.BinaryType(),
        "bigint": T.LongType(), "long": T.LongType(), "int": T.IntegerType(),
        "integer": T.IntegerType(), "smallint": T.ShortType(),
        "tinyint": T.ByteType(), "double": T.DoubleType(),
        "float": T.FloatType(), "boolean": T.BooleanType(),
    }
    t = type_str.lower()
    if t in m:
        return m[t]
    if t.startswith("timestamp"):
        return T.TimestampType()
    raise ValueError(f"unsupported raquet column type {type_str!r}")


def _spark_schema(man: dict, cols: list[str] | None) -> StructType:
    from pyspark.sql import types as T

    specs = [(c["name"], c["spark_type"]) for c in man["columns"]]
    if cols is not None:
        order = {n: i for i, n in enumerate(cols)}
        specs = sorted(
            (s for s in specs if s[0] in order), key=lambda s: order[s[0]]
        )
    return T.StructType([T.StructField(n, _datatype(t)) for n, t in specs])


class _Envelope:
    """Conjunction of block-key ranges derived from pushed filters; a
    row group survives if its [block_min, block_max] intersects every
    range (superset-of-matches guarantee — Spark re-applies the exact
    predicates on the decoded rows)."""

    def __init__(self) -> None:
        self.ranges: list[tuple[int, int]] = []

    def add(self, lo: int, hi: int) -> None:
        self.ranges.append((lo, hi))

    def may_contain(self, bmin: int, bmax: int) -> bool:
        return all(bmax >= lo and bmin <= hi for lo, hi in self.ranges)


class RaquetReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("raquet reader needs a path: .load('/table')")
        self.man = _load_manifest(self.path)
        cols_opt = options.get("columns")
        self.cols = [c.strip() for c in cols_opt.split(",")] if cols_opt else None
        self.env = _Envelope()
        # time travel: .option("snapshotId", 3) or .option("ref",
        # "corpus-v1") pins chunk visibility AND the delete set to that
        # snapshot; the read schema stays the current manifest's, same
        # contract as scan.read_rows (old chunks' missing payloads
        # decode as NULL via the evolution machinery)
        sid_opt = options.get("snapshotid", options.get("snapshotId"))
        ref_opt = options.get("ref")
        if sid_opt is not None and ref_opt is not None:
            raise ValueError("pass snapshotId OR ref, not both")
        if ref_opt is not None:
            sid_opt = mf.resolve_ref(self.path, ref_opt, None)
        self.snapshot: dict | None = None
        snap_entries: list | None = None
        # write-audit-publish: .option("stagedToken", t) reads the
        # AUDIT view of a staged append (encode.append_chunk
        # staged=True) — parent chunks + the staged chunk, the parent's
        # delete set, the staged manifest's schema
        tok_opt = options.get("stagedtoken", options.get("stagedToken"))
        if tok_opt is not None:
            if sid_opt is not None or ref_opt is not None:
                raise ValueError(
                    "pass stagedToken OR snapshotId/ref, not both"
                )
            rec = mf.get_staged(self.path, tok_opt, None)
            # DataSource.schema() serves the CURRENT manifest; schema
            # evolution committed after staging would silently desync
            # the declared schema from the staged decode — refuse loud
            spec = lambda m: [  # noqa: E731
                (c["name"], c["spark_type"], c.get("physical", c["name"]))
                for c in m["columns"]
            ]
            if spec(self.man) != spec(rec["manifest"]):
                raise ValueError(
                    "table schema changed since this commit was staged; "
                    "drop_staged and re-stage against the new schema"
                )
            self.man = rec["manifest"]
            self.snapshot = {"chunks": rec["chunks"], "op": "staged"}
            snap_entries = list(rec["manifest"].get("delete_files") or [])
        elif sid_opt is not None:
            snaps = mf.read_snapshots(self.path, None)
            sid = int(sid_opt)
            if sid not in snaps:
                raise KeyError(
                    f"no snapshot {sid} at {self.path}; have {sorted(snaps)}"
                )
            self.snapshot = snaps[sid]
            # replay rename-column ops committed AFTER the pinned
            # snapshot (scan.read_delete_entries' rule): decode serves
            # CURRENT names, so a tag taken before url->uri must key
            # its delete set on uri, not the stale label
            snap_entries = mf.remap_delete_entries(
                snaps, sid, list(self.snapshot.get("delete_files", []))
            )
        # equality-delete files (encode.delete_rows): value sets load
        # driver-side and ship with the pickled reader — the same
        # broadcast-sized contract as scan._apply_delete_entries.
        # Each element is (key columns, seq, value set) — scalars for
        # single-column keys, tuples for composite keys; v2 files carry
        # a per-ROW sequence, so one file can yield several groups.
        self.deletes: list[tuple[tuple[str, ...], int, set]] = []
        entries = (
            snap_entries
            if snap_entries is not None
            else self.man.get("delete_files", [])
        )
        for e in entries:
            import pyarrow.dataset as pa_ds

            from .manifest import delete_entry_cols

            cols = tuple(delete_entry_cols(e))
            tbl = pa_ds.dataset(
                os.path.join(self.path, e["dir"]), format="parquet"
            ).to_table()
            if e.get("v", 1) >= 2:
                k = len(cols)
                seqs = tbl.column("_dseq").to_pylist()
                keys = [tbl.column(f"_k{i}").to_pylist() for i in range(k)]
                by_seq: dict[int, set] = {}
                for j, s in enumerate(seqs):
                    v = keys[0][j] if k == 1 else tuple(kl[j] for kl in keys)
                    by_seq.setdefault(int(s), set()).add(v)
                for s, vals in sorted(by_seq.items()):
                    self.deletes.append((cols, s, vals))
            else:
                # column 0 positionally: a v1 file's internal name may
                # predate an evolve_rename_column of e["col"]
                self.deletes.append(
                    (cols, int(e["seq"]), set(tbl.column(0).to_pylist()))
                )

    # ------------------------------------------------------ pushdown ----
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        key = self.man["key"]
        res = key["resolution"]
        bucket = key["bucket_seconds"]
        origin = key.get("ts_origin", 0)
        shift = bk.COORD_BITS - res
        max_cell = (1 << res) - 1
        url_col = (self.man["url_col"],)
        ts_col = (self.man["ts_col"],) if self.man["ts_col"] else None
        ts_lo, ts_hi = None, None
        import numpy as np

        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == url_col and isinstance(
                f.value, str
            ):
                xr = bk.hash_x_from_url(f.value) >> shift
                lo = int(bk.key_from_parts(np.uint64(xr << shift), np.uint64(0), res))
                hi = int(
                    bk.key_from_parts(
                        np.uint64(xr << shift), np.uint64(bk.COORD_MAX), res
                    )
                )
                self.env.add(lo, hi)
            elif ts_col and getattr(f, "attribute", None) == ts_col and hasattr(
                f, "value"
            ):
                ep = _epoch_of(f.value)
                if ep is None:
                    pass
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    ts_lo = ep if ts_lo is None else max(ts_lo, ep)
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    ts_hi = ep if ts_hi is None else min(ts_hi, ep)
                elif isinstance(f, EqualTo):
                    ts_lo = ts_hi = ep
            # every filter is returned: Spark re-applies them exactly
            yield f
        if ts_lo is not None or ts_hi is not None:
            ylr = 0 if ts_lo is None else min(
                max(0, (ts_lo - origin) // bucket), max_cell
            )
            yhr = max_cell if ts_hi is None else min(
                max(0, (ts_hi - origin) // bucket), max_cell
            )
            lo = int(bk.key_from_parts(np.uint64(0), np.uint64(ylr << shift), res))
            hi = int(
                bk.key_from_parts(
                    np.uint64(bk.COORD_MAX), np.uint64(yhr << shift), res
                )
            )
            self.env.add(lo, hi)

    # ---------------------------------------------------- partitions ----
    def partitions(self) -> list[InputPartition]:
        import pyarrow.parquet as pq

        data = os.path.join(self.path, "data")
        # visibility: only chunks of the selected snapshot (rolled-back
        # orphan dirs awaiting expiry must not be planned); pre-log
        # tables walk everything, and legacy flat files sit outside any
        # chunk dir
        snap = (
            self.snapshot
            if self.snapshot is not None
            else mf.current_snapshot(self.path, None)
        )
        visible = None
        if snap is not None:
            visible = {int(c) for c in snap["chunks"]} | {-1}
        files = []
        for root, _dirs, names in os.walk(data):
            base = os.path.basename(root)
            if (
                visible is not None
                and base.startswith("chunk=")
                and int(base.split("=", 1)[1]) not in visible
            ):
                continue
            for n in sorted(names):
                if n.endswith(".parquet"):
                    files.append(os.path.join(root, n))
        if not self.env.ranges:
            return [_FilePart(f) for f in files]
        keep = []
        for f in files:
            # file-level prune on the block column's footer min/max —
            # the table is block-sorted, so this is effective
            md = pq.ParquetFile(f).metadata
            sch = md.schema.to_arrow_schema()
            # get_field_index returns -1 (not KeyError) for a missing
            # field; a -1 would silently prune on the LAST column's stats
            bi = sch.get_field_index("block")
            if bi < 0:
                keep.append(f)
                continue
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(bi).statistics
                if st is None or not st.has_min_max:
                    lo = None
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is None or self.env.may_contain(int(lo), int(hi)):
                keep.append(f)
        return [_FilePart(f) for f in keep]

    # ---------------------------------------------------------- read ----
    def read(self, partition: _FilePart):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from .scan import _block_rows, _colspecs

        man = self.man
        # equality deletes applicable to THIS file's chunk (chunk <= the
        # delete's sequence number; data files of delete-bearing tables
        # always sit under chunk=N — delete_rows enforces the layout)
        applicable: list[tuple[tuple[str, ...], set]] = []
        if self.deletes:
            import re as _re

            # LAST match: the partition directory component — an
            # enclosing path may itself contain "chunk=<digits>"
            ms = _re.findall(r"chunk=(\d+)", partition.path)
            chunk = int(ms[-1]) if ms else 0
            merged: dict[tuple, set] = {}
            for kc, seq, vals in self.deletes:
                if chunk <= seq:
                    merged.setdefault(kc, set()).update(vals)
            applicable = sorted(merged.items())
        dec_cols = self.cols
        if applicable and dec_cols is not None:
            dec_cols = list(
                dict.fromkeys(
                    dec_cols + [c for kc, _ in applicable for c in kc]
                )
            )
        specs = _colspecs(man, dec_cols)
        blob_names, block_rows = _block_rows(man, specs)
        pf = pq.ParquetFile(partition.path)
        sch = pf.metadata.schema.to_arrow_schema()
        bi = sch.get_field_index("block")
        # schema evolution: a pre-evolution chunk file lacks the blob
        # of a later-added column — read what the file has; the block
        # iterator default-fills the rest
        need = ["block", "n_rows"] + [b for b in blob_names if b in sch.names]
        out_schema = _to_arrow(specs)
        arrow_types = {f.name: f.type for f in out_schema}
        # value arrays pre-cast to the decoded column types, once per
        # partition — the per-block loop only probes. Composite keys
        # become a pandas MultiIndex built from per-column Arrow casts:
        # the cast normalizes dtype mismatches between the delete file
        # and the decoded batch (e.g. Spark writes tz-aware parquet
        # timestamps while decode yields naive epoch-us), which a raw
        # python-tuple probe would silently miss.
        value_sets = {}
        multi_sets = {}
        for kc, vals in applicable:
            if len(kc) == 1:
                value_sets[kc] = pa.array(sorted(vals)).cast(
                    arrow_types[kc[0]]
                )
            else:
                per_col = list(zip(*sorted(vals, key=repr)))
                multi_sets[kc] = pd.MultiIndex.from_arrays(
                    [
                        pa.array(list(cl)).cast(arrow_types[c]).to_pandas()
                        for cl, c in zip(per_col, kc)
                    ]
                )
        for rg in range(pf.metadata.num_row_groups):
            if self.env.ranges and bi >= 0:
                st = pf.metadata.row_group(rg).column(bi).statistics
                if st is not None and st.has_min_max and not self.env.may_contain(
                    int(st.min), int(st.max)
                ):
                    continue
            tbl = pf.read_row_group(rg, columns=need)
            blocks = tbl.column("block").to_pylist()
            for i, _, dec in block_rows(tbl):
                block = blocks[i]
                if block == bk.MANIFEST_BLOCK:
                    continue
                if self.env.ranges and not self.env.may_contain(block, block):
                    continue
                batch = pa.RecordBatch.from_arrays(
                    [dec(f.name).cast(f.type) for f in out_schema],
                    schema=out_schema,
                )
                if applicable:
                    import pyarrow.compute as pc

                    names = batch.schema.names
                    drop = None
                    for kc, vals in applicable:
                        if len(kc) == 1:
                            col = batch.column(names.index(kc[0]))
                            # value arrays built once per partition
                            # (read prologue), not per block — cast only
                            vs = value_sets[kc]
                            if vs.type != col.type:
                                vs = vs.cast(col.type)
                            hit = pc.fill_null(
                                pc.is_in(col, value_set=vs), False
                            )
                        else:
                            mi = pd.MultiIndex.from_arrays(
                                [
                                    batch.column(names.index(c)).to_pandas()
                                    for c in kc
                                ]
                            )
                            hit = pa.array(
                                np.asarray(mi.isin(multi_sets[kc]))
                            )
                        drop = hit if drop is None else pc.or_(drop, hit)
                    batch = batch.filter(pc.invert(drop))
                    if self.cols is not None and dec_cols != self.cols:
                        batch = batch.select(self.cols)
                yield batch


def _to_arrow(specs):
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    st = T.StructType([T.StructField(n, _datatype(t)) for n, t, _ in specs])
    return to_arrow_schema(st)


def _epoch_of(v) -> int | None:
    import datetime

    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return int(v.timestamp())
    if isinstance(v, (int, float)):
        return int(v)
    return None


class RaquetWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, schema: StructType, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("raquet writer needs a path: .save('/table')")
        self.url_col = options.get("url_col", "url")
        self.ts_col = options.get("ts_col", "warc_ts")
        self.resolution = int(options.get("resolution", 6))
        self.ts_origin = int(options.get("ts_origin", 0))
        self.bucket_seconds = int(options.get("bucket_seconds", 86400))
        self.effort = options.get("effort", "max")
        self.zlib_level = int(options.get("zlib_level", 6))
        self.schema = schema
        if self.ts_col not in schema.fieldNames():
            self.ts_col = None
        if self.url_col not in schema.fieldNames():
            raise ValueError(f"url_col {self.url_col!r} not in {schema.fieldNames()}")
        if not overwrite:
            # Tasks write fixed part-{pid}.parquet names and commit()
            # rebuilds the manifest from only this job's stats, so an
            # append would silently clobber files and desync the
            # manifest. Refuse rather than corrupt.
            raise ValueError(
                "raquet datasource only supports mode('overwrite'); "
                "append would clobber part files and leave the manifest "
                "inconsistent with surviving data"
            )
        import shutil

        # a fresh one-chunk table: every task writes into data/chunk=0
        shutil.rmtree(os.path.join(self.path, "data"), ignore_errors=True)
        self.chunk_dir = os.path.join(self.path, "data", "chunk=0")
        os.makedirs(self.chunk_dir, exist_ok=True)
        # column specs from the WRITER schema (the df being saved)
        from .encode import columns_of_schema

        self.columns = columns_of_schema(schema)

    def write(self, iterator) -> _TaskStats:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext
        from pyspark.sql.pandas.types import to_arrow_schema

        from . import encode as enc

        ctx = TaskContext.get()
        pid = int(ctx.partitionId()) if ctx is not None else 0
        attempt = int(ctx.taskAttemptId()) if ctx is not None else 0
        batches = [b for b in iterator]
        out_file = os.path.join(self.chunk_dir, f"part-{pid:05d}.parquet")
        # speculative execution: two attempts of the same partition must
        # not interleave writes to the final path — stage to an
        # attempt-unique temp name and atomically rename at task end
        tmp_file = f"{out_file}.tmp-{attempt}"
        man_schema = enc.blocks_schema(self.columns)
        arrow_schema = to_arrow_schema(man_schema)
        if not batches:
            empty = pa.Table.from_arrays(
                [pa.array([], type=f.type) for f in arrow_schema],
                schema=arrow_schema,
            )
            pq.write_table(empty, tmp_file)
            os.replace(tmp_file, out_file)
            return _TaskStats(0, 0, 0, 0, {}, None, None)
        tbl = pa.Table.from_batches(batches).combine_chunks()
        # block keys for the partition's rows (numpy kernel — the same
        # math as the Column expression in encode_table)
        urls = tbl.column(self.url_col).cast(pa.large_string()).to_pylist()
        from .xxh64 import to_unsigned64, xxh64_str

        hx = np.array(
            [to_unsigned64(xxh64_str(u)) if u is not None else 0 for u in urls],
            dtype=np.uint64,
        )
        if self.ts_col is not None:
            ts = (
                tbl.column(self.ts_col)
                .cast(pa.timestamp("us"))
                .cast(pa.int64())
                .to_numpy(zero_copy_only=False)
            )
            ts_epoch = ts // 1_000_000
        else:
            ts_epoch = np.zeros(len(urls), dtype=np.int64)
        keys = bk.keys_from_arrays(
            hx, ts_epoch, self.resolution, self.bucket_seconds, self.ts_origin
        ).astype(np.int64)
        order = np.argsort(keys, kind="stable")
        tbl = tbl.take(pa.array(order))
        keys = keys[order]
        bounds = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1], True])
        col_specs = [(c["name"], c["kind"], None) for c in self.columns]
        sort_cols = enc.sort_cols_for(self.columns, self.url_col, self.ts_col)
        rows = []
        for s, e in zip(bounds[:-1], bounds[1:]):
            rows.append(
                enc.encode_block_arrow(
                    tbl.slice(int(s), int(e - s)), col_specs, sort_cols,
                    self.zlib_level, int(keys[s]), pid, self.ts_col, self.effort,
                )
            )
        arrays = [
            pa.array([r.get(f.name) for r in rows], type=f.type)
            for f in arrow_schema
        ]
        out = pa.Table.from_arrays(arrays, schema=arrow_schema)
        pq.write_table(out, tmp_file)
        os.replace(tmp_file, out_file)
        hist: dict = {}
        raw = enc_b = 0
        ts_min = ts_max = None
        for r in rows:
            st = r["stats"]
            raw += st["raw_bytes"]
            enc_b += st["enc_bytes"]
            if st["ts_min"] is not None:
                ts_min = st["ts_min"] if ts_min is None else min(ts_min, st["ts_min"])
                ts_max = st["ts_max"] if ts_max is None else max(ts_max, st["ts_max"])
            for cname, codec in json.loads(r["codecs"]).items():
                hist.setdefault(cname, {})
                hist[cname][codec] = hist[cname].get(codec, 0) + 1
        return _TaskStats(
            int(sum(r["n_rows"] for r in rows)), len(rows), raw, enc_b,
            hist, ts_min, ts_max,
        )

    def commit(self, messages) -> None:
        # the table's one commit LAST (snapshot, then manifest row +
        # sidecar), from per-task stats — no extra Spark job, and
        # readers never see a manifest covering uncommitted data
        hist: dict = {}
        n_rows = n_blocks = raw = enc_b = 0
        for m in messages:
            if m is None:
                continue
            n_rows += m.n_rows
            n_blocks += m.n_blocks
            raw += m.raw_bytes
            enc_b += m.enc_bytes
            for cname, inner in m.codec_histogram.items():
                hist.setdefault(cname, {})
                for codec, k in inner.items():
                    hist[cname][codec] = hist[cname].get(codec, 0) + k
        man = mf.build_manifest(
            columns=self.columns,
            resolution=self.resolution,
            bucket_seconds=self.bucket_seconds,
            ts_origin=self.ts_origin,
            url_col=self.url_col,
            ts_col=self.ts_col,
            n_salt=1,
            extra={"effort": self.effort, "shuffle": "none",
                   "writer": "datasource"},
        )
        final = mf.finalize_manifest(
            man, codec_histogram=hist, num_blocks=n_blocks, num_rows=n_rows,
            raw_bytes=raw, enc_bytes=enc_b,
        )
        from .encode import _commit

        # spark=None: fsio takes the plain-local path; a remote table
        # URI would need a live session, which the DataSource commit
        # hook doesn't receive — local/posix paths only for now
        _commit(
            None, self.path, final, chunks=[0], op="encode",
            parent=mf.current_snapshot(self.path, None),
        )

    def abort(self, messages) -> None:  # pragma: no cover - best effort
        pass


class RaquetDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "raquet"

    def schema(self):
        man = _load_manifest(self.options["path"])
        cols_opt = self.options.get("columns")
        cols = [c.strip() for c in cols_opt.split(",")] if cols_opt else None
        return _spark_schema(man, cols)

    def reader(self, schema: StructType) -> RaquetReader:
        return RaquetReader(dict(self.options), schema)

    def writer(self, schema: StructType, overwrite: bool) -> RaquetWriter:
        return RaquetWriter(dict(self.options), schema, overwrite)
