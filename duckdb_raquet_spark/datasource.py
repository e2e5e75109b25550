"""PySpark Python Data Source (Spark 4.1 API) for raquet tables.

    from duckdb_raquet_spark.datasource import RaquetDataSource
    spark.dataSource.register(RaquetDataSource)

    df = spark.read.format("raquet").load("/path/table")           # decoded rows
    (df.write.format("raquet").mode("overwrite")
       .option("resolution", 6).save("/path/out"))                 # encode

The idiomatic-Spark twin of the reference's `read_raquet` macro
(/root/reference/src/raquet_extension.cpp:36-45): the table shows up as
its LOGICAL schema (url, warc_ts, html, text, lang, ...) and decode
happens lazily per partition.

Paths
-----
The source reads and writes with local I/O: a plain path or a
``file://`` URI (resolved to its path). Any other scheme raises a
``ValueError`` that points to ``scan.read_rows`` (and
``encode.encode_to_path`` for writes), which run as Spark plans.

Reader
------
* Schema comes from the committed manifest (``mf.committed_manifest``:
  the snapshot log's, then the sidecar's); the block=0 manifest row is
  the last fallback.
* Listing, decode and equality deletes are the in-process block
  reader's (``reader.py``), the same code that serves the driver-local
  reads of ``scan``. One partition is one visible data file; ``read``
  runs in a Python worker. ``chunk=-1`` is never opened.
* No filter is pushed: Spark applies every predicate to the decoded
  rows. Spark 4.1 keeps the partitions and read function of a
  DataFrame's last filter-pushdown planning and reuses them, without
  calling the source, for a later query of that DataFrame that pushes
  no filter, so a reader narrowed by ``pushFilters`` would serve a
  filtered subset to the next unfiltered count or write. Pruned reads
  are ``scan.point_lookup`` / ``scan.range_scan_ts``.
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
  ``encode.encode_table(shuffle="none")``) — with the in-process
  encoder the driver-side append uses (``encode.encode_rows``: block
  keys, key sort, the shared partition encoder) into one parquet file
  under ``data/chunk=0``. Like ``streaming.encode_stream``,
  the writer cannot scan its own future, so the key geometry is pinned
  up front via options: ``resolution`` (default 6), ``ts_origin``
  (default 0), ``bucket_seconds`` (default 86400), plus ``url_col``/
  ``ts_col``/``effort``/``zlib_level``/``target_rows_per_block``-free
  knobs.
* The driver-side ``commit()`` aggregates per-task stats from the
  commit messages and writes the manifest row + sidecar LAST — the
  reference's metadata-row-after-all-data invariant expressed through
  Spark's own commit protocol. Task retries overwrite their own
  ``part-<partition>.parquet``, keeping the write idempotent.
"""

from __future__ import annotations

import dataclasses
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from . import blockkey as bk
from . import manifest as mf
from . import reader


@dataclasses.dataclass
class _FilePart(InputPartition):
    chunk: int | None
    path: str


@dataclasses.dataclass
class _TaskStats(WriterCommitMessage):
    figures: dict  # one task's blocks, as a chunk lineage record sums them


def _table_path(options: dict, usage: str) -> str:
    """The local path of the table ``options["path"]`` names: a plain
    path, or a ``file://`` URI resolved to its path. The datasource reads
    and writes with local I/O only, so any other scheme raises."""
    from urllib.parse import unquote, urlparse

    path = options.get("path")
    if not path:
        raise ValueError(f"raquet datasource needs a path: {usage}")
    if "://" not in path:
        return path
    uri = urlparse(path)
    if uri.scheme != "file":
        raise ValueError(
            f"the raquet datasource reads local tables only, not {path!r}; "
            "read it with scan.read_rows (write with encode.encode_to_path)"
        )
    return unquote(uri.path)


def _load_manifest(path: str) -> dict:
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


def _spark_schema(man: dict, cols: list[str] | None) -> StructType:
    from pyspark.sql import types as T

    specs = [(c["name"], c["spark_type"]) for c in man["columns"]]
    if cols is not None:
        order = {n: i for i, n in enumerate(cols)}
        specs = sorted(
            (s for s in specs if s[0] in order), key=lambda s: order[s[0]]
        )
    return T.StructType([T.StructField(n, reader.datatype(t)) for n, t in specs])


class RaquetReader(DataSourceReader):
    """``format("raquet")`` reads through the in-process block reader
    (``reader.py``): ``partitions`` lists the snapshot's visible data
    files on the driver and ``read`` decodes one file and applies its
    equality deletes in a Python worker. Unlike ``scan.read_rows``, it
    never runs the whole read on the driver: Spark schedules the
    partitions."""

    def __init__(self, options: dict, schema: StructType) -> None:
        self.path = _table_path(options, ".load('/table')")
        self.man = _load_manifest(self.path)
        cols_opt = options.get("columns")
        self.cols = [c.strip() for c in cols_opt.split(",")] if cols_opt else None
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
        # equality-delete key sets (encode.delete_rows) load
        # driver-side and ship with the pickled reader — the same
        # broadcast-sized sets scan.decode_blocks ships to its tasks
        entries = (
            snap_entries
            if snap_entries is not None
            else self.man.get("delete_files", [])
        )
        self.deletes = reader.load_deletes(self.path, entries)

    # ---------------------------------------------------- partitions ----
    def partitions(self) -> list[InputPartition]:
        # visibility: only chunks of the selected snapshot (rolled-back
        # orphan dirs awaiting expiry must not be planned)
        snap = (
            self.snapshot
            if self.snapshot is not None
            else mf.current_snapshot(self.path, None)
        )
        return [_FilePart(k, f) for k, f in reader.visible_files(self.path, snap)]

    # ---------------------------------------------------------- read ----
    def read(self, partition: _FilePart):
        sels = reader.select_block_rows(
            [(partition.chunk, partition.path)], self.man, reader.Envelope(self.man)
        )
        yield from reader.iter_blocks(
            sels, self.man, self.cols, deletes=self.deletes
        )


class RaquetWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, schema: StructType, overwrite: bool) -> None:
        self.path = _table_path(options, ".save('/table')")
        self.url_col = options.get("url_col", "url")
        self.ts_col = options.get("ts_col", "warc_ts")
        self.resolution = int(options.get("resolution", 6))
        self.ts_origin = int(options.get("ts_origin", 0))
        self.bucket_seconds = int(options.get("bucket_seconds", 86400))
        self.effort = options.get("effort", "max")
        self.zlib_level = int(options.get("zlib_level", 6))
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

        # a fresh one-chunk table: every task writes into data/chunk=0.
        # The old chunks' lineage records go with their data, and
        # commit() writes chunk 0's (commits, appends and compact_chunks
        # read them); _snapshots/ stays, so the overwrite commits
        # parent + 1 on a logged table
        for sub in ("data", "_lineage"):
            shutil.rmtree(os.path.join(self.path, sub), ignore_errors=True)
        self.chunk_dir = os.path.join(self.path, "data", "chunk=0")
        os.makedirs(self.chunk_dir, exist_ok=True)
        # column specs from the WRITER schema (the df being saved)
        from .encode import columns_of_schema

        self.man = mf.build_manifest(
            columns=columns_of_schema(schema),
            resolution=self.resolution,
            bucket_seconds=self.bucket_seconds,
            ts_origin=self.ts_origin,
            url_col=self.url_col,
            ts_col=self.ts_col,
            n_salt=1,
            extra={"effort": self.effort, "shuffle": "none",
                   "writer": "datasource"},
        )

    def write(self, iterator) -> _TaskStats:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext
        from pyspark.sql.pandas.types import to_arrow_schema

        from . import encode as enc

        ctx = TaskContext.get()
        pid = int(ctx.partitionId()) if ctx is not None else 0
        attempt = int(ctx.taskAttemptId()) if ctx is not None else 0
        out_file = os.path.join(self.chunk_dir, f"part-{pid:05d}.parquet")
        # speculative execution: two attempts of the same partition must
        # not interleave writes to the final path — stage to an
        # attempt-unique temp name and atomically rename at task end
        tmp_file = f"{out_file}.tmp-{attempt}"
        # the in-process encoder, salt = partition id: every block this
        # partition touches is one encode group
        batches = list(iterator)
        if batches:
            blocks = enc.encode_rows(
                pa.Table.from_batches(batches), self.man, self.zlib_level,
                salt=pid,
            )
        else:
            blocks = to_arrow_schema(enc.blocks_schema(self.man["columns"])).empty_table()
        pq.write_table(blocks, tmp_file)
        os.replace(tmp_file, out_file)
        return _TaskStats(enc._block_figures(blocks))

    def commit(self, messages) -> None:
        # chunk 0's lineage record from the task stats, then the table's
        # one commit LAST (snapshot, then manifest row + sidecar), its
        # totals summed from that record like every commit's — no extra
        # Spark job, and readers never see a manifest covering
        # uncommitted data. spark=None: fsio takes the plain-local path
        # (the datasource resolves its path to a local one)
        from . import encode as enc

        mf.write_chunk_lineage(
            self.path, 0,
            {"chunk": 0, "writer": "spark", **enc._sum_figures(
                m.figures for m in messages if m is not None
            )},
        )
        totals, hist = enc._chunk_totals(None, self.path, [0])
        final = mf.finalize_manifest(self.man, codec_histogram=hist, **totals)
        enc._commit(
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
        man = _load_manifest(_table_path(self.options, ".load('/table')"))
        cols_opt = self.options.get("columns")
        cols = [c.strip() for c in cols_opt.split(",")] if cols_opt else None
        return _spark_schema(man, cols)

    def reader(self, schema: StructType) -> RaquetReader:
        return RaquetReader(dict(self.options), schema)

    def writer(self, schema: StructType, overwrite: bool) -> RaquetWriter:
        return RaquetWriter(dict(self.options), schema, overwrite)
