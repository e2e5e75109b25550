"""In-process block reader: a raquet table read with pyarrow, no Spark.

The reference reads a value by decoding only the touched block,
in-process (reference ``src/raster/st_raster_value.cpp:352-354``).
This module is that read. It serves the datasource's partitions
(``datasource.RaquetReader``), the driver-local reads of
``scan.point_lookup`` / ``scan.range_scan_ts`` / ``scan.read_rows`` and
the driver-side ``encode.compact_chunks``, in three steps:

1. :func:`visible_files`: the parquet files of the chunks a snapshot
   lists. The ``chunk=-1`` manifest-row dir is never opened.
2. :func:`select_block_rows`: the block rows an :class:`Envelope`
   admits, from the ``block`` and ``stats`` columns only. Row groups are
   pruned by footer min/max; the exact hash-cell / ts-bucket /
   ``stats.ts_min..ts_max`` match runs in numpy. No payload is read.
3. :func:`iter_blocks`: reads the selected rows' payload columns and
   decodes them through ``scan._block_rows``, on the driver on one
   bounded pool (``placement.driver_map``). An equality filter
   decodes first, and a block it misses reads no other payload. The
   table's equality deletes (:func:`load_deletes`) apply by the
   sequence rule: a delete with sequence ``seq`` removes matching rows
   of chunks ``<= seq``. This is the package's one delete rule
   (:class:`DeleteSet`, :func:`_apply_deletes`): Spark plans apply
   it per block row inside ``scan.decode_blocks``, and
   ``scan.compact_to_path`` / ``scan.purge_deletes`` rewrite a table
   by it.

Nothing here needs a session on a local table: datasource partitions
run it in Python workers. Of a ``scheme://`` table only the delete
sets are read here (:func:`load_deletes`, driver-side, through
``fsio``).
"""

from __future__ import annotations

import dataclasses
import os
import threading
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import blockkey as bk
from . import manifest as mf

# ------------------------------------------------------------- schema ----


def datatype(type_str: str):
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


def arrow_schema(specs: list[tuple[str, str, str]]) -> pa.Schema:
    """The Arrow schema Spark exchanges for decoded ``specs`` columns
    (timestamps as tz-aware UTC microseconds, so a session time zone
    never shifts them)."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    st = T.StructType([T.StructField(n, datatype(t)) for n, t, _ in specs])
    return to_arrow_schema(st)


# ----------------------------------------------------------- envelope ----


class Envelope:
    """The block rows a read may touch, as a conjunction of block-key
    ranges (footer min/max prune files and row groups), url hash cells
    and one time window (exact per block row, the time window also on
    ``stats.ts_min/ts_max``). An empty envelope admits every data
    block. Selection is a superset of the matching rows' blocks:
    callers filter the decoded rows exactly."""

    def __init__(self, man: dict) -> None:
        key = man["key"]
        self.res = key["resolution"]
        self.bucket = key["bucket_seconds"]
        self.origin = key.get("ts_origin", 0)
        self.ranges: list[tuple[int, int]] = []
        self.cells: list[int] = []
        self.window: tuple[int | None, int | None] | None = None

    def key(self, key: int) -> None:
        """Exactly one block key (a point with its timestamp)."""
        self.ranges.append((int(key), int(key)))

    def url(self, url: str) -> None:
        """The blocks of ``url``'s hash cell, one per time cell."""
        xr, lo, hi = bk.hash_cell_span(bk.hash_x_from_url(url), self.res)
        self.cells.append(xr)
        self.ranges.append((lo, hi))

    def ts(self, lo_us: int | None = None, hi_us: int | None = None) -> None:
        """Rows with ``lo_us <= ts <= hi_us`` (epoch microseconds,
        ``None`` = open); repeated calls intersect."""
        lo0, hi0 = self.window or (None, None)
        if lo_us is not None and (lo0 is None or lo_us > lo0):
            lo0 = lo_us
        if hi_us is not None and (hi0 is None or hi_us < hi0):
            hi0 = hi_us
        self.window = (lo0, hi0)

    def __bool__(self) -> bool:
        return bool(self.ranges) or self.window is not None

    def _ts_span(self) -> tuple[int, int, int, int]:
        lo_us, hi_us = self.window
        return bk.ts_cell_span(
            None if lo_us is None else lo_us // 1_000_000,
            None if hi_us is None else hi_us // 1_000_000,
            self.res, self.bucket, self.origin,
        )

    def key_ranges(self) -> list[tuple[int, int]]:
        if self.window is None:
            return self.ranges
        _, _, lo, hi = self._ts_span()
        return self.ranges + [(lo, hi)]

    def may_contain(self, bmin: int, bmax: int) -> bool:
        return all(bmax >= lo and bmin <= hi for lo, hi in self.key_ranges())

    def match(self, blocks, stats) -> np.ndarray:
        """Per block row: admitted and not the manifest row. ``stats``
        is the rows' ``stats`` struct (``None`` or a missing field:
        that test is skipped)."""
        b = np.asarray(blocks, dtype=np.int64)
        m = b != bk.MANIFEST_BLOCK
        for lo, hi in self.key_ranges():
            m &= (b >= lo) & (b <= hi)
        shift = np.uint64(bk.COORD_BITS - self.res)
        u = b.astype(np.uint64)
        for xr in self.cells:
            m &= (bk.key_x(u) >> shift) == np.uint64(xr)
        if self.window is None:
            return m
        ylr, yhr, _, _ = self._ts_span()
        y = bk.key_y(u) >> shift
        m &= (y >= np.uint64(ylr)) & (y <= np.uint64(yhr))
        lo_us, hi_us = self.window
        fields = set() if stats is None else {f.name for f in stats.type}
        for field, op, bound in (
            ("ts_min", pc.less_equal, hi_us), ("ts_max", pc.greater_equal, lo_us)
        ):
            if bound is not None and field in fields:
                ok = pc.fill_null(op(pc.struct_field(stats, field), bound), False)
                m &= ok.to_numpy(zero_copy_only=False)
        return m


# -------------------------------------------------------------- files ----


def visible_files(path: str, snap: dict | None) -> list[tuple[int | None, str]]:
    """``(chunk, file)`` for every data file visible at ``snap``: the
    files of each ``data/chunk=<k>`` the snapshot lists (every ``k >= 0``
    when ``snap`` is None, a table from before the snapshot log), plus
    any legacy flat files directly under ``data/`` (chunk ``None``).
    Hidden (``.``/``_``) names are skipped, as Spark's listing does."""
    data = os.path.join(path, "data")
    keep = None if snap is None else {int(c) for c in snap["chunks"]}
    out: list[tuple[int | None, str]] = []
    for name in sorted(os.listdir(data)):
        full = os.path.join(data, name)
        if name.startswith("chunk="):
            k = int(name.split("=", 1)[1])
            if k < 0 or (keep is not None and k not in keep):
                continue
            out += [(k, f) for f in _parquet_files(full)]
        elif name.endswith(".parquet") and not name.startswith(("_", ".")):
            out.append((None, full))
    return out


def _parquet_files(d: str) -> list[str]:
    return [
        os.path.join(d, n)
        for n in sorted(os.listdir(d))
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    ]


@dataclasses.dataclass
class Selection:
    """The block rows of one data file a read touches."""

    path: str
    chunk: int | None
    rows: list[tuple[int, list[int]]]  # (row group, row offsets in it)
    n_blocks: int
    raw_bytes: int


def select_block_rows(
    files: list[tuple[int | None, str]], man: dict, env: Envelope
) -> list[Selection]:
    """The block rows of ``files`` that ``env`` admits, one
    :class:`Selection` per file with any. Reads the footer, then only
    ``block`` and the ``stats`` fields it needs of the row groups whose
    footer ``block`` min/max intersect ``env``."""
    out = []
    for chunk, f in files:
        pf = pq.ParquetFile(f)
        md = pf.metadata
        leaves = {md.schema.column(i).path: i for i in range(md.num_columns)}
        bi = leaves.get("block")
        cols = ["block"] + [
            p for p in ("stats.raw_bytes", "stats.ts_min", "stats.ts_max")
            if p in leaves
        ]
        rows: list[tuple[int, list[int]]] = []
        n = raw = 0
        for rg in range(md.num_row_groups):
            if env and bi is not None:
                st = md.row_group(rg).column(bi).statistics
                if (
                    st is not None
                    and st.has_min_max
                    and not env.may_contain(int(st.min), int(st.max))
                ):
                    continue
            t = pf.read_row_group(rg, columns=cols)
            stats = t["stats"] if "stats" in t.column_names else None
            idx = np.flatnonzero(env.match(t["block"], stats))
            if not len(idx):
                continue
            rows.append((rg, idx.tolist()))
            n += len(idx)
            if stats is not None and "raw_bytes" in {x.name for x in stats.type}:
                rb = pc.struct_field(stats, "raw_bytes").take(pa.array(idx))
                raw += int(pc.sum(rb).as_py() or 0)
        if rows:
            out.append(Selection(f, chunk, rows, n, raw))
    return out


# ------------------------------------------------------------ deletes ----


def load_deletes(path: str, entries: list[dict]) -> list["DeleteSet"]:
    """Equality-delete sets of ``entries``, one :class:`DeleteSet` per
    key-column tuple: the non-NULL key tuples of its files at the
    widest key type, each with its sequence. A v2 file carries a
    sequence per row (``_dseq``); a v1 file's single value column is
    read by position (its name may predate a column rename) under the
    entry's ``seq``. Timestamp keys are read as UTC microseconds, so a
    Spark-written naive file merges with an aware one.

    The sets are loaded whole into this process: delete sets are
    broadcast-sized by contract, and a Spark decode ships them to its
    tasks in the decode closure. A ``scheme://`` table's delete dirs
    are read through ``fsio`` with the process's session; a local
    one's directly, with no session."""
    import pyarrow.dataset as pa_ds

    from . import fsio

    def read(d: str) -> pa.Table:
        if not fsio.is_remote(d):
            return pa_ds.dataset(d, format="parquet").to_table()
        from pyspark.sql import SparkSession

        spark = SparkSession.active()
        return pa.concat_tables(
            pq.read_table(pa.BufferReader(fsio.read_bytes(spark, d, f)))
            for f in fsio.list_files(spark, d)
            if f.endswith(".parquet")
        )

    def plain(f: pa.Field) -> pa.Field:
        if pa.types.is_timestamp(f.type):
            return f.with_type(pa.timestamp("us", "UTC"))
        return f.with_type(pa.int64()) if f.name == "_dseq" else f

    groups: dict[tuple[str, ...], list[pa.Table]] = {}
    for e in entries:
        kc = tuple(mf.delete_entry_cols(e))
        tbl = read(os.path.join(path, e["dir"]))
        if e.get("v", 1) >= 2:
            t = tbl.select([f"_k{i}" for i in range(len(kc))] + ["_dseq"])
        else:
            seq = np.full(tbl.num_rows, int(e["seq"]), dtype=np.int64)
            t = tbl.select([0]).append_column("_dseq", pa.array(seq))
        t = t.rename_columns([*kc, "_dseq"])
        groups.setdefault(kc, []).append(t.cast(pa.schema(map(plain, t.schema))))
    out = []
    for kc, ts in sorted(groups.items()):
        t = pa.concat_tables(ts, promote_options="permissive").drop_null()
        for k in kc:  # NaN keys never match
            if pa.types.is_floating(t.schema.field(k).type):
                t = t.filter(pc.invert(pc.is_nan(t[k])))
        # a row of chunk c is deleted iff c <= seq in ANY file, which
        # equals c <= max(seq) per key tuple
        t = t.group_by(list(kc)).aggregate([("_dseq", "max")])
        t = t.select([*kc, "_dseq_max"]).rename_columns([*kc, "_dseq"])
        # one chunk per column, so the closure pickles each buffer once
        out.append(DeleteSet(kc, t.combine_chunks()))
    return out


class DeleteSet:
    """One key set of :func:`load_deletes`: ``cols``, its key columns;
    ``keys``, a table of its distinct key tuples (one column per key
    column) and ``_dseq``, the highest sequence that deletes the tuple;
    ``top``, the highest ``_dseq``. A row of chunk ``c`` is deleted iff
    its tuple is in ``keys`` with ``c <= _dseq``.

    :meth:`mask` probes a hash index over ``keys``. The index is built
    on the first probe, once per process, then only read: a lock
    guards the build, so a driver read's decode threads share one. It
    is not pickled, so a Spark task builds it at most once from the
    sets its decode closure ships."""

    def __init__(self, cols: tuple[str, ...], keys: pa.Table) -> None:
        top = pc.max(keys["_dseq"]).as_py()
        self.__setstate__((tuple(cols), keys, -1 if top is None else int(top)))

    def __getstate__(self):
        return self.cols, self.keys, self.top

    def __setstate__(self, state) -> None:
        self.cols, self.keys, self.top = state
        self._index = None
        self._lock = threading.Lock()

    def mask(self, batch, chunk: int | None) -> np.ndarray:
        """True for each row of ``batch`` (rows of ``chunk``; a legacy
        flat table's are chunk 0) whose key tuple is in ``keys`` with
        ``chunk <= _dseq``. NULL keys never match."""
        n, c = batch.num_rows, chunk or 0
        hit = np.zeros(n, dtype=bool)
        if c > self.top:
            return hit
        arrays = [batch.column(k) for k in self.cols]
        with self._lock:
            if self._index is None:
                self._index = self._build([a.type for a in arrays])
        types, index, seq = self._index
        arrays = [a.cast(t) for a, t in zip(arrays, types)]
        ok = np.ones(n, dtype=bool)
        for a in arrays:
            if a.null_count:
                ok &= a.is_valid().to_numpy(zero_copy_only=False)
        rows = np.flatnonzero(ok)
        if len(rows) < n:
            arrays = [a.take(pa.array(rows)) for a in arrays]
        pos = _probe(index, arrays)
        found = pos >= 0
        found[found] = seq[pos[found]] >= c
        hit[rows] = found
        return hit

    def _build(self, types: list[pa.DataType]):
        """``(key types, index, seq)``: the key types of the probed
        batch, a pandas index over ``keys`` cast to them (a
        ``MultiIndex`` for a composite key) and ``_dseq`` by position."""
        import pandas as pd

        keys = self.keys.cast(pa.schema(
            [pa.field(k, t) for k, t in zip(self.cols, types)]
            + [self.keys.schema.field("_dseq")]
        ))
        values = [keys[k].to_numpy(zero_copy_only=False) for k in self.cols]
        index = pd.Index(values[0]) if len(values) == 1 else _multi_index(values)
        # a first probe fills the hash tables, so later probes from
        # other threads only read them
        _probe(index, [keys[k].slice(0, 1) for k in self.cols])
        return types, index, keys["_dseq"].to_numpy()


def _probe(index, arrays) -> np.ndarray:
    """The position in ``index`` (a :meth:`DeleteSet._build` index) of
    each key tuple of ``arrays`` (NULL-free, one per key column), ``-1``
    if absent."""
    values = [a.to_numpy(zero_copy_only=False) for a in arrays]
    if len(values) == 1:
        return index.get_indexer(values[0])
    return index.get_indexer(_multi_index(values))


def _multi_index(values: list[np.ndarray]):
    """A pandas ``MultiIndex`` over the key columns ``values``, its
    levels in first-seen order: hashed, not sorted as ``from_arrays``
    sorts them."""
    import pandas as pd

    codes, levels = zip(*(pd.factorize(v) for v in values))
    return pd.MultiIndex(levels=levels, codes=codes, verify_integrity=False)


def _live(sets: list[DeleteSet], chunk: int | None) -> bool:
    """Whether some set can delete rows of ``chunk``."""
    return any((chunk or 0) <= s.top for s in sets)


def _decode_cols(cols: list[str] | None, *set_lists) -> list[str] | None:
    """``cols`` widened by the key columns of the delete sets (default:
    all columns): a decode that applies deletes reads them too."""
    if cols is None:
        return None
    keys = [c for sets in set_lists for s in sets or () for c in s.cols]
    return list(dict.fromkeys([*cols, *keys]))


def _apply_deletes(batch, chunk: int | None, drop, hits=None, names=None):
    """``batch`` (rows of ``chunk``) without the rows a set of ``drop``
    deletes and, given ``hits``, with only the rows a set of ``hits``
    does delete (a change-data read's "deleted by these files"),
    projected to ``names`` (default: all). The package's one delete
    rule: every read that applies deletes calls it per block row."""
    keep = np.ones(batch.num_rows, dtype=bool)
    for s in drop:
        keep &= ~s.mask(batch, chunk)
    if hits is not None:
        hit = np.zeros(batch.num_rows, dtype=bool)
        for s in hits:
            hit |= s.mask(batch, chunk)
        keep &= hit
    if not keep.all():
        batch = batch.filter(pa.array(keep))
    return batch if names is None else batch.select(names)


# -------------------------------------------------------------- decode ----


def iter_blocks(
    sels: list[Selection],
    man: dict,
    cols: list[str] | None = None,
    *,
    eq_filter: tuple[str, object] | None = None,
    deletes: list = (),
    threads: int = 1,
) -> Iterator[pa.RecordBatch]:
    """Decoded rows of the selected block rows, one batch per block
    row in selection order, columns ``cols`` (default: all) in
    :func:`arrow_schema` types.

    ``eq_filter=(col, value)`` keeps only rows with ``col == value``:
    that column's payload is read and decoded first, and a block with
    no match reads no other payload. ``deletes`` (from
    :func:`load_deletes`) drop deleted rows; their key columns are
    decoded even when ``cols`` leaves them out. ``threads > 1`` (a
    driver read, ``placement.driver_threads``) decodes the block rows
    on one bounded pool; datasource partitions keep 1 and stream."""
    from .placement import driver_map
    from .scan import _block_rows, _colspecs, _eq_rows

    out_names = [s[0] for s in _colspecs(man, cols)]
    specs = _colspecs(man, _decode_cols(cols, deletes))
    schema = arrow_schema(specs)
    blob_names, block_rows = _block_rows(man, specs)
    first: list[str] = []
    if eq_filter is not None:
        fname, fval = eq_filter
        first, first_rows = _block_rows(man, [s for s in specs if s[0] == fname])

    def units():
        """``(chunk, dec, hit)`` per selected block row: its payloads
        read, its decode not yet run."""
        for sel in sels:
            pf = pq.ParquetFile(sel.path)
            have = set(pf.schema_arrow.names)

            def read(rg, blobs, offsets, pf=pf, have=have):
                cols_ = ["n_rows"] + [b for b in blobs if b in have]
                return pf.read_row_group(rg, columns=cols_).take(pa.array(offsets))

            for rg, offsets in sel.rows:
                hits = None
                if eq_filter is None:
                    t = read(rg, blob_names, offsets)
                else:
                    t = read(rg, first, offsets)
                    found = {}
                    for i, _, dec in first_rows(t):
                        arr = dec(fname)
                        j = _eq_rows(arr, fval)
                        if len(j):
                            found[i] = (pa.array(j), arr.take(pa.array(j)))
                    if not found:
                        continue
                    keep = sorted(found)
                    t = t.take(pa.array(keep))
                    rest = [b for b in blob_names if b not in first]
                    if rest:
                        t2 = read(rg, rest, [offsets[i] for i in keep])
                        for b in t2.column_names[1:]:
                            t = t.append_column(b, t2[b])
                    hits = [found[i] for i in keep]
                for i, _, dec in block_rows(t):
                    yield sel.chunk, dec, None if hits is None else hits[i]

    def decode(unit) -> pa.RecordBatch:
        chunk, dec, hit = unit
        if hit is None:
            arrays = [dec(name) for name, _, _ in specs]
        else:
            j, farr = hit
            arrays = [
                farr if name == fname else dec(name).take(j)
                for name, _, _ in specs
            ]
        batch = pa.RecordBatch.from_arrays(
            [a.cast(f.type) if a.type != f.type else a
             for a, f in zip(arrays, schema)],
            schema=schema,
        )
        return _apply_deletes(batch, chunk, deletes, names=out_names)

    for batch in driver_map(decode, units(), threads):
        if batch.num_rows:
            yield batch
