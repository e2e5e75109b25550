"""Read path: pruned scans, lazy block decode, decode-free stats.

Mirrors the reference's read macros and value functions —
``read_raquet`` / ``read_raquet_at`` / ``ST_RasterValue`` /
``ST_RasterSummaryStats`` (/root/reference/src/raquet_extension.cpp:36-263,
/root/reference/src/raster/st_raster_value.cpp, st_raster_stats.cpp) —
with the same core principle: *blocks are not decoded unnecessarily*
(st_raster_value.cpp:352-354). Pruning happens three ways, all before
any payload byte is touched:

1. key predicates (equality / BETWEEN / isin / bit-extracted ts-bucket)
   pushed into the Parquet scan (row-group min/max on the sorted key);
2. per-block stats columns (``stats.ts_min/ts_max``) — exact block-level
   refinement without decode;
3. Parquet column pruning — only the requested ``<col>_blob`` payloads
   are ever read (single-band-fetch analog).

The same three prunes run in two places. Spark plans use pushed
predicates (:func:`prune_blocks_for_url_hash`,
:func:`prune_blocks_for_ts`). The in-process block reader
(``reader.py``) applies them with footer statistics and numpy.
:func:`point_lookup`, :func:`range_scan_ts` and :func:`read_rows` on a
local table first select their block rows with that reader. When
:func:`_read_on_driver` finds the selected rows' decode no slower in
the driver than as a Spark plan, the read runs on the driver, its
block rows decoded on one bounded pool: no Spark job, and the rows come
back as a local DataFrame. Otherwise, and for ``scheme://`` paths, the
Spark plan runs. Data reads declare the manifest's schema and never
open the ``chunk=-1`` manifest-row dir.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import blockkey as bk
from . import manifest as mf
from . import selector
from . import placement
from . import reader
from .encode import (
    BLOCK,
    SALT,
    blob_col,
    blocks_schema,
    encode_block_arrow,
    sort_cols_for,
    _data_path,
    _rows_to_batch,
)

# ----------------------------------------------------------------- reads ----


def _read_raw(spark: SparkSession, path: str) -> DataFrame:
    """Every file under data/, INCLUDING chunks no longer visible at
    the current snapshot (rolled-back orphans awaiting expiry). Only
    time travel and maintenance may want this.

    The schema is declared from the committed manifest, never inferred:
    inference opens the first listed file, ``data/chunk=-1``, which a
    concurrent commit deletes and rewrites, and it costs a Spark job.
    Declared, a schema-evolved table reads right too: files missing a
    payload column yield NULL (decoded downstream as the column's
    default) and dropped payloads are never read. The ``chunk``
    partition column is still discovered and appended. Only a table
    with no committed manifest at all falls back to inference."""
    man, _ = mf.committed_manifest(path, spark)
    if man is not None:
        sch = blocks_schema(man["columns"], man.get("column_groups"))
        return spark.read.schema(sch).parquet(_data_path(path))
    return spark.read.parquet(_data_path(path))


def _data_rows(df: DataFrame, chunks=None) -> DataFrame:
    """Block rows of ``df`` minus the manifest row. With a ``chunk``
    column the filter names only data chunks (``chunks``, or every
    ``chunk >= 0``), so partition pruning never opens ``chunk=-1``."""
    df = df.where(F.col(BLOCK) != bk.MANIFEST_BLOCK)
    if "chunk" not in df.columns:  # a legacy flat table
        return df
    if chunks is None:
        return df.where(F.col("chunk") >= 0)
    return df.where(F.col("chunk").isin([int(c) for c in chunks]))


def read_all(spark: SparkSession, path: str) -> DataFrame:
    """All rows visible at the CURRENT snapshot, the manifest row
    (chunk=-1) included: the catalog view and the manifest fallback of
    :func:`read_manifest`. Data reads use :func:`read_blocks`, which
    never opens chunk=-1. Pre-snapshot-log tables, and legacy flat
    ones (no ``chunk`` partition column), read unfiltered."""
    df = _read_raw(spark, path)
    snap = mf.current_snapshot(path, spark)
    if snap is not None and "chunk" in df.columns:
        df = df.where(
            F.col("chunk").isin([int(c) for c in snap["chunks"]] + [-1])
        )
    return df


def read_blocks(spark: SparkSession, path: str) -> DataFrame:
    """Data rows visible at the CURRENT snapshot — read_raquet analog
    (reference ``src/raquet_extension.cpp:36-45``). Every ordinary
    read path routes through here, so a rollback is immediately
    effective for point lookups, scans and compaction."""
    snap = mf.current_snapshot(path, spark)
    return _data_rows(
        _read_raw(spark, path), None if snap is None else snap["chunks"]
    )


def read_blocks_at(
    spark: SparkSession,
    path: str,
    *,
    snapshot_id: int | None = None,
    as_of_unix: float | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Time-travel read (Iceberg VERSION/TIMESTAMP AS OF analog): data
    rows visible at a snapshot of the `_snapshots/` log. Exactly one of
    ``snapshot_id`` / ``as_of_unix`` / ``ref`` (a tag name from
    ``encode.create_tag``) selects the snapshot; none means
    the current snapshot. The visibility filter is on the ``chunk``
    partition column, so Spark prunes whole chunk directories at
    planning time — an old snapshot's scan reads only its own files,
    no matter how many chunks were appended since. Tables from before
    the snapshot log (no `_snapshots/` dir) read fully, as always."""
    if ref is not None:
        if snapshot_id is not None or as_of_unix is not None:
            raise ValueError("pass snapshot_id, as_of_unix OR ref, not both")
        snapshot_id = mf.resolve_ref(path, ref, spark)
    snaps = mf.read_snapshots(path, spark)
    if not snaps:
        if snapshot_id is not None or as_of_unix is not None:
            raise FileNotFoundError(f"no snapshot log at {path}")
        return read_blocks(spark, path)
    snap = _pick_snapshot(spark, path, snaps, snapshot_id, as_of_unix)
    # raw read, NOT read_blocks: a pre-rollback snapshot may reference
    # chunks the current snapshot no longer shows (still on disk until
    # expire_snapshots reclaims them)
    return _data_rows(_read_raw(spark, path), snap["chunks"])


def _pick_snapshot(
    spark, path: str, snaps: dict, snapshot_id: int | None,
    as_of_unix: float | None,
) -> dict:
    """The snapshot of ``snaps`` (a non-empty log) a time-travel read
    names: ``snapshot_id``, the last at or before ``as_of_unix``, or
    the current one."""
    if snapshot_id is not None and as_of_unix is not None:
        raise ValueError("pass snapshot_id OR as_of_unix, not both")
    if snapshot_id is not None:
        if snapshot_id not in snaps:
            raise KeyError(
                f"no snapshot {snapshot_id} at {path}; have {sorted(snaps)}"
            )
        return snaps[snapshot_id]
    if as_of_unix is not None:
        snap = mf.snapshot_as_of(path, as_of_unix, spark)
        if snap is None:
            raise KeyError(f"no snapshot at or before {as_of_unix} in {path}")
        return snap
    return snaps[max(snaps)]


def _guard_rewrites(snaps: dict, from_id: int, to_id: int, what: str) -> None:
    """Incremental reads refuse ranges spanning a data-rewrite commit
    (``encode.compact_chunks``): the rewritten chunk's rows are the
    same logical rows, so diffing chunk sets across it would surface
    every compacted row as a spurious delete+insert pair. Ranges that
    END at or START from the rewrite snapshot stay exact — consume to
    the boundary first (the Delta `ignoreChanges` / Iceberg
    replace-snapshot rule, made loud instead of silent)."""
    # snapshot ids are claimed consecutively (parent + 1), so a missing
    # id inside the range means expire_snapshots reclaimed it (possible
    # once tags pin non-contiguous survivors) — an expired middle could
    # hide a compact-chunks commit from this guard, so refuse loudly
    _check_contiguous(snaps, from_id, to_id, what)
    rewrote = [
        i
        for i in sorted(snaps)
        if from_id < i <= to_id and snaps[i].get("op") == "compact-chunks"
    ]
    if rewrote:
        raise ValueError(
            f"{what} range ({from_id}, {to_id}] spans data-rewrite "
            f"snapshot(s) {rewrote} (compact_chunks); rewritten rows "
            "would read as spurious inserts/deletes. Consume the "
            "sub-ranges from scan.rewrite_boundaries(path, "
            f"{from_id}, {to_id}) in order instead — each is exact, "
            "and the skipped replace steps are net no-ops."
        )


def _check_contiguous(snaps: dict, from_id: int, to_id: int, what: str) -> None:
    """Refuse incremental ranges crossing EXPIRED history: snapshot ids
    are claimed consecutively (parent + 1), so a missing id in
    ``(from_id, to_id]`` proves ``expire_snapshots`` reclaimed it — and
    an expired middle could hide a data-rewrite commit from the op
    scan. Single source for ``_guard_rewrites`` and
    ``rewrite_boundaries``."""
    missing = [i for i in range(from_id + 1, to_id + 1) if i not in snaps]
    if missing:
        raise ValueError(
            f"{what} range ({from_id}, {to_id}] crosses expired "
            f"snapshot(s) {missing}: history needed to prove the range "
            "is rewrite-free is gone. Re-baseline the consumer from a "
            "full read at a retained snapshot."
        )


def rewrite_boundaries(
    spark: SparkSession, path: str, from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> list[tuple[int, int]]:
    """The safe consumption plan for an incremental reader over a
    maintained table: split ``(from, to]`` at every data-rewrite
    (``compact-chunks``) snapshot and drop the rewrite steps
    themselves (a pure replace commit's NET change is empty — the
    rewritten rows are the same logical rows). Returns ``(lo, hi]``
    pairs to feed ``read_changes`` in order; applying those deltas in
    sequence reproduces the table state at ``to`` exactly, which is
    what a changelog consumer does anyway — only the single-range NET
    view (where an insert-then-delete across the rewrite would cancel)
    is unavailable across a rewrite, and that is what the guard
    refuses loudly."""
    snaps = mf.read_snapshots(path, spark)
    if not snaps:
        raise FileNotFoundError(f"no snapshot log at {path}")
    to_id = max(snaps) if to_snapshot_id is None else to_snapshot_id
    for sid in (from_snapshot_id, to_id):
        if sid not in snaps:
            raise KeyError(f"no snapshot {sid} at {path}; have {sorted(snaps)}")
    # an expired middle (possible once tags pin non-contiguous
    # survivors) would make the returned pairs reference missing
    # snapshots AND could hide a rewrite from the op scan — refuse
    # here, where the consumer plans, not later inside read_changes
    _check_contiguous(snaps, from_snapshot_id, to_id, "rewrite_boundaries")
    rewrites = [
        i
        for i in sorted(snaps)
        if from_snapshot_id < i <= to_id
        and snaps[i].get("op") == "compact-chunks"
    ]
    out: list[tuple[int, int]] = []
    lo = from_snapshot_id
    for rw in rewrites:
        if rw - 1 > lo:
            out.append((lo, rw - 1))
        lo = rw  # skip the (rw-1, rw] replace step: net change is empty
    if to_id > lo:
        out.append((lo, to_id))
    return out


def read_appended_between(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Incremental (CDC-style) read: the block rows ADDED after
    ``from_snapshot_id`` and visible at ``to_snapshot_id`` (default:
    current). Chunks are immutable and ids never reused, so the delta
    is exactly the chunk-set difference — an incremental consumer
    (an index refresher, a downstream aggregation) scans only the new
    chunks' files, partition-pruned, no matter how large the table
    has grown."""
    snaps = mf.read_snapshots(path, spark)
    if not snaps:
        raise FileNotFoundError(f"no snapshot log at {path}")
    if from_snapshot_id not in snaps:
        raise KeyError(f"no snapshot {from_snapshot_id} at {path}")
    to_id = max(snaps) if to_snapshot_id is None else to_snapshot_id
    if to_id not in snaps:
        raise KeyError(f"no snapshot {to_id} at {path}")
    _guard_rewrites(snaps, from_snapshot_id, to_id, "read_appended_between")
    new_chunks = sorted(
        set(snaps[to_id]["chunks"]) - set(snaps[from_snapshot_id]["chunks"])
    )
    if not new_chunks:
        # no delta (also every legacy flat table: it has one snapshot)
        return read_blocks(spark, path).where(F.lit(False))
    # raw read: the delta of a historical snapshot pair may include
    # chunks rolled back since (valid until expired)
    return _data_rows(_read_raw(spark, path), new_chunks)


def table_history(spark: SparkSession, path: str) -> DataFrame:
    """The snapshot log as a DataFrame (Iceberg's `table.history()`):
    one row per snapshot — id, parent, op, chunk count, committed ts,
    rows/bytes."""
    snaps = mf.read_snapshots(path, spark)
    rows = [
        (
            int(s["snapshot_id"]),
            s.get("parent_id"),
            s["op"],
            len(s["chunks"]),
            float(s["committed_unix"]),
            s.get("num_rows"),
            s.get("enc_bytes"),
        )
        for _, s in sorted(snaps.items())
    ]
    return spark.createDataFrame(
        rows,
        "snapshot_id long, parent_id long, op string, n_chunks int, "
        "committed_unix double, num_rows long, enc_bytes long",
    )


def read_manifest(spark: SparkSession, path: str) -> dict:
    """Manifest dict — read_raquet_metadata analog (:89-100). Prefers
    the current snapshot's embedded manifest (atomic with the commit
    CAS), then the sidecar (local FS directly, object stores via the
    Hadoop FileSystem), then the block=0 row (latest if re-appended by
    a resumed job)."""
    side, _ = mf.committed_manifest(path, spark)
    if side is not None:
        return side
    rows = (
        read_all(spark, path)
        .where(F.col(BLOCK) == bk.MANIFEST_BLOCK)
        .select("metadata")
        .collect()
    )
    if not rows:
        raise FileNotFoundError(f"no manifest row in {path}")
    mans = [mf.from_json(r[0]) for r in rows if r[0]]
    return max(mans, key=lambda m: m.get("created_unix") or 0)


# ---------------------------------------------------------------- decode ----


def _colspecs(man: dict, cols: list[str] | None) -> list[tuple[str, str, str]]:
    specs = [(c["name"], c["spark_type"], c["kind"]) for c in man["columns"]]
    if cols is not None:
        order = {n: i for i, n in enumerate(cols)}
        specs = sorted(
            (s for s in specs if s[0] in order), key=lambda s: order[s[0]]
        )
        missing = set(cols) - {s[0] for s in specs}
        if missing:
            raise ValueError(f"unknown columns {sorted(missing)}")
    return specs



def _block_rows(man: dict, specs: list[tuple[str, str, str]]):
    """THE per-block decode loop, shared by every block-level read and
    rewrite. Returns ``(blob_names, rows)``: ``blob_names`` are the
    payload columns the requested logical ``specs`` live in, and
    ``rows(batch)`` yields ``(i, n_rows, dec)`` for each block row ``i``
    of an Arrow batch or table, where ``dec(name) -> pa.Array`` lazily
    decodes one requested column (a column skipped by the caller never
    touches its payload).

    * Column groups: members share one interleaved blob, decompressed
      once per block row however many members are decoded.
    * Renamed columns: the payload keeps its immutable PHYSICAL name
      (the Iceberg field-id discipline — old and new chunks agree on
      one blob name forever); the manifest's ``physical`` key maps the
      logical name here, the single payload-resolution choke point.
    * Schema evolution: a NULL payload (a chunk older than an added
      column) or a payload column the batch lacks decodes as the
      column's recorded default (NULL if unset).

    Arrays come back in the decode kernel's type per kind (large
    strings/binaries, int64, naive timestamp[us], float64); callers
    cast to their output schema."""
    import pyarrow as pa

    from .codecs import registry as _registry

    fill_type = {
        selector.KIND_STRING: pa.large_string(),
        selector.KIND_BINARY: pa.large_binary(),
        selector.KIND_INT: pa.int64(),
        selector.KIND_TIMESTAMP: pa.timestamp("us"),
        selector.KIND_DOUBLE: pa.float64(),
    }
    phys = {c["name"]: c.get("physical", c["name"]) for c in man["columns"]}
    defaults = {c["name"]: c.get("default") for c in man["columns"]}
    groups = man.get("column_groups") or {}
    m2g = {m: g for g, ms in groups.items() for m in ms}
    kinds = {name: kind for name, _, kind in specs}
    blob_of = {name: blob_col(m2g.get(name, phys[name])) for name in kinds}
    blob_names = list(dict.fromkeys(blob_of.values()))

    def rows(rb):
        names = rb.schema.names
        n_rows = rb.column(names.index("n_rows")).to_pylist()
        cols = {b: rb.column(names.index(b)) for b in blob_names if b in names}
        for i, n in enumerate(n_rows):
            members: dict[str, list] = {}

            def dec(name: str, i=i, n=n, members=members) -> "pa.Array":
                b = blob_of[name]
                col = cols.get(b)
                g = m2g.get(name)
                if g is None:
                    raw = None if col is None else col[i].as_py()
                else:
                    if b not in members:
                        blob = None if col is None else col[i].as_py()
                        members[b] = (
                            [None] * len(groups[g])
                            if blob is None
                            else _registry.decode_group(blob)
                        )
                    raw = members[b][groups[g].index(name)]
                if raw is None:
                    d = defaults.get(name)
                    t = fill_type[kinds[name]]
                    return pa.nulls(n, t) if d is None else pa.array([d] * n, type=t)
                return selector.decode_column_arrow(raw, kinds[name], n)

            yield i, int(n), dec

    return blob_names, rows


def _decode_ddl(specs, *, with_block: bool = False) -> str:
    """The DDL of decoded rows: :func:`decode_blocks`' output schema,
    and the schema the driver-local reads hand Spark."""
    parts = [f"{BLOCK} long", f"{SALT} int"] if with_block else []
    return ", ".join(parts + [f"`{n}` {t}" for n, t, _ in specs])


def _eq_rows(arr, value) -> np.ndarray:
    """Offsets of the rows of ``arr`` equal to ``value`` (NULL never
    equals) — the eq_filter test of every block decode."""
    import pyarrow as pa
    import pyarrow.compute as pc

    eq = pc.equal(arr, pa.scalar(value, type=arr.type))
    return np.flatnonzero(eq.to_numpy(zero_copy_only=False) == True)  # noqa: E712


def _input_bytes(df: DataFrame) -> int | None:
    """Bytes of the files ``df`` scans — a file listing, no plan
    compile. ``None`` when a file is not on the local filesystem
    (unknown scheme): callers fall back to their size-blind rule."""
    from urllib.parse import urlparse

    try:
        return sum(os.path.getsize(urlparse(f).path) for f in df.inputFiles())
    except OSError:
        return None


def _codec_bound_decode(man: dict, names: list[str], share: float = 0.05) -> bool:
    """True when decoding ``names`` is slow-kernel-bound: at least
    ``share`` of some requested column's blocks were committed through
    a bz2 codec (the ~40 MB/s/core kernel the decode rebalance exists
    for). Column-group payloads count if any member column matches.
    No histogram (pre-histogram table generations) -> True (keep the
    rebalance; unknown decode cost is treated as expensive)."""
    hist = man.get("codec_histogram")
    if not hist:
        return True
    groups = man.get("column_groups") or {}
    want = set(names)
    for g, members in groups.items():
        if want & set(members):
            want.add(g)
    for col, counts in hist.items():
        if col not in want:
            continue
        total = sum(counts.values())
        slow = sum(n for codec, n in counts.items() if "bz2" in codec)
        if total and slow / total >= share:
            return True
    return False


def decode_blocks(
    blocks: DataFrame,
    man: dict,
    cols: list[str] | None = None,
    *,
    with_block: bool = False,
    eq_filter: tuple[str, object] | None = None,
    rebalance: bool | None = None,
    _deletes=(),
    _hits=None,
) -> DataFrame:
    """blocks -> original rows via mapInArrow (payload bytes in, Arrow
    arrays out — decoded strings never materialize as Python objects;
    the Python loop is per block row, never per value —
    raquet_decode_band analog,
    /root/reference/src/raster/st_raster_value.cpp:145-211).

    ``eq_filter=(col, value)`` is the single-element-extract fast path
    (get_pixel_value analog, ref st_raster_value.cpp:352-420): the
    filter column decodes FIRST; blocks with no matching row skip every
    other payload entirely, and matching blocks emit only the matching
    rows (element take, not full-block Arrow transfer). Point lookups
    over many candidate blocks decode exactly one payload per miss.

    ``_deletes`` (``reader.load_deletes`` sets, loaded once on the
    driver and shipped in the closure) drop each block row's deleted
    rows by the package's one delete rule, ``reader._apply_deletes``
    with the row's chunk; each set's lookup is built once per task.
    ``_hits`` (sets of the same form) keeps only the rows a set does
    delete, the change-data reads' "deleted by these files". With
    either, the ``chunk`` partition column and the key columns are read
    too and the rows project back to ``cols``."""
    import pyarrow as pa

    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    out_specs = _colspecs(man, cols)
    if eq_filter is not None and eq_filter[0] not in {s[0] for s in out_specs}:
        raise ValueError(f"eq_filter column {eq_filter[0]!r} not in decode set")
    filtering = bool(_deletes) or _hits is not None
    dcols = [c for d in [*_deletes, *(_hits or ())] for c in d.cols]
    unknown = set(dcols) - {c["name"] for c in man["columns"]}
    if unknown:
        raise ValueError(
            f"delete files reference missing columns {sorted(unknown)} "
            "(renamed or dropped after the delete?)"
        )
    specs = _colspecs(man, reader._decode_cols(cols, _deletes, _hits))
    blob_names, block_rows = _block_rows(man, specs)
    needed = [BLOCK, SALT, "n_rows"] + blob_names
    # chunk is the partition column of the chunked layout: each block
    # row's deletes live by its sequence number (a legacy flat table
    # has none, read as chunk 0)
    chunked = filtering and "chunk" in blocks.columns
    if chunked:
        needed.insert(0, "chunk")
    src = blocks.select(*needed)  # Parquet reads only these payloads
    # Full decodes are codec-CPU-bound and per-block cost varies with
    # compressibility, so byte-balanced scan splits are CPU-imbalanced;
    # when the scan has too few splits for the straggler tail to
    # average out (< 4x the session's cores), round-robin the block
    # rows first — measured 5.2 s -> 2.7 s on the 2.6 GB bz2 table.
    # Shuffling the encoded payloads costs ~GB/s against bz2's
    # ~40 MB/s/core decode, so the exchange is noise; at scale (many
    # splits) or on pruned point paths (eq_filter) it is skipped
    # outright (guide §2.5).
    if rebalance is None:
        # codec gate: the exchange only pays for itself against a SLOW
        # decode kernel. bz2 runs ~40 MB/s/core; zstd/zlib/dict decode
        # an order of magnitude faster, so shuffling their payloads
        # costs more than the straggler tail it evens out (measured:
        # fast-effort 2.6 GB table 1.14 s -> 1.45 s with the exchange).
        # The manifest's codec histogram says which kernels the
        # REQUESTED columns actually decode through; tables without
        # one (pre-histogram generations) keep the rebalance.
        rebalance = eq_filter is None and _codec_bound_decode(
            man, [s[0] for s in specs]
        )
    if rebalance:
        sc = blocks.sparkSession.sparkContext
        # byte gate FIRST (file listing only — no plan compile): small
        # tables and pruned deltas decode faster than their exchange
        # schedules, and must not even pay the .rdd partition probe;
        # unknown schemes fall back to the partition-count rule alone
        tot = _input_bytes(src)
        if tot is None or tot >= (32 << 20):
            cur = src.rdd.getNumPartitions()
            if 1 < cur < 4 * sc.defaultParallelism:
                # keyless round-robin, deliberately NOT the byte-LPT
                # spread the re-encode paths use: measured on the
                # 2.6 GB table, LPT balanced the tasks (max/med 1.77/
                # 1.00 -> 1.03/0.62) but the extra tasks' fixed cost
                # inflated the stage 68.9 -> 94.3 core-s — the decode
                # kernel is ~10x cheaper per block than re-encode, so
                # the placement tax is never paid back
                src = src.repartition(2 * sc.defaultParallelism)
    out_schema = _decode_ddl(out_specs, with_block=with_block)
    arrow_schema = to_arrow_schema(T._parse_datatype_string(out_schema))
    dec_schema = reader.arrow_schema(specs)
    out_names = [s[0] for s in out_specs]
    key_cols = [BLOCK, SALT] if with_block else []

    def fn(batches):
        for rb in batches:
            keys = [rb.column(c).to_pylist() for c in key_cols]
            chunks = rb.column("chunk").to_pylist() if chunked else None
            for i, n, dec in block_rows(rb):
                chunk = chunks[i] if chunked else None
                if _hits is not None and not reader._live(_hits, chunk):
                    continue  # no set deletes rows of this chunk
                take_idx = None
                decoded: dict[str, pa.Array] = {}
                if eq_filter is not None:
                    # decode the filter column FIRST; a block with no
                    # matching row touches no other payload
                    fname, fval = eq_filter
                    farr = dec(fname)
                    idx = _eq_rows(farr, fval)
                    if len(idx) == 0:
                        continue
                    take_idx = pa.array(idx)
                    decoded[fname] = farr.take(take_idx)
                    n = len(idx)
                arrays = []
                for name, _, _ in specs:
                    arr = decoded.get(name)
                    if arr is None:
                        arr = dec(name)
                        if take_idx is not None:
                            arr = arr.take(take_idx)
                    arrays.append(arr)
                if filtering:
                    batch = reader._apply_deletes(
                        pa.RecordBatch.from_arrays(
                            [
                                a.cast(f.type) if a.type != f.type else a
                                for a, f in zip(arrays, dec_schema)
                            ],
                            schema=dec_schema,
                        ),
                        chunk, _deletes, _hits, out_names,
                    )
                    n, arrays = batch.num_rows, batch.columns
                    if not n:
                        continue
                arrays = [pa.array(np.full(n, k[i])) for k in keys] + arrays
                yield pa.RecordBatch.from_arrays(
                    [
                        a.cast(f.type) if a.type != f.type else a
                        for a, f in zip(arrays, arrow_schema)
                    ],
                    schema=arrow_schema,
                )

    return src.mapInArrow(fn, schema=out_schema)


# ------------------------------------------------------ row-level deletes ----


def read_delete_entries(
    spark: SparkSession,
    path: str,
    *,
    snapshot_id: int | None = None,
    as_of_unix: float | None = None,
) -> list[dict]:
    """Equality-delete file entries visible at a snapshot (default:
    current). Every commit since a table's first DELETE carries the
    live list in its snapshot, so the entry list at snapshot S is S's
    own record — a snapshot without the key predates all deletes.
    Tables without a snapshot log fall back to the sidecar manifest."""
    return _snapshot_entries(spark, path, snapshot_id, as_of_unix)[1]


def _snapshot_entries(
    spark: SparkSession, path: str, snapshot_id: int | None,
    as_of_unix: float | None,
) -> tuple[dict | None, list[dict]]:
    """``(snapshot, delete entries)`` a read at ``snapshot_id`` /
    ``as_of_unix`` (default: current) sees; the snapshot is ``None``
    on a table without a snapshot log."""
    snaps = mf.read_snapshots(path, spark)
    if not snaps:
        man = mf.read_sidecar(path, spark)
        return None, list((man or {}).get("delete_files", []))
    snap = _pick_snapshot(spark, path, snaps, snapshot_id, as_of_unix)
    # replay rename-column ops committed AFTER this snapshot so its
    # entries resolve against the CURRENT manifest's names (decoded
    # rows always carry current names; the value files themselves are
    # read positionally, so only the logical label needs updating)
    return snap, mf.remap_delete_entries(
        snaps, snap["snapshot_id"], list(snap.get("delete_files", []))
    )


def read_rows(
    spark: SparkSession,
    path: str,
    cols: list[str] | None = None,
    *,
    snapshot_id: int | None = None,
    as_of_unix: float | None = None,
    ref: str | None = None,
    apply_deletes: bool = True,
    man: dict | None = None,
) -> DataFrame:
    """The table-level reader: time-travel block scan + decode +
    merge-on-read equality deletes. This is what SELECT means on a
    table with row-level deletes; ``read_blocks``/``decode_blocks``
    stay the physical layer underneath (deletes not applied).
    ``ref`` reads at a named tag (``encode.create_tag``).

    On a local table whose decode :func:`_read_on_driver` admits (at
    most 16 MiB raw), the in-process reader decodes the snapshot's
    block rows on the driver's pool and returns a local DataFrame
    (evaluated now, not at the first action). Otherwise the Spark plan
    runs: a ``mapInArrow`` decode. Both sides drop deleted rows inside
    the block decode by the one sequence rule (``reader.load_deletes``
    sets, built once here) and return the same rows under the same
    schema."""
    if ref is not None:
        if snapshot_id is not None or as_of_unix is not None:
            raise ValueError("pass snapshot_id, as_of_unix OR ref, not both")
        snapshot_id = mf.resolve_ref(path, ref, spark)
    man = man or read_manifest(spark, path)
    snap, entries = _snapshot_entries(spark, path, snapshot_id, as_of_unix)
    if snap is None and (snapshot_id is not None or as_of_unix is not None):
        raise FileNotFoundError(f"no snapshot log at {path}")
    entries = entries if apply_deletes else []
    local = _driver_read(
        spark, path, man, reader.Envelope(man), cols, at=(snap, entries)
    )
    if local is not None:
        return _local_frame(spark, man, local, cols)
    blocks = read_blocks_at(
        spark, path, snapshot_id=snapshot_id, as_of_unix=as_of_unix
    )
    return decode_blocks(
        blocks, man, cols, _deletes=reader.load_deletes(path, entries)
    )


def read_staged_rows(
    spark: SparkSession,
    path: str,
    token: str,
    cols: list[str] | None = None,
) -> DataFrame:
    """AUDIT read of a staged write-audit-publish commit
    (``encode.append_chunk(..., staged=True)`` or
    ``encode.delete_rows(..., staged=True)``): the table AS IF the
    staged commit were published — for an append, the parent chunks
    plus the staged chunk; for a delete, the parent chunks with the
    staged entry applied on top of the parent's deletes (the staged
    manifest carries both). Readers without the token (read_rows, the
    datasource, time travel) see neither."""
    rec = mf.get_staged(path, token, spark)
    man = rec["manifest"]
    # schema evolution committed AFTER staging would make the staged
    # manifest's decode bind against files the current schema renamed/
    # added/widened — refuse loudly rather than serve wrong columns
    # (publish_staged applies the same rule to rebase)
    cur = mf.committed_manifest(path, spark)[0]
    _spec = lambda m: [  # noqa: E731
        (c["name"], c["spark_type"], c.get("physical", c["name"]))
        for c in m["columns"]
    ]
    if cur is not None and _spec(cur) != _spec(man):
        raise ValueError(
            "table schema changed since this commit was staged; "
            "drop_staged and re-stage against the new schema"
        )
    blocks = _data_rows(_read_raw(spark, path), rec["chunks"])
    entries = man.get("delete_files") or []
    return decode_blocks(
        blocks, man, cols, _deletes=reader.load_deletes(path, entries)
    )


def _clear_reused_dest(spark: SparkSession, src: str, dst: str) -> None:
    """Writing a fresh table into a reused path must not inherit the
    old occupant's data, snapshot log or delete files — readers prefer
    the `_snapshots/` log over the sidecar, so stale metadata would
    override the new data (wrong chunk visibility, phantom deletes),
    and a legacy flat occupant's files would sit next to the new
    chunk dirs."""
    from . import fsio

    if os.path.abspath(src) == os.path.abspath(dst):
        raise ValueError("src and dst must differ (in-place rewrite "
                         "would read the files it is overwriting)")
    for sub in ("data", "_snapshots", "_deletes", "_lineage"):
        fsio.delete_dir(spark, os.path.join(dst, sub))


def purge_deletes(
    spark: SparkSession, src: str, dst: str, zlib_level: int = 6
) -> dict:
    """Physically apply a table's equality-delete files into a NEW
    committed table (merge-on-read -> copy-on-write compaction step):
    the :func:`compact_to_path` rewrite with the live deletes applied
    by the package's one delete rule (``reader._apply_deletes``), so
    the output is compacted too: one row per
    block key under the row cap. Blocks no live delete touches and
    that are already one row pass through with payloads unread. The
    output table carries no delete files (and fresh chunk ids), so its
    reads apply no deletes."""
    man = read_manifest(spark, src)
    if not man.get("delete_files"):
        raise ValueError(
            f"no delete files at {src}; use compact_to_path for plain "
            "compaction"
        )
    return _rewrite_to_path(spark, src, dst, man, zlib_level, purged_from=src)


def read_changes(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    cols: list[str] | None = None,
) -> DataFrame:
    """Changelog scan (Iceberg `changes` analog): NET row-level changes
    between two snapshots, tagged ``_change_type`` 'insert' | 'delete'.

    * inserts — rows of chunks added in ``(from, to]`` that are still
      alive at ``to`` (a row inserted and deleted inside the range is a
      net no-op and appears as neither);
    * deletes — rows alive at ``from`` that equality-delete files
      committed in the range remove (kept by those files' sets in the
      block decode, no join), plus all alive-at-``from`` rows of
      chunks a rollback removed in the range.

    Chunk immutability makes the insert side partition-pruned to the
    new chunks only; the delete side decodes only surviving chunks
    (delete files target chunks <= their sequence number, all of which
    existed at ``from``). Both sides together cost O(delta), not
    O(table) — the property an incremental index refresher or
    downstream aggregate needs."""
    from functools import reduce

    snaps = mf.read_snapshots(path, spark)
    if not snaps:
        raise FileNotFoundError(f"no snapshot log at {path}")
    to_id = max(snaps) if to_snapshot_id is None else to_snapshot_id
    for sid in (from_snapshot_id, to_id):
        if sid not in snaps:
            raise KeyError(f"no snapshot {sid} at {path}; have {sorted(snaps)}")
    _guard_rewrites(snaps, from_snapshot_id, to_id, "read_changes")
    man = read_manifest(spark, path)
    names = [c["name"] for c in man["columns"]]
    want = list(cols) if cols is not None else names
    # via read_delete_entries so rename ops committed after either
    # endpoint are replayed over the entries' column names
    entries_from = read_delete_entries(
        spark, path, snapshot_id=from_snapshot_id
    )
    entries_to = read_delete_entries(spark, path, snapshot_id=to_id)
    seen = {e["dir"] for e in entries_from}
    new_entries = [e for e in entries_to if e["dir"] not in seen]
    for e in entries_from + entries_to:
        for c in mf.delete_entry_cols(e):
            if c not in names:
                raise ValueError(
                    f"delete file {e['dir']} references missing column "
                    f"{c!r} (renamed or dropped after the range?)"
                )
    chunks_from = set(snaps[from_snapshot_id]["chunks"])
    chunks_to = set(snaps[to_id]["chunks"])
    added = sorted(chunks_to - chunks_from)
    removed = sorted(chunks_from - chunks_to)
    surviving = sorted(chunks_from & chunks_to)

    def part(snap_id, chunks, kind, drop, hits=None):
        """The rows of ``chunks`` at ``snap_id`` that the entries
        ``drop`` do not delete (and, given ``hits``, those entries do),
        tagged ``kind``."""
        blocks = read_blocks_at(spark, path, snapshot_id=snap_id).where(
            F.col("chunk").isin(chunks)
        )
        rows = decode_blocks(
            blocks, man, want, rebalance=False,
            _deletes=reader.load_deletes(path, drop),
            _hits=None if hits is None else reader.load_deletes(path, hits),
        )
        return rows.withColumn("_change_type", F.lit(kind))

    parts: list[DataFrame] = []
    if added:
        parts.append(part(to_id, added, "insert", entries_to))
    if new_entries and surviving:
        parts.append(
            part(from_snapshot_id, surviving, "delete", entries_from, new_entries)
        )
    removed_entries = [
        e
        for e in entries_from
        if e["dir"] not in {x["dir"] for x in entries_to}
    ]
    if removed_entries and surviving:
        # rows a rollback RESURRECTED: dead at `from` because of a
        # since-removed delete file, alive at `to` — net inserts
        parts.append(
            part(to_id, surviving, "insert", entries_to, removed_entries)
        )
    if removed:
        parts.append(part(from_snapshot_id, removed, "delete", entries_from))
    if not parts:
        empty = read_blocks_at(spark, path, snapshot_id=to_id).limit(0)
        return decode_blocks(empty, man, want).withColumn(
            "_change_type", F.lit("insert")
        )
    return reduce(DataFrame.unionByName, parts)


# ------------------------------------------------------------ point/range ----


def _read_on_driver(
    raw_bytes: int, n_blocks: int, parallelism: int, hand_back: int
) -> bool:
    """The driver-local read gate: True when decoding ``n_blocks``
    selected block rows holding ``raw_bytes`` raw bytes in-process, on
    the driver's pool, is no slower than a Spark plan
    (``placement.driver_gate``, at most 16 MiB raw). Both sides spread
    the decode (``R_DEC``) over the block rows; the driver alone hands
    ``hand_back`` raw bytes of result back as a DataFrame (``R_HAND``),
    and the plan pays ``F_READ``.

    Measured on a 4-core VM at ``local[4]``, on the benchmark's
    6,000-row webtext table (7.9 MB raw): as one block row, a url
    lookup took 1.06 s as a Spark plan and 0.45 s on the driver, a
    one-day range 1.04 s and 0.49 s (medians of 10 each, manifest read
    and ``toArrow`` included). On the 4-block table a lookup takes
    0.77-0.81 s against 0.23-0.24 s and a range 0.73-0.74 s against
    0.27-0.28 s, so the plan costs 0.46-0.56 s more per read.
    """
    return placement.driver_gate(
        "read", raw_bytes=raw_bytes, rows=None, units=n_blocks,
        parallelism=parallelism, kernel_s=raw_bytes / placement.R_DEC,
        fixed_s=placement.F_READ, local_s=hand_back / placement.R_HAND,
    )


def _driver_read(
    spark: SparkSession,
    path: str,
    man: dict,
    env: reader.Envelope,
    cols: list[str] | None,
    *,
    eq_filter: tuple[str, object] | None = None,
    at: tuple[dict | None, list[dict]] | None = None,
):
    """The decoded rows (an Arrow table) of a read that
    :func:`_read_on_driver` keeps on the driver, by the in-process
    reader: the block rows ``env`` selects and the equality deletes
    applied, at ``at = (snapshot, delete entries)`` (default: the
    current snapshot and ``man``'s deletes). The block rows decode on
    the driver's pool. ``None`` when the read runs as a Spark plan
    instead: a ``scheme://`` path, or too much decode work."""
    from . import fsio

    if fsio.is_remote(path):
        return None
    snap, entries = at or (
        mf.current_snapshot(path, spark), man.get("delete_files") or []
    )
    files = reader.visible_files(path, snap)
    sels = reader.select_block_rows(files, man, env)
    raw = sum(s.raw_bytes for s in sels)
    n_blocks = sum(s.n_blocks for s in sels)
    p = spark.sparkContext.defaultParallelism
    # an equality filter hands back its few matching rows
    if not _read_on_driver(raw, n_blocks, p, 0 if eq_filter else raw):
        return None
    import pyarrow as pa

    deletes = reader.load_deletes(path, entries)
    return pa.Table.from_batches(
        list(reader.iter_blocks(
            sels, man, cols, eq_filter=eq_filter, deletes=deletes,
            threads=placement.driver_threads(n_blocks, p),
        )),
        schema=reader.arrow_schema(_colspecs(man, cols)),
    )


def _local_frame(spark: SparkSession, man: dict, tbl, cols: list[str] | None) -> DataFrame:
    """A driver-local result as a DataFrame with the schema the Spark
    path's :func:`decode_blocks` gives the same columns."""
    if cols is not None:
        tbl = tbl.select(cols)
    return spark.createDataFrame(tbl, schema=_decode_ddl(_colspecs(man, cols)))


def point_lookup(
    spark: SparkSession,
    path: str,
    url: str,
    ts_epoch: int | None = None,
    cols: list[str] | None = None,
    man: dict | None = None,
) -> DataFrame:
    """Point query — ST_RasterValue/read_raquet_at analog: O(1) key
    computation on the driver, then decode of only the touched
    block(s), the url column first, exact url filter after decode (the
    in-block offset analog).

    On a local table the in-process reader selects the block rows
    (the url's hash cell, or its one key with ``ts_epoch``), and when
    :func:`_read_on_driver` says their decode is cheaper than a Spark
    plan's fixed cost, decodes them on the driver and returns the rows
    as a local DataFrame (evaluated now, not at the first action).
    Otherwise, and for ``scheme://`` paths, the Spark plan runs: the
    equality (or pre-scanned isin) predicate pushed to Parquet and a
    ``mapInArrow`` decode. Both sides apply deletes inside the block
    decode and return the same rows under the same schema."""
    man = man or read_manifest(spark, path)
    res = man["key"]["resolution"]
    bucket = man["key"]["bucket_seconds"]
    origin = man["key"].get("ts_origin", 0)
    url_col = man["url_col"]
    want = cols if cols is None else list(dict.fromkeys([url_col] + cols))
    env = reader.Envelope(man)
    if ts_epoch is not None:
        key = bk.key_for_point(url, ts_epoch, res, bucket, origin)
        env.key(key)
    else:
        env.url(url)
    local = _driver_read(spark, path, man, env, want, eq_filter=(url_col, url))
    if local is not None:
        return _local_frame(spark, man, local, cols)
    blocks = read_blocks(spark, path)
    if ts_epoch is not None:
        pruned = blocks.where(F.col(BLOCK) == key)
    else:
        pruned = prune_blocks_for_url_hash(blocks, man, bk.hash_x_from_url(url))
    decoded = decode_blocks(
        pruned, man, want, eq_filter=(url_col, url),
        _deletes=reader.load_deletes(path, man.get("delete_files") or []),
    )
    out = decoded.where(F.col(url_col) == url)  # no-op safety re-check
    return out.select(*cols) if cols is not None else out


MAX_POINT_KEYS = 1024


def prune_blocks_for_url_hash(blocks: DataFrame, man: dict, x26: int) -> DataFrame:
    """ts-less point pruning, sargable at every resolution.

    A url with unknown timestamp touches one cell per time bucket —
    2^res candidates. Materializing them as an ``isin`` literal list
    (QUADBIN_POLYFILL-style) stops scaling past res ~10 (8K+ literals in
    the plan; unusable at res 20). Instead: a Morton BETWEEN over the
    hash-slice envelope plus the exact bit-extracted
    ``hash_cell_col(block, res) == xr`` predicate — the same
    extract-and-compare pattern :func:`prune_blocks_for_ts` uses for
    time (ref /root/reference/src/raquet_extension.cpp:61-64).

    Because an expression predicate can't prune Parquet row groups, a
    key-column-only pre-scan (payloads never read) first recovers the
    cells that actually exist — bounded by how often the url's hash cell
    was crawled — and those become a pushed ``isin``. If the cell is
    pathologically hot (> MAX_POINT_KEYS blocks) the isin is skipped and
    the bit predicate alone filters."""
    res = man["key"]["resolution"]
    xr, lo, hi = bk.hash_cell_span(x26, res)
    exact = F.col(BLOCK).between(lo, hi) & (
        bk.hash_cell_col(F.col(BLOCK), res) == xr
    )
    hits = (
        blocks.select(BLOCK)
        .where(exact)
        .distinct()
        .limit(MAX_POINT_KEYS + 1)
        .collect()
    )
    keys = sorted(int(r[0]) for r in hits)
    if 0 < len(keys) <= MAX_POINT_KEYS:
        return blocks.where(
            F.col(BLOCK).between(keys[0], keys[-1]) & F.col(BLOCK).isin(keys)
        )
    return blocks.where(exact)


def prune_blocks_for_ts(
    blocks: DataFrame, man: dict, lo_epoch: int, hi_epoch: int
) -> DataFrame:
    """Block-level time-range pruning, no decode: sargable key BETWEEN
    (row-group pruning on the sorted key), exact bit-extracted ts-bucket
    match (polyfill-membership analog,
    /root/reference/src/raquet_extension.cpp:61-64), then exact
    stats.ts_min/ts_max overlap."""
    key = man["key"]
    res = key["resolution"]
    ylr, yhr, lo_key, hi_key = bk.ts_cell_span(
        lo_epoch, hi_epoch, res, key["bucket_seconds"], key.get("ts_origin", 0)
    )
    lo_us, hi_us = lo_epoch * 1_000_000, hi_epoch * 1_000_000
    return blocks.where(
        F.col(BLOCK).between(lo_key, hi_key)
        & bk.ts_bucket_col(F.col(BLOCK), res).between(ylr, yhr)
        & (F.col("stats.ts_min") <= hi_us)
        & (F.col("stats.ts_max") >= lo_us)
    )


def range_scan_ts(
    spark: SparkSession,
    path: str,
    lo_epoch: int,
    hi_epoch: int,
    cols: list[str] | None = None,
    man: dict | None = None,
) -> DataFrame:
    """Time-range scan: block pruning -> decode -> exact row filter
    [lo, hi) — the read_raquet(file, geometry) analog.

    Like :func:`point_lookup`, a read :func:`_read_on_driver` keeps
    small runs on the driver through the in-process reader (the
    :func:`prune_blocks_for_ts` selection, evaluated in numpy) and
    returns a local DataFrame; larger reads and ``scheme://`` paths run
    the Spark plan. Both sides return the same rows under the same
    schema."""
    man = man or read_manifest(spark, path)
    ts_col = man["ts_col"]
    if ts_col is None:
        raise ValueError("table has no timestamp column")
    want = cols if cols is None else list(dict.fromkeys([ts_col] + cols))
    lo_us, hi_us = lo_epoch * 1_000_000, hi_epoch * 1_000_000
    env = reader.Envelope(man)
    env.ts(lo_us, hi_us)
    local = _driver_read(spark, path, man, env, want)
    if local is not None:
        import pyarrow as pa
        import pyarrow.compute as pc

        us = pc.cast(local[ts_col], pa.int64())
        keep = pc.and_(pc.greater_equal(us, lo_us), pc.less(us, hi_us))
        return _local_frame(spark, man, local.filter(keep), cols)
    blocks = prune_blocks_for_ts(read_blocks(spark, path), man, lo_epoch, hi_epoch)
    decoded = decode_blocks(
        blocks, man, want, rebalance=False,
        _deletes=reader.load_deletes(path, man.get("delete_files") or []),
    )
    out = decoded.where(
        (F.col(ts_col) >= F.timestamp_seconds(F.lit(lo_epoch)))
        & (F.col(ts_col) < F.timestamp_seconds(F.lit(hi_epoch)))
    )
    return out.select(*cols) if cols is not None else out


# ------------------------------------------------------- decode-free stats ----


def summary_stats(blocks: DataFrame, stat_key: str) -> DataFrame:
    """count/sum/mean/min/max/stddev from per-block stats columns only —
    the ST_RasterSummaryStats precomputed-passthrough analog
    (/root/reference/src/raster/st_raster_stats.cpp:311-349): no payload
    is decoded. ``stat_key`` is an input column name (int/timestamp) or
    ``len_<col>`` for string char-lengths."""
    s = F.col("num_stats").getItem(stat_key)
    agg = blocks.where(s.isNotNull()).agg(
        F.sum(s.getField("cnt")).alias("cnt"),
        F.sum(s.getField("sum")).alias("sum"),
        F.min(s.getField("min")).alias("min"),
        F.max(s.getField("max")).alias("max"),
        F.sum(s.getField("sum_sq")).alias("sum_sq"),
    )
    # sum*sum must multiply as DOUBLE: the long product overflows once
    # the column total passes 2^31.5 (a ~2.4x-scale table of len_text
    # already sits at 2.4e9 — ANSI mode then kills the whole query).
    # Values are bit-identical where the long path survived: sum is an
    # exactly-representable double here, and fl(s)*fl(s) rounds the
    # exact product to the SAME nearest double the old long-multiply-
    # then-divide path produced.
    s_d = F.col("sum").cast("double")
    return agg.select(
        F.col("cnt"),
        F.col("sum"),
        (F.col("sum") / F.col("cnt")).alias("mean"),
        F.col("min"),
        F.col("max"),
        F.sqrt(
            (F.col("sum_sq") - s_d * s_d / F.col("cnt"))
            / (F.col("cnt") - 1)
        ).alias("stddev"),
    )


def column_stats(
    spark: SparkSession, path: str, *, with_ndv_sketch: bool = False
) -> DataFrame:
    """ANALYZE TABLE analog (Iceberg ``compute_table_stats``): one row
    per column with storage + statistics, computed from block METADATA
    and blob lengths only — no payload decodes, one aggregate pass:

    ``(column, codec_mix, n_blocks, enc_bytes, enc_share, ndv,
    min_val, max_val)``

    * ``enc_bytes`` / ``enc_share`` — where the compressed budget goes
      (the first question a codec engineer asks of a 100 TB table);
    * ``ndv`` — EXACT distinct count for categorical (dict-eligible)
      columns, merged from the per-block ``cat_counts`` key sets; NULL
      for high-cardinality columns (no per-block set is kept for them
      by design — the stats would be table-sized);
    * ``min_val``/``max_val`` — from per-block ``num_stats`` for
      int/timestamp columns (``len_<col>`` char-length stats are
      served by :func:`summary_stats`, not repeated here).

    The whole pass is one hash aggregate over the blocks table's
    metadata columns; per-column rows materialize driver-side from the
    single result row (O(#columns)).

    ``with_ndv_sketch=True`` appends an ``ndv_est`` column served from
    the persisted KMV sketch (:func:`analyze_ndv`) when it matches the
    current snapshot — the NDV answer for high-cardinality columns
    whose exact ``ndv`` is NULL by design, still metadata-only here
    (the decode pass happened at ANALYZE time, like Iceberg's Puffin
    stats files)."""
    man = read_manifest(spark, path)
    blocks = read_blocks(spark, path)
    aggs = []
    for c in man["columns"]:
        name = c["name"]
        p = c.get("physical", name)
        blob = F.col(f"{p}_blob")
        keys = F.map_keys(
            F.coalesce(
                F.col("cat_counts").getItem(name),
                F.create_map().cast("map<string,bigint>"),
            )
        )
        ns = F.col("num_stats").getItem(name)
        aggs += [
            F.count(F.when(blob.isNotNull(), 1)).alias(f"nb__{name}"),
            F.coalesce(F.sum(F.octet_length(blob)), F.lit(0)).alias(
                f"enc__{name}"
            ),
            F.size(
                F.array_distinct(F.flatten(F.collect_list(keys)))
            ).alias(f"ndv__{name}"),
            # a block WITHOUT cat stats for this column means the
            # column is not dict-eligible there: the merged key set is
            # then a subset, not the NDV — track it to null the result
            F.count(
                F.when(
                    blob.isNotNull()
                    & F.col("cat_counts").getItem(name).isNull(),
                    1,
                )
            ).alias(f"nocat__{name}"),
            F.min(ns.getField("min")).alias(f"min__{name}"),
            F.max(ns.getField("max")).alias(f"max__{name}"),
        ]
    row = blocks.agg(*aggs).collect()[0]
    total = sum(int(row[f"enc__{c['name']}"] or 0) for c in man["columns"])
    out = []
    for c in man["columns"]:
        name = c["name"]
        enc = int(row[f"enc__{name}"] or 0)
        ndv = (
            int(row[f"ndv__{name}"])
            if int(row[f"nocat__{name}"] or 0) == 0
            and int(row[f"ndv__{name}"] or 0) > 0
            else None
        )
        out.append(
            (
                name,
                json.dumps(
                    man.get("codec_histogram", {}).get(name, {}),
                    sort_keys=True,
                ),
                int(row[f"nb__{name}"] or 0),
                enc,
                round(enc / total, 4) if total else 0.0,
                ndv,
                row[f"min__{name}"],
                row[f"max__{name}"],
            )
        )
    if not with_ndv_sketch:
        return spark.createDataFrame(
            out,
            "column string, codec_mix string, n_blocks long, enc_bytes long,"
            " enc_share double, ndv long, min_val long, max_val long",
        )
    sk = read_ndv_sketch(spark, path)
    cur = mf.current_snapshot(path, spark)
    cur_id = int(cur["snapshot_id"]) if cur else None
    cols_sk = (
        sk["columns"]
        if sk is not None and sk.get("snapshot_id") == cur_id
        else {}
    )
    out = [
        r + (cols_sk.get(r[0], {}).get("ndv_est"),)
        for r in out
    ]
    return spark.createDataFrame(
        out,
        "column string, codec_mix string, n_blocks long, enc_bytes long,"
        " enc_share double, ndv long, min_val long, max_val long,"
        " ndv_est long",
    )


# ------------------------------------------------- NDV sketch (ANALYZE) ----

# KMV (k-minimum-values) distinct-count sketch — the Iceberg
# compute_table_stats / Puffin-stats analog for the columns where
# column_stats' exact merged key sets are unavailable BY DESIGN (a url
# column at 10^12 rows keeps no per-block value set). The estimator is
# the classic bottom-k order statistic (Bar-Yossef et al. 2002):
# NDV ~= (k-1) * SPACE / h_k, with h_k the k-th smallest hash of the
# distinct values. Everything is integer: the hash is the first 10 hex
# chars (40 bits) of md5, the estimate is exact integer division — so
# any ANSI engine (DuckDB: ('0x'||substr(md5(v),1,10))::BIGINT) replays
# the sketch and the estimate bit-for-bit. 40 bits keeps (k-1)*SPACE
# inside int64 for k <= 2^22; the estimator's own ~1/sqrt(k) error
# dwarfs 40-bit birthday collisions up to ~10^10 distinct values.
NDV_SKETCH_K = 256
NDV_HASH_BITS = 40
NDV_SPACE = 1 << NDV_HASH_BITS
_NDV_STATS_FILE = "ndv.json"


def ndv_hash_col(col: Column) -> Column:
    """40-bit md5-prefix hash of a value, engine-portable (UTF-8 bytes
    of the string form; conv parses the hex prefix)."""
    return F.conv(
        F.substring(F.md5(F.encode(col.cast("string"), "UTF-8")), 1, 10), 16, 10
    ).cast("long")


def kmv_merge(a: list[int], b: list[int], k: int = NDV_SKETCH_K) -> list[int]:
    """Union two KMV sketches: the k smallest of the merged hash sets.
    Exactly the sketch of the concatenated inputs — the property that
    makes per-chunk sketches mergeable across appends."""
    return sorted(set(a) | set(b))[:k]


def kmv_estimate(hashes: list[int], k: int = NDV_SKETCH_K) -> int:
    """Integer-exact NDV estimate from a sorted KMV sketch. A sketch
    smaller than k IS the exact distinct-hash count."""
    if len(hashes) < k:
        return len(hashes)
    return (k - 1) * NDV_SPACE // hashes[k - 1]


def _kmv_of(df: DataFrame, col: str, k: int) -> list[int]:
    """k smallest distinct 40-bit hashes of a column — distinct is one
    well-distributed hash shuffle, the bottom-k is TakeOrderedAndProject
    (per-partition top-k merged on the driver, never a global sort);
    the driver holds k longs, nothing else."""
    c = F.col(col)
    rows = (
        df.where(c.isNotNull())
        .select(ndv_hash_col(c).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
        .collect()
    )
    return [int(r["h"]) for r in rows]


def _ndv_stats_dir(path: str) -> str:
    return os.path.join(path, "_stats")


def read_ndv_sketch(spark: SparkSession, path: str) -> dict | None:
    """The persisted NDV sketch sidecar (or None): ``{"snapshot_id": n,
    "k": k, "columns": {col: {"hashes": [...], "ndv_est": n}}}``."""
    from . import fsio

    try:
        raw = fsio.read_bytes(spark, _ndv_stats_dir(path), _NDV_STATS_FILE)
    except Exception:
        return None
    return json.loads(raw.decode("utf-8"))


def analyze_ndv(
    spark: SparkSession,
    path: str,
    cols: list[str] | None = None,
    *,
    k: int = NDV_SKETCH_K,
    persist: bool = True,
    incremental: bool = False,
) -> DataFrame:
    """NDV sketches for high-cardinality columns of an encoded table —
    the decode-pass half of ANALYZE (Iceberg ``compute_table_stats``
    writing a Puffin stats file; ``column_stats`` stays the
    metadata-only half). One pruned decode per requested column (only
    that column's blobs are read), one KMV sketch each, persisted to
    ``_stats/ndv.json`` keyed by snapshot id so later reads are
    metadata-only.

    ``incremental=True`` is the 100 TB maintenance path: if a persisted
    sketch exists and every snapshot since it is an ``append``, only
    the appended chunks (``read_appended_between`` — partition-pruned,
    O(delta)) are scanned and their sketches KMV-merged into the
    persisted one; any delete/rewrite in between falls back to a full
    recompute (KMV unions are insert-only, the Iceberg stats caveat).

    Returns ``(column, n_hashes, kth_hash, ndv_est)`` — all integers,
    replayable exactly by any engine with md5."""
    man = read_manifest(spark, path)
    known = {c["name"] for c in man["columns"]}
    if cols is None:
        cols = [c["name"] for c in man["columns"] if c["kind"] == "string"]
    missing = [c for c in cols if c not in known]
    if missing:
        raise KeyError(f"unknown column(s) {missing}; table has {sorted(known)}")

    cur = mf.current_snapshot(path, spark)
    cur_id = int(cur["snapshot_id"]) if cur else None
    prev = read_ndv_sketch(spark, path) if incremental else None
    delta_blocks = None
    if prev is not None and cur_id is not None:
        snaps = mf.read_snapshots(path, spark)
        prev_id = int(prev["snapshot_id"])
        between = [
            snaps[i]
            for i in sorted(snaps)
            if prev_id < i <= cur_id and i in snaps
        ]
        appends_only = (
            prev_id in snaps
            and len(between) == cur_id - prev_id
            and all(s.get("op") == "append" for s in between)
            and int(prev.get("k", 0)) == k
            and all(c in prev.get("columns", {}) for c in cols)
        )
        if not appends_only:
            prev = None  # fall back to a full recompute
        elif prev_id == cur_id:
            delta_blocks = "none"
        else:
            delta_blocks = read_appended_between(spark, path, prev_id, cur_id)

    out: list[tuple] = []
    sketches: dict[str, dict] = {}
    for c in cols:
        if prev is not None and delta_blocks == "none":
            hashes = [int(h) for h in prev["columns"][c]["hashes"]]
        else:
            if prev is not None:
                src = decode_blocks(delta_blocks, man, [c])
            else:
                src = read_rows(spark, path, cols=[c], man=man)
            hashes = _kmv_of(src, c, k)
            if prev is not None:
                hashes = kmv_merge(
                    [int(h) for h in prev["columns"][c]["hashes"]], hashes, k
                )
        est = kmv_estimate(hashes, k)
        sketches[c] = {"hashes": hashes, "ndv_est": est}
        out.append((c, len(hashes), hashes[-1] if hashes else None, est))

    if persist:
        from . import fsio

        rec = {"snapshot_id": cur_id, "k": k, "columns": sketches}
        # merged-in columns from an older sketch stay valid (their
        # hashes were just unioned with the delta); unrequested columns
        # from the previous sketch are dropped — they would go stale
        fsio.write_bytes(
            spark,
            _ndv_stats_dir(path),
            _NDV_STATS_FILE,
            json.dumps(rec, sort_keys=True).encode("utf-8"),
        )
    return spark.createDataFrame(
        out, "column string, n_hashes long, kth_hash long, ndv_est long"
    )


def cat_value_counts(blocks: DataFrame, col: str) -> DataFrame:
    """Per-value counts of a low-cardinality column from the per-block
    ``cat_counts`` maps — decode-free GROUP BY (the per-block top-K stats
    idea of band_stats_v01.cpp:169-180 made exactly mergeable)."""
    m = F.col("cat_counts").getItem(col)
    return (
        blocks.where(m.isNotNull())
        .select(F.explode(m).alias("value", "n"))
        .groupBy("value")
        .agg(F.sum("n").alias("cnt"))
    )


def parent_key_expr(parent_res: int) -> Column:
    """Re-key a block to its parent cell at ``parent_res`` — pure Column
    bit arithmetic (quadbin_to_parent, quadbin.hpp:175-203); valid for
    any source resolution >= parent_res (the Morton prefix is shared)."""
    foot = bk.footer(parent_res)
    return (
        F.col(BLOCK)
        .bitwiseAND(F.lit(bk.MORTON_MASK ^ foot))
        .bitwiseOR(F.lit(bk.HEADER | (parent_res << bk.RES_SHIFT) | foot))
    )


def rollup_stats(
    blocks: DataFrame, man: dict, parent_res: int, stat_key: str
) -> DataFrame:
    """Decode-free pre-aggregation onto coarser parent cells — the
    overview-pyramid analog (/root/reference/src/raster/read_raster.cpp:
    1152-1163 builds coarser tiles so coarse queries touch few blocks;
    quadbin_to_parent re-keying, quadbin.hpp:175-203). Pure Column bit
    arithmetic re-keys every block to its parent cell, then per-block
    stats merge with a hash aggregate: count/sum/min/max are exactly
    mergeable, mean derived. No payload is decoded.

    Returns one row per parent block: (block, n_rows, cnt, sum, mean,
    min, max) for ``stat_key`` (see :func:`summary_stats`)."""
    res = man["key"]["resolution"]
    if not 0 <= parent_res <= res:
        raise ValueError(f"parent_res {parent_res} outside [0, {res}]")
    parent = parent_key_expr(parent_res)
    s = F.col("num_stats").getItem(stat_key)
    return (
        blocks.where(s.isNotNull())
        .groupBy(parent.alias(BLOCK))
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum(s.getField("cnt")).alias("cnt"),
            F.sum(s.getField("sum")).alias("sum"),
            F.min(s.getField("min")).alias("min"),
            F.max(s.getField("max")).alias("max"),
        )
        .withColumn("mean", F.col("sum") / F.col("cnt"))
    )


# --------------------------------------------------- decode->mask->re-encode ----


def _spread_block_rows(blocks: DataFrame, needed: list[str]) -> DataFrame:
    """Spread block rows over many partitions before a per-block
    decode->re-encode kernel. The blocks table is compact on disk (few
    parquet files), so a file-split scan gives far fewer tasks than
    cores; and a hash repartition on (block, salt) collides at small
    block counts (balls into bins — measured on the 2.6 GB table: 64
    block rows hashed into 64 partitions left some tasks with 2-3
    serial ~6 s re-encodes, max task 15.7 s vs 5.9 s median). Per-block
    codec cost also varies several-x with content (block sizes are
    Zipf-ish: the top-sized blocks re-encode ~4.7 s vs 0.35 s median),
    so small tables compute an exact LPT placement from one narrow
    metadata pass: greedy-pack blocks into byte-near-equal bins by
    encoded size (a monotone cost proxy — measured), heaviest bins at
    the lowest partition indices so they are scheduled first and never
    become a late-starting tail (decide placement on small rows, move
    the payload bytes once — guide §8; the assignment survives the
    shuffle because each target partition is addressed by a searched
    representative key, :func:`_partition_reps`). Large tables (where
    the metadata pass would not be narrow relative to the work)
    keyless-round-robin instead — with many rows per partition the
    content variance averages out. Shuffling the N KB-MB encoded
    payload rows is noise next to the codec CPU either way (guide
    §2.5)."""
    spark = blocks.sparkSession
    sc = spark.sparkContext
    p = max(1, sc.defaultParallelism)
    src = blocks.select(*needed)
    tot = _input_bytes(src) or None
    # bin count sized so each bin holds ~2 MB of encoded payload: the
    # per-task Python-exec overhead (~0.1 s) stays a small fraction of
    # a codec-bound bin's work; floored at the session's cores, capped
    # at 8x them (measured: a fixed 8x width cost ~0.6 s of pure task
    # overhead on a 33 MB table)
    n = 4 * p if tot is None else max(p, min(8 * p, int(tot >> 21)))
    # below one wave of ~2 MB bins the placement cannot matter (and
    # the metadata pass would be a ~5% tax) — plain round-robin. The
    # upper bound exists only to skip the metadata pass on tables that
    # certainly exceed the driver row cap below; the pass itself reads
    # 3 narrow columns (block, salt, enc_bytes — KBs via parquet
    # pruning), so it stays noise next to the codec work it balances
    worth_planning = tot is not None and (p << 21) <= tot <= (1 << 34)
    if worth_planning and "stats" in blocks.columns:
        # LPT greedy: per-bin byte sums near-equal (plain rank-dealing
        # left bin 0 with 3.3x the median bytes), heaviest bins
        # scheduled first (lowest partition indices); block rows that
        # share a (block, salt) key (appended chunks, map-only salts)
        # share one bin
        px = placement.plan(blocks, [BLOCK, SALT], "stats.enc_bytes", n, cap=200_000)
        if px is not None:
            # left join: a block row the metadata pass missed (out of
            # the immutable-table contract) still flows through, with
            # arbitrary placement, rather than being dropped
            return (
                src.join(F.broadcast(px), on=[BLOCK, SALT], how="left")
                .repartition(n, "_px")
                .drop("_px")
            )
    return src.repartition(n)


def _block_encoder(man: dict, zlib_level: int):
    """The encode kernel bound to a table's manifest, for rewrites:
    ``enc(tbl, block, salt) -> row dict`` re-encodes a block given under
    LOGICAL column names. Payloads are written under the immutable
    PHYSICAL names (renamed columns), so rewritten blobs line up with
    blocks_schema and with passthrough rows."""
    columns = man["columns"]
    p_of = {c["name"]: c.get("physical", c["name"]) for c in columns}
    col_specs = [(p_of[c["name"]], c["kind"], c.get("codec")) for c in columns]
    sort_cols = sort_cols_for(columns, man["url_col"], man["ts_col"])
    effort = man.get("effort", selector.EFFORT_MAX)
    groups = man.get("column_groups") or None

    def enc(tbl, block: int, salt: int) -> dict:
        return encode_block_arrow(
            tbl.rename_columns([p_of[c] for c in tbl.column_names]),
            col_specs, sort_cols, zlib_level, block, salt, man["ts_col"],
            effort, groups,
        )

    return enc


def _reencode_blocks(
    blocks: DataFrame, man: dict, apply, zlib_level: int
) -> DataFrame:
    """THE block rewrite: block rows are spread
    (:func:`_spread_block_rows`), then one mapInArrow decodes each
    block row's columns (:func:`_block_rows`), hands them to
    ``apply(arrays) -> pa.Table | None`` and re-encodes the result
    under the block's own key. ``None`` drops the block (empty-block
    elision, read_raster.cpp:444-483)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    specs = _colspecs(man, None)
    schema = blocks_schema(man["columns"], man.get("column_groups"))
    arrow_schema = to_arrow_schema(schema)
    blob_names, block_rows = _block_rows(man, specs)
    enc = _block_encoder(man, zlib_level)

    def fn(batches):
        for rb in batches:
            blk = rb.column(BLOCK).to_pylist()
            salt = rb.column(SALT).to_pylist()
            out = []
            for i, _, dec in block_rows(rb):
                tbl = apply({name: dec(name) for name, _, _ in specs})
                if tbl is not None:
                    out.append(enc(tbl, blk[i], salt[i]))
            if out:
                yield _rows_to_batch(out, arrow_schema)

    src = _spread_block_rows(blocks, [BLOCK, SALT, "n_rows"] + blob_names)
    return src.mapInArrow(fn, schema=schema)


def _predicate_frame(man: dict, filter_cols: list[str] | None):
    """``frame(arrays) -> pd.DataFrame``: the view a ``row_filter``
    predicate sees. Only ``filter_cols`` (default: every column) are
    materialized as pandas; every other column stays in Arrow buffers
    from decode through re-encode (a full pandas round-trip of
    text/html payloads was ~5x the codec cost itself)."""
    kinds = {c["name"]: c["kind"] for c in man["columns"]}
    fcols = list(filter_cols) if filter_cols else list(kinds)
    return lambda arrays: pd.DataFrame(
        {name: _arrow_to_pandas(arrays[name], kinds[name]) for name in fcols}
    )


def transform_blocks(
    blocks: DataFrame,
    man: dict,
    row_filter,
    zlib_level: int = 6,
    filter_cols: list[str] | None = None,
) -> DataFrame:
    """decode -> row mask -> re-encode, block-local (ST_MaskBandValues*
    analog, /root/reference/src/raster/st_value_mask.cpp:116-237 — the
    round-trip pattern that proves encode/decode are bit-exact inverses).
    ``row_filter(pdf) -> bool mask`` runs on the decoded block frame,
    which holds only ``filter_cols`` (default: every column). Blocks
    left empty by the mask are dropped."""
    import pyarrow as pa

    frame = _predicate_frame(man, filter_cols)

    def apply(arrays):
        mask = np.asarray(row_filter(frame(arrays)), dtype=bool)
        if not mask.any():
            return None
        tbl = pa.table(arrays)
        return tbl if mask.all() else tbl.filter(pa.array(mask))

    return _reencode_blocks(blocks, man, apply, zlib_level)


def _arrow_to_pandas(arr, kind: str):
    """Decoded Arrow column -> the pandas view a ``row_filter`` sees
    (integral nullable ints, float doubles, object strings)."""
    import pyarrow as pa

    if kind == selector.KIND_STRING:
        return arr.cast(pa.large_string()).to_pandas()
    if kind == selector.KIND_DOUBLE:
        return arr.cast(pa.float64()).to_pandas()
    if kind == selector.KIND_INT and arr.null_count:
        # keep nullable ints integral (plain to_pandas would widen to
        # float64 and lose >2^53 precision)
        return arr.to_pandas(types_mapper={pa.int64(): pd.Int64Dtype()}.get)
    return arr.to_pandas()


def _masked_tri_state(
    blocks: DataFrame, man: dict, row_filter, all_match, none_match,
    filter_cols: list[str] | None = None,
) -> DataFrame:
    """Tri-state mask execution: blocks whose per-block stats PROVE the
    predicate for every row pass through with payloads untouched (no
    decode, no re-encode — the precomputed-stats passthrough pattern,
    /root/reference/src/raster/st_raster_stats.cpp:311-349); blocks
    proven to match no row are dropped JVM-side; only the undecidable
    remainder pays the Python decode->mask->re-encode path. At scale a
    selective mask touches a small fraction of blocks, so this turns an
    all-blocks Arrow round-trip into a metadata-only scan plus a narrow
    transform. ``all_match``/``none_match`` must be *proofs* (Columns),
    conservatively false when stats are absent.

    NOTE: NOT lazy — the narrow pre-count below runs a (stats-columns-
    only) Spark job at construction time and snapshots branch emptiness,
    so mask_values_* assumes the blocks table is an immutable committed
    raquet table (which the manifest-last write protocol guarantees for
    every table this engine produces). Tables mutated between mask
    construction and execution are out of contract."""
    # coalesce both proofs: a NULL stats lookup must mean "unproven"
    # (three-valued logic would otherwise drop the block from BOTH
    # branches — where(NULL) is false on each side)
    all_match = F.coalesce(all_match, F.lit(False))
    none_match = F.coalesce(none_match, F.lit(False))
    decided_all = all_match & ~none_match
    undecided = ~(decided_all | none_match)
    # cheap narrow pre-count (stats columns only): a branch that would be
    # empty still costs a full-width scan of every payload column inside
    # the union, so skip empty branches outright
    cnt = blocks.agg(
        F.sum(decided_all.cast("long")).alias("n_pass"),
        F.sum(undecided.cast("long")).alias("n_work"),
    ).first()
    n_pass, n_work = int(cnt["n_pass"] or 0), int(cnt["n_work"] or 0)
    passthrough = blocks.where(decided_all)
    if n_work == 0:
        cols = [
            f.name
            for f in blocks_schema(
                man["columns"], man.get("column_groups")
            ).fields
        ]
        return passthrough.select(*cols)
    worked = transform_blocks(
        blocks.where(undecided), man, row_filter, filter_cols=filter_cols
    )
    if n_pass == 0:
        return worked
    return worked.unionByName(passthrough.select(*worked.columns))


def _cat_covered(col: str):
    """cat_counts[col] exists and covers every row (no nulls)."""
    cc = F.col("cat_counts").getItem(col)
    total = F.aggregate(F.map_values(cc), F.lit(0).cast("long"), lambda a, x: a + x)
    return cc.isNotNull() & (total == F.col("n_rows"))


def mask_values_in(
    blocks: DataFrame, man: dict, col: str, allowed: list
) -> DataFrame:
    """Whitelist mask — ST_MaskBandValuesList analog (st_value_mask.cpp:116-172)."""
    allowed_set = set(allowed)
    lits = [F.lit(v) for v in allowed]
    cc = F.col("cat_counts").getItem(col)
    keys = F.map_keys(cc)
    in_allowed = lambda k: k.isin(*lits) if lits else F.lit(False)  # noqa: E731
    # every distinct value allowed AND no nulls -> whole block survives;
    # no distinct value allowed -> nothing survives (nulls never match)
    all_match = _cat_covered(col) & F.forall(keys, in_allowed)
    none_match = cc.isNotNull() & ~F.exists(keys, in_allowed)
    return _masked_tri_state(
        blocks,
        man,
        lambda pdf: pdf[col].isin(allowed_set).to_numpy(),
        all_match,
        none_match,
        filter_cols=[col],
    )


def mask_values_eq(blocks: DataFrame, man: dict, col: str, value) -> DataFrame:
    """Single-value mask — ST_MaskBandValuesEq analog (st_value_mask.cpp:239-280).

    ``value=None`` is rejected: NULL equals nothing here (the reference's
    nodata semantics — its masks never match nodata cells either), and
    silently delegating None to the isin path would *keep* null rows."""
    if value is None:
        raise ValueError("mask_values_eq(value=None): NULL matches no row")
    kind = next(c["kind"] for c in man["columns"] if c["name"] == col)
    if kind in (selector.KIND_STRING, selector.KIND_BINARY):
        return mask_values_in(blocks, man, col, [value])
    if kind != selector.KIND_INT:
        # num_stats store int64 *views* (epoch-us, IEEE bits) — the
        # proof below would compare mixed units; decode instead
        return transform_blocks(
            blocks, man,
            lambda pdf: (pdf[col] == value).fillna(False).to_numpy(),
            filter_cols=[col],
        )
    ns = F.col("num_stats").getItem(col)
    covered = ns.isNotNull() & (ns["cnt"] == F.col("n_rows"))
    v = F.lit(value)
    all_match = covered & (ns["min"] == v) & (ns["max"] == v)
    none_match = ns.isNotNull() & ((v < ns["min"]) | (v > ns["max"]))
    return _masked_tri_state(
        blocks,
        man,
        lambda pdf: (pdf[col] == value).fillna(False).to_numpy(),
        all_match,
        none_match,
        filter_cols=[col],
    )


def mask_values_range(
    blocks: DataFrame, man: dict, col: str, low=None, high=None
) -> DataFrame:
    """Range mask with NULL = open bound — ST_MaskBandValuesRange analog
    incl. its SPECIAL_HANDLING null semantics (st_value_mask.cpp:174-237)."""

    def pred(pdf: pd.DataFrame) -> np.ndarray:
        m = pdf[col].notna().to_numpy()
        if low is not None:
            m &= (pdf[col] >= low).fillna(False).to_numpy()
        if high is not None:
            m &= (pdf[col] <= high).fillna(False).to_numpy()
        return m

    kind = next(c["kind"] for c in man["columns"] if c["name"] == col)
    if kind != selector.KIND_INT:
        return transform_blocks(blocks, man, pred, filter_cols=[col])
    ns = F.col("num_stats").getItem(col)
    covered = ns.isNotNull() & (ns["cnt"] == F.col("n_rows"))
    all_match = covered
    none_match = F.lit(False)
    if low is not None:
        all_match = all_match & (ns["min"] >= F.lit(low))
        none_match = none_match | (ns.isNotNull() & (ns["max"] < F.lit(low)))
    if high is not None:
        all_match = all_match & (ns["max"] <= F.lit(high))
        none_match = none_match | (ns.isNotNull() & (ns["min"] > F.lit(high)))
    return _masked_tri_state(
        blocks, man, pred, all_match, none_match, filter_cols=[col]
    )


# --------------------------------------------- keep-shape null masking ----


def transform_blocks_to_null(
    blocks: DataFrame,
    man: dict,
    row_filter,
    null_cols: list[str],
    zlib_level: int = 6,
    filter_cols: list[str] | None = None,
) -> DataFrame:
    """decode -> predicate -> NULL out ``null_cols`` where the predicate
    fails -> re-encode, KEEP-SHAPE: every block keeps its row count and
    key, non-matching rows keep their coordinate columns and lose only
    the masked values — the ST_ClipMask analog (reference
    src/raster/st_clip.cpp:598-734: outside-polygon pixels become nodata,
    tile geometry preserved), vs :func:`transform_blocks` which is the
    row-dropping ST_Clip. Nulled columns re-encode through the NULLABLE
    codec wrapper automatically (null masks are part of every payload)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    to_null = set(null_cols)
    unknown = to_null - {c["name"] for c in man["columns"]}
    if unknown:
        raise ValueError(f"null_cols not in table: {sorted(unknown)}")
    frame = _predicate_frame(man, filter_cols)

    def apply(arrays):
        mask = pa.array(np.asarray(row_filter(frame(arrays)), dtype=bool))
        return pa.table({
            name: pc.if_else(mask, arr, pa.scalar(None, type=arr.type))
            if name in to_null else arr
            for name, arr in arrays.items()
        })

    return _reencode_blocks(blocks, man, apply, zlib_level)


def mask_to_null_in(
    blocks: DataFrame, man: dict, col: str, allowed: list, null_cols: list[str]
) -> DataFrame:
    """Keep-shape whitelist mask: rows whose ``col`` is outside
    ``allowed`` keep their keys/coordinates but have ``null_cols`` set to
    NULL — ST_ClipMask with a value predicate. Blocks PROVEN all-match by
    cat_counts pass through untouched (stats short-circuit); everything
    else pays one decode->null->re-encode pass."""
    allowed_set = set(allowed)
    lits = [F.lit(v) for v in allowed]
    cc = F.col("cat_counts").getItem(col)
    keys = F.map_keys(cc)
    in_allowed = lambda k: k.isin(*lits) if lits else F.lit(False)  # noqa: E731
    all_match = F.coalesce(
        _cat_covered(col) & F.forall(keys, in_allowed), F.lit(False)
    )
    passthrough = blocks.where(all_match)
    worked = transform_blocks_to_null(
        blocks.where(~all_match),
        man,
        lambda pdf: pdf[col].isin(allowed_set).to_numpy(),
        null_cols,
        filter_cols=[col],
    )
    return worked.unionByName(passthrough.select(*worked.columns))


# ------------------------------------------------- fused column math ----


def column_math_stats(blocks: DataFrame, man: dict, cols: list[str], expr_fn) -> DataFrame:
    """Fused decode -> numpy expression -> aggregate, one pass — the
    ST_BandMath / ST_NormalizedDifferenceStats analog (reference
    src/raster/band_math.cpp:39-455 fuses the per-pixel expression with
    the stats accumulator so the derived band never materializes).

    Only the payloads named in ``cols`` are read (Parquet column
    pruning); each block row emits one 5-field partial
    (cnt/sum/sum_sq/min/max over the expression's finite values); a tiny
    hash aggregate merges them. The derived column never exists as a
    Spark column, never shuffles, never re-encodes. ``expr_fn`` receives
    a dict of float64 numpy arrays (NULL -> NaN) and returns one array;
    NaN/inf results are excluded from the stats (nodata semantics)."""
    specs = _colspecs(man, cols)
    blob_names, block_rows = _block_rows(man, specs)
    src = blocks.select("n_rows", *blob_names)

    def fn(batches):
        import pyarrow as pa

        for rb in batches:
            cnt = 0
            s = 0.0
            ss = 0.0
            mn = np.inf
            mx = -np.inf
            for _, _, dec in block_rows(rb):
                arrs = {}
                for name, _, _ in specs:
                    a = dec(name)
                    if pa.types.is_timestamp(a.type):
                        a = a.cast(pa.int64())  # epoch-us view
                    arrs[name] = a.cast(pa.float64()).to_numpy(zero_copy_only=False)
                y = np.asarray(expr_fn(arrs), dtype=np.float64)
                y = y[np.isfinite(y)]
                if len(y):
                    cnt += len(y)
                    s += float(y.sum())
                    ss += float(np.square(y).sum())
                    mn = min(mn, float(y.min()))
                    mx = max(mx, float(y.max()))
            if cnt:
                yield pa.RecordBatch.from_pylist(
                    [{"cnt": cnt, "sum": s, "sum_sq": ss, "min": mn, "max": mx}]
                )

    partials = src.mapInArrow(
        fn, schema="cnt long, sum double, sum_sq double, min double, max double"
    )
    agg = partials.agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum").alias("sum"),
        F.sum("sum_sq").alias("sum_sq"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
    )
    return agg.select(
        "cnt",
        "sum",
        (F.col("sum") / F.col("cnt")).alias("mean"),
        "min",
        "max",
        F.sqrt(
            (F.col("sum_sq") - F.col("sum") * F.col("sum") / F.col("cnt"))
            / (F.col("cnt") - 1)
        ).alias("stddev"),
    )


# ------------------------------------------------- catalog-table surface ----


def _manifest_from_rows(rows) -> dict:
    mans = [mf.from_json(r[0]) for r in rows if r[0]]
    if not mans:
        raise ValueError("no manifest row (block = 0) found")
    return max(mans, key=lambda m: m.get("created_unix") or 0)


def register_table(spark: SparkSession, path: str, name: str) -> None:
    """Expose a raquet path as a SQL-addressable table (temp view) — the
    catalog-table read surface (the reference's ST_Raster over an
    already-loaded table, /root/reference/src/raquet_extension.cpp:106-156).
    On a real deployment this would be an Iceberg table; every reader in
    this module works identically on the registered view."""
    read_all(spark, path).createOrReplaceTempView(name)


def read_blocks_table(spark: SparkSession, name: str) -> DataFrame:
    """Data rows of a registered/catalog raquet table."""
    return spark.table(name).where(F.col(BLOCK) != bk.MANIFEST_BLOCK)


def register_rows_view(spark: SparkSession, path: str, name: str) -> None:
    """Expose a table's DECODED ROWS as a SQL view — `SELECT ... FROM
    name` is then the full table-level read (current snapshot, schema
    evolution applied, equality deletes applied via
    :func:`read_rows`), the `read_raquet` table-macro analog at row
    granularity. The view pins the state at registration time;
    re-register after DML to see new commits."""
    read_rows(spark, path).createOrReplaceTempView(name)


def read_manifest_table(spark: SparkSession, name: str) -> dict:
    rows = (
        spark.table(name)
        .where(F.col(BLOCK) == bk.MANIFEST_BLOCK)
        .select("metadata")
        .collect()
    )
    return _manifest_from_rows(rows)


# ------------------------------------------------------------ compaction ----


def compact_blocks(
    blocks: DataFrame,
    man: dict,
    zlib_level: int = 6,
    max_rows_per_block: int = 262144,
    *,
    _deletes=(),
) -> DataFrame:
    """Merge every block key's rows into canonical rows — the Iceberg
    ``rewrite_data_files`` / OPTIMIZE analog (the reference's answer is
    re-running ``read_raster`` over the table; here compaction never
    touches the raw source). This is the complement of the map-only
    encode path: ingest shuffle-free (K salted sub-rows per block per
    touching partition), then compact in the background to the layout a
    hash-shuffle encode would have produced — bit-identical when the
    table fits one salt, since block rows are deterministically sorted
    before encoding.

    Scale shape: only ENCODED payloads move through the groupBy shuffle
    (~5x smaller than raw); decode+merge+re-encode is block-local.
    Blocks already in a single row under the row cap pass through with
    payloads untouched (no decode — the stats-passthrough discipline of
    the mask path). Merges larger than ``max_rows_per_block`` split into
    contiguous salted sub-rows of the block-local sort order.

    ``_deletes`` (``reader.load_deletes`` sets, shipped in the closure)
    are dropped from each decoded block row by the package's one delete
    rule (``reader._apply_deletes`` with the row's chunk). A row some
    set can apply to is decoded even when it is alone in its block, and
    a block left with no rows emits none. Legacy flat tables (no
    ``chunk`` column) carry no deletes.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql.pandas.types import to_arrow_schema

    specs = _colspecs(man, None)
    sort_cols = sort_cols_for(man["columns"], man["url_col"], man["ts_col"])
    schema = blocks_schema(man["columns"], man.get("column_groups"))
    arrow_schema = to_arrow_schema(schema)
    out_names = [f.name for f in arrow_schema]
    # pre-evolution blocks carry NULL payloads for added columns —
    # decode fills the default, so compaction is the physical backfill
    # step, still block-local
    _, block_rows = _block_rows(man, specs)
    enc = _block_encoder(man, zlib_level)

    def fn(key: tuple, tbl: "pa.Table") -> "pa.Table":
        block = key[0]
        block = int(block.as_py() if hasattr(block, "as_py") else block)
        chunks = tbl["chunk"].to_pylist() if _deletes else [None] * tbl.num_rows
        total = int(pc.sum(tbl["n_rows"]).as_py() or 0)
        if (
            tbl.num_rows == 1 and total <= max_rows_per_block
            and not reader._live(_deletes, chunks[0])
        ):
            return tbl.select(out_names)  # passthrough: no decode
        parts = []
        for i, _, dec in block_rows(tbl):
            part = pa.table({name: dec(name) for name, _, _ in specs})
            parts.append(reader._apply_deletes(part, chunks[i], _deletes))
        merged = pa.concat_tables(parts).combine_chunks()
        total = merged.num_rows
        if not total:
            return arrow_schema.empty_table()
        # one deterministic sort up front; contiguous slices become the
        # salted sub-rows (encode_block_arrow's own sort is then a
        # stable no-op per slice)
        idx = pc.sort_indices(
            merged,
            sort_keys=[(c, "ascending") for c in sort_cols],
            null_placement="at_start",
        )
        merged = merged.take(idx)
        n_out = math.ceil(total / max_rows_per_block)
        per = math.ceil(total / n_out)
        rows = []
        for salt in range(n_out):
            part = merged.slice(salt * per, per)
            if part.num_rows:
                rows.append(enc(part, block, salt))
        return pa.Table.from_batches([_rows_to_batch(rows, arrow_schema)])

    return blocks.groupBy(BLOCK).applyInArrow(fn, schema=schema)


def compact_to_path(
    spark: SparkSession, src: str, dst: str, zlib_level: int = 6,
    max_rows_per_block: int = 262144,
) -> dict:
    """Compact a raquet table into a new committed one-chunk table
    (sorted write, manifest row last — same write protocol as the
    encode job). A legacy flat ``src`` comes out writable: this is its
    upgrade path. A table with delete files is refused: compaction
    collapses chunk ids, so :func:`purge_deletes` (the same rewrite,
    deletes applied) is the way to compact it."""
    man = read_manifest(spark, src)
    if man.get("delete_files"):
        raise ValueError(
            f"{src} has equality-delete files; use purge_deletes to "
            "compact with deletes applied"
        )
    return _rewrite_to_path(
        spark, src, dst, man, zlib_level, max_rows_per_block,
        compacted_from=src,
    )


def _rewrite_to_path(
    spark: SparkSession, src: str, dst: str, man: dict, zlib_level: int,
    max_rows_per_block: int = 262144, **lineage,
) -> dict:
    """THE whole-table rewrite into a new path, behind
    :func:`compact_to_path` and :func:`purge_deletes`: the current
    snapshot's blocks through :func:`compact_blocks`, the manifest's
    live deletes (``reader.load_deletes``, loaded once on the driver)
    applied, written as a fresh one-chunk table with no delete files.
    ``lineage`` names the source in the new manifest."""
    from . import encode as enc

    deletes = reader.load_deletes(src, man.get("delete_files") or [])
    blocks = read_blocks(spark, src)
    out = compact_blocks(
        blocks, man, zlib_level, max_rows_per_block, _deletes=deletes
    )
    base = {k: v for k, v in man.items() if k != "delete_files"}
    base.update({
        "num_blocks": None, "num_rows": None, "raw_bytes": None,
        "enc_bytes": None, "codec_histogram": {}, "created_unix": None,
        "shuffle": "hash", **lineage,
    })
    # clear the reused destination only after every src-side read
    # succeeded and right before the overwrite — failing earlier must
    # leave dst's previous occupant intact
    _clear_reused_dest(spark, src, dst)
    return enc.write_blocks(out, dst, base)


# ------------------------------------------------------------- overviews ----

OVERVIEW_SIDECAR = "_raquet_overviews.json"


def _overview_dir(path: str, res: int) -> str:
    return os.path.join(path, "overviews", f"res={res}")


def build_overviews(
    spark: SparkSession,
    path: str,
    levels: list[int] | None = None,
    man: dict | None = None,
) -> list[int]:
    """Materialize stats pyramids at coarser resolutions — the
    reference's overview tiles (read_raster.cpp:1152-1163: coarse
    queries touch few blocks). Webtext blocks have no "coarser pixels"
    to resample, so an overview level here is a blocks-SHAPED stats
    table (block, n_rows, num_stats, cat_counts — no payloads): every
    decode-free reader (summary_stats, cat_value_counts, rollup_stats)
    runs on it unchanged, over ~4^r rows instead of the full table.

    ``levels`` defaults to res-2, res-4, ..., >= 0 (quarter-steps: each
    level ~1/16 the cells of the previous). Derived data: levels live
    under ``overviews/res=<r>/`` with a JSON sidecar naming them; the
    committed data files and manifest are untouched, so overviews can
    be (re)built at any time after ingest/compaction."""
    import json as _json

    man = man or read_manifest(spark, path)
    res = man["key"]["resolution"]
    if levels is None:
        levels = [r for r in range(res - 2, -1, -2)]
        if not levels and res > 0:
            levels = [0]
    bad = [r for r in levels if not 0 <= r < res]
    if bad:
        raise ValueError(f"overview levels {bad} outside [0, {res - 1}]")
    blocks = read_blocks(spark, path)
    for r in sorted(set(levels), reverse=True):
        parent = parent_key_expr(r)
        rows = blocks.groupBy(parent.alias(BLOCK)).agg(
            F.sum("n_rows").alias("n_rows")
        )
        num = (
            blocks.select(parent.alias(BLOCK), F.explode("num_stats").alias("k", "v"))
            .groupBy(BLOCK, "k")
            .agg(
                F.min("v.min").alias("min"),
                F.max("v.max").alias("max"),
                F.sum("v.sum").alias("sum"),
                F.sum("v.sum_sq").alias("sum_sq"),
                F.sum("v.cnt").alias("cnt"),
            )
            .groupBy(BLOCK)
            .agg(
                F.map_from_entries(
                    F.collect_list(
                        F.struct(
                            F.col("k"),
                            F.struct("min", "max", "sum", "sum_sq", "cnt"),
                        )
                    )
                ).alias("num_stats")
            )
        )
        cat = (
            blocks.select(parent.alias(BLOCK), F.explode("cat_counts").alias("c", "m"))
            .select(BLOCK, "c", F.explode("m").alias("value", "n"))
            .groupBy(BLOCK, "c", "value")
            .agg(F.sum("n").alias("n"))
            .groupBy(BLOCK, "c")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("value", "n"))
                ).alias("m")
            )
            .groupBy(BLOCK)
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("c", "m"))
                ).alias("cat_counts")
            )
        )
        out = (
            rows.join(num, BLOCK, "left")
            .join(cat, BLOCK, "left")
            .repartitionByRange(1, BLOCK)
            .sortWithinPartitions(BLOCK)
        )
        out.write.mode("overwrite").parquet(_overview_dir(path, r))
    built = sorted(set(levels))
    from . import fsio

    fsio.write_bytes(
        spark, path, OVERVIEW_SIDECAR,
        _json.dumps({"levels": built, "resolution": res}).encode(),
    )
    return built


def overview_levels(spark: SparkSession, path: str) -> list[int]:
    import json as _json

    from . import fsio

    if not fsio.exists(spark, path, OVERVIEW_SIDECAR):
        return []
    return list(
        _json.loads(fsio.read_bytes(spark, path, OVERVIEW_SIDECAR))["levels"]
    )


def read_overview(spark: SparkSession, path: str, res: int) -> DataFrame:
    return spark.read.parquet(_overview_dir(path, res))


def rollup_stats_served(
    spark: SparkSession,
    path: str,
    man: dict,
    parent_res: int,
    stat_key: str,
) -> DataFrame:
    """rollup_stats through the smallest materialized overview level
    that can serve ``parent_res`` (stats are exactly mergeable, so
    serving from an overview is bit-identical to serving from blocks);
    falls back to the blocks table when no level qualifies."""
    usable = [r for r in overview_levels(spark, path) if r >= parent_res]
    if usable:
        src = read_overview(spark, path, min(usable))
    else:
        src = read_blocks(spark, path)
    return rollup_stats(src, man, parent_res, stat_key)
