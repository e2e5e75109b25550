"""The encode job: webtext DataFrame -> sorted table of encoded blocks.

Spark-first re-expression of the reference's ingestion table function
``read_raster`` (/root/reference/src/raster/read_raster.cpp:733-1593):
its phases map onto a declarative plan —

    reference (single-process C++)          this engine (Spark)
    --------------------------------        ------------------------------
    bind: tile grid + dataset stats         key_col() + choose_resolution
    per-thread tile queue                   shuffle by (block, salt):
                                              sorted-partition mapInArrow
    per-tile warp + gzip per band           per-block per-column codec
                                              auto-select (Arrow batches)
    empty-tile skip (:444-483)              .where() before encode
    metadata row emitted last (CAS :1488)   one _commit after all data:
                                              snapshot CAS, then manifest
                                              row + sidecar caches
    no skew handling (uniform grid)         explicit salt column splits
                                              oversized blocks

The only shuffle in the job is the repartition on (block, salt) (or on
the planned bin key, whose only join is a broadcast of the small
placement plan), matching the reference's design (SURVEY.md §2.3).
Skew: block keys are url-hash-spread, so hot *domains* do not create
hot blocks; hot *time buckets* (crawl bursts) can — the salt
splits any block above ``max_rows_per_block`` into independently encoded
sub-blocks that readers treat as row-groups of the same logical block.
"""

from __future__ import annotations

import json
import math
import os
import time
import uuid

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import blockkey as bk
from . import manifest as mf
from . import placement
from . import selector
from .xxh64 import to_signed64, xxh64, xxh64_str

BLOCK = "block"
SALT = "salt"
# lineage tag of the chunk split rule (blockkey.chunk_col); resume
# refuses chunks written under any other
CHUNK_SPLIT = "cells"

STATS_TYPE = T.StructType(
    [
        T.StructField("n_rows", T.LongType()),
        T.StructField("raw_bytes", T.LongType()),
        T.StructField("enc_bytes", T.LongType()),
        T.StructField("ts_min", T.LongType()),
        T.StructField("ts_max", T.LongType()),
    ]
)

NUM_STAT_TYPE = T.StructType(
    [
        T.StructField("min", T.LongType()),
        T.StructField("max", T.LongType()),
        T.StructField("sum", T.LongType()),
        T.StructField("sum_sq", T.DoubleType()),
        T.StructField("cnt", T.LongType()),
    ]
)

MAX_CAT_DISTINCT = 64


def blob_col(name: str) -> str:
    return f"{name}_blob"


def member_to_group(groups: dict[str, list[str]] | None) -> dict[str, str]:
    return {m: g for g, ms in (groups or {}).items() for m in ms}


def blocks_schema(
    columns: list[dict], groups: dict[str, list[str]] | None = None
) -> T.StructType:
    """Output schema: one binary payload column per encoded input column
    (fixed columns, not a map, so Parquet prunes untouched payloads —
    the reference's single-band-fetch property,
    /root/reference/docs/PERFORMANCE_COMPARISON.md:154-156). Columns in
    a column group share ONE interleaved blob (named after the group),
    emitted at the first member's position — the interleave_bands layout
    (ref band_encoder.cpp:333-352)."""
    m2g = member_to_group(groups)
    fields = [
        T.StructField(BLOCK, T.LongType(), False),
        T.StructField(SALT, T.IntegerType(), False),
        T.StructField("n_rows", T.LongType(), False),
    ]
    emitted: set[str] = set()
    for c in columns:
        g = m2g.get(c["name"])
        if g is None:
            # renamed columns keep their immutable physical payload name
            fields.append(
                T.StructField(blob_col(c.get("physical", c["name"])), T.BinaryType())
            )
        elif g not in emitted:
            emitted.add(g)
            fields.append(T.StructField(blob_col(g), T.BinaryType()))
    fields += [
        T.StructField("codecs", T.StringType()),
        T.StructField("stats", STATS_TYPE),
        T.StructField(
            "cat_counts", T.MapType(T.StringType(), T.MapType(T.StringType(), T.LongType()))
        ),
        T.StructField("num_stats", T.MapType(T.StringType(), NUM_STAT_TYPE)),
        T.StructField("metadata", T.StringType()),
        T.StructField("lineage", T.StringType()),
    ]
    return T.StructType(fields)


def columns_of(df: DataFrame) -> list[dict]:
    return columns_of_schema(df.schema)


def columns_of_schema(schema) -> list[dict]:
    cols = []
    for f in schema.fields:
        kind = selector.kind_of_spark_type(f.dataType.simpleString())
        cols.append({"name": f.name, "spark_type": f.dataType.simpleString(), "kind": kind})
    return cols


def _num_stat(vals: np.ndarray) -> dict:
    v = vals.astype(np.int64)
    return {
        "min": int(v.min()),
        "max": int(v.max()),
        "sum": int(v.sum()),
        "sum_sq": float(np.square(v.astype(np.float64)).sum()),
        "cnt": int(len(v)),
    }


def encode_block_arrow(
    tbl: "pa.Table",
    col_specs: list[tuple[str, str]],
    sort_cols: list[str],
    zlib_level: int,
    block: int,
    salt: int,
    ts_col: str | None,
    effort: str = selector.EFFORT_MAX,
    groups: dict[str, list[str]] | None = None,
) -> dict:
    """Encode one block's rows (an Arrow table) -> one output row dict.

    THE encode kernel for every path (partition encode, mask
    re-encode, compaction, streaming, the datasource writer). No
    pandas, no per-value Python objects: string/binary columns never
    leave Arrow buffers; numerics drop to numpy views. Rows are
    deterministically ordered (ts, url, nulls first) so re-encoding the
    same block yields identical bytes (resume idempotency) and
    timestamp deltas stay small.
    """
    import pyarrow.compute as pc

    idx = pc.sort_indices(
        tbl,
        sort_keys=[(c, "ascending") for c in sort_cols],
        null_placement="at_start",
    )
    tbl = tbl.take(idx)
    n = tbl.num_rows
    row: dict = {BLOCK: block, SALT: salt, "n_rows": n}
    codecs: dict[str, str] = {}
    cat_counts: dict[str, dict[str, int]] = {}
    num_stats: dict[str, dict] = {}
    raw_total = 0
    enc_total = 0
    ts_min = ts_max = None
    m2g = member_to_group(groups)
    pending: dict[str, dict[str, bytes]] = {}
    for name, kind, *rest in col_specs:
        force = rest[0] if rest else None
        col = tbl[name]
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        if name in m2g:
            # group member: cheap structural payload now, shared
            # compression once per group below
            payload, _, cstats = selector.encode_column_arrow(
                col, kind, zlib_level, force="plain"
            )
            pending.setdefault(m2g[name], {})[name] = payload
        else:
            payload, cname, cstats = selector.encode_column_arrow(
                col, kind, zlib_level, force=force, effort=effort
            )
            row[blob_col(name)] = payload
            codecs[name] = cname
            enc_total += len(payload)
        raw_total += cstats["raw_bytes"]
        if kind == selector.KIND_STRING:
            valid = col.drop_null()
            if len(valid):
                vc = pc.value_counts(valid)
                if 0 < len(vc) <= MAX_CAT_DISTINCT:
                    cat_counts[name] = {
                        str(f["values"]): int(f["counts"]) for f in vc.to_pylist()
                    }
                lens = pc.utf8_length(valid).to_numpy(zero_copy_only=False)
                num_stats[f"len_{name}"] = _num_stat(lens.astype(np.int64))
        elif kind == selector.KIND_INT:
            valid = col.drop_null()
            if len(valid):
                vals = valid.cast(pa.int64()).to_numpy(zero_copy_only=False)
                num_stats[name] = _num_stat(vals)
        elif kind == selector.KIND_TIMESTAMP:
            valid = col.drop_null()
            if len(valid):
                vals = (
                    valid.cast(pa.timestamp("us"))
                    .cast(pa.int64())
                    .to_numpy(zero_copy_only=False)
                )
                st = _num_stat(vals)
                num_stats[name] = st
                if ts_col and name == ts_col:
                    ts_min, ts_max = st["min"], st["max"]
    from .codecs import registry as _registry

    for g, members in (groups or {}).items():
        inners = [pending[g][m] for m in members]
        payload = _registry.encode_group(inners, zlib_level, effort)
        row[blob_col(g)] = payload
        cname = _registry.group_codec_name(payload)
        for m in members:
            codecs[m] = cname
        enc_total += len(payload)
    row["codecs"] = json.dumps(codecs, sort_keys=True)
    row["stats"] = {
        "n_rows": n,
        "raw_bytes": raw_total,
        "enc_bytes": enc_total,
        "ts_min": ts_min,
        "ts_max": ts_max,
    }
    row["cat_counts"] = cat_counts
    row["num_stats"] = num_stats
    row["metadata"] = None
    row["lineage"] = None
    return row


def sort_cols_for(columns: list[dict], url_col: str, ts_col: str | None) -> list[str]:
    names = {c["name"] for c in columns}
    return [c for c in (ts_col, url_col) if c and c in names] or [columns[0]["name"]]


def make_group_encode_fn(
    columns: list[dict], url_col: str, ts_col: str | None, zlib_level: int,
    effort: str = selector.EFFORT_MAX,
    groups: dict[str, list[str]] | None = None,
    threads: int = 1,
):
    """THE partition encoder, run via mapInArrow on every encode shape
    (see :func:`encode_table`): each partition arrives sorted by
    (block, salt) and holds every (block, salt) group whole, so the
    contiguous runs of one key are the encode groups — one output row
    per run, encoded by :func:`encode_block_arrow`, in run order.
    ``threads > 1`` (the driver's :func:`encode_rows` only) encodes the
    runs on one bounded pool (``placement.driver_map``)."""

    col_specs = [(c["name"], c["kind"], c.get("codec")) for c in columns]
    sort_cols = sort_cols_for(columns, url_col, ts_col)
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(blocks_schema(columns, groups))
    ROWS_PER_OUT_BATCH = 32

    def encode_run(run) -> dict:
        (block, salt), slices = run
        return encode_block_arrow(
            pa.Table.from_batches(slices), col_specs, sort_cols, zlib_level,
            block, salt, ts_col, effort, groups,
        )

    def encode_partition(batches):
        # the plan sorts each partition by (block, salt) JVM-side
        # (spillable sort), so groups arrive CONTIGUOUS and, serially,
        # this streams them: peak Python memory is one group's slices —
        # the same bound as the grouped-exec path — never the whole
        # partition (which grows with data/bins at scale)
        rows: list[dict] = []
        for row in placement.driver_map(encode_run, _group_runs(batches), threads):
            rows.append(row)
            if len(rows) >= ROWS_PER_OUT_BATCH:
                yield _rows_to_batch(rows, arrow_schema)
                rows = []
        if rows:
            yield _rows_to_batch(rows, arrow_schema)

    return encode_partition


def _group_runs(batches):
    """``((block, salt), slices)`` for each contiguous run of one key in
    (block, salt)-sorted batches: the encode groups, in order."""
    cur: tuple[int, int] | None = None
    slices: list["pa.RecordBatch"] = []
    for batch in batches:
        if batch.num_rows == 0:
            continue
        names = batch.schema.names
        b_np = batch.column(names.index(BLOCK)).to_numpy(zero_copy_only=False)
        s_np = batch.column(names.index(SALT)).to_numpy(zero_copy_only=False)
        changed = np.flatnonzero((b_np[1:] != b_np[:-1]) | (s_np[1:] != s_np[:-1])) + 1
        bounds = np.r_[0, changed, len(b_np)]
        for s, e in zip(bounds[:-1], bounds[1:]):
            key = (int(b_np[s]), int(s_np[s]))
            if key != cur:
                if slices:
                    yield cur, slices
                cur, slices = key, []
            slices.append(batch.slice(int(s), int(e - s)))
    if slices:
        yield cur, slices


def _rows_to_batch(rows: list[dict], arrow_schema) -> "pa.RecordBatch":
    arrays = [
        pa.array([r.get(f.name) for r in rows], type=f.type)
        for f in arrow_schema
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


def row_keys(tbl: "pa.Table", man: dict) -> np.ndarray:
    """Block key of every row of ``tbl`` under ``man``'s key geometry,
    in-process: the numpy twin of :func:`blockkey.key_col`, equal to it
    row for row. As in Spark, a NULL url hashes to the hash seed, a NULL
    timestamp keys as ``ts_origin`` (time cell 0) and epoch seconds
    truncate toward zero; the timestamp stays int64 throughout (a float
    round trip would turn a NULL into NaN and wrap into the last cell)."""
    key = man["key"]
    origin = key["ts_origin"]
    hx = np.fromiter(
        (42 if u is None else xxh64_str(u)
         for u in tbl.column(man["url_col"]).to_pylist()),
        dtype=np.uint64, count=tbl.num_rows,
    )
    ts_col = man["ts_col"]
    if ts_col is not None and ts_col in tbl.column_names:
        import pyarrow.compute as pc

        us = pc.fill_null(
            tbl.column(ts_col).cast(pa.timestamp("us")).cast(pa.int64()),
            origin * 1_000_000,
        ).to_numpy()
        secs = np.where(us < 0, -(-us // 1_000_000), us // 1_000_000)
    else:
        secs = np.zeros(tbl.num_rows, dtype=np.int64)
    return bk.keys_from_arrays(
        hx, secs, key["resolution"], key["bucket_seconds"], origin
    ).astype(np.int64)


def _hash_salts(urls: list, n_salt: int) -> np.ndarray:
    """``pmod(xxhash64(url, 7), n_salt)`` (encode_table's salt column)
    in-process: Spark chains the int 7 through XXH64 seeded with the
    url's hash. A driver-branch chunk can need it: an append sizes its
    salt count from the table's raw bytes per row, so a delta of rows
    smaller than the table's mean can get ``n_salt > 1`` under the
    16 MiB cap."""
    seven = (7).to_bytes(4, "little")
    return np.array(
        [to_signed64(xxh64(seven, 42 if u is None else xxh64_str(u))) % n_salt
         for u in urls],
        dtype=np.int32,
    )


def encode_rows(
    tbl: "pa.Table", man: dict, zlib_level: int = 6, salt: int | None = None,
    threads: int = 1,
) -> "pa.Table":
    """THE in-process encode: rows (an Arrow table) -> block rows (an
    Arrow table in (block, salt) order) under ``man``'s columns, column
    groups, effort and key geometry (:func:`_encode_spec`), by the
    partition encoder Spark runs (:func:`make_group_encode_fn`): the
    same input gives the same payload bytes on both paths. ``salt`` is
    a map-only writer's constant salt (the datasource's partition id);
    ``None`` salts as :func:`encode_table`'s hash shuffle does (0 while
    the manifest's ``n_salt`` is 1). ``threads`` is the driver plane's
    pool size (``placement.driver_threads``); executors keep 1."""
    keys = row_keys(tbl, man)
    n_salt = man["key"]["n_salt"]
    if salt is not None or n_salt == 1:
        salts = np.full(tbl.num_rows, salt or 0, dtype=np.int32)
    else:
        salts = _hash_salts(tbl.column(man["url_col"]).to_pylist(), n_salt)
    order = np.lexsort((salts, keys))
    tbl = (
        tbl.take(pa.array(order))
        .append_column(BLOCK, pa.array(keys[order]))
        .append_column(SALT, pa.array(salts[order]))
    )
    groups = man.get("column_groups")
    encode = make_group_encode_fn(
        man["columns"], man["url_col"], man["ts_col"], zlib_level,
        man.get("effort", selector.EFFORT_MAX), groups, threads,
    )
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.Table.from_batches(
        list(encode(tbl.to_batches())),
        schema=to_arrow_schema(blocks_schema(man["columns"], groups)),
    )


def _block_figures(blocks: "pa.Table") -> dict:
    """The figures (``FIGURES``) of encoded block rows, from their
    ``n_rows``/``stats``/``codecs`` columns — what
    :func:`_aggregate_written` recounts from a written chunk."""
    return _sum_figures(
        {
            "blocks": 1,
            "rows": r["n_rows"],
            "raw_bytes": r["stats"]["raw_bytes"],
            "enc_bytes": r["stats"]["enc_bytes"],
            "codec_histogram": {
                c: {codec: 1} for c, codec in json.loads(r["codecs"]).items()
            },
        }
        for r in blocks.select(["n_rows", "stats", "codecs"]).to_pylist()
    )


def bind_stats(
    df: DataFrame, *, ts_col: str | None = None, raw: bool = True
) -> tuple[int, int | None, tuple[int, int] | None]:
    """One column-pruned job: ``(rows, raw_bytes, ts_range)``.

    ``raw_bytes`` counts what :func:`encode_block_arrow` records in
    ``stats.raw_bytes``: the byte length of every string/binary value
    plus 8 bytes per fixed-width value, so the estimate is exact for
    file scans and in-memory frames alike (``None`` unless ``raw``).
    ``ts_range`` is ``ts_col``'s (min, max) epoch (``None`` without
    ``ts_col``). On Iceberg these come free from table and column
    metadata.

    The aggregates are observed metrics of one ``noop`` write, so the
    scan stays parallel and no exchange runs: a global aggregate is
    two jobs under AQE (its shuffle stage, then the final stage)."""
    from pyspark.sql import Observation

    aggs = [F.count(F.lit(1))]
    if raw:
        var, fixed = [], 0
        for c in columns_of(df):
            if c["kind"] in (selector.KIND_STRING, selector.KIND_BINARY):
                var.append(F.coalesce(F.octet_length(F.col(c["name"])), F.lit(0)))
            else:
                fixed += 8
        aggs.append(F.sum(sum(var, F.lit(fixed).cast("long"))))
    if ts_col is not None:
        aggs += [F.min(F.unix_timestamp(ts_col)), F.max(F.unix_timestamp(ts_col))]
    obs = Observation(f"bind_stats_{uuid.uuid4().hex}")
    (
        df.observe(obs, *[a.alias(f"_a{i}") for i, a in enumerate(aggs)])
        .select(F.lit(0).alias("_"))
        .write.format("noop").mode("overwrite").save()
    )
    got = obs.get
    r = [got[f"_a{i}"] for i in range(len(aggs))]
    rows = int(r[0])
    raw_bytes = int(r[1] or 0) if raw else None
    ts_range = (int(r[-2] or 0), int(r[-1] or 0)) if ts_col is not None else None
    return rows, raw_bytes, ts_range


def _encode_spec(
    columns: list[dict],
    *,
    url_col: str,
    ts_col: str | None,
    resolution: int | None = None,
    bucket_seconds: int = bk.DEFAULT_BUCKET_SECONDS,
    est_rows: int,
    est_raw_bytes: int | None = None,
    ts_range: tuple[int, int] | None = None,
    target_rows_per_block: int | None = None,
    max_rows_per_block: int | None = None,
    codec_overrides: dict[str, str] | None = None,
    effort: str = selector.EFFORT_MAX,
    column_groups: list[list[str]] | None = None,
    shuffle: str = "hash",
    _ts_key: tuple[int, int] | None = None,
) -> tuple[dict, int, int]:
    """What an encode writes, from the input's columns and size alone:
    ``(manifest, rows per cell, salt cap in rows)``. The manifest holds
    the validated column specs (codec overrides applied), the column
    groups, the key geometry and the ``avg`` salt count; both encoders,
    :func:`encode_table`'s Spark plan and :func:`encode_rows`, encode
    under it. No Spark job: the caller supplies ``est_rows`` (and
    ``est_raw_bytes`` for the byte rule) and, for a time key not pinned
    by ``_ts_key``, ``ts_range``. See :func:`encode_table`."""
    columns = [dict(c) for c in columns]
    names = {c["name"] for c in columns}
    if url_col not in names:
        raise ValueError(f"url_col {url_col!r} not in {sorted(names)}")
    if shuffle not in ("hash", "none"):
        raise ValueError(f"shuffle must be 'hash' or 'none', got {shuffle!r}")
    groups: dict[str, list[str]] | None = None
    if column_groups:
        groups = {}
        seen: set[str] = set()
        for members in column_groups:
            if len(members) < 2:
                raise ValueError("a column group needs >= 2 members")
            for m in members:
                if m not in names:
                    raise ValueError(f"group member {m!r} not a column")
                if m in seen:
                    raise ValueError(f"column {m!r} in more than one group")
                if codec_overrides and m in codec_overrides:
                    raise ValueError(
                        f"column {m!r} cannot have both a codec override "
                        "and a group (the group owns its compression)"
                    )
                seen.add(m)
            groups["+".join(members)] = list(members)
    if codec_overrides:
        # explicit per-column codec, the reference encoder's `compression`
        # parameter re-expressed per column (read_raster named param,
        # /root/reference/src/raster/read_raster.cpp:733-1100); recorded
        # in the manifest so mask/streaming re-encodes honor it too
        unknown = set(codec_overrides) - names
        if unknown:
            raise ValueError(f"codec_overrides for unknown columns {sorted(unknown)}")
        for c in columns:
            if c["name"] in codec_overrides:
                selector.validate_override(c["kind"], codec_overrides[c["name"]])
                c["codec"] = codec_overrides[c["name"]]
    if ts_col is not None and ts_col not in names:
        ts_col = None
    if target_rows_per_block is None:
        # the byte rule, and the one rows-per-cell figure it implies
        amount, per_cell = est_raw_bytes, bk.TARGET_CELL_BYTES
        target_rows_per_block = max(1, est_rows * per_cell // max(1, est_raw_bytes))
    else:
        amount, per_cell = est_rows, target_rows_per_block
    if max_rows_per_block is None:
        max_rows_per_block = 4 * target_rows_per_block
    res = (
        resolution
        if resolution is not None
        else bk.choose_resolution(amount, per_cell)
    )
    if _ts_key is not None:
        ts_origin, eff_bucket = _ts_key
    elif ts_col is None:
        ts_origin, eff_bucket = 0, bucket_seconds
    else:
        ts_origin, eff_bucket = bk.ts_params(
            ts_range[0], ts_range[1], res, bucket_seconds
        )
    n_salt = max(1, math.ceil(est_rows / 4**res / max_rows_per_block))
    man = mf.build_manifest(
        columns=columns,
        resolution=res,
        bucket_seconds=eff_bucket,
        ts_origin=ts_origin,
        url_col=url_col,
        ts_col=ts_col,
        n_salt=n_salt,
        extra={"effort": effort, "column_groups": groups, "shuffle": shuffle},
    )
    return man, target_rows_per_block, max_rows_per_block


def encode_table(
    df: DataFrame,
    *,
    url_col: str = "url",
    ts_col: str | None = "warc_ts",
    resolution: int | None = None,
    bucket_seconds: int = bk.DEFAULT_BUCKET_SECONDS,
    est_rows: int | None = None,
    est_raw_bytes: int | None = None,
    ts_range: tuple[int, int] | None = None,
    target_rows_per_block: int | None = None,
    max_rows_per_block: int | None = None,
    zlib_level: int = 6,
    chunk: tuple[int, int] | None = None,
    num_partitions: int | None = None,
    codec_overrides: dict[str, str] | None = None,
    effort: str = selector.EFFORT_MAX,
    column_groups: list[list[str]] | None = None,
    shuffle: str = "hash",
    salt_mode: str = "avg",
    _ts_key: tuple[int, int] | None = None,
) -> tuple[DataFrame, dict]:
    """Lazy encode plan: input rows -> one row per (block, salt).

    Geometry: by default the resolution is the smallest at which each
    cell holds at most ``blockkey.TARGET_CELL_BYTES`` (4 MiB) of raw
    bytes, from ``est_raw_bytes`` (``bind_stats`` runs when it or
    ``est_rows`` is missing). That yields one rows-per-cell figure,
    ``est_rows * 4 MiB / est_raw_bytes``, which also sizes the salt cap
    (``max_rows_per_block`` defaults to 4x it, 16 MiB raw) and the
    planned-placement gate (>= 64 cells' worth of rows). Blocks of ~2 MB
    keep every encode, mask and read parallel across cells; 65,536-row
    blocks (the reference tile's pixel count) are 86-140 MB of webtext,
    one serial task. An explicit ``target_rows_per_block`` replaces that
    figure and keeps row semantics.

    ``salt_mode`` picks how the salt fan-out is sized. ``"avg"``
    (default) divides the row estimate by the cell count — free, and
    right whenever the key dimensions spread the data (url-hash always
    does). ``"sampled"`` runs one cheap sample aggregation (<=100k
    sampled rows, one narrow shuffle of key counts) to estimate the
    HOTTEST cell and sizes n_salt so even that cell's encode group
    stays under ``max_rows_per_block`` — the explicit skew lever for
    crawl-burst time buckets, where the average is small but one cell
    holds a large share of the corpus and would otherwise become a
    straggler group of unbounded memory. Estimate is sampling-based
    (±error at 100k samples is a few percent); n_salt is rounded up.

    ``shuffle`` picks how rows reach their encode group: ``"hash"``
    (default) is one hash repartition on (block, salt) — every block's
    rows are co-located, one encoded row per (block, salt); heavy
    max-effort jobs instead repartition on a planned ``_px`` key that
    LPT-packs the groups into byte-near-equal bins. ``"none"`` is the
    map-only path: no exchange, zero raw-byte shuffle, salt = input
    partition id, K× more (smaller) block rows when K partitions touch
    a cell. That trades ratio (blobs ~K× smaller, toward the small-blob
    regime) for the shuffle — right when the input is already clustered
    by the key dimensions (an Iceberg table partitioned by crawl date),
    wrong for uniformly random input at high resolution.

    Every shape then sorts each partition by (block, salt) and encodes
    it with the one streaming partition encoder
    (:func:`make_group_encode_fn`). Returns (blocks_df, unfinalized
    manifest); the encoded rows come out hash-placed, and
    :func:`write_blocks` restores global block order on them (row-group
    pruning needs it; the reference's ORDER BY block, README.md:259-261).
    ``ts_range`` = (min_epoch, max_epoch) skips the bind-time min/max
    scan of the timestamp column. ``chunk`` = (k, n_chunks) restricts
    the plan to one contiguous range of cells (``blockkey.chunk_col``)
    before the shuffle (checkpoint-resume granule). ``_ts_key`` =
    (ts_origin, bucket) is an existing table's time key, used as is.
    """
    columns = columns_of(df)
    if target_rows_per_block is None:
        if est_rows is None or est_raw_bytes is None:
            est_rows, est_raw_bytes, _ = bind_stats(df)
    elif est_rows is None:
        est_rows = df.count()
    timed = ts_col is not None and ts_col in {c["name"] for c in columns}
    if _ts_key is None and timed and ts_range is None:
        r = df.agg(
            F.min(F.unix_timestamp(ts_col)), F.max(F.unix_timestamp(ts_col))
        ).first()
        ts_range = (int(r[0] or 0), int(r[1] or 0))
    man, target_rows_per_block, max_rows_per_block = _encode_spec(
        columns,
        url_col=url_col,
        ts_col=ts_col,
        resolution=resolution,
        bucket_seconds=bucket_seconds,
        est_rows=est_rows,
        est_raw_bytes=est_raw_bytes,
        ts_range=ts_range,
        target_rows_per_block=target_rows_per_block,
        max_rows_per_block=max_rows_per_block,
        codec_overrides=codec_overrides,
        effort=effort,
        column_groups=column_groups,
        shuffle=shuffle,
        _ts_key=_ts_key,
    )
    columns, groups, ts_col = man["columns"], man["column_groups"], man["ts_col"]
    key_geo = man["key"]
    res, eff_bucket, ts_origin = (
        key_geo["resolution"], key_geo["bucket_seconds"], key_geo["ts_origin"]
    )
    cells = 4**res
    key = bk.key_col(
        F.col(url_col),
        F.col(ts_col) if ts_col else None,
        res,
        eff_bucket,
        ts_origin,
    )
    if salt_mode == "sampled":
        frac = min(1.0, 100_000 / max(est_rows, 1))
        hot = (
            df.sample(fraction=frac, seed=42)
            .select(key)
            .groupBy(BLOCK)
            .count()
            .agg(F.max("count"))
            .first()[0]
            or 0
        )
        est_max_cell = int(hot / frac)
        key_geo["n_salt"] = max(1, math.ceil(est_max_cell / max_rows_per_block))
    elif salt_mode != "avg":
        raise ValueError(f"salt_mode must be 'avg' or 'sampled', got {salt_mode!r}")
    n_salt = key_geo["n_salt"]
    salt = (
        F.pmod(F.xxhash64(F.col(url_col), F.lit(7)), F.lit(n_salt)).cast("int")
        if n_salt > 1
        else F.lit(0).cast("int")
    )
    keyed = df.withColumn(BLOCK, key).withColumn(SALT, salt)
    if chunk is not None:
        k, n_chunks = chunk
        y = (
            bk.y_col_from_ts(F.col(ts_col), res, eff_bucket, ts_origin)
            if ts_col
            else F.lit(0)
        )
        x = bk.x_col_from_url(F.col(url_col))
        keyed = keyed.where(bk.chunk_col(x, y, res, n_chunks) == k)

    spark = df.sparkSession
    if shuffle == "none":
        # map-only: no exchange; each input partition encodes its own
        # sub-row of every block it touches (salt = partition id)
        keyed = keyed.withColumn(SALT, F.spark_partition_id())
    else:
        p = max(2, spark.sparkContext.defaultParallelism)
        # Group placement. Hashing (block, salt) keys into p partitions
        # leaves the codec-bound encode stage straggler-bound: group
        # sizes are Zipf-ish (hot cells ~8x the median rows) and
        # balls-into-bins stacking adds to it — measured max/median
        # task time 1.73 on the 2.6 GB table, ~65% core efficiency.
        # Merely oversampling the width does NOT pay (~0.1 s per-task
        # Python-exec overhead outgrows the balance win; measured flat
        # 19-22 s across n_parts 32..1024, and 2.4 s -> 5.8 s at
        # fast effort). Instead, when the job is heavy enough and the
        # key space enumerable, spend one narrow pre-pass on per-group
        # row counts and LPT-pack groups into byte-near-equal bins at
        # their exact shuffle partitions (placement.plan). Guide §8:
        # decide placement with small rows, move the payload bytes
        # once. Light jobs (deltas, micro-batches) and huge key spaces
        # (driver-metadata bound) keep the plain hash placement.
        planned = (
            num_partitions is None
            and effort == selector.EFFORT_MAX  # bz2-led kernel: ~1.5 s per
            # median group, where balance dominates; at fast effort the
            # zstd-led groups are ~10x cheaper and the pre-pass +
            # per-task overhead outweigh the balance win (measured:
            # noop-isolated fast encode 4.4-6.2 s groupBy vs 5.6-6.5 s
            # planned; max-effort stage 20.5 s -> 14.5 s planned) —
            # the decode rebalance's codec-gate rationale
            and cells * n_salt <= 65536  # driver-metadata bound
            and est_rows >= 64 * target_rows_per_block  # pre-pass ≪ encode
        )
        # 2 waves of byte-equal bins: one wave leaves the wall hostage
        # to a single slow bin (measured 16.0-24.6 s noop-isolated vs
        # 13.3-14.3 s at 2x), four pay ~0.1 s/task Python-exec overhead
        # for insurance the LPT packing no longer needs (14.6-15.3 s)
        n_parts = 2 * p
        px = (
            placement.plan(keyed, [BLOCK, SALT], F.lit(1), n_parts, cap=65536)
            if planned
            else None
        )
        if px is not None:
            # left join: a group the pre-pass missed (impossible for a
            # deterministic source) still encodes, placed arbitrarily
            keyed = keyed.join(
                F.broadcast(px), on=[BLOCK, SALT], how="left"
            ).repartition(n_parts, "_px")
        else:
            # hash repartition — NOT repartitionByRange, whose boundary
            # sampling executes the whole child an extra time (a full
            # input scan here); global block order is restored cheaply
            # on the encoded rows in write_blocks, ~5x smaller than input
            keyed = keyed.repartition(num_partitions or p, BLOCK, SALT)
    # JVM-side (spillable) per-partition sort, so the Python encoder
    # STREAMS contiguous groups: peak Python memory is one group, never
    # a whole partition (which grows with data/bins at scale)
    blocks = keyed.sortWithinPartitions(BLOCK, SALT).mapInArrow(
        make_group_encode_fn(columns, url_col, ts_col, zlib_level, effort, groups),
        schema=blocks_schema(columns, groups),
    )

    return blocks, man


# ----------------------------------------------------------------- write ----
#
# Every table write lands its data files first and then commits exactly
# once, through _commit: the snapshot CAS is the commit point, and the
# manifest row and the sidecar are caches rewritten after it (the
# reference's metadata-row-last CAS, read_raster.cpp:1488).


def _data_path(path: str) -> str:
    return os.path.join(path, "data")


def _refuse_flat(spark, path: str, snap: dict | None) -> None:
    """The one write-side test for the legacy flat layout (data files
    directly under ``data/``, no ``chunk`` partition): tables from
    before the snapshot log, and tables whose snapshot says ``layout:
    flat``. They stay readable but are read-only — every writer calls
    this with the snapshot it builds on, before any file changes.
    fsio listing, not a local glob, so object stores answer too."""
    from . import fsio

    if snap is not None:
        flat = snap.get("layout") == "flat"
    else:
        flat = any(
            f.endswith(".parquet")
            for f in fsio.list_files(spark, _data_path(path))
        )
    if flat:
        raise ValueError(
            f"{path} is a legacy flat table (data files directly under "
            "data/) and is read-only; rewrite it into a new path with "
            "scan.compact_to_path to get a writable copy"
        )


def _writable_base(spark, path: str) -> tuple[dict, dict | None]:
    """(manifest, snapshot) a table write builds on, from
    ``mf.committed_manifest``; refuses a missing or legacy flat table."""
    man, snap = mf.committed_manifest(path, spark)
    if man is None:
        raise FileNotFoundError(f"no committed manifest at {path}")
    _refuse_flat(spark, path, snap)
    return man, snap


def _claim_chunk(
    spark, path: str, snap: dict | None, batch: list | None = None
) -> int:
    """Claim a chunk id EXCLUSIVELY before any data write: two racing
    writers that saw the same table would otherwise both overwrite
    ``data/chunk=<k>`` — the snapshot CAS protects metadata, but the
    loser's in-flight overwrite could clobber the winner's committed
    files. The claim is the lineage filename itself (create-or-fail,
    like the snapshot CAS); the writer overwrites it with the real
    record after the data lands, and a crash in between burns the id
    exactly like a lost snapshot CAS does.

    Ids start past every claimed lineage id AND every chunk of
    ``snap``: a table written without lineage records (the datasource
    writer) still has its chunks skipped. ``batch`` (a streaming
    ``[checkpoint_dir, batch_id]``) is stored in the claim; a claim or
    record carrying the same ``batch`` is returned as is, so a replayed
    micro-batch rewrites its own chunk instead of adding a copy."""
    from . import fsio

    if batch is not None:
        claimed = mf.read_chunk_lineage(path, spark, include_claims=True)
        for k, rec in claimed.items():
            if rec.get("batch") == batch:
                return k
    ids = mf.lineage_ids(path, spark)
    k = 1 + max([*ids, *(snap["chunks"] if snap else [])], default=-1)
    while True:
        try:
            fsio.write_bytes_exclusive(
                spark,
                mf.lineage_dir(path),
                f"chunk-{k:05d}.json",
                json.dumps(
                    {"chunk": k, "claimed": True, **({"batch": batch} if batch else {})}
                ).encode(),
            )
            return k
        except FileExistsError:
            k += 1


def _visible_chunks(spark, path: str, snap: dict | None) -> list[int]:
    """Chunk ids visible at ``snap``; a pre-log table (``None``) sees
    every completed lineage chunk."""
    if snap is not None:
        return sorted(int(c) for c in snap["chunks"])
    return sorted(mf.read_chunk_lineage(path, spark))


def _write_data(blocks: DataFrame, dest: str, n_files: int | None) -> None:
    """Overwrite ``dest`` with encoded blocks — the one data write.

    ``n_files`` range-partitions + in-file sorts the ENCODED rows into
    that many globally block-ordered files (file- and row-group-level
    min/max pruning, the reference's ORDER BY block,
    README.md:259-261). The range sampler executes the child plan a
    second time, so the blocks are persisted MEMORY_AND_DISK for the
    duration — the job's one cluster-memory pressure point.

    ``None`` is the memory-hardened write: each task streams its
    partition straight to its own file — no persist, no second pass,
    no exchange after the encode shuffle. Files keep only per-task
    locality, so scans prune at row-group rather than file granularity
    until :func:`scan.compact_to_path` rewrites the canonical sorted
    layout (bit-identical blocks)."""
    if n_files is None:
        blocks.sortWithinPartitions(BLOCK, SALT).write.mode("overwrite").parquet(dest)
        return
    from pyspark import StorageLevel

    blocks = blocks.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        (
            blocks.repartitionByRange(n_files, BLOCK, SALT)
            .sortWithinPartitions(BLOCK, SALT)
            .write.mode("overwrite")
            .parquet(dest)
        )
    finally:
        blocks.unpersist()


# A chunk's figures, as its lineage record carries them; a commit's
# manifest totals are their sum over the commit's chunk set.
FIGURES = ("blocks", "rows", "raw_bytes", "enc_bytes", "codec_histogram")


def _sum_figures(records) -> dict:
    """Sum figure records (``FIGURES`` keys): counts add, and codec
    histograms add per column and codec. The one summing rule for
    chunk records, task stats and block rows."""
    out = {k: 0 for k in FIGURES if k != "codec_histogram"}
    hist: dict[str, dict[str, int]] = {}
    for r in records:
        for k in out:
            out[k] += int(r[k] or 0)
        for col, codecs in r["codec_histogram"].items():
            h = hist.setdefault(col, {})
            for codec, n in codecs.items():
                h[codec] = h.get(codec, 0) + int(n)
    out["codec_histogram"] = hist
    return out


def _aggregate_written(
    spark: SparkSession, path: str, visible_chunks: list[int]
) -> dict:
    """The figures (``FIGURES``) of the blocks written in
    ``visible_chunks``, recounted from their stats/codecs columns
    (payloads pruned) in one job: grouping by the codecs JSON (few
    distinct combos) yields the counts and the codec histogram.
    :func:`_write_chunk` runs it over its one new chunk, and
    :func:`_chunk_totals` over chunks whose lineage record lacks
    figures.

    The schema is declared, not inferred from a footer, and only the
    ``visible_chunks`` dirs are listed: inference opens the first
    listed file, and a listing of all of ``data/`` walks
    ``data/chunk=-1``, which a concurrent commit deletes and rewrites,
    and other writers' chunk dirs while they are being written."""
    fields = [
        T.StructField(BLOCK, T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("codecs", T.StringType()),
        T.StructField("stats", STATS_TYPE),
        T.StructField("chunk", T.IntegerType()),
    ]
    data = _data_path(path)
    rows = (
        spark.read.schema(T.StructType(fields))
        .option("basePath", data)
        .parquet(*[os.path.join(data, f"chunk={int(c)}") for c in visible_chunks])
        .where(F.col(BLOCK) != bk.MANIFEST_BLOCK)
        .groupBy("codecs")
        .agg(
            F.count("*").alias("blocks"),
            F.sum("n_rows").alias("rows"),
            F.sum("stats.raw_bytes").alias("raw_bytes"),
            F.sum("stats.enc_bytes").alias("enc_bytes"),
        )
        .collect()
    )
    return _sum_figures(
        {
            **r.asDict(),
            "codec_histogram": {
                col: {codec: r["blocks"]}
                for col, codec in json.loads(r["codecs"]).items()
            },
        }
        for r in rows
    )


def _chunk_totals(
    spark: SparkSession | None, path: str, chunks: list[int]
) -> tuple[dict, dict]:
    """A commit's manifest totals and codec histogram: the sum of the
    lineage records of exactly ``chunks``, the chunk set it commits —
    Iceberg's snapshot summary rule, with no table scan. Chunks whose
    record lacks figures (tables written before records carried them)
    are recounted by one :func:`_aggregate_written` over just those
    dirs. Returns ``(totals, hist)`` for ``mf.finalize_manifest``."""
    lin = mf.read_chunk_lineage(path, spark, chunks=chunks)
    recs, missing = [], []
    for c in sorted(int(c) for c in chunks):
        rec = lin.get(c, {})
        if all(k in rec for k in FIGURES):
            recs.append(rec)
        else:
            missing.append(c)
    if missing:
        recs.append(_aggregate_written(spark, path, missing))
    fig = _sum_figures(recs)
    totals = {
        "num_blocks": fig["blocks"],
        "num_rows": fig["rows"],
        "raw_bytes": fig["raw_bytes"],
        "enc_bytes": fig["enc_bytes"],
    }
    return totals, fig["codec_histogram"]


def _append_manifest_row(spark, dest: str, man: dict) -> None:
    # written driver-side with pyarrow into the committed data dir: a
    # 1-row DataFrame write costs a whole Spark job (scheduling + commit
    # protocol), measurable against the encode wall at cluster sizes.
    # The bytes route through fsio — plain paths hit the local FS, any
    # ``scheme://`` path goes through the Hadoop FileSystem API, so the
    # manifest-last invariant holds on object stores too.
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from . import fsio

    arrow_schema = to_arrow_schema(
        blocks_schema(man["columns"], man.get("column_groups"))
    )
    values = {
        BLOCK: bk.MANIFEST_BLOCK,
        SALT: 0,
        "n_rows": 0,
        "metadata": mf.to_json(man),
    }
    tbl = pa.table(
        {f.name: [values.get(f.name)] for f in arrow_schema},
        schema=arrow_schema,
    )
    sink = pa.BufferOutputStream()
    pq.write_table(tbl, sink)
    fsio.write_bytes(
        spark, dest, "part-manifest-row.parquet", sink.getvalue().to_pybytes()
    )


def _commit(
    spark: SparkSession | None,
    path: str,
    final: dict,
    *,
    chunks: list[int],
    op: str,
    parent: dict | None,
    extra: dict | None = None,
) -> tuple[dict, dict]:
    """Commit one table write: every writer's single commit step, run
    after all of its data files have landed.

    1. If ``parent`` already records this exact commit (same ``op``,
       chunk set and manifest apart from ``created_unix``), it is the
       commit: a resumed encode or a replayed streaming batch claims
       nothing new. Two metadata ops never match — their manifests
       differ.
    2. Claim snapshot ``parent + 1`` by exclusive create — the CAS.
       ``parent`` is the snapshot the caller built its manifest and
       chunk set from (``None``: it saw no log), so a writer that
       committed since makes this raise ConcurrentCommitError before
       any shared file changes. The snapshot embeds the manifest and
       the live delete-file list.
    3. Only then rewrite the caches from the committed manifest: the
       manifest row (overwriting ``data/chunk=-1``) and the sidecar.
       Re-running an operation that crashed between 2 and 3 heals them.

    ``spark=None`` works for local paths. Returns (manifest, snapshot)."""
    from . import fsio

    chunks = sorted(int(c) for c in chunks)

    def bare(m: dict) -> dict:
        return {k: v for k, v in m.items() if k != "created_unix"}

    if (
        parent is not None
        and parent["op"] == op
        and [int(c) for c in parent["chunks"]] == chunks
        and isinstance(parent.get("manifest"), dict)
        and bare(parent["manifest"]) == bare(json.loads(mf.to_json(final)))
    ):
        snap = parent
        final = parent["manifest"]
    else:
        extra = dict(extra or {}, manifest=final)
        # the live delete list rides in EVERY snapshot, so reads at any
        # id (and expire_snapshots) never walk to an older commit
        if final.get("delete_files"):
            extra["delete_files"] = final["delete_files"]
        snap = mf.make_snapshot(
            snapshot_id=(parent["snapshot_id"] + 1) if parent else 0,
            chunks=chunks,
            op=op,
            parent_id=parent["snapshot_id"] if parent else None,
            num_rows=final.get("num_rows"),
            enc_bytes=final.get("enc_bytes"),
            extra=extra,
        )
        mf.write_snapshot(path, snap, spark)
    row_dir = os.path.join(_data_path(path), "chunk=-1")
    fsio.delete_dir(spark, row_dir)
    _append_manifest_row(spark, row_dir, final)
    mf.write_sidecar(path, final, spark)
    return final, snap


def _write_chunk(
    spark: SparkSession, path: str, k: int, blocks, n_files: int | None,
    **extra,
) -> dict:
    """Land chunk ``k`` — the one place a chunk is written: an
    idempotent overwrite of ``data/chunk=<k>`` (re-running it after a
    mid-write crash can never duplicate rows), then its lineage record,
    strictly after the data. ``extra`` adds the writer's own fields
    (``appended``, ``batch``, ...). Returns the record.

    ``blocks`` is a Spark plan (written by :func:`_write_data`; one
    aggregate job over this chunk's dir yields the record's figures,
    ``FIGURES``) or, from a driver branch, encoded block rows in an
    Arrow table in (block, salt) order: the dir is cleared and the rows
    land as the block-ordered files :func:`_write_data` would cut them
    into (:func:`_range_cuts`; one file for ``n_files=None``), each
    through a temp name and a rename, their figures taken from the
    rows, with no Spark job. Either way the dir holds only this write's
    files, whichever branch wrote it before. The record's ``writer``
    says which branch ran (``"spark"`` or ``"driver"``); every commit
    over the chunk sums its totals from the record
    (:func:`_chunk_totals`)."""
    t0 = time.time()
    dest = os.path.join(_data_path(path), f"chunk={k}")
    if isinstance(blocks, pa.Table):
        import pyarrow.parquet as pq

        from . import fsio

        fsio.delete_dir(spark, dest)
        os.makedirs(dest)
        cuts = _range_cuts(blocks.num_rows, n_files or 1)
        for i, (lo, hi) in enumerate(zip(cuts[:-1], cuts[1:])):
            tmp = os.path.join(dest, f".part-{i:05d}.parquet.tmp")
            pq.write_table(blocks.slice(lo, hi - lo), tmp)
            os.replace(tmp, os.path.join(dest, f"part-{i:05d}.parquet"))
        figures, writer = _block_figures(blocks), "driver"
    else:
        _write_data(blocks, dest, n_files)
        figures, writer = _aggregate_written(spark, path, [k]), "spark"
    rec = {
        "chunk": k,
        **figures,
        "wall_seconds": round(time.time() - t0, 3),
        "writer": writer,
        **extra,
    }
    mf.write_chunk_lineage(path, k, rec, spark)
    return rec


def _range_cuts(m: int, n: int) -> list[int]:
    """File boundaries, as row offsets, for ``m`` sorted block rows
    written as :func:`_write_data`'s ``repartitionByRange(n)`` writes
    them: Spark's range bounds over a fully sampled input of distinct
    keys (``RangePartitioner.determineBounds``, every row of weight 1),
    with no file for an empty range and one file for no rows."""
    step = m / n
    target, cuts = step, [0]
    for i in range(1, m + 1):
        if len(cuts) == n:
            break
        if i >= target:
            cuts.append(i)
            target += step
    if cuts[-1] != m or m == 0:
        cuts.append(m)
    return cuts


def _write_on_driver(
    raw_bytes: int, rows: int, resolution: int, parallelism: int,
    effort: str, *, decode: bool = False,
) -> bool:
    """The driver-side write gate of :func:`encode_to_path`,
    :func:`append_chunk` and :func:`compact_chunks`: True when encoding
    ``rows`` rows of ``raw_bytes`` raw bytes (and, for a compaction,
    ``decode`` decoding them first) takes no longer in the driver than
    as a Spark write (``placement.driver_gate``, at most 16 MiB). The
    one-core kernel time is ``raw_bytes / R_ENC[effort]`` (plus
    ``/ R_DEC``), split into ``min(4^resolution, rows)`` encode groups
    that both sides run in parallel. The driver alone keys the rows
    (``T_KEY`` each) and, unless the rows come from its own decode,
    collects them (``R_COLLECT``); the plan pays ``F_WRITE``."""
    kernel_s = raw_bytes / placement.R_ENC.get(effort, placement.R_ENC["max"])
    local_s = rows * placement.T_KEY
    if decode:
        kernel_s += raw_bytes / placement.R_DEC
    else:
        local_s += raw_bytes / placement.R_COLLECT
    return placement.driver_gate(
        "write", raw_bytes=raw_bytes, rows=rows,
        units=min(4**resolution, rows), parallelism=parallelism,
        kernel_s=kernel_s, fixed_s=placement.F_WRITE, local_s=local_s,
    )


def write_blocks(blocks: DataFrame, path: str, man: dict) -> dict:
    """Write a fresh one-chunk table: the blocks into ``data/chunk=0``
    as globally block-ordered files, its lineage record, then its one
    commit — the reference's metadata-row-after-all-data invariant,
    distributed. A reused path must be cleared first
    (``scan.compact_to_path`` and ``scan.purge_deletes`` do)."""
    spark = blocks.sparkSession
    parent = mf.current_snapshot(path, spark)
    n_files = max(2, spark.sparkContext.defaultParallelism)
    _write_chunk(spark, path, 0, blocks, n_files, split=CHUNK_SPLIT)
    totals, hist = _chunk_totals(spark, path, [0])
    final = mf.finalize_manifest(man, codec_histogram=hist, **totals)
    final, _ = _commit(spark, path, final, chunks=[0], op="encode", parent=parent)
    return final


def encode_to_path(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    *,
    chunks: int = 1,
    resume: bool = False,
    url_col: str = "url",
    ts_col: str | None = "warc_ts",
    **kwargs,
) -> dict:
    """End-to-end encode job with chunked checkpoint-resume.

    Every table is chunked: chunk ``k`` lands in ``data/chunk=<k>``,
    each independently written and followed by its lineage record
    (rows, bytes, wall seconds), and the encode commits once over
    ``chunks`` 0..n-1. One chunk (the default) encodes the whole input
    with the table-wide placement; ``chunks > 1`` cuts the cells into
    ``chunks`` contiguous ranges (``blockkey.chunk_col``), so an encode
    unit never spans chunks and no chunk is empty while there are at
    least as many hash cells as chunks. ``resume=True`` skips chunks
    whose lineage record exists — re-running a half-finished encode does
    not duplicate or re-encode completed chunks. A legacy flat table at
    ``path`` is refused.

    Geometry comes from one bind-time stats job (:func:`bind_stats`):
    its raw-byte total picks the smallest resolution with at most 4 MiB
    raw per cell (see :func:`encode_table`), unless the caller passes
    ``target_rows_per_block`` or ``resolution``.

    Branch: the same raw-byte total feeds the write gate
    (:func:`_write_on_driver`). On a local table with the hash shuffle,
    ``avg`` salts and the sorted write, an input the gate admits (at
    most 16 MiB raw) is collected once (``toArrow``), encoded on the
    driver by :func:`encode_rows` and split into chunks by its block
    keys (``blockkey.chunk_of_keys``); each chunk lands as many
    block-ordered files as the Spark branch's. Otherwise each chunk is
    an :func:`encode_table` plan. Both give the same payload bytes."""
    est_rows = kwargs.pop("est_rows", None)
    need_ts = (
        ts_col is not None
        and kwargs.get("ts_range") is None
        and ts_col in {f.name for f in df.schema.fields}
    )
    # the raw bytes size the geometry (the byte rule) and the write
    # gate; without a sizing job for other reasons the gate goes unfed
    need_raw = kwargs.get("est_raw_bytes") is None
    if (
        est_rows is None
        or need_ts
        or (need_raw and kwargs.get("target_rows_per_block") is None)
    ):
        n, raw, ts_range = bind_stats(
            df, ts_col=ts_col if need_ts else None, raw=need_raw
        )
        est_rows = n if est_rows is None else est_rows
        if need_raw:
            kwargs["est_raw_bytes"] = raw
        if need_ts:
            kwargs["ts_range"] = ts_range

    sorted_write = kwargs.pop("sorted_write", True)
    parent = mf.current_snapshot(path, spark)
    _refuse_flat(spark, path, parent)
    done = mf.read_chunk_lineage(path, spark) if resume else {}
    chunks = max(1, chunks)
    if chunks > 1 and any(
        done[k].get("split") != CHUNK_SPLIT for k in range(chunks) if k in done
    ):
        # a chunk landed under the old (block, salt) hash split: resuming
        # under another rule would drop or duplicate rows
        raise ValueError(
            f"cannot resume {path}: its chunks were split by an older rule; "
            "re-encode without resume"
        )
    one = chunks == 1
    p = spark.sparkContext.defaultParallelism
    # one chunk keeps the table-wide placement (the planned-placement
    # gate, max(2, cores) sorted files); each of n chunks gets 1/n
    n_files = max(2, p) if one else max(1, p // chunks)
    if not one:
        kwargs["num_partitions"] = n_files
    from . import fsio

    zlib_level = kwargs.get("zlib_level", 6)
    man, *_ = _encode_spec(
        columns_of(df), url_col=url_col, ts_col=ts_col, est_rows=est_rows,
        **{k: v for k, v in kwargs.items()
           if k not in ("zlib_level", "num_partitions", "salt_mode")},
    )
    raw = kwargs.get("est_raw_bytes")
    if (
        raw is not None
        and sorted_write
        and man["shuffle"] == "hash"
        and kwargs.get("salt_mode", "avg") == "avg"
        and not fsio.is_remote(path)
        and _write_on_driver(
            raw, est_rows, man["key"]["resolution"], p, man["effort"]
        )
    ):
        # the driver branch: one bounded collect, every chunk's groups
        # encoded on one pool, each chunk's block rows cut by key
        todo = [k for k in range(chunks) if k not in done]
        if todo:
            res = man["key"]["resolution"]
            blocks = encode_rows(
                df.toArrow(), man, zlib_level,
                threads=placement.driver_threads(min(4**res, est_rows), p),
            )
            of = bk.chunk_of_keys(blocks[BLOCK].to_numpy(), res, chunks)
        for k in todo:
            part = blocks if one else blocks.filter(pa.array(of == k))
            _write_chunk(spark, path, k, part, n_files, split=CHUNK_SPLIT)
    else:
        for k in range(chunks):
            blocks, man = encode_table(
                df,
                url_col=url_col,
                ts_col=ts_col,
                est_rows=est_rows,
                chunk=None if one else (k, chunks),
                **kwargs,
            )
            if k not in done:
                _write_chunk(
                    spark, path, k, blocks, n_files if sorted_write else None,
                    split=CHUNK_SPLIT,
                )
    # resumed chunks count from their records like the fresh ones; a
    # stale orphan chunk dir (a crashed append, a rollback awaiting
    # expiry) is outside the chunk set and never inflates the totals
    totals, hist = _chunk_totals(spark, path, list(range(chunks)))
    man["lineage_chunks"] = chunks
    if not sorted_write:
        man["sorted"] = False
    final = mf.finalize_manifest(man, codec_histogram=hist, **totals)
    final, _ = _commit(
        spark, path, final, chunks=list(range(chunks)), op="encode",
        parent=parent,
    )
    return final


def append_chunk(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    *,
    zlib_level: int = 6,
    effort: str = selector.EFFORT_MAX,
    codec_overrides: dict[str, str] | None = None,
    shuffle: str = "hash",
    staged: bool = False,
    _replace_chunks: list[int] | None = None,
    _op: str = "append",
    _base: tuple[dict, dict | None] | None = None,
    _batch: list | None = None,
    _rows: "pa.Table | None" = None,
) -> dict:
    """Append new rows to a committed table as the next chunk: every new
    chunk of an existing table lands here, whether appended, streamed
    (one call per micro-batch), upserted or compacted. It commits
    strictly AFTER the chunk's data write. A plain append of zero rows
    claims no chunk, commits nothing and returns the base manifest.

    Key geometry (resolution / bucket / origin) is pinned from the
    existing manifest so old and new chunks share one block-key space;
    the appended chunk is an idempotent overwrite of its own
    ``chunk=<k>`` directory, under an id claimed past every lineage
    id and every chunk of the base snapshot (:func:`_claim_chunk`).
    Every table any writer produces can append; legacy flat tables are
    read-only and raise. The commit's totals are the sum of its chunk
    set's lineage records (:func:`_chunk_totals`), so no append
    re-scans the older chunks.

    One sizing job (:func:`bind_stats`) gives the delta's rows and exact
    raw bytes; the write gate (:func:`_write_on_driver`) then picks the
    branch. On a local table with the hash shuffle, a delta whose
    encode is cheaper in-process than a Spark write's fixed cost (at
    most 16 MiB raw) is collected once (``toArrow``) and encoded on the
    driver by :func:`encode_rows`; otherwise :func:`encode_table` plans
    the encode and :func:`_write_chunk` writes it with one aggregate
    job over the new chunk. Both encode under the same manifest
    (:func:`_encode_spec`), so both give the same payload bytes, and
    both land through :func:`_write_chunk`, whose lineage record says
    which branch ran (``writer``).

    Concurrency: the commit is a CAS on the snapshot read here — if
    another writer (e.g. a delete_rows) commits in between,
    ConcurrentCommitError is raised before the manifest row or the
    sidecar change; the already-written chunk dir and lineage record
    are harmless (the chunk id is burned, the dir is unreferenced until
    expiry) and re-running the append succeeds under a fresh id with
    the concurrent change folded in. ``staged=True`` stops before the
    commit and parks it under ``_staged/`` (write-audit-publish).

    The private hooks serve :func:`compact_chunks` and the stream:
    ``_replace_chunks`` makes the new chunk REPLACE the given visible
    chunks instead of adding to them, committed as op ``_op``; ``_base``
    is the ``(manifest, snapshot)`` pair from ``mf.committed_manifest``
    at which the caller derived the replacement rows (its decode +
    delete-entry capture point). That snapshot, not a re-read here, is
    the CAS parent — a delete committed between the two reads must
    fail the compaction, or its keys would be missing from the
    rewritten chunk while its entry (seq < new chunk id) no longer
    applies to it. ``_batch`` is a stream's replay tag (see
    :func:`_claim_chunk`); a replay of a committed batch commits
    nothing new. ``_rows`` are :func:`compact_chunks`' rows decoded
    in-process (an Arrow table, logical names in manifest order; ``df``
    is then unused): they take the driver branch."""
    if staged and (_replace_chunks or _op != "append"):
        raise ValueError("only plain appends can be staged")
    man, base_snap = _base or _writable_base(spark, path)
    if staged and base_snap is None:
        # pre-snapshot-log readers plan every chunk dir on disk, so a
        # "staged" chunk would be visible immediately — the opposite of
        # the WAP contract
        raise ValueError(
            "staged appends need a snapshot-log table (pre-log tables "
            "read all chunk dirs); append once to create the log first"
        )
    # visible set comes from the snapshot log when present (a rollback
    # leaves orphaned chunk dirs on disk that must not rejoin the table
    # through an append's re-finalization)
    visible = _visible_chunks(spark, path, base_snap)
    replace = sorted(int(c) for c in (_replace_chunks or []))
    if replace:
        missing = set(replace) - set(visible)
        if missing:
            raise ValueError(
                f"chunks {sorted(missing)} are not visible at the current "
                f"snapshot (visible: {visible})"
            )
    key = man["key"]
    if _rows is None:
        # schema evolution: an appended frame may omit columns added
        # after the original encode — fill their recorded defaults, then
        # align column order to the manifest's
        for c in man["columns"]:
            if c["name"] not in df.columns and "added_snapshot" in c:
                df = df.withColumn(
                    c["name"], F.lit(c.get("default")).cast(c["spark_type"])
                )
        man_names = [c["name"] for c in man["columns"]]
        if df.columns != man_names and set(df.columns) == set(man_names):
            df = df.select(*man_names)
        # renamed columns: encode under the immutable PHYSICAL payload
        # name so this chunk's blobs line up with every older chunk's
        for c in man["columns"]:
            p = c.get("physical", c["name"])
            if p != c["name"] and c["name"] in df.columns:
                df = df.withColumnRenamed(c["name"], p)
        columns = columns_of(df)
        # the one sizing job: the rows and their exact raw bytes
        n, raw, _ = bind_stats(df)
    else:
        # compact_chunks' decoded rows: every column, logical names in
        # manifest order
        _rows = _rows.rename_columns(
            [c.get("physical", c["name"]) for c in man["columns"]]
        )
        columns = [
            {"name": f.name, "spark_type": c["spark_type"],
             "kind": selector.kind_of_spark_type(c["spark_type"])}
            for f, c in zip(_rows.schema, man["columns"])
        ]
        n, raw = _rows.num_rows, None
    if n == 0 and not (staged or replace):
        return man
    # a table with rows scales its raw bytes per row for the geometry,
    # as it always has, so the payload bytes of either branch match
    est = (
        n * (man.get("raw_bytes") or 0) // man["num_rows"]
        if man.get("num_rows") else raw or 0
    )
    # pinned geometry and column groups: old and new chunks share one
    # block-key space and one payload layout
    geometry = dict(
        url_col=man["url_col"],
        ts_col=man["ts_col"],
        resolution=key["resolution"],
        _ts_key=(key["ts_origin"], key["bucket_seconds"]),
        est_rows=n,
        est_raw_bytes=est,
        codec_overrides=codec_overrides,
        effort=effort,
        column_groups=list((man.get("column_groups") or {}).values()) or None,
        shuffle=shuffle,
    )
    chunk_man, *_ = _encode_spec(columns, **geometry)
    expected = [
        (c.get("physical", c["name"]), c["spark_type"]) for c in man["columns"]
    ]
    if [(c["name"], c["spark_type"]) for c in chunk_man["columns"]] != expected:
        raise ValueError(
            "appended DataFrame columns do not match the table's: "
            f"{[(c['name'], c['spark_type']) for c in chunk_man['columns']]} "
            f"vs {expected}"
        )
    from . import fsio

    p = spark.sparkContext.defaultParallelism
    on_driver = _rows is not None or (
        shuffle == "hash"
        and not fsio.is_remote(path)
        and _write_on_driver(raw, n, key["resolution"], p, effort)
    )
    k = _claim_chunk(spark, path, base_snap, _batch)
    if on_driver:
        # the driver branch: one bounded collect (or the compaction's
        # decoded rows), encoded in-process under the same manifest
        rows = _rows if _rows is not None else df.toArrow()
        blocks = encode_rows(
            rows, chunk_man, zlib_level,
            threads=placement.driver_threads(min(4 ** key["resolution"], n), p),
        )
    else:
        blocks, _ = encode_table(df, zlib_level=zlib_level, **geometry)
    # carry evolution metadata through re-finalization: the new chunk's
    # plain column specs would otherwise shed added_snapshot/default
    # annotations and the schema_evolved reader switch
    chunk_man["columns"] = man["columns"]
    for _k in ("schema_evolved", "dropped_columns", "delete_files"):
        if _k in man:
            chunk_man[_k] = man[_k]
    _write_chunk(
        spark, path, k, blocks, None,
        **({"compacted_from": replace} if replace else {"appended": True}),
        **({"staged": True} if staged else {}),
        **({"batch": _batch} if _batch else {}),
    )
    # a set: a replayed stream batch's chunk may already be visible
    chunks = sorted(set(visible) - set(replace) | {k})
    totals, hist = _chunk_totals(spark, path, chunks)
    chunk_man["lineage_chunks"] = k + 1
    final = mf.finalize_manifest(chunk_man, codec_histogram=hist, **totals)
    if staged:
        # write-audit-publish: park the would-be commit under _staged/
        # instead of committing it — no reader of the table sees the
        # new chunk until publish_staged commits this record (under
        # the same CAS as any commit)
        rec = {
            "token": uuid.uuid4().hex[:12],
            "op": _op,
            "chunk": k,
            "parent_snapshot_id": (
                base_snap["snapshot_id"] if base_snap else None
            ),
            "chunks": chunks,
            "manifest": final,
            "created_unix": int(time.time()),
        }
        mf.write_staged(path, rec, spark)
        return rec
    final, _ = _commit(
        spark, path, final, chunks=chunks, op=_op, parent=base_snap,
        extra={"compacted_from": replace, "into": k} if replace else None,
    )
    return final


def rollback_to_tag(spark: SparkSession, path: str, name: str) -> dict:
    """Roll the table back to the state a tag pins (Iceberg's
    ``rollback_to_snapshot(table.refs['tag'].snapshot_id)`` shorthand):
    resolve the ref, then :func:`rollback_to_snapshot`. The tag's pin
    guarantees the target snapshot (and its files) still exist — a
    tagged state is always restorable, however much ingest and expiry
    happened since."""
    return rollback_to_snapshot(spark, path, mf.resolve_ref(path, name, spark))


def rollback_to_snapshot(spark: SparkSession, path: str, snapshot_id: int) -> dict:
    """Roll a table back to an earlier snapshot's visible chunk
    set (Iceberg rollback semantics: a NEW snapshot is committed whose
    chunk set equals the target's — history is append-only, nothing is
    deleted, and the rolled-back chunks' directories stay on disk,
    unreferenced). The manifest's totals and codec histogram are the
    sum of the target chunks' lineage records (:func:`_chunk_totals`),
    so they describe the restored table; a later append_chunk picks a
    fresh chunk id and sums its own chunk set, never resurrecting
    orphans."""
    snaps = mf.read_snapshots(path, spark)
    if snapshot_id not in snaps:
        raise KeyError(
            f"no snapshot {snapshot_id} at {path}; have {sorted(snaps)}"
        )
    target = snaps[snapshot_id]
    man, base_snap = _writable_base(spark, path)
    man = dict(man)
    # restore the delete-file list VISIBLE AT the target snapshot
    # (every commit since row-level deletes carries the live list; a
    # snapshot without the key predates all deletes), remapped through
    # renames committed since — the rollback snapshot is NEW, so reads
    # at it cannot replay those renames themselves
    dl = mf.remap_delete_entries(
        snaps, snapshot_id, target.get("delete_files", [])
    )
    if dl:
        man["delete_files"] = dl
    else:
        man.pop("delete_files", None)
    totals, hist = _chunk_totals(spark, path, target["chunks"])
    man["lineage_chunks"] = max(target["chunks"]) + 1
    final = mf.finalize_manifest(man, codec_histogram=hist, **totals)
    final, _ = _commit(
        spark, path, final, chunks=target["chunks"], op="rollback",
        parent=base_snap, extra={"rolled_back_to": snapshot_id},
    )
    return final


def create_tag(
    spark: SparkSession, path: str, name: str, snapshot_id: int | None = None
) -> dict:
    """Iceberg ``CREATE TAG`` analog: an immutable named pointer to a
    snapshot (default: the current tip). Tagged snapshots — and through
    them their chunk dirs and equality-delete files — are protected
    from ``expire_snapshots`` for as long as the tag exists, so a tag
    pins a reproducible table state (the "corpus-v3 trained on THIS"
    release workflow) across ongoing CDC ingest and maintenance.
    Creation is a CAS (exclusive file create): racing writers on the
    same name cannot both win, and re-pointing requires an explicit
    ``drop_tag`` + ``create_tag``."""
    snaps = mf.read_snapshots(path, spark)
    if not snaps:
        raise FileNotFoundError(f"no snapshot log at {path}")
    sid = max(snaps) if snapshot_id is None else int(snapshot_id)
    if sid not in snaps:
        raise KeyError(f"no snapshot {sid} at {path}; have {sorted(snaps)}")
    return mf.write_ref(path, name, sid, spark)


def drop_tag(spark: SparkSession, path: str, name: str) -> None:
    """Remove a tag; its snapshot becomes expirable again."""
    mf.delete_ref(path, name, spark)


def list_tags(spark: SparkSession, path: str) -> dict[str, dict]:
    """All named refs as ``{name: {name, snapshot_id, kind}}``."""
    return mf.read_refs(path, spark)


def list_staged(spark: SparkSession, path: str) -> dict[str, dict]:
    """Staged write-audit-publish commits awaiting publish, keyed by
    token (see :func:`append_chunk` ``staged=True``)."""
    return mf.read_staged(path, spark)


def publish_staged(
    spark: SparkSession, path: str, token: str, *, rebase: bool = False
) -> dict:
    """Publish a staged append (Iceberg write-audit-publish, the
    cherry-pick step): turn the parked ``_staged/`` record into a real
    snapshot under the same CAS as any commit. If the snapshot log
    advanced since staging, the default is to refuse (the audit ran
    against a stale base); ``rebase=True`` re-anchors the append onto
    the CURRENT snapshot — safe for plain appends (the new chunk's
    payloads are self-contained; only the visible set and totals
    change) provided the schema is unchanged."""
    rec = mf.get_staged(path, token, spark)
    cur_man, cur_snap = _writable_base(spark, path)
    cur_id = cur_snap["snapshot_id"] if cur_snap else None
    if rec["op"] == "delete":
        return _publish_staged_delete(
            spark, path, token, rec, cur_man, cur_snap, rebase=rebase
        )
    k = int(rec["chunk"])
    if cur_id == rec["parent_snapshot_id"]:
        final = rec["manifest"]
        chunks = [int(c) for c in rec["chunks"]]
    else:
        if not rebase:
            raise mf.ConcurrentCommitError(
                f"snapshot log at {path} advanced from "
                f"{rec['parent_snapshot_id']} to {cur_id} since this "
                "commit was staged; audit against the new base and "
                "publish with rebase=True (plain appends compose), or "
                "drop_staged"
            )
        same = [
            (c["name"], c["spark_type"]) for c in cur_man["columns"]
        ] == [
            (c["name"], c["spark_type"])
            for c in rec["manifest"]["columns"]
        ]
        if not same:
            raise ValueError(
                "cannot rebase staged append: the table schema changed "
                "since staging; drop_staged and re-stage"
            )
        chunks = sorted({int(c) for c in cur_snap["chunks"]} | {k})
        totals, hist = _chunk_totals(spark, path, chunks)
        # current manifest is the base: it carries the delete files and
        # evolution state committed since staging
        final = mf.finalize_manifest(
            dict(cur_man), codec_histogram=hist, **totals
        )
    final, _ = _commit(
        spark, path, final, chunks=chunks, op="append", parent=cur_snap,
        extra={"staged_token": token},
    )
    mf.delete_staged(path, token, spark)
    return final


def _publish_staged_delete(
    spark, path, token, rec, cur_man, cur_snap, *, rebase: bool
) -> dict:
    """Publish a staged DELETE: the value file already sits under
    ``_deletes/`` (unreferenced); publishing appends its entry to the
    manifest under the commit CAS. Rebase is safe by the sequence
    rule — the entry's per-row ``_dseq`` was stamped at stage time, so
    chunks appended since stay untouched, exactly as if the delete had
    committed first — provided its key columns survived evolution."""
    cur_id = cur_snap["snapshot_id"] if cur_snap else None
    entry = rec["entry"]
    if cur_id == rec["parent_snapshot_id"]:
        man = rec["manifest"]
    else:
        if not rebase:
            raise mf.ConcurrentCommitError(
                f"snapshot log at {path} advanced from "
                f"{rec['parent_snapshot_id']} to {cur_id} since this "
                "delete was staged; audit against the new base and "
                "publish with rebase=True, or drop_staged"
            )
        spec = {
            c["name"]: c["spark_type"] for c in cur_man["columns"]
        }
        staged_spec = {
            c["name"]: c["spark_type"]
            for c in rec["manifest"]["columns"]
        }
        stale = [
            c for c in entry["cols"] if spec.get(c) != staged_spec.get(c)
        ]
        if stale:
            raise ValueError(
                f"cannot rebase staged delete: key columns {stale} "
                "changed since staging; drop_staged and re-stage"
            )
        man = dict(cur_man)
        man["delete_files"] = list(man.get("delete_files", [])) + [entry]
    man, _ = _commit(
        spark, path, man, chunks=_visible_chunks(spark, path, cur_snap),
        op="delete", parent=cur_snap, extra={"staged_token": token},
    )
    mf.delete_staged(path, token, spark)
    return man


def drop_staged(spark: SparkSession, path: str, token: str) -> dict:
    """Abandon a staged commit: the ``_staged/`` record is removed;
    a staged APPEND's chunk directory becomes a normal orphan (id
    burned, invisible to every reader, reclaimed by
    :func:`expire_snapshots`); a staged DELETE's value file is
    unreferenced by every snapshot, so it is reclaimed eagerly."""
    rec = mf.get_staged(path, token, spark)
    mf.delete_staged(path, token, spark)
    if rec["op"] == "delete":
        from . import fsio

        fsio.delete_dir(spark, os.path.join(path, rec["entry"]["dir"]))
        return {"dropped": token, "delete_dir": rec["entry"]["dir"]}
    return {"dropped": token, "chunk": int(rec["chunk"])}


def expire_snapshots(
    spark: SparkSession,
    path: str,
    *,
    keep_last: int = 1,
    older_than_unix: float | None = None,
    delete_orphan_chunks: bool = True,
) -> dict:
    """Iceberg ``expire_snapshots`` + ``remove_orphan_files`` analog:
    retain the newest ``keep_last`` snapshots — plus, when
    ``older_than_unix`` is given, EVERY snapshot committed at or after
    it (Iceberg's ``older_than``/``retain_last`` pair: age is the
    retention policy, ``keep_last`` the floor) — delete the older
    snapshot files, and (optionally) delete chunk directories no
    retained snapshot references — the physical reclamation step after
    rollbacks/compaction at 100 TB, where orphaned chunks are real
    storage. Lineage records are kept for ALL chunks, expired or not:
    they are the historical metrics log, and ``append_chunk`` derives
    the next chunk id from them, so ids are never reused even after a
    chunk's data is reclaimed."""
    from . import fsio

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    snaps = mf.read_snapshots(path, spark)
    if not snaps:
        raise FileNotFoundError(f"no snapshot log at {path}")
    ids = sorted(snaps)
    # tagged snapshots are pinned: a tag's purpose is to keep its table
    # state (and files) reachable across retention, Iceberg's ref rule
    tagged = {
        int(r["snapshot_id"]) for r in mf.read_refs(path, spark).values()
    }
    keep = set(ids[-keep_last:]) | (tagged & set(ids))
    if older_than_unix is not None:
        keep |= {
            i
            for i in ids
            if snaps[i].get("committed_unix", 0) >= older_than_unix
        }
    keep_ids = sorted(keep)
    expired = [i for i in ids if i not in keep]
    retained_chunks: set[int] = set()
    for i in keep_ids:
        retained_chunks.update(int(c) for c in snaps[i]["chunks"])
    # staged (write-audit-publish) commits pin their WHOLE visible set:
    # the audit view reads the parent chunks too, and a rollback +
    # expire between staging and publish must not truncate it silently
    staged_recs = mf.read_staged(path, spark)
    for rec in staged_recs.values():
        retained_chunks.update(int(c) for c in rec["chunks"])
    for i in expired:
        fsio.delete_file(
            spark, mf.snapshots_dir(path), f"snap-{i:05d}.json"
        )
    removed_chunks: list[int] = []
    if delete_orphan_chunks:
        # fsio listing, not glob: works on object stores / HDFS too —
        # reclamation is precisely the operation that matters there
        for name in fsio.list_dirs(spark, _data_path(path)):
            if not name.startswith("chunk="):
                continue
            c = int(name.split("=", 1)[1])
            if c >= 0 and c not in retained_chunks:
                fsio.delete_dir(
                    spark, os.path.join(_data_path(path), name)
                )
                removed_chunks.append(c)
    removed_deletes: list[str] = []
    if delete_orphan_chunks:
        # equality-delete files no retained snapshot references (e.g.
        # after a rollback to a pre-delete snapshot) are storage too
        retained_deletes: set[str] = set()
        for i in keep_ids:
            for e in snaps[i].get("delete_files", []):
                retained_deletes.add(os.path.basename(e["dir"]))
        # staged records' audit views apply their parent's deletes:
        # those dirs must survive until the record publishes or drops
        for rec in staged_recs.values():
            for e in rec["manifest"].get("delete_files", []) or []:
                retained_deletes.add(os.path.basename(e["dir"]))
        ddir = os.path.join(path, DELETES_DIR)
        for name in fsio.list_dirs(spark, ddir):
            if name not in retained_deletes:
                fsio.delete_dir(spark, os.path.join(ddir, name))
                removed_deletes.append(name)
    return {
        "retained_snapshots": keep_ids,
        "expired_snapshots": expired,
        "removed_chunks": sorted(removed_chunks),
        "removed_delete_files": sorted(removed_deletes),
    }


# ------------------------------------------------------ schema evolution ----
#
# Iceberg-style METADATA-ONLY schema changes over the chunked layout: no
# data file is rewritten, so evolving a 100 TB table costs one _commit
# (three small files) regardless of size. The manifest's `columns` list
# is the single source of schema truth; each op sets `schema_evolved` so
# readers switch to an explicit manifest-derived Parquet schema
# (inferred schemas would silently drop a column that only newer chunks
# carry — Spark picks an arbitrary file's footer otherwise). Old chunks'
# missing payloads decode as the column's recorded default (NULL unless
# set). Dropped names are tombstoned and may never be reused: old files
# still hold `<name>_blob` bytes, and a reused name would resurface
# those stale payloads as the new column's data.


def evolve_add_column(
    spark: SparkSession,
    path: str,
    name: str,
    spark_type: str,
    *,
    default=None,
) -> dict:
    """ALTER TABLE ADD COLUMN (metadata-only). Chunks written before
    the change decode the column as ``default`` (NULL if unset); chunks
    appended after carry real payloads. Returns the updated manifest.

    The decode/point-lookup/compaction paths understand missing
    payloads; the stats-proof mask fast paths assume materialized
    payloads and per-block stats — run ``compact_to_path`` first to
    physically backfill an added column before masking on it."""
    man, cur = _writable_base(spark, path)
    names = [c["name"] for c in man["columns"]]
    physicals = {c.get("physical", c["name"]) for c in man["columns"]}
    if name in names or name in physicals:
        raise ValueError(f"column {name!r} already exists (or is a "
                         "renamed column's physical payload name)")
    if name in man.get("dropped_columns", []):
        raise ValueError(
            f"column name {name!r} was dropped earlier and cannot be "
            "reused: old data files still hold its payload bytes, which "
            "would resurface as the new column's values"
        )
    kind = selector.kind_of_spark_type(spark_type)
    spec = {
        "name": name,
        "spark_type": spark_type,
        "kind": kind,
        "added_snapshot": (cur["snapshot_id"] + 1) if cur else 0,
    }
    if default is not None:
        spec["default"] = default
    man = dict(man, schema_evolved=True)
    man["columns"] = list(man["columns"]) + [spec]
    man, _ = _commit(
        spark, path, man, chunks=_visible_chunks(spark, path, cur),
        op="add-column", parent=cur,
        extra={"column": name, "spark_type": spark_type},
    )
    return man


def evolve_rename_column(
    spark: SparkSession, path: str, old: str, new: str
) -> dict:
    """ALTER TABLE RENAME COLUMN (metadata-only). The payload keeps its
    immutable PHYSICAL name — old and new chunks agree on one blob name
    forever (the Iceberg field-id discipline); only the manifest's
    logical name changes, so readers, appends and compaction all route
    through the ``physical`` mapping. The old logical name is tombstoned
    (its payload bytes live on under the physical name). Key columns
    (url/ts) and column-group members cannot be renamed."""
    man, cur = _writable_base(spark, path)
    names = [c["name"] for c in man["columns"]]
    physicals = {c.get("physical", c["name"]) for c in man["columns"]}
    if old not in names:
        raise ValueError(f"no column {old!r}; have {names}")
    if new in names or new in physicals:
        raise ValueError(f"column {new!r} already exists (or is a "
                         "renamed column's physical payload name)")
    if new in man.get("dropped_columns", []):
        raise ValueError(
            f"column name {new!r} was dropped or renamed away earlier "
            "and cannot be reused"
        )
    if old == man.get("url_col") or old == man.get("ts_col"):
        raise ValueError(f"cannot rename key column {old!r}")
    in_group = member_to_group(man.get("column_groups"))
    if old in in_group:
        raise ValueError(
            f"column {old!r} is interleaved in column group "
            f"{in_group[old]!r}; rename is only supported for standalone "
            "columns"
        )
    man = dict(man, schema_evolved=True)
    cols = []
    for c in man["columns"]:
        if c["name"] == old:
            c = dict(c)
            # chained renames keep the ORIGINAL physical name
            c["physical"] = c.get("physical", old)
            c["name"] = new
        cols.append(c)
    man["columns"] = cols
    man["dropped_columns"] = sorted(
        set(man.get("dropped_columns", [])) | {old}
    )
    # equality-delete files referencing the column follow the rename
    # (readers select the delete parquet's value column POSITIONALLY,
    # so the file's internal name staying `old` is immaterial)
    if man.get("delete_files"):
        man["delete_files"] = [
            mf._entry_with_cols(
                e, [new if c == old else c for c in mf.delete_entry_cols(e)]
            )
            if old in mf.delete_entry_cols(e)
            else e
            for e in man["delete_files"]
        ]
    man, _ = _commit(
        spark, path, man, chunks=_visible_chunks(spark, path, cur),
        op="rename-column", parent=cur, extra={"from": old, "to": new},
    )
    return man


def evolve_drop_column(spark: SparkSession, path: str, name: str) -> dict:
    """ALTER TABLE DROP COLUMN (metadata-only). The payload bytes stay
    in the old files, unreferenced (an explicit-schema read never
    touches them; ``compact_to_path`` physically sheds them since it
    re-encodes through the manifest's column list). The name is
    tombstoned against reuse. Returns the updated manifest."""
    man, cur = _writable_base(spark, path)
    names = [c["name"] for c in man["columns"]]
    if name not in names:
        raise ValueError(f"no column {name!r}; have {names}")
    if name == man.get("url_col") or name == man.get("ts_col"):
        raise ValueError(f"cannot drop key column {name!r}")
    in_group = member_to_group(man.get("column_groups"))
    if name in in_group:
        raise ValueError(
            f"column {name!r} is interleaved in column group "
            f"{in_group[name]!r}; drop is only supported for standalone "
            "columns (group payloads are one blob)"
        )
    if any(
        name in mf.delete_entry_cols(e)
        for e in man.get("delete_files", [])
    ):
        raise ValueError(
            f"column {name!r} is referenced by live equality-delete "
            "files; purge_deletes first (dropping it would strand "
            "unresolvable deletes)"
        )
    man = dict(man, schema_evolved=True)
    spec = next(c for c in man["columns"] if c["name"] == name)
    man["columns"] = [c for c in man["columns"] if c["name"] != name]
    # tombstone the physical payload name too: that is the blob whose
    # stale bytes a reused name would resurface
    man["dropped_columns"] = sorted(
        set(man.get("dropped_columns", []))
        | {name, spec.get("physical", name)}
    )
    man, _ = _commit(
        spark, path, man, chunks=_visible_chunks(spark, path, cur),
        op="drop-column", parent=cur, extra={"column": name},
    )
    return man


# Iceberg's safe type promotions (spec §Schema Evolution): widening
# never changes the column KIND here — every integral type already
# encodes through the same 64-bit "int" kernels and float promotes to
# the IEEE-754-as-int64 "double" view — so the change is purely the
# manifest's declared logical type; decode's existing cast-to-schema
# step re-types old payloads on the fly and appended chunks encode
# identically. A mis-typed column no longer needs a rewrite.
_WIDENINGS: dict[str, set[str]] = {
    "tinyint": {"smallint", "int", "integer", "bigint", "long"},
    "smallint": {"int", "integer", "bigint", "long"},
    "int": {"bigint", "long"},
    "integer": {"bigint", "long"},
    "float": {"double"},
}


def evolve_widen_column(
    spark: SparkSession, path: str, name: str, new_type: str
) -> dict:
    """ALTER TABLE ALTER COLUMN TYPE (metadata-only, Iceberg's safe
    promotion set: int->bigint and float->double families). No data
    file is rewritten — widening a 100 TB table costs two JSON writes;
    old payloads decode straight to the widened type (the column kind
    is unchanged, only the declared logical type moves), so no rewrite
    is ever needed."""
    man, cur = _writable_base(spark, path)
    spec = next((c for c in man["columns"] if c["name"] == name), None)
    if spec is None:
        raise ValueError(
            f"no column {name!r}; have {[c['name'] for c in man['columns']]}"
        )
    old_type = spec["spark_type"].lower()
    new_type = new_type.lower()
    if new_type == old_type:
        return man  # no-op
    if new_type not in _WIDENINGS.get(old_type, set()):
        allowed = sorted(_WIDENINGS.get(old_type, set()))
        raise ValueError(
            f"cannot widen {name!r} from {old_type!r} to {new_type!r}; "
            f"safe promotions from {old_type!r}: {allowed or 'none'} "
            "(narrowing or cross-kind changes need a rewrite)"
        )
    assert selector.kind_of_spark_type(new_type) == spec["kind"]
    man = dict(man, schema_evolved=True)
    man["columns"] = [
        {**c, "spark_type": new_type} if c["name"] == name else c
        for c in man["columns"]
    ]
    man, _ = _commit(
        spark, path, man, chunks=_visible_chunks(spark, path, cur),
        op="widen-column", parent=cur,
        extra={"column": name, "from": old_type, "to": new_type},
    )
    return man


# ------------------------------------------------------ row-level deletes ----
#
# Iceberg-style EQUALITY DELETE FILES (merge-on-read): DELETE writes a
# small parquet of key values plus a metadata-only commit — no data
# file is rewritten, so deleting rows from a 100 TB table costs
# O(delete set), not O(table). Each delete file records the column it
# matches on and a SEQUENCE number (the highest chunk id visible when
# it committed): it deletes matching rows only in chunks <= seq, so a
# later append may re-insert a deleted key and stay visible (Iceberg's
# sequence-number rule for equality deletes). Readers drop deleted rows
# inside the block decode (scan.read_rows, reader.iter_blocks);
# scan.purge_deletes rewrites the table with deletes applied
# physically and clears the list.

DELETES_DIR = "_deletes"


def _write_delete_file(spark: SparkSession, dest: str, tbl: "pa.Table") -> None:
    """``tbl`` as the one parquet file of the delete dir ``dest``."""
    import pyarrow.parquet as pq

    from . import fsio

    sink = pa.BufferOutputStream()
    pq.write_table(tbl, sink)
    fsio.write_bytes(spark, dest, "part-0.parquet", sink.getvalue().to_pybytes())


def _delete_arrow_types(specs: list[dict]) -> list:
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(
        T.StructType.fromDDL(
            ", ".join(f"`k{i}` {s['spark_type']}" for i, s in enumerate(specs))
        )
    )
    return [arrow.field(i).type for i in range(len(specs))]


def delete_rows(
    spark: SparkSession, path: str, col, values, *, staged: bool = False
) -> dict:
    """DELETE FROM <table> WHERE (<cols>) IN (<values>) as an Iceberg
    equality-delete commit. ``col`` is one column name or a LIST of
    names — a composite key like a crawl table's natural ``(url,
    warc_ts)`` — and ``values`` is a list/tuple/set of literals (tuples
    for composite keys) or a DataFrame carrying the key columns (e.g.
    a dedup pipeline's drop list — written distributed, never
    collected). Readers load delete sets whole and ship them to their
    decode tasks, so keep a single delete commit to broadcast-able
    size (millions of keys, not billions); bigger retention sweeps
    belong in ``scan.transform_blocks`` rewrites.

    The value file is the v2 layout: fixed internal columns
    ``_k0.._k{n-1}`` (key values, entry-``cols`` order) + ``_dseq``
    (the sequence number, PER ROW). Fixed names make every v2 file of
    a key-set schema-identical — even across later column renames —
    and a per-row sequence lets ``compact_delete_files`` merge files
    from different commits without losing each value's own visibility
    horizon.

    Returns the updated manifest. The delete applies to rows in chunks
    visible NOW (chunk id <= the recorded sequence number); chunks
    appended later are untouched."""
    import uuid

    cols = [col] if isinstance(col, str) else list(col)
    if not cols:
        raise ValueError("need at least one key column")
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate key columns in {cols}")
    man, cur = _writable_base(spark, path)
    by_name = {c["name"]: c for c in man["columns"]}
    specs = []
    for c in cols:
        if c not in by_name:
            raise ValueError(f"no column {c!r}; have {sorted(by_name)}")
        specs.append(by_name[c])
    visible = _visible_chunks(spark, path, cur)
    seq = max(visible) if visible else 0
    snap_id = (cur["snapshot_id"] + 1) if cur else 0
    # UNIQUE dir token (not the contended snapshot id): two racing
    # delete_rows would otherwise both write delete-<N> — the CAS loser
    # overwrites the winner's value file, silently dropping its deletes
    # even though the winner's commit stands. The snap-id prefix is
    # kept for human readability only.
    rel = f"delete-{snap_id:05d}-{uuid.uuid4().hex[:10]}"
    dest = os.path.join(path, DELETES_DIR, rel)
    knames = [f"_k{i}" for i in range(len(cols))]
    if isinstance(values, DataFrame):
        vdf = values
        if not set(cols) <= set(vdf.columns):
            if len(vdf.columns) == len(cols):
                # positional: a single-column drop list under any name
                vdf = vdf.toDF(*cols)
            else:
                raise ValueError(
                    f"values DataFrame must carry columns {cols} or "
                    f"exactly {len(cols)} columns; has {vdf.columns}"
                )
        vdf = vdf.select(
            *[
                F.col(c).cast(s["spark_type"]).alias(k)
                for c, s, k in zip(cols, specs, knames)
            ]
        )
        for k in knames:  # equality deletes never match NULL keys
            vdf = vdf.where(F.col(k).isNotNull())
        vdf = vdf.distinct().withColumn("_dseq", F.lit(int(seq)).cast("long"))
        vdf.coalesce(1).write.mode("overwrite").parquet(dest)
        n = spark.read.parquet(dest).count()
        if n == 0:
            # same contract as the literal path: an empty delete set is
            # a caller bug, and committing it would tax every future
            # read with a pointless delete set
            from . import fsio

            fsio.delete_dir(spark, dest)
            raise ValueError("empty delete set")
    else:
        rows = [
            v if isinstance(v, tuple) else (v,) for v in values
        ]
        if any(len(r) != len(cols) for r in rows):
            raise ValueError(
                f"each delete value must have {len(cols)} elements "
                f"(key columns {cols})"
            )
        rows = sorted(set(rows))
        if not rows:
            raise ValueError("empty delete set")
        types = _delete_arrow_types(specs)
        arrays = []
        for i, want in enumerate(types):
            col_vals = [r[i] for r in rows]
            try:
                arrays.append(pa.array(col_vals, type=want))
            except (pa.ArrowInvalid, pa.ArrowTypeError):
                # CLI callers pass string literals for numeric/timestamp
                # columns (table_job --values 5,7) — cast, don't fail
                arrays.append(pa.array(col_vals).cast(want))
        arrays.append(pa.array([int(seq)] * len(rows), type=pa.int64()))
        _write_delete_file(spark, dest, pa.table(dict(zip(knames + ["_dseq"], arrays))))
        n = len(rows)
    entry = {
        "dir": f"{DELETES_DIR}/{rel}",
        "cols": cols,
        "seq": int(seq),
        "n": int(n),
        "v": 2,
    }
    if len(cols) == 1:
        entry["col"] = cols[0]  # readability + v1-reader compat
    man = dict(man)
    man["delete_files"] = list(man.get("delete_files", [])) + [entry]
    if staged:
        # write-audit-publish for a DELETE (e.g. a dedup drop list to
        # be audited before it applies): the value file is on disk but
        # unreferenced until publish; the staged manifest carries the
        # entry, so read_staged_rows audits the post-delete view
        if cur is None:
            from . import fsio

            fsio.delete_dir(spark, dest)
            raise ValueError(
                "staged deletes need a snapshot-log table"
            )
        rec = {
            "token": uuid.uuid4().hex[:12],
            "op": "delete",
            "entry": entry,
            "parent_snapshot_id": cur["snapshot_id"],
            "chunks": visible,
            "manifest": man,
            "created_unix": int(time.time()),
        }
        mf.write_staged(path, rec, spark)
        return rec
    try:
        man, _ = _commit(
            spark, path, man, chunks=visible, op="delete", parent=cur
        )
    except mf.ConcurrentCommitError:
        # lost the CAS: our value file is unreferenced — reclaim it now
        # instead of leaving an orphan for expire_snapshots
        from . import fsio

        fsio.delete_dir(spark, dest)
        raise
    return man


def upsert_rows(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key_col,
    *,
    zlib_level: int = 6,
    effort: str = selector.EFFORT_MAX,
    codec_overrides: dict[str, str] | None = None,
) -> dict:
    """MERGE INTO <table> USING df ON table.key = df.key — matched rows
    replaced, unmatched rows inserted (Iceberg merge-on-read UPSERT,
    the ``raquet_metadata.hpp`` table-mutation analog). ``key_col`` is
    one column name or a LIST for a composite natural key like
    ``(url, warc_ts)``. Composed from the two primitives so it inherits
    their cost model: one equality delete on df's keys (O(|df|) — the
    delete's sequence number covers only chunks visible NOW) plus one
    appended chunk carrying df's rows (chunk id > seq, so the fresh
    versions survive the delete). No existing data file is
    rewritten; a 100-row upsert into a 100 TB table moves ~100 rows.

    df must carry the table's full column set (this engine stores whole
    rows per block — partial-column UPDATE would need a read-modify
    path; use evolve_* for schema changes). Duplicate keys WITHIN df
    are an error: both copies would survive the merge.

    Returns the final manifest (after the append's re-finalization)."""
    keys = [key_col] if isinstance(key_col, str) else list(key_col)
    man, _ = _writable_base(spark, path)
    names = [c["name"] for c in man["columns"]]
    for k in keys:
        if k not in names:
            raise ValueError(f"no column {k!r}; have {names}")
    missing = [n for n in names if n not in df.columns]
    if missing:
        raise ValueError(
            f"upsert df must carry the full column set; missing {missing}"
        )
    dup = (
        df.groupBy(*keys).count().where(F.col("count") > 1).limit(1).count()
    )
    if dup:
        raise ValueError(
            f"duplicate {keys!r} keys within the upsert df — dedupe "
            "first (both copies would survive the merge)"
        )
    if not df.take(1):
        return man  # empty MERGE is a no-op, not an error
    delete_rows(spark, path, keys if len(keys) > 1 else keys[0],
                df.select(*keys))
    # the MERGE is two commits; once the delete has landed, a CAS loss
    # on the append leg (a writer slipped in between) must NOT leave
    # the table with matched rows deleted and no replacements — retry
    # the append, which its contract makes safe ("re-running the
    # append succeeds under a fresh id with the concurrent change
    # folded in"). The delete leg needs no such care: if IT loses the
    # CAS nothing has happened yet and the caller simply re-runs.
    last: Exception | None = None
    for _ in range(5):
        try:
            return append_chunk(
                spark,
                df.select(*names),
                path,
                zlib_level=zlib_level,
                effort=effort,
                codec_overrides=codec_overrides,
            )
        except mf.ConcurrentCommitError as e:
            last = e
    raise last


def compact_delete_files(spark: SparkSession, path: str) -> dict:
    """Iceberg ``rewrite_position_delete_files`` analog for equality
    deletes: merge ALL live delete files of each key-column set into
    ONE v2 parquet, committed as a metadata-only snapshot — no data
    file is touched, so compacting a 100 TB table's delete backlog
    costs O(total delete rows), which is broadcast-sized by contract.

    Why it matters: ``streaming.upsert_stream`` commits one delete file
    per micro-batch; without this step the read path opens O(#commits)
    parquet files per scan (one multi-path scan node, but the file
    count still grows). After compaction every read loads exactly one
    file per key set, forever O(#key sets). The merge runs as Arrow on
    the driver and writes what ``reader.load_deletes`` gives every
    read: a key set's files concatenated at the widest key type, each
    distinct non-NULL key kept once. Per-VALUE sequence numbers
    (``_dseq``) are preserved by max-merging, so the Iceberg sequence
    rule — a key re-inserted after its delete stays visible — survives
    compaction bit-for-bit:
    pre-merge a row is dropped iff chunk <= seq in ANY file, which
    equals chunk <= max(seq) per value.

    Old value files stay on disk for time travel (older snapshots still
    reference them); ``expire_snapshots(delete_orphan_chunks=True)``
    reclaims them once no retained snapshot does. Returns the updated
    manifest; a no-op (already exactly one v2 file per key set) returns
    it unchanged without committing."""
    import pyarrow.compute as pc

    from . import fsio, reader

    man, cur = _writable_base(spark, path)
    entries = list(man.get("delete_files") or [])
    if not entries:
        raise ValueError(f"no delete files to compact at {path}")
    groups: dict[tuple, list[dict]] = {}
    for e in entries:
        groups.setdefault(tuple(mf.delete_entry_cols(e)), []).append(e)
    if all(
        len(es) == 1 and es[0].get("v", 1) >= 2 for es in groups.values()
    ):
        return man  # already compact
    snap_id = (cur["snapshot_id"] + 1) if cur else 0
    new_entries: list[dict] = []
    written: list[str] = []
    n_merged = 0
    for cols, es in sorted(groups.items()):
        if len(es) == 1 and es[0].get("v", 1) >= 2:
            new_entries.append(es[0])
            continue
        (dset,) = reader.load_deletes(path, es)
        merged = dset.keys.rename_columns(
            [f"_k{i}" for i in range(len(cols))] + ["_dseq"]
        )
        span = pc.min_max(merged["_dseq"]).as_py()
        rel = f"merged-{snap_id:05d}-{uuid.uuid4().hex[:10]}"
        dest = os.path.join(path, DELETES_DIR, rel)
        _write_delete_file(spark, dest, merged)
        entry = {
            "dir": f"{DELETES_DIR}/{rel}",
            "cols": list(cols),
            "seq": max(int(e["seq"]) for e in es),
            "n": merged.num_rows,
            "v": 2,
            "merged_from": len(es),
        }
        # the single-column `col` alias lets a v1-era reader apply this
        # entry — but such a reader uses the ENTRY seq for every row,
        # which over-deletes re-inserted keys when the merged per-row
        # _dseq values differ. Stamp it only when they are homogeneous
        # (entry seq == every row's seq); otherwise a legacy reader
        # fails loud on the missing key instead of silently mis-reading
        if len(cols) == 1 and span["min"] == span["max"]:
            entry["col"] = cols[0]
        new_entries.append(entry)
        written.append(dest)
        n_merged += len(es)
    man = dict(man)
    man["delete_files"] = new_entries
    try:
        man, _ = _commit(
            spark, path, man, chunks=_visible_chunks(spark, path, cur),
            op="compact-deletes", parent=cur,
            extra={"compacted_files": n_merged},
        )
    except mf.ConcurrentCommitError:
        for dest in written:  # lost the CAS: reclaim our orphans now
            fsio.delete_dir(spark, dest)
        raise
    return man


def compact_chunks(
    spark: SparkSession,
    path: str,
    chunk_ids: list[int] | None = None,
    *,
    small_bytes: int | None = None,
    max_chunks: int | None = None,
    zlib_level: int = 6,
    effort: str = selector.EFFORT_MAX,
    codec_overrides: dict[str, str] | None = None,
    shuffle: str = "hash",
) -> dict:
    """Incremental data-file compaction — the Iceberg
    ``rewrite_data_files`` (bin-packing) analog, committed IN PLACE as
    a new snapshot. Streaming ingest appends one small chunk per
    micro-batch; this merges only the selected chunks into one fresh
    chunk and costs O(selected bytes), unlike ``scan.compact_to_path``
    /``scan.purge_deletes`` which rewrite the whole table into a new
    path. Reference parity: the reference's overview/ALL_touched
    maintenance rebuilds are likewise scoped rewrites over an
    otherwise-immutable Parquet layout (/root/reference/README.md
    `raquet_rewrite` workflow); the snapshot mechanics are Iceberg's.

    Selection: an explicit ``chunk_ids`` list, or the smallest visible
    chunks by encoded bytes — every chunk under ``small_bytes``, capped
    at ``max_chunks`` (smallest first). At least 2 chunks must qualify.

    Branch: on a local table with the hash shuffle, a selection whose
    decode plus encode is cheaper in-process than a Spark write's fixed
    cost (:func:`_write_on_driver` on the selected chunks' lineage
    ``raw_bytes``, at most 16 MiB) is read by the in-process reader
    (``reader.iter_blocks`` with its delete rule) and re-encoded on the
    driver with no Spark job; larger selections decode and re-encode as
    a Spark plan. Both give the same chunk.

    Semantics:

    * rows are read at the CURRENT snapshot with equality deletes
      applied (the merge-on-read view), so the rewrite applies those
      deletes PHYSICALLY for the compacted chunks; the new chunk id
      exceeds every live delete entry's sequence number, so no entry
      re-deletes (or misses) its rows — untouched chunks keep
      merge-on-read semantics unchanged.
    * the commit replaces the selected chunks in the visible set
      (op ``compact-chunks``, ``compacted_from`` recorded); old dirs
      stay on disk for time travel until ``expire_snapshots``.
    * concurrency: the commit CAS anchors to the snapshot at which the
      selection and delete entries were captured — a racing writer
      forces ``ConcurrentCommitError`` and a clean retry (the burned
      chunk id and dir are reclaimed by expiry, same as a lost append).
    * incremental readers: ``scan.read_changes`` /
      ``read_appended_between`` REFUSE ranges that span a
      compact-chunks snapshot (rewritten rows would surface as
      spurious inserts+deletes); ranges ending at or starting from the
      rewrite boundary stay exact — consume to the boundary first,
      Delta/Iceberg's rule for rewrite commits.
    """
    from . import scan as _scan

    man, cur = _writable_base(spark, path)
    visible = _visible_chunks(spark, path, cur)
    if chunk_ids is not None:
        sel = sorted({int(c) for c in chunk_ids})
        unknown = set(sel) - set(visible)
        if unknown:
            raise ValueError(
                f"chunks {sorted(unknown)} are not visible; "
                f"visible: {sorted(visible)}"
            )
    else:
        if small_bytes is None and max_chunks is None:
            raise ValueError(
                "pass chunk_ids, small_bytes or max_chunks to select "
                "what to compact"
            )
        lin = mf.read_chunk_lineage(path, spark, chunks=visible)
        sized = sorted(
            (int(lin.get(c, {}).get("enc_bytes") or 0), c) for c in visible
        )
        picked = [
            c for b, c in sized if small_bytes is None or b < small_bytes
        ]
        if max_chunks is not None:
            picked = picked[:max_chunks]
        sel = sorted(picked)
    if len(sel) < 2:
        raise ValueError(
            f"need at least 2 chunks to compact; selection: {sel} "
            f"(visible: {sorted(visible)})"
        )
    names = [c["name"] for c in man["columns"]]
    # the merge-on-read view of ONLY the selected chunks at the captured
    # snapshot: chunk set and delete entries are taken from (man, cur),
    # and the append's CAS (parent = cur) rejects the commit if any
    # writer advanced the log after this capture point
    entries = _scan.read_delete_entries(
        spark, path, snapshot_id=cur["snapshot_id"] if cur else None
    )
    lin = mf.read_chunk_lineage(path, spark, chunks=sel)
    figs = [lin.get(c, {}) for c in sel]
    from . import fsio, reader

    deletes = reader.load_deletes(path, entries)
    p = spark.sparkContext.defaultParallelism
    if (
        shuffle == "hash"
        and not fsio.is_remote(path)
        and all("raw_bytes" in f and "rows" in f for f in figs)
        and _write_on_driver(
            sum(int(f["raw_bytes"]) for f in figs),
            sum(int(f["rows"]) for f in figs), man["key"]["resolution"],
            p, effort, decode=True,
        )
    ):
        # the driver branch: decode in-process by the reader's delete
        # rule, block rows on one pool; no Spark plan is built
        files = [f for f in reader.visible_files(path, cur) if f[0] in sel]
        sels = reader.select_block_rows(files, man, reader.Envelope(man))
        threads = placement.driver_threads(sum(s.n_blocks for s in sels), p)
        rows, local = None, pa.Table.from_batches(
            list(reader.iter_blocks(
                sels, man, names, deletes=deletes, threads=threads
            )),
            schema=reader.arrow_schema(_scan._colspecs(man, names)),
        )
    else:
        blocks = _scan.read_blocks(spark, path).where(F.col("chunk").isin(sel))
        rows = _scan.decode_blocks(blocks, man, names, _deletes=deletes)
        local = None
    return append_chunk(
        spark,
        rows,
        path,
        zlib_level=zlib_level,
        effort=effort,
        codec_overrides=codec_overrides,
        shuffle=shuffle,
        _replace_chunks=sel,
        _op="compact-chunks",
        _base=(man, cur),
        _rows=local,
    )
