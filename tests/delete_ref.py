"""A reference for equality deletes that shares no code with the
package's delete rule (``reader.load_deletes`` / ``DeleteSet`` /
``_apply_deletes``).

Rows decode with no deletes applied, each tagged with its chunk. The
delete files are read straight with ``pyarrow.parquet``. A row is
dropped iff some file holds its key tuple with ``chunk <= seq``: for a
v1 file ``seq`` is the entry's, for a v2 file the row's ``_dseq``.
Delete-applying reads on either side of a gate are checked against
:func:`live_table`."""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from duckdb_raquet_spark import manifest as mf, reader, scan


def _plain(arr) -> list:
    """Values of ``arr`` comparable across files: timestamps as UTC
    microseconds (a Spark-written delete file may hold naive INT96)."""
    if pa.types.is_timestamp(arr.type):
        arr = arr.cast(pa.timestamp("us", arr.type.tz)).cast(pa.int64())
    return arr.to_pylist()


def _horizons(path: str, entries: list[dict]) -> list[tuple[list[str], dict]]:
    """Per delete file: its key columns and ``key tuple -> highest seq``."""
    out = []
    for e in entries:
        cols = list(e.get("cols") or [e["col"]])
        t = pq.read_table(os.path.join(path, e["dir"]))
        if e.get("v", 1) >= 2:
            keys = [_plain(t[f"_k{i}"]) for i in range(len(cols))]
            seqs = t["_dseq"].to_pylist()
        else:
            keys = [_plain(t.column(0))]
            seqs = [int(e["seq"])] * t.num_rows
        best: dict[tuple, int] = {}
        for k, s in zip(zip(*keys), seqs):
            if None not in k:  # NULL keys never match
                best[k] = max(s, best.get(k, s))
        out.append((cols, best))
    return out


def live_table(
    spark,
    path: str,
    cols: list[str] | None = None,
    *,
    staged: str | None = None,
    apply_deletes: bool = True,
) -> pa.Table:
    """The rows of ``path`` at its current snapshot, or of the staged
    commit ``staged``'s view, columns ``cols`` (default: all), with the
    deletes applied by the reference rule."""
    local = path.removeprefix("file://")
    man = scan.read_manifest(spark, path)
    if staged is not None:
        rec = mf.get_staged(local, staged)
        man = rec["manifest"]
        snap, entries = {"chunks": rec["chunks"]}, man.get("delete_files") or []
    else:
        snap = mf.current_snapshot(local)
        # the entries a read at that snapshot sees, renamed columns
        # replayed to the current names
        entries = scan.read_delete_entries(spark, path, snapshot_id=snap["snapshot_id"])
    horizons = _horizons(local, entries) if apply_deletes else []
    schema = reader.arrow_schema(scan._colspecs(man, cols))
    parts = [schema.empty_table()]
    for chunk, f in reader.visible_files(local, snap):
        sels = reader.select_block_rows([(chunk, f)], man, reader.Envelope(man))
        for b in reader.iter_blocks(sels, man):
            drop = np.zeros(b.num_rows, dtype=bool)
            for kc, best in horizons:
                rows = zip(*[_plain(b.column(c)) for c in kc])
                for i, k in enumerate(rows):
                    if (chunk or 0) <= best.get(k, -1):
                        drop[i] = True
            parts.append(pa.Table.from_batches([b]).filter(pa.array(~drop)).select(schema.names))
    return pa.concat_tables(parts)


def counts(rows) -> Counter:
    """The row multiset of an Arrow table, or of a DataFrame through
    ``toArrow`` (timestamps compare as instants)."""
    tbl = rows.toArrow() if hasattr(rows, "toArrow") else rows
    return Counter(tuple(r.values()) for r in tbl.to_pylist())
