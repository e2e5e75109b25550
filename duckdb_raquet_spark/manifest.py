"""JSON manifest — the self-describing metadata row convention.

A raquet table is a plain Parquet table where the row with ``block = 0``
carries a JSON manifest and every other row is a data block
(/root/reference/src/raquet_extension.cpp:34-35, metadata parsing at
/root/reference/src/include/raquet_metadata.hpp:1017-1072). We keep the
convention: the manifest row is appended only after every data row is
committed (the reference enforces this with a CAS,
/root/reference/src/raster/read_raster.cpp:1486-1590; we enforce it by
job ordering + an idempotent rewrite), and a ``_raquet_manifest.json``
sidecar is written for cheap driver-side access on local filesystems.
"""

from __future__ import annotations

import json
import os
import re
import time
from typing import Any

from . import FORMAT_VERSION, SUPPORTED_FORMAT_VERSIONS, __version__

KEY_SCHEME = "hashts-morton-v1"

# the 1.0 generation recorded the key hash as a free-text string; 1.1
# records it structured so readers need not parse prose
_LEGACY_HASH_STR = "xxhash64(url, seed=42) >> 38"
_HASH_STRUCT = {"fn": "xxhash64", "seed": 42, "shift": 38}


def build_manifest(
    *,
    columns: list[dict],
    resolution: int,
    bucket_seconds: int,
    url_col: str,
    ts_col: str | None,
    n_salt: int,
    ts_origin: int = 0,
    extra: dict | None = None,
) -> dict:
    return {
        "format_version": FORMAT_VERSION,
        "engine": f"duckdb_raquet_spark/{__version__}",
        "key": {
            "scheme": KEY_SCHEME,
            "resolution": resolution,
            "bucket_seconds": bucket_seconds,
            "ts_origin": ts_origin,
            "hash": dict(_HASH_STRUCT),
            "n_salt": n_salt,
        },
        "columns": columns,
        "url_col": url_col,
        "ts_col": ts_col,
        "created_unix": None,  # stamped at finalize
        "num_blocks": None,
        "num_rows": None,
        "raw_bytes": None,
        "enc_bytes": None,
        "codec_histogram": {},
        **(extra or {}),
    }


def finalize_manifest(
    manifest: dict,
    *,
    num_blocks: int,
    num_rows: int,
    raw_bytes: int,
    enc_bytes: int,
    codec_histogram: dict[str, dict[str, int]],
) -> dict:
    out = dict(manifest)
    out.update(
        created_unix=int(time.time()),
        num_blocks=num_blocks,
        num_rows=num_rows,
        raw_bytes=raw_bytes,
        enc_bytes=enc_bytes,
        codec_histogram=codec_histogram,
    )
    return out


def validate_manifest(m: dict) -> tuple[bool, list[str], list[str]]:
    """Structure validator — mirror of raquet_validate_metadata
    (/root/reference/src/metadata/raquet_metadata.cpp:16-133)."""
    errors: list[str] = []
    warnings: list[str] = []
    if m.get("format_version") not in SUPPORTED_FORMAT_VERSIONS:
        errors.append(f"unsupported format_version {m.get('format_version')!r}")
    key = m.get("key") or {}
    if key.get("scheme") != KEY_SCHEME:
        errors.append(f"unknown key scheme {key.get('scheme')!r}")
    res = key.get("resolution")
    if not isinstance(res, int) or not 0 <= res <= 26:
        errors.append(f"resolution {res!r} out of [0, 26]")
    if not isinstance(key.get("bucket_seconds"), int) or key.get("bucket_seconds", 0) <= 0:
        errors.append("bucket_seconds must be a positive int")
    cols = m.get("columns")
    if not cols:
        errors.append("no columns")
    else:
        names = [c.get("name") for c in cols]
        if len(set(names)) != len(names):
            errors.append("duplicate column names")
        if m.get("url_col") not in names:
            errors.append(f"url_col {m.get('url_col')!r} not in columns")
        if m.get("ts_col") is not None and m.get("ts_col") not in names:
            errors.append(f"ts_col {m.get('ts_col')!r} not in columns")
    if m.get("num_blocks") is None:
        warnings.append("manifest not finalized (num_blocks missing)")
    return (not errors, errors, warnings)


def to_json(manifest: dict) -> str:
    return json.dumps(manifest, sort_keys=True, separators=(",", ":"))


def normalize_manifest(m: dict) -> dict:
    """Upgrade an older-generation manifest to the current in-memory
    shape — ONE reader for every generation, the reference's
    multi-version parse (raquet_metadata.hpp:1017-1072). The on-disk
    bytes are untouched; only the returned dict is normalized.

    1.0 -> 1.1: ``key.hash`` was a free-text string; readers now see the
    structured form (the legacy text is preserved under ``legacy``)."""
    v = m.get("format_version")
    if v == "1.0":
        out = dict(m)
        key = dict(out.get("key") or {})
        h = key.get("hash")
        if isinstance(h, str):
            key["hash"] = {**_HASH_STRUCT, "legacy": h}
        out["key"] = key
        return out
    return m


def from_json(s: str) -> dict:
    return normalize_manifest(json.loads(s))


# ------------------------------------------------------- local sidecars ----


SIDECAR = "_raquet_manifest.json"


def write_sidecar(path: str, manifest: dict, spark=None) -> None:
    """Sidecar copy for cheap driver-side access. Remote (``://``) paths
    need a live session to reach the Hadoop FileSystem; without one the
    sidecar is skipped — the block=0 row stays the canonical copy."""
    from . import fsio

    if fsio.is_remote(path) and spark is None:
        return
    fsio.write_bytes(spark, path, SIDECAR, to_json(manifest).encode())


def read_sidecar(path: str, spark=None) -> dict | None:
    from . import fsio

    if fsio.is_remote(path) and spark is None:
        return None
    try:
        if not fsio.exists(spark, path, SIDECAR):
            return None
        return normalize_manifest(json.loads(fsio.read_bytes(spark, path, SIDECAR)))
    except Exception:
        return None


def lineage_dir(path: str) -> str:
    return os.path.join(path, "_lineage")


def write_chunk_lineage(
    path: str, chunk: int, record: dict[str, Any], spark=None
) -> None:
    from . import fsio

    fsio.write_bytes(
        spark,
        lineage_dir(path),
        f"chunk-{chunk:05d}.json",
        json.dumps(record, sort_keys=True).encode(),
    )


def lineage_ids(path: str, spark=None) -> list[int]:
    """Chunk ids that have a lineage file (a record or a claim), from
    the filenames alone: no record is read."""
    from . import fsio

    return [
        int(fn[6:-5])
        for fn in fsio.list_files(spark, lineage_dir(path))
        if fn.startswith("chunk-") and fn.endswith(".json")
    ]


def read_chunk_lineage(
    path: str, spark=None, include_claims: bool = False,
    chunks: list[int] | None = None,
) -> dict[int, dict]:
    """Lineage records by chunk id. A record with ``claimed: True`` is
    an appender's exclusive chunk-id CLAIM (written before its data,
    overwritten with the real record after) — not a completed chunk, so
    it is hidden unless ``include_claims`` (the id-selection path wants
    to see claims so racing appenders skip past each other).
    ``chunks`` reads exactly those ids' records (a missing one is
    absent from the result) instead of listing every record ever
    written."""
    from . import fsio

    d = lineage_dir(path)
    out: dict[int, dict] = {}
    for c in lineage_ids(path, spark) if chunks is None else chunks:
        fn = f"chunk-{int(c):05d}.json"
        if chunks is not None and not fsio.exists(spark, d, fn):
            continue
        rec = json.loads(fsio.read_bytes(spark, d, fn))
        if rec.get("claimed") and not include_claims:
            continue
        out[int(c)] = rec
    return out


# ------------------------------------------------------- snapshot log ----
#
# Iceberg-style table history over the chunked layout: every commit
# (initial encode, append_chunk, rollback) writes an immutable
# `_snapshots/snap-<n>.json` naming the set of chunk ids visible at
# that snapshot. Chunk ids are never reused, chunk directories are
# never rewritten after commit, so an old snapshot's file set stays
# readable forever — time travel is a partition filter, not a copy.
# Tables written before the log existed (e.g. the committed
# 1.0-generation fixture) simply have no `_snapshots/` dir; readers
# fall back to "everything visible".


def snapshots_dir(path: str) -> str:
    return os.path.join(path, "_snapshots")


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the same snapshot id first. The losing
    writer's data chunk (if any) is unreferenced — re-read the log and
    retry the commit; ``expire_snapshots`` reclaims abandoned chunks."""


def write_snapshot(path: str, snap: dict, spark=None) -> None:
    from . import fsio

    # exclusive create = optimistic concurrency (Iceberg's metadata
    # CAS): two writers racing to commit snapshot N cannot both win
    try:
        fsio.write_bytes_exclusive(
            spark,
            snapshots_dir(path),
            f"snap-{snap['snapshot_id']:05d}.json",
            json.dumps(snap, sort_keys=True).encode(),
        )
    except FileExistsError as e:
        raise ConcurrentCommitError(
            f"snapshot log at {path} advanced: snapshot "
            f"{snap['snapshot_id']} is already committed; re-read the "
            "snapshot log and retry"
        ) from e


def read_snapshots(path: str, spark=None) -> dict[int, dict]:
    from . import fsio

    d = snapshots_dir(path)
    out: dict[int, dict] = {}
    # a missing _snapshots/ dir lists as [] (pre-log table); any OTHER
    # IO error must propagate — swallowing it would make a logged table
    # look pre-log and let appends resurrect rolled-back orphan chunks
    names = fsio.list_files(spark, d)
    for fn in names:
        if fn.startswith("snap-") and fn.endswith(".json"):
            s = json.loads(fsio.read_bytes(spark, d, fn))
            out[int(s["snapshot_id"])] = s
    return out


def current_snapshot(path: str, spark=None) -> dict | None:
    # the id is numeric in the filename, so finding the tip is one dir
    # listing + ONE file read — snapshots embed the full manifest, so
    # parsing the whole log here would cost O(#commits x manifest size)
    # on every read/mutation of a long-lived streaming table
    from . import fsio

    d = snapshots_dir(path)
    best: tuple[int, str] | None = None
    for fn in fsio.list_files(spark, d):
        if fn.startswith("snap-") and fn.endswith(".json"):
            try:
                sid = int(fn[len("snap-"):-len(".json")])
            except ValueError:
                continue
            if best is None or sid > best[0]:
                best = (sid, fn)
    if best is None:
        return None
    return json.loads(fsio.read_bytes(spark, d, best[1]))


def committed_manifest(path: str, spark=None) -> tuple[dict | None, dict | None]:
    """(base manifest, snapshot it came from) for a mutation or a
    consistency-critical read. Snapshots written since round 5 embed
    the full manifest in the snapshot file itself, so the manifest
    travels ATOMICALLY with the exclusive-create CAS (Iceberg's
    metadata-file-then-pointer-swap discipline): a writer that bases
    its change on ``committed_manifest`` and passes the returned
    snapshot as the CAS parent can never lose a concurrent commit —
    the old read-sidecar-then-read-snapshot pair had a window where
    the winner's snapshot existed but its sidecar write hadn't landed,
    so the CAS loser's retry rebuilt from a stale manifest and
    silently dropped the winner's change. The sidecar (and the
    block=0 manifest row) remain as caches for pre-log tables and
    cheap driver access."""
    cur = current_snapshot(path, spark)
    if cur is not None and isinstance(cur.get("manifest"), dict):
        return normalize_manifest(cur["manifest"]), cur
    return read_sidecar(path, spark), cur


def snapshot_as_of(path: str, unix_ts: float, spark=None) -> dict | None:
    """Latest snapshot committed at or before ``unix_ts`` (Iceberg's
    FOR TIMESTAMP AS OF)."""
    snaps = read_snapshots(path, spark)
    live = [s for s in snaps.values() if s["committed_unix"] <= unix_ts]
    return max(live, key=lambda s: s["snapshot_id"]) if live else None


# ------------------------------------------------------------- refs ----
#
# Named snapshot references (Iceberg's `refs` metadata: tags). A tag is
# an IMMUTABLE pointer `_refs/<name>.json` -> snapshot id: exclusive
# create makes "create" a CAS (two writers racing the same name cannot
# both win), and re-pointing requires an explicit drop + create.
# `encode.expire_snapshots` never expires a tagged snapshot, so a tag
# pins its data files (chunk dirs + delete files) for as long as it
# exists — the audit/bisect/release workflow over a mutating table.

_REF_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")


def refs_dir(path: str) -> str:
    return os.path.join(path, "_refs")


def write_ref(path: str, name: str, snapshot_id: int, spark=None) -> dict:
    from . import fsio

    if not _REF_NAME_RE.match(name or ""):
        raise ValueError(
            f"invalid ref name {name!r}: use [A-Za-z0-9._-], start "
            "alphanumeric, <= 128 chars"
        )
    ref = {"name": name, "snapshot_id": int(snapshot_id), "kind": "tag"}
    try:
        fsio.write_bytes_exclusive(
            spark,
            refs_dir(path),
            f"{name}.json",
            json.dumps(ref, sort_keys=True).encode(),
        )
    except FileExistsError:
        raise FileExistsError(
            f"ref {name!r} already exists at {path}; drop it first "
            "(tags are immutable)"
        ) from None
    return ref


def read_refs(path: str, spark=None) -> dict[str, dict]:
    from . import fsio

    out: dict[str, dict] = {}
    d = refs_dir(path)
    for fn in fsio.list_files(spark, d):
        if fn.endswith(".json") and not fn.startswith("."):
            r = json.loads(fsio.read_bytes(spark, d, fn))
            out[r["name"]] = r
    return out


def delete_ref(path: str, name: str, spark=None) -> None:
    from . import fsio

    refs = read_refs(path, spark)
    if name not in refs:
        raise KeyError(f"no ref {name!r} at {path}; have {sorted(refs)}")
    fsio.delete_file(spark, refs_dir(path), f"{name}.json")


def resolve_ref(path: str, name: str, spark=None) -> int:
    refs = read_refs(path, spark)
    if name not in refs:
        raise KeyError(f"no ref {name!r} at {path}; have {sorted(refs)}")
    return int(refs[name]["snapshot_id"])


# ------------------------------------------------- staged commits (WAP) ----
#
# Iceberg write-audit-publish: a staged commit's data files land on
# disk and its would-be snapshot is parked under `_staged/` instead of
# the snapshot log, so readers of the table never see it. An audit
# job reads the staged view explicitly (scan.read_staged_rows), then
# `encode.publish_staged` turns the record into a real snapshot (same
# CAS as any commit) or `encode.drop_staged` abandons it (the chunk
# dir becomes a normal orphan, reclaimed by expire_snapshots).


def staged_dir(path: str) -> str:
    return os.path.join(path, "_staged")


def write_staged(path: str, rec: dict, spark=None) -> None:
    from . import fsio

    # exclusive create: tokens are unique, a collision is a logic bug
    fsio.write_bytes_exclusive(
        spark,
        staged_dir(path),
        f"staged-{rec['token']}.json",
        json.dumps(rec, sort_keys=True).encode(),
    )


def read_staged(path: str, spark=None) -> dict[str, dict]:
    from . import fsio

    out: dict[str, dict] = {}
    d = staged_dir(path)
    for fn in fsio.list_files(spark, d):
        if fn.startswith("staged-") and fn.endswith(".json"):
            r = json.loads(fsio.read_bytes(spark, d, fn))
            out[r["token"]] = r
    return out


def get_staged(path: str, token: str, spark=None) -> dict:
    recs = read_staged(path, spark)
    if token not in recs:
        raise KeyError(
            f"no staged commit {token!r} at {path}; have {sorted(recs)}"
        )
    return recs[token]


def delete_staged(path: str, token: str, spark=None) -> None:
    from . import fsio

    get_staged(path, token, spark)  # loud if absent
    fsio.delete_file(spark, staged_dir(path), f"staged-{token}.json")


def make_snapshot(
    *,
    snapshot_id: int,
    chunks: list[int],
    op: str,
    parent_id: int | None,
    num_rows: int | None = None,
    enc_bytes: int | None = None,
    extra: dict | None = None,
) -> dict:
    snap = {
        "snapshot_id": snapshot_id,
        "parent_id": parent_id,
        "op": op,
        "chunks": sorted(chunks),
        "committed_unix": time.time(),
        "num_rows": num_rows,
        "enc_bytes": enc_bytes,
    }
    if extra:
        snap.update(extra)
    return snap


def delete_entry_cols(e: dict) -> list[str]:
    """Key column list of an equality-delete entry. v2 entries
    (composite-key capable, written by encode.delete_rows since the
    explicit-sequence format) carry ``cols``; v1 entries carry a
    single ``col``. Every consumer goes through this helper so both
    generations coexist in one table's entry list."""
    cols = e.get("cols")
    return list(cols) if cols else [e["col"]]


def _entry_with_cols(e: dict, cols: list[str]) -> dict:
    out = dict(e)
    if e.get("cols"):
        out["cols"] = cols
    if "col" in e and len(cols) == 1:
        out["col"] = cols[0]
    return out


def remap_delete_entries(
    snaps: dict, after_id: int, entries: list[dict]
) -> list[dict]:
    """Replay rename-column ops committed AFTER snapshot ``after_id``
    over equality-delete entries' logical column names, so entries
    recorded under an old name resolve against the current manifest
    (value files are read by fixed internal/positional names; only the
    label moves). Used by time-travel reads and by rollback, which
    copies a historical snapshot's entries into a NEW snapshot id —
    past that point no later rename op exists to fix them, so they
    must be remapped at copy time."""
    renames = [
        (snaps[i]["from"], snaps[i]["to"])
        for i in sorted(snaps)
        if i > after_id and snaps[i].get("op") == "rename-column"
    ]
    if not renames or not entries:
        return entries
    out = []
    for e in entries:
        cols = delete_entry_cols(e)
        mapped = list(cols)
        for old, new in renames:
            mapped = [new if c == old else c for c in mapped]
        out.append(_entry_with_cols(e, mapped) if mapped != cols else e)
    return out
