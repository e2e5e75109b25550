"""Spans recorded from outside the program, and Spark's event log
folded into them.

A span is (id, name, start, end, parent, op). The benchmark opens one
span per operation it issues (``scan.point_lookup``,
``encode.encode_to_path.max``, ``functions.txt_bpe`` ...), and
:meth:`Tracer.patch` wraps the driver-side public functions of the
package so every call they make into another layer opens a child span.
Each span sets the Spark job group to its own id, so the event log
attributes jobs, stages and tasks to the innermost open span. Spans stay
in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

# Driver-side public functions timed as child spans, by module. Kernels
# that run inside Python workers (codecs, selector, encode_block_arrow,
# decode helpers) are absent on purpose: a wrapper captured by a UDF
# closure would be shipped to the workers, and their cost is measured
# by the single-process microbenchmark instead.
PATCH_TARGETS = {
    "duckdb_raquet_spark.encode": [
        "encode_table", "write_blocks", "append_chunk", "compact_chunks",
        "delete_rows",
    ],
    "duckdb_raquet_spark.scan": [
        "read_manifest", "read_blocks", "read_blocks_at", "read_delete_entries",
        "decode_blocks", "prune_blocks_for_url_hash", "prune_blocks_for_ts",
        "transform_blocks", "read_rows",
    ],
    "duckdb_raquet_spark.manifest": [
        "read_sidecar", "write_sidecar", "committed_manifest",
        "write_chunk_lineage", "read_chunk_lineage", "finalize_manifest",
    ],
    "duckdb_raquet_spark.placement": ["lpt_bins", "partition_reps"],
    "duckdb_raquet_spark.functions.dedup": [
        "minhash_lsh_pairs", "incremental_minhash_dedup", "incremental_exact_dedup",
    ],
    "duckdb_raquet_spark.functions.text": [
        "repetition_scores", "tfidf_topk", "fuzzy_decontaminate", "spread_input",
    ],
    "duckdb_raquet_spark.functions.tokenizer": ["learn_bpe"],
    "duckdb_raquet_spark.functions.corpus": ["pack_sequences"],
}


def _layer_of(module: str) -> str:
    """``duckdb_raquet_spark.functions.text`` -> ``functions``."""
    parts = module.split(".")
    return parts[1] if len(parts) > 1 else parts[0]


class Tracer:
    """Span recorder for one run. Disabled tracers cost one branch."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb-{span['id']}", span["name"])

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start_ms": time.time() * 1000.0,
            "end_ms": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield
        finally:
            sp["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def patch(self) -> None:
        """Wrap every :data:`PATCH_TARGETS` function wherever a loaded
        module of the package binds it (``from .placement import
        lpt_bins as _lpt_bins`` makes a second binding), so internal
        calls open spans too."""
        mods = {
            name: mod
            for name, mod in list(sys.modules.items())
            if mod is not None and name.startswith("duckdb_raquet_spark")
        }
        for modname, fnames in PATCH_TARGETS.items():
            mod = mods.get(modname)
            if mod is None:
                continue
            for fname in fnames:
                fn = getattr(mod, fname, None)
                if fn is None:
                    continue
                wrapper = self._wrap(f"{_layer_of(modname)}.{fname}", fn)
                for m in mods.values():
                    for attr, val in list(vars(m).items()):
                        if val is fn:
                            self._patched.append((m, attr, fn))
                            setattr(m, attr, wrapper)

    def unpatch(self) -> None:
        for m, attr, fn in reversed(self._patched):
            setattr(m, attr, fn)
        self._patched.clear()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._stack and self._stack[-1]["name"] == name:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


# ---------------------------------------------------------------- event log --


def _event_lines(path: str):
    """Lines of an uncompressed event log: one file, or the
    ``events_<n>_*`` files of a rolling log directory in order."""
    if os.path.isdir(path):
        names = sorted(
            (n for n in os.listdir(path) if n.startswith("events_")),
            key=lambda n: int(n.split("_")[1]),
        )
        files = [os.path.join(path, n) for n in names]
    else:
        files = [path]
    for fp in files:
        with open(fp, encoding="utf-8") as f:
            yield from f


def read_event_log(path: str) -> dict:
    """Jobs (group, submit, end, stages) and per-stage task records
    from an uncompressed Spark event log (file or rolling directory)."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "submit_ms": ev["Submission Time"],
                "end_ms": None,
                "stages": list(ev.get("Stage IDs") or []),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.setdefault(ev["Stage ID"], []).append(
                {
                    "dur_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    "run_ms": m.get("Executor Run Time", 0),
                    "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                }
            )
    return {"jobs": jobs, "tasks": tasks}


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(spans: list[dict], log: dict) -> list[dict]:
    """Per span: wall_s, driver_s (wall not covered by any job of the
    span or its descendants), self_s (wall not covered by child spans),
    jobs, tasks, task_core_s, task_max_over_median (widest stage) and
    shuffle_mb."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    # a stage runs in the first job that lists it; later jobs skip it
    stage_job: dict[int, int] = {}
    for jid in sorted(log["jobs"]):
        for st in log["jobs"][jid]["stages"]:
            if st in log["tasks"]:
                stage_job.setdefault(st, jid)
    jobs_of: dict[int, list[int]] = {}
    for jid, job in log["jobs"].items():
        g = job["group"] or ""
        if g.startswith("pb-"):
            jobs_of.setdefault(int(g[3:]), []).append(jid)
    job_stages: dict[int, list[int]] = {}
    for st, jid in stage_job.items():
        job_stages.setdefault(jid, []).append(st)

    def subtree_jobs(sid: int) -> list[int]:
        out = list(jobs_of.get(sid, []))
        for c in children.get(sid, []):
            out += subtree_jobs(c)
        return out

    out = []
    for s in spans:
        if s["end_ms"] is None:
            continue
        jids = subtree_jobs(s["id"])
        ivals = [
            (log["jobs"][j]["submit_ms"], log["jobs"][j]["end_ms"] or s["end_ms"])
            for j in jids
        ]
        wall = s["end_ms"] - s["start_ms"]
        covered = _covered_ms(ivals, s["start_ms"], s["end_ms"])
        stage_tasks = [log["tasks"][st] for j in jids for st in job_stages.get(j, [])]
        all_tasks = [t for ts in stage_tasks for t in ts]
        widest = max(stage_tasks, key=len, default=[])
        durs = [t["dur_ms"] for t in widest]
        med = statistics.median(durs) if durs else 0.0
        out.append(
            {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "op": s["op"],
                "wall_s": wall / 1000.0,
                "driver_s": (wall - covered) / 1000.0,
                "jobs": len(jids),
                "tasks": len(all_tasks),
                "task_core_s": sum(t["run_ms"] for t in all_tasks) / 1000.0,
                "task_max_over_median": (max(durs) / med) if med > 0 else 1.0,
                "shuffle_mb": sum(t["shuffle_bytes"] for t in all_tasks) / 1e6,
                "self_s": (
                    wall
                    - _covered_ms(
                        [
                            (by_id[c]["start_ms"], by_id[c]["end_ms"])
                            for c in children.get(s["id"], [])
                            if by_id[c]["end_ms"] is not None
                        ],
                        s["start_ms"],
                        s["end_ms"],
                    )
                )
                / 1000.0,
            }
        )
    return out


SPAN_FIELDS = (
    "wall_s", "driver_s", "self_s", "jobs", "tasks", "task_core_s",
    "task_max_over_median", "shuffle_mb",
)


def per_name(records: list[dict]) -> dict[str, dict]:
    """Median of every span field over the spans of one name, plus the
    span count, keyed ``<name>.<field>``."""
    groups: dict[str, list[dict]] = {}
    for r in records:
        groups.setdefault(r["name"], []).append(r)
    out: dict[str, dict] = {}
    for name, rs in sorted(groups.items()):
        out[f"{name}.n"] = len(rs)
        for fld in SPAN_FIELDS:
            out[f"{name}.{fld}"] = statistics.median(r[fld] for r in rs)
    return out
