#!/usr/bin/env python3
"""Benchmark of duckdb_raquet_spark: one workload per run.

    python3 perfbench/run.py --workload {table,corpus} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from ``--seed``
(and cached by seed and size under ``.perfbench/cache``); the session is
``local[nproc]`` with memory that fits a 15 GB host. The operations run
in a closed loop with one client until they have taken ``--seconds``
seconds; every operation's output is checked outside its timer.

stdout carries two JSON lines: a summary (workload figures by name and
unit, checks, host weather), then the result line with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the result holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics of a traced run, whose
spans and per-span figures are written to ``.perfbench/out``. Spark's
own output goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPEATS = 3
RUN_CAP_S = 150.0  # stop issuing ops past this, well inside the 180 s limit
CACHE_KEEP = 24  # newest cached input files kept per checkout
MICRO_BLOCKS, MICRO_ROWS = 2, 2048
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
}


def per_layer_units() -> dict[str, str]:
    import micro

    units = {
        "ops.wall_s": "s",
        "ops.driver_s": "s",
        "ops.driver_frac": "ratio",
        "ops.jobs": "count",
        "ops.tasks": "count",
        "ops.task_core_s": "s",
        "ops.task_max_over_median": "ratio",
        "ops.shuffle_mb": "MB",
    }
    for layer in ("encode", "scan", "manifest", "placement", "functions"):
        units[f"calls.{layer}"] = "count"
    for way in ("encode", "decode"):
        for col, _ in micro.COLUMNS:
            for effort in micro.EFFORTS:
                units[f"codecs.{way}_mbps.{col}.{effort}"] = "MB/s"
    for effort in micro.EFFORTS:
        units[f"encode.block_mbps.{effort}"] = "MB/s"
    for b in micro.HIST_BUCKETS:
        units[f"selector.codec_hist.{b}"] = "count"
    units.update(
        {
            "host.steal_pct": "%",
            "host.nproc": "count",
            "host.peak_rss_mb": "MB",
            "trace.overhead_frac": "ratio",
            "check.failed_frac": "ratio",
        }
    )
    return units


# ---------------------------------------------------------------- host ----


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat; (0, 0) where absent."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return sum(vals[:8]), (vals[7] if len(vals) > 7 else 0)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 1e6


class RssSampler:
    """Peak RSS of this process plus every descendant (the Spark driver
    JVM and its Python workers), sampled on a background thread."""

    def __init__(self, enabled: bool, period_s: float = 0.5):
        self.enabled = enabled
        self.period_s = period_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_mb([me] + descendants(me)))
            self._stop.wait(self.period_s)

    def __enter__(self):
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        if self.enabled:
            self._thread.join(timeout=10)


# ------------------------------------------------------------- context ----


class Ctx:
    """What a workload needs: the session, its inputs and op recording."""

    def __init__(self, spark, seed: int, seconds: int, tracer, run_dir: str, traced: bool):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.traced = traced
        self.run_dir = run_dir
        self.cache_dir = os.path.join(WORK, "cache")
        self.ops: list[dict] = []
        self.notes: list[str] = []
        self.micro: dict = {}
        self.span_metrics: dict = {}
        self._fresh = 0

    def fresh(self, tag: str) -> str:
        self._fresh += 1
        return os.path.join(self.run_dir, "tables", f"{tag}-{self._fresh}")

    def cached_webtext(self, n: int) -> str:
        import gen

        return gen.cached(
            os.path.join(self.cache_dir, f"webtext-s{self.seed}-n{n}.parquet"),
            lambda: gen.webtext(self.seed, n),
        )

    def note(self, msg: str) -> None:
        self.notes.append(msg)
        print(f"perfbench: {msg}", file=sys.stderr)

    def op(self, kind: str, fn, nbytes: int) -> bool:
        """Run one timed operation; True when it raised nothing. In a
        traced run, ops of each kind alternate traced / untraced, so
        ``trace.overhead_frac`` compares the two under the same weather."""
        same = sum(1 for r in self.ops if r["kind"] == kind)
        traced = self.traced and same % 2 == 0
        self.tracer.enabled = traced
        err = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind, op=len(self.ops)):
                fn()
        except Exception as e:  # a failed op is counted, never fatal
            err = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        wall = time.perf_counter() - t0
        self.tracer.enabled = False
        self.ops.append(
            {"kind": kind, "wall_s": wall, "bytes": nbytes, "ok": err is None,
             "traced": traced, "error": err}
        )
        if err:
            self.note(f"{kind} failed: {err[:300]}")
        return err is None

    def check_op(self, fn) -> None:
        """Check the last op's output (untimed); a False or an exception
        marks the op failed."""
        rec = self.ops[-1]
        try:
            good = bool(fn())
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            good = False
            rec["error"] = f"check raised {type(e).__name__}: {e}"
        rec["checked"] = good
        if not good:
            rec["ok"] = False
            self.note(f"{rec['kind']} output check failed")

    def op_time(self) -> float:
        return sum(r["wall_s"] for r in self.ops)

    def walls(self, kind: str, traced: bool | None = None) -> list[float]:
        return [
            r["wall_s"]
            for r in self.ops
            if r["kind"] == kind and r["ok"] and (traced is None or r["traced"] == traced)
        ]

    def span_stat(self, name: str, field: str):
        return self.span_metrics.get(f"{name}.{field}")


def geomean(vals: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def op_p50(ctx: Ctx, kinds, traced: bool | None = None) -> float | None:
    """Geometric mean over op kinds of each kind's median wall."""
    meds = [statistics.median(w) for k in kinds if (w := ctx.walls(k, traced))]
    return geomean(meds) if meds else None


def ops_per_s(ctx: Ctx, kinds) -> float | None:
    """Geometric mean over op kinds of each kind's closed-loop rate
    (ops completed per second of that kind's op time), so the figure
    does not depend on how many ops of each kind a run made."""
    rates = [len(w) / sum(w) for k in kinds if (w := ctx.walls(k))]
    return geomean(rates) if rates else None


# --------------------------------------------------------------- spark ----


def start_spark(run_dir: str, cores: int, traced: bool):
    from pyspark.sql import SparkSession

    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    if traced:
        evdir = os.path.join(run_dir, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + evdir)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, then wait for every
    process this run started (the JVM's Python workers included)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, 9)
        except OSError:
            pass
    for p in descendants(os.getpid()):
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def remove_stale_runs() -> None:
    """Delete the work dirs of earlier runs that were killed."""
    for name in os.listdir(WORK) if os.path.isdir(WORK) else []:
        if name.startswith("run-") and name[4:].isdigit():
            try:
                os.kill(int(name[4:]), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
            except PermissionError:
                pass


def evict_cache(cache_dir: str) -> None:
    """Keep the newest CACHE_KEEP cached inputs (files or dirs)."""
    if not os.path.isdir(cache_dir):
        return
    entries = sorted(
        (os.path.join(cache_dir, n) for n in os.listdir(cache_dir)),
        key=os.path.getmtime,
        reverse=True,
    )
    for p in entries[CACHE_KEEP:]:
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            try:
                os.remove(p)
            except OSError:
                pass


# ----------------------------------------------------------------- run ----


def traced_metrics(ctx: Ctx, wl, spans: list[dict]) -> dict:
    """Per-layer metrics of a traced run from its attributed spans."""
    import spans as tr

    ops = [s for s in spans if s["parent"] is None and s["op"] is not None]
    out: dict[str, float] = {}
    for fld in ("wall_s", "driver_s", "jobs", "tasks", "task_core_s",
                "task_max_over_median", "shuffle_mb"):
        out[f"ops.{fld}"] = statistics.median(s[fld] for s in ops) if ops else 0.0
    wall = sum(s["wall_s"] for s in ops)
    out["ops.driver_frac"] = sum(s["driver_s"] for s in ops) / wall if wall else 0.0
    op_ids = {s["op"] for s in ops}
    for layer in ("encode", "scan", "manifest", "placement", "functions"):
        n = sum(
            1 for s in spans
            if s["parent"] is not None and s["op"] in op_ids and s["name"].startswith(layer + ".")
        )
        out[f"calls.{layer}"] = n / max(len(ops), 1)
    ctx.span_metrics = tr.per_name(spans)
    return out


def run(args) -> int:
    import gen
    import spans as tr
    import workloads

    wl = workloads.WORKLOADS[args.workload]()
    traced = bool(args.trace)
    remove_stale_runs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    evict_cache(os.path.join(WORK, "cache"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.makedirs(tempfile.tempdir)
    # every JVM (spark-submit's launcher too): temp files in the run dir,
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    cores = nproc()
    t_run = time.time()
    cpu0 = cpu_times()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(run_dir, cores, traced)
        t_session = time.perf_counter() - t0
        tracer = tr.Tracer(spark.sparkContext, enabled=False)
        ctx = Ctx(spark, args.seed, args.seconds, tracer, run_dir, traced)
        t0 = time.perf_counter()
        wl.prepare(ctx)
        t_prepare = time.perf_counter() - t0
        builds = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.build(ctx)
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warmup(ctx)
        t_warm = time.perf_counter() - t0
        setup_s = t_session + t_prepare + statistics.median(builds) + t_warm
        print(
            f"perfbench: setup session={t_session:.2f}s prepare={t_prepare:.2f}s "
            f"builds={[round(b, 2) for b in builds]} warmup={t_warm:.2f}s",
            file=sys.stderr,
        )
        if traced:
            tracer.patch()

        # RSS sampling walks /proc on a thread; only the traced run pays it
        with RssSampler(enabled=traced) as rss:
            while time.time() - t_run < RUN_CAP_S and wl.more(ctx):
                wl.cycle(ctx)
        wl.finish(ctx)
        if traced:
            tracer.unpatch()
            import micro

            src = getattr(wl, "input_path", None) or ctx.cached_webtext(4 * MICRO_ROWS)
            blocks = micro.sample_blocks(gen.read(src), args.seed, MICRO_BLOCKS, MICRO_ROWS)
            ctx.micro, hist = micro.run(blocks)
    finally:
        if spark is not None:
            stop_spark(spark)
    cpu1 = cpu_times()
    dt = cpu1[0] - cpu0[0]
    steal_pct = 100.0 * (cpu1[1] - cpu0[1]) / dt if dt > 0 else 0.0

    attempted = len(ctx.ops)
    failed = sum(1 for r in ctx.ops if not r["ok"])
    if attempted == 0:
        print("perfbench: no operation ran", file=sys.stderr)
        return 1
    failed_frac = failed / attempted
    kinds_seen = [k for k in wl.kinds if ctx.walls(k)]
    tallied = [k for k in wl.kinds if k not in wl.untallied]
    p50 = op_p50(ctx, tallied)
    summary = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": int(traced),
        "nproc": cores,
        "steal_pct": steal_pct,
        "setup_s": setup_s,
        "setup_builds_s": builds,
        "failed_frac": failed_frac,
        **({"peak_rss_mb": rss.peak} if traced else {}),
        "ops": {
            k: {"n": len(ctx.walls(k)), "p50_s": statistics.median(ctx.walls(k))}
            for k in kinds_seen
        },
        "metrics": wl.summary(ctx),
        "failures": ctx.notes,
    }
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    out_base = os.path.join(WORK, "out", f"{wl.name}-s{args.seed}-t{int(traced)}")
    if traced:
        logs = [os.path.join(run_dir, "eventlog", n) for n in os.listdir(os.path.join(run_dir, "eventlog"))]
        records = tr.attribute(tracer.spans, tr.read_event_log(logs[0])) if logs else []
        metrics = traced_metrics(ctx, wl, records)
        metrics.update(ctx.micro)
        metrics.update({f"selector.codec_hist.{b}": n for b, n in hist.items()})
        both = [k for k in tallied if ctx.walls(k, False) and ctx.walls(k, True)]
        untraced = op_p50(ctx, both, traced=False)
        traced_p50 = op_p50(ctx, both, traced=True)
        metrics["trace.overhead_frac"] = (traced_p50 / untraced - 1.0) if untraced and traced_p50 else 0.0
        metrics["host.steal_pct"] = steal_pct
        metrics["host.nproc"] = cores
        metrics["host.peak_rss_mb"] = rss.peak
        metrics["check.failed_frac"] = failed_frac
        extras = wl.layer_extras(ctx)
        summary["layers"] = {**ctx.span_metrics, **extras}
        with open(out_base + "-spans.json", "w", encoding="utf-8") as f:
            json.dump({"spans": records, "by_name": ctx.span_metrics, "extras": extras}, f)
        units = per_layer_units()
        result_metrics = {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        values = {"setup_s": setup_s, "op_p50_s": p50, "ops_per_s": ops_per_s(ctx, tallied)}
        result_metrics = {
            k: {"value": float(v), "unit": END_TO_END[k]} for k, v in values.items() if v is not None
        }
    summary["result_metrics"] = result_metrics
    with open(out_base + ".json", "w", encoding="utf-8") as f:
        json.dump({"summary": summary, "ops": ctx.ops}, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    if not traced and len(result_metrics) < len(END_TO_END):
        print(f"perfbench: no successful op for some metric: {sorted(result_metrics)}", file=sys.stderr)
        return 1
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": result_metrics,
    }
    emit(json.dumps(summary, default=float))
    emit(json.dumps(result))
    return 0


_RESULT_OUT = None


def emit(line: str) -> None:
    _RESULT_OUT.write(line + "\n")
    _RESULT_OUT.flush()


def main() -> int:
    global _RESULT_OUT
    sys.path[:0] = [HERE, ROOT]
    import workloads

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (
        os.path.isdir(os.path.join(ROOT, "duckdb_raquet_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"perfbench: no duckdb_raquet_spark package under {ROOT}", file=sys.stderr)
        return 2
    # results go to the real stdout; everything else (Spark, the JVM,
    # Python workers, library prints) is routed to stderr
    _RESULT_OUT = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
