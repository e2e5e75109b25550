"""The workloads. Each one prepares its inputs, builds the tables it
needs before timing (the set-up that ``setup_s`` times), warms up, then
runs its operations in a closed loop with one client. Every operation's
output is checked outside its timer; a wrong answer or an error is a
failed operation, never an abort.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import gen

TABLE_ROWS = 6_000
WARM_DOCS = 60
DELTA_ROWS = 150
MIN_APPENDS = 2
CORPUS_DOCS = 500
MISS_SHARE = 0.10  # url lookups for urls absent from the table
MASK_LANGS = ["en", "de"]
DELETE_LANG = "fr"
CORPUS_QUERIES = (
    "dedup_minhash", "dedup_minhash_incr", "dedup_incremental", "txt_repetition",
    "txt_bpe", "txt_tfidf", "corpus_pack", "txt_decontam_fuzzy",
)


# ------------------------------------------------------------------ helpers --


def row_multiset(tbl: pa.Table, cols: list[str]) -> Counter:
    """Order-insensitive content of ``tbl`` (timestamps as epoch us,
    strings and binaries as Python str/bytes)."""
    arrays = []
    for c in cols:
        a = tbl[c]
        if pa.types.is_timestamp(a.type):
            a = pc.cast(a, pa.int64())
        arrays.append(a.to_pylist())
    return Counter(zip(*arrays))


def table_bytes(path: str) -> int:
    """Bytes of every data file under a table directory."""
    total = 0
    for d, _, files in os.walk(os.path.join(path, "data")):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


def tail_stat(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples above it, or None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    k = n - 10  # 1-based rank with n - k == 10 samples beyond it
    return 100.0 * k / n, sorted(values)[k - 1]


def normalize_rows(rows: list[tuple], cols: list[str]):
    """Column names sorted, rows sorted, floats rounded to 9 places and
    bytes hex-encoded: the comparison the oracle tool makes."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 9)
        if isinstance(v, (bytes, bytearray)):
            return bytes(v).hex()
        return v

    vals = [tuple(cell(r[i]) for i in order) for r in rows]
    return sorted(vals, key=repr), [cols[i] for i in order]


def shingles(text: str) -> frozenset:
    """The oracle's 3-word shingle set (the whole text below 3 words)."""
    w = text.split(" ")
    if len(w) < 3:
        return frozenset([" ".join(w)])
    return frozenset(" ".join(w[i:i + 3]) for i in range(len(w) - 2))


def jaccard_pairs(ids: list[int], texts: list[str], keep=None) -> list[tuple[int, int, float]]:
    """Every pair (a < b) with shingle Jaccard >= 0.5 — the exact pair
    set of the all-pairs ``_JACCARD_PAIRS_GLOBAL`` oracle, found through
    an inverted index instead of a quadratic join. ``keep(a, b)``
    filters pairs."""
    sets = dict(zip(ids, map(shingles, texts)))
    post: dict[str, list[int]] = {}
    for i in ids:
        for g in sets[i]:
            post.setdefault(g, []).append(i)
    out = []
    for a in ids:
        cands = {b for g in sets[a] for b in post[g] if b > a}
        for b in sorted(cands):
            inter = len(sets[a] & sets[b])
            jac = inter / len(sets[a] | sets[b])
            if jac >= 0.5 and (keep is None or keep(a, b)):
                out.append((a, b, jac))
    return out


def round_half_up(x: float, places: int) -> float:
    """Spark's ``round``: HALF_UP on the shortest decimal repr."""
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def minhash_twin(docs: pa.Table, query: str):
    """(rows, cols) the ``dedup_minhash`` / ``dedup_minhash_incr``
    oracles define: the exact >= 0.5 pair set, and for the incremental
    entry its component rules (odd doc ids are the new batch; a batch
    doc is dropped when its component holds a base doc or a smaller
    batch id)."""
    ids = docs["doc_id"].to_pylist()
    texts = docs["text"].to_pylist()
    if query == "dedup_minhash":
        pairs = jaccard_pairs(ids, texts)
        return [(a, b, round_half_up(j, 4)) for a, b, j in pairs], ["a", "b", "jac"]
    pairs = jaccard_pairs(ids, texts, keep=lambda a, b: a % 2 == 1 or b % 2 == 1)
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, list[int]] = {}
    for x in list(parent):
        comps.setdefault(find(x), []).append(x)
    drops = set()
    for members in comps.values():
        has_base = any(m % 2 == 0 for m in members)
        min_delta = min((m for m in members if m % 2 == 1), default=None)
        drops |= {m for m in members if m % 2 == 1 and (has_base or m != min_delta)}
    langs = docs["lang"].to_pylist()
    rows = [(i, lg) for i, lg in zip(ids, langs) if i % 2 == 1 and i not in drops]
    return rows, ["doc_id", "lang"]


class Workload:
    name = ""
    kinds: tuple[str, ...] = ()
    # kinds left out of the end-to-end figures (still run and checked)
    untallied: tuple[str, ...] = ()

    def prepare(self, ctx) -> None:
        """Generate (or load cached) inputs."""

    def build(self, ctx) -> None:
        """Build the tables timing needs; called several times."""

    def warmup(self, ctx) -> None:
        """Untimed operations that fill caches and start workers."""

    def more(self, ctx) -> bool:
        """Whether the closed loop runs another cycle: until the ops
        have taken ``--seconds``; a traced run also needs two ops of
        every kind (one traced, one untraced)."""
        if ctx.op_time() < ctx.seconds:
            return True
        return ctx.traced and any(len(ctx.walls(k)) < 2 for k in self.kinds)

    def cycle(self, ctx) -> None:
        """One loop iteration: one or more timed operations."""

    def finish(self, ctx) -> None:
        """Checks deferred to the end of the run."""

    def summary(self, ctx) -> dict:
        """Workload-specific end-to-end figures, by name with units."""
        return {}

    def layer_extras(self, ctx) -> dict:
        """Untimed per-layer counts for the traced run."""
        return {}


# -------------------------------------------------------------------- table --


class Table(Workload):
    """The table engine end to end on one chunked table (``chunks=2``,
    default effort) built during set-up. One cycle runs four phases:

    1. ingest: bulk ``encode_to_path`` of the webtext input into fresh
       tables, once at ``effort="max"`` and once at ``effort="fast"``;
    2. lookup: an interleaved, seeded stream of url-only
       ``point_lookup`` calls (all captures of one url; ~10% are urls
       absent from the table) and one-day ``range_scan_ts`` scans, each
       reading the manifest first, until the phase has used its share
       of the window;
    3. maintain: small ``append_chunk`` deltas until the phase has used
       its share, one ``compact_chunks`` of them and one ``delete_rows``;
    4. one ``mask_values_in(lang in {en, de})`` and one full
       ``read_rows`` (merge-on-read).
    """

    name = "table"
    kinds = (
        "encode.encode_to_path.max", "encode.encode_to_path.fast",
        "scan.point_lookup", "scan.range_scan_ts",
        "encode.append_chunk", "encode.compact_chunks", "encode.delete_rows",
        "scan.mask_values_in", "scan.read_rows",
    )
    # a metadata-only commit of a few ms: its timing is file-system
    # jitter (IQR/median ~0.5 over seeds), so it stays out of the figures
    untallied = ("encode.delete_rows",)
    # phase ends as shares of --seconds of op time (ingest ends where it
    # ends; the final mask and read always run)
    LOOKUP_UNTIL = 0.55
    APPEND_UNTIL = 0.75

    def prepare(self, ctx) -> None:
        self.input_path = ctx.cached_webtext(TABLE_ROWS)
        self.base = gen.read(self.input_path)
        self.raw = gen.raw_bytes(self.base)
        self.expect = row_multiset(self.base, gen.WEBTEXT_COLS)
        rng = np.random.default_rng([ctx.seed, 4])
        urls = sorted(set(self.base["url"].to_pylist()))
        per_day = Counter(us // 86_400_000_000
                          for us in pc.cast(self.base["warc_ts"], pa.int64()).to_pylist())
        # days of typical size (between the quartiles of rows per day), so
        # a run's few range scans do not hinge on drawing a burst day
        q1, _, q3 = statistics.quantiles(per_day.values(), n=4)
        days = sorted(d for d, c in per_day.items() if q1 <= c <= q3)
        self.stream = []
        for i in range(4096):
            if i % 2 == 0:
                u = urls[int(rng.integers(len(urls)))]
                self.stream.append(("point", u + "-absent" if rng.random() < MISS_SHARE else u))
            else:
                self.stream.append(("range", days[int(rng.integers(len(days)))]))
        self.pos = 0
        self.n_delta = 0
        self.stored: dict[str, int] = {}
        self.lookups_done: list[tuple[str, object, int]] = []
        self.cycles = 0

    def build(self, ctx) -> None:
        from duckdb_raquet_spark import encode

        self.spare = getattr(self, "table", None)
        self.table = ctx.fresh("table")
        self.df = ctx.spark.read.parquet(self.input_path)
        encode.encode_to_path(ctx.spark, self.df, self.table, chunks=2)
        self.physical = [self.base]
        self.deleted = False

    def warmup(self, ctx) -> None:
        """One append and one mask on an earlier set-up table, so the
        timed table starts as built. The other kinds need none: set-up
        warms encode, and each cycle's encode check warms decode before
        the timed reads."""
        from duckdb_raquet_spark import encode, scan

        spare = self.spare or self.table
        encode.append_chunk(ctx.spark, ctx.spark.read.parquet(self._delta_path(ctx, 0)), spare)
        man = scan.read_manifest(ctx.spark, spare)
        scan.mask_values_in(scan.read_blocks(ctx.spark, spare), man, "lang", MASK_LANGS).write.parquet(
            ctx.fresh("warm-mask")
        )

    def more(self, ctx) -> bool:
        # one cycle per run, traced or not: the first op of each kind is
        # traced, and the lookups and appends give the untraced twins
        return self.cycles < 1

    def cycle(self, ctx) -> None:
        t0 = ctx.op_time()
        self._ingest(ctx)
        self._lookups(ctx, t0 + self.LOOKUP_UNTIL * ctx.seconds)
        self._maintain(ctx, t0 + self.APPEND_UNTIL * ctx.seconds)
        self.cycles += 1

    # ---- ingest

    def _ingest(self, ctx) -> None:
        from duckdb_raquet_spark import encode

        for effort in ("max", "fast"):
            out = ctx.fresh(f"enc-{effort}")
            if ctx.op(f"encode.encode_to_path.{effort}",
                      lambda: encode.encode_to_path(ctx.spark, self.df, out, effort=effort),
                      self.raw):
                ctx.check_op(lambda: self._check_encode(ctx, out, effort))

    def _check_encode(self, ctx, out: str, effort: str) -> bool:
        """The new table decodes to the input rows, html bytes included."""
        from duckdb_raquet_spark import scan

        got = row_multiset(scan.read_rows(ctx.spark, out).toArrow(), gen.WEBTEXT_COLS)
        self.stored[effort] = table_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        return got == self.expect

    # ---- lookup

    def _live(self) -> pa.Table:
        phys = pa.concat_tables(self.physical)
        if not self.deleted:
            return phys
        return phys.filter(pc.invert(pc.fill_null(pc.equal(phys["lang"], DELETE_LANG), False)))

    def _lookup(self, ctx, table: str, kind: str, arg) -> pa.Table:
        from duckdb_raquet_spark import scan

        man = scan.read_manifest(ctx.spark, table)
        if kind == "point":
            return scan.point_lookup(ctx.spark, table, arg, man=man).toArrow()
        return scan.range_scan_ts(ctx.spark, table, arg * 86_400, arg * 86_400 + 86_400, man=man).toArrow()

    def _lookups(self, ctx, until: float) -> None:
        live = self._live()
        by_url: dict[str, Counter] = {}
        by_day: dict[int, Counter] = {}
        for r in row_multiset(live, gen.WEBTEXT_COLS).elements():
            by_url.setdefault(r[0], Counter())[r] += 1
            by_day.setdefault(r[1] // 86_400_000_000, Counter())[r] += 1
        n = 0
        while n < 2 or ctx.op_time() < until:
            n += 1
            kind, arg = self.stream[self.pos % len(self.stream)]
            self.pos += 1
            box = {}

            def run(kind=kind, arg=arg):
                box["out"] = self._lookup(ctx, self.table, kind, arg)

            name = "scan.point_lookup" if kind == "point" else "scan.range_scan_ts"
            if ctx.op(name, run, 0):
                got = box.pop("out")
                expect = (by_url if kind == "point" else by_day).get(arg, Counter())
                ctx.check_op(lambda: row_multiset(got, gen.WEBTEXT_COLS) == expect)
                self.lookups_done.append((kind, arg, got.num_rows))

    # ---- maintain

    def _delta_path(self, ctx, k: int) -> str:
        return gen.cached(
            os.path.join(ctx.cache_dir, f"webtext-s{ctx.seed}-delta{k}-n{DELTA_ROWS}.parquet"),
            lambda: gen.webtext(ctx.seed, DELTA_ROWS, part=k + 1),
        )

    def _chunks(self, ctx) -> list[int]:
        from duckdb_raquet_spark import manifest as mf

        return list(mf.current_snapshot(self.table, ctx.spark)["chunks"])

    def _num_rows(self, ctx) -> int:
        from duckdb_raquet_spark import manifest as mf

        man, _ = mf.committed_manifest(self.table, ctx.spark)
        return int(man["num_rows"])

    def _maintain(self, ctx, until: float) -> None:
        from duckdb_raquet_spark import encode, scan

        spark = ctx.spark
        before = set(self._chunks(ctx))
        n = 0
        while n < MIN_APPENDS or ctx.op_time() < until:
            n += 1
            self.n_delta += 1
            dpath = self._delta_path(ctx, self.n_delta)
            delta = gen.read(dpath)
            if ctx.op("encode.append_chunk",
                      lambda: encode.append_chunk(spark, spark.read.parquet(dpath), self.table),
                      gen.raw_bytes(delta)):
                self.physical.append(delta)
                n_phys = sum(t.num_rows for t in self.physical)
                ctx.check_op(lambda: self._num_rows(ctx) == n_phys)
        new = sorted(set(self._chunks(ctx)) - before)
        if ctx.op("encode.compact_chunks",
                  lambda: encode.compact_chunks(spark, self.table, chunk_ids=new), 0):
            ctx.check_op(lambda: set(new).isdisjoint(self._chunks(ctx)))
        if ctx.op("encode.delete_rows",
                  lambda: encode.delete_rows(spark, self.table, "lang", [DELETE_LANG]), 0):
            self.deleted = True
            ctx.check_op(lambda: bool(scan.read_manifest(spark, self.table).get("delete_files")))
        phys = pa.concat_tables(self.physical)
        raw = gen.raw_bytes(phys)
        masked = ctx.fresh("masked")

        def mask():
            man = scan.read_manifest(spark, self.table)
            blocks = scan.read_blocks(spark, self.table)
            scan.mask_values_in(blocks, man, "lang", MASK_LANGS).write.parquet(masked)

        if ctx.op("scan.mask_values_in", mask, raw):
            keep = phys.filter(pc.is_in(phys["lang"], pa.array(MASK_LANGS)))
            ctx.check_op(lambda: self._check_mask(ctx, masked, keep))
        box = {}

        def read():
            box["out"] = scan.read_rows(spark, self.table).toArrow()

        if ctx.op("scan.read_rows", read, gen.raw_bytes(self._live())):
            got = box.pop("out")
            live = self._live()
            ctx.check_op(lambda: row_multiset(got, gen.WEBTEXT_COLS)
                         == row_multiset(live, gen.WEBTEXT_COLS))

    def _check_mask(self, ctx, masked: str, keep: pa.Table) -> bool:
        """The masked blocks decode to decode-then-filter of the table's
        physical rows (the mask works below merge-on-read deletes)."""
        from duckdb_raquet_spark import scan

        man = scan.read_manifest(ctx.spark, self.table)
        got = scan.decode_blocks(ctx.spark.read.parquet(masked), man).toArrow()
        ok = row_multiset(got, gen.WEBTEXT_COLS) == row_multiset(keep, gen.WEBTEXT_COLS)
        if not ok:
            ctx.note(f"mask_values_in returned {got.num_rows} rows, expected {keep.num_rows}")
        shutil.rmtree(masked, ignore_errors=True)
        return ok

    # ---- figures

    def summary(self, ctx) -> dict:
        out = {}
        for effort, key in (("max", ""), ("fast", "_fast")):
            walls = ctx.walls(f"encode.encode_to_path.{effort}")
            if walls:
                out[f"encode{key}_mbps"] = {
                    "value": self.raw / 1e6 / statistics.median(walls), "unit": "MB/s", "n": len(walls)
                }
            if effort in self.stored:
                out[f"stored_ratio{key}"] = {"value": self.stored[effort] / self.raw, "unit": "ratio"}
        for kind, key in (("scan.point_lookup", "lookup"), ("scan.range_scan_ts", "range"),
                          ("encode.append_chunk", "append")):
            walls = ctx.walls(kind)
            if walls:
                out[f"{key}_p50_s"] = {"value": statistics.median(walls), "unit": "s", "n": len(walls)}
                t = tail_stat(walls)
                if t:
                    out[f"{key}_p{t[0]:.0f}_s"] = {"value": t[1], "unit": "s", "n": len(walls)}
        for kind, key in (("scan.mask_values_in", "mask_mbps"), ("scan.read_rows", "decode_mbps")):
            recs = [r for r in ctx.ops if r["kind"] == kind and r["ok"]]
            if recs:
                rates = [r["bytes"] / 1e6 / r["wall_s"] for r in recs]
                out[key] = {"value": statistics.median(rates), "unit": "MB/s", "n": len(recs)}
        return out

    def finish(self, ctx) -> None:
        """Traced runs: blocks each lookup's pruning selects and rows
        decoded per row returned, from the public prune functions
        (untimed, after the loop)."""
        if not ctx.traced:
            return
        from pyspark.sql import functions as F

        from duckdb_raquet_spark import blockkey as bk
        from duckdb_raquet_spark import scan

        man = scan.read_manifest(ctx.spark, self.table)
        blocks = scan.read_blocks(ctx.spark, self.table)
        acc = {"point": [0, 0, 0, 0], "range": [0, 0, 0, 0]}  # ops, blocks, rows, returned
        for kind, arg, returned in self.lookups_done[:16]:
            if kind == "point":
                pruned = scan.prune_blocks_for_url_hash(blocks, man, bk.hash_x_from_url(arg))
            else:
                pruned = scan.prune_blocks_for_ts(blocks, man, arg * 86_400, arg * 86_400 + 86_400)
            r = pruned.agg(F.count("*"), F.sum("n_rows")).first()
            a = acc[kind]
            a[0] += 1
            a[1] += int(r[0])
            a[2] += int(r[1] or 0)
            a[3] += returned
        self.prune = {}
        for kind, key in (("point", "lookup"), ("range", "range")):
            if acc[kind][0]:
                self.prune[f"scan.blocks_per_{key}"] = acc[kind][1] / acc[kind][0]
        returned = acc["point"][3] + acc["range"][3]
        self.prune["scan.rows_scanned_per_row_returned"] = (
            (acc["point"][2] + acc["range"][2]) / max(returned, 1)
        )

    def layer_extras(self, ctx) -> dict:
        """Prune counts, and ``encode.core_s_over_floor.<effort>``: encode
        task core-seconds over the single-process kernel time for the
        same raw bytes."""
        out = dict(getattr(self, "prune", {}))
        for effort in ("max", "fast"):
            rate = ctx.micro.get(f"encode.block_mbps.{effort}")
            core = ctx.span_stat(f"encode.encode_to_path.{effort}", "task_core_s")
            if rate and core is not None:
                out[f"encode.core_s_over_floor.{effort}"] = core / (self.raw / 1e6 / rate)
        return out


# ------------------------------------------------------------------- corpus --


class Corpus(Workload):
    """The ``functions/`` pipelines through their ``__spark_entry__``
    query entries over a generated documents table (~5% near-duplicates);
    one pass runs all eight entries."""

    name = "corpus"
    kinds = tuple(f"functions.{q}" for q in CORPUS_QUERIES)

    def prepare(self, ctx) -> None:
        self.dir = os.path.join(ctx.cache_dir, f"docs-s{ctx.seed}-n{CORPUS_DOCS}")
        gen.cached(os.path.join(self.dir, "documents.parquet"),
                   lambda: gen.documents(ctx.seed, CORPUS_DOCS))
        self.oracle: dict[str, tuple] = {}
        self.passes = 0
        self.pass_walls: list[float] = []

    def build(self, ctx) -> None:
        import __spark_entry__ as entry

        self.entries = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        ctx.spark.read.parquet(os.path.join(self.dir, "documents.parquet")).count()

    def warmup(self, ctx) -> None:
        """One pass of all eight entries over a tiny documents table:
        plan shapes, codegen and workers warm up, data stays small."""
        warm = os.path.join(ctx.cache_dir, f"docs-s{ctx.seed}-n{WARM_DOCS}")
        gen.cached(os.path.join(warm, "documents.parquet"),
                   lambda: gen.documents(ctx.seed, WARM_DOCS))
        for q in CORPUS_QUERIES:
            self.entries[q](ctx.spark, warm).collect()

    def cycle(self, ctx) -> None:
        wall = 0.0
        for q in CORPUS_QUERIES:
            box = {}

            def run(q=q):
                df = self.entries[q](ctx.spark, self.dir)
                box["cols"] = df.columns
                box["rows"] = [tuple(r) for r in df.collect()]

            if ctx.op(f"functions.{q}", run, 0):
                ctx.check_op(lambda q=q: self._check(q, box["rows"], box["cols"]))
            wall += ctx.ops[-1]["wall_s"]
        self.passes += 1
        self.pass_walls.append(wall)

    def _check(self, q: str, rows: list[tuple], cols: list[str]) -> bool:
        """Equal to the entry's DuckDB oracle over the same parquet. The
        two MinHash entries compare against :func:`minhash_twin`, the
        same semantics without DuckDB's quadratic join (90+ s here)."""
        if q not in self.oracle and q in ("dedup_minhash", "dedup_minhash_incr"):
            docs = gen.read(os.path.join(self.dir, "documents.parquet"))
            self.oracle[q] = normalize_rows(*minhash_twin(docs, q))
        if q not in self.oracle:
            import duckdb

            con = duckdb.connect()
            try:
                con.execute("SET threads TO 2")
                con.execute(
                    "CREATE VIEW documents AS SELECT * FROM "
                    f"'{os.path.join(self.dir, 'documents.parquet')}'"
                )
                res = con.execute(self.oracle_sql[q])
                ocols = [d[0] for d in res.description]
                self.oracle[q] = normalize_rows(res.fetchall(), ocols)
            finally:
                con.close()
        return normalize_rows(rows, cols) == self.oracle[q]

    def summary(self, ctx) -> dict:
        if not self.pass_walls:
            return {}
        return {
            "corpus_docs_per_s": {
                "value": CORPUS_DOCS * self.passes / sum(self.pass_walls),
                "unit": "1/s",
                "n": self.passes,
            }
        }


WORKLOADS = {w.name: w for w in (Table, Corpus)}
