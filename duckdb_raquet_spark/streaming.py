"""Structured-Streaming ingest: micro-batches -> encoded block chunks.

The reference is strictly batch; its incremental machinery is the
two-phase pipelined producer with the manifest row emitted last
(/root/reference/src/raster/read_raster.cpp:1486-1590). The stream
keeps that one write protocol because a micro-batch IS an append:
each batch is one :func:`encode.append_chunk` call, so it claims its
own ``chunk=<k>``, lands the data, then commits (snapshot CAS, then
manifest row + sidecar), and carries everything an append carries —
live deletes, added-column defaults, renamed columns, the table's key
geometry. A small batch takes the append's driver branch: one bounded
collect, encoded in-process, no Spark write job. The claim records
``(checkpoint_dir, batch_id)``, so Spark's at-least-once foreachBatch
replay rewrites the same chunk (its dir cleared first, whichever branch
wrote it) and never duplicates rows. An empty batch commits nothing.

Block keys use a FIXED (resolution, ts_origin, bucket_seconds) from the
caller — a stream cannot scan its own future to size the time cells, so
the caller pins the key geometry up front (e.g. from the crawl window),
exactly like the reference pins tiling zoom at bind time. The pins only
create a table; onto an existing table they must equal its key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import blockkey as bk
from . import encode as enc
from . import manifest as mf


def encode_stream(
    stream_df: DataFrame,
    path: str,
    *,
    resolution: int,
    ts_origin: int,
    bucket_seconds: int = 86400,
    url_col: str = "url",
    ts_col: str | None = "warc_ts",
    zlib_level: int = 6,
    effort: str = "max",
    codec_overrides: dict[str, str] | None = None,
    shuffle: str = "hash",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Start the streaming encode; returns the StreamingQuery.

    ``stream_df`` is any streaming DataFrame with the webtext schema
    (file source, Kafka + parse, rate + synth, ...). Each micro-batch
    is one :func:`encode.append_chunk`, so a small batch is encoded on
    the driver after one bounded collect (its write gate); an empty
    batch commits nothing.
    The geometry arguments (and ``url_col`` / ``ts_col``) only create a
    table, keyed as ``blockkey.ts_params`` maps them; onto an existing
    table they must equal its key, or the batch raises ValueError.
    ``shuffle="none"`` pairs naturally with streaming ingest: each
    micro-batch partition
    encodes locally (zero raw-byte shuffle in the hot ingest path) and
    a background :func:`duckdb_raquet_spark.scan.compact_to_path` pass
    merges the salted sub-rows into the canonical layout later."""
    if not stream_df.isStreaming:
        raise ValueError("encode_stream needs a streaming DataFrame")
    # what a fresh table records, so its keys and manifest agree
    origin, bucket = bk.ts_params(ts_origin, ts_origin, resolution, bucket_seconds)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # one read: the geometry check's key is the append's CAS parent
        man, snap = mf.committed_manifest(path, spark)
        enc._refuse_flat(spark, path, snap)
        if man is None:
            # geometry only: append_chunk's encode fills in the rest
            cols = enc.columns_of(batch_df)
            for c in cols:
                if c["name"] in (codec_overrides or {}):
                    c["codec"] = codec_overrides[c["name"]]
            man = mf.build_manifest(
                columns=cols, resolution=resolution, bucket_seconds=bucket,
                ts_origin=origin, url_col=url_col, ts_col=ts_col, n_salt=1,
            )
        else:
            # the caller's pins, or what a fresh stream made of them;
            # without a time column they key nothing
            key = man["key"]
            t = (key["ts_origin"], key["bucket_seconds"])
            if key["resolution"] != resolution or man["ts_col"] and t not in (
                (ts_origin, bucket_seconds), (origin, bucket)
            ):
                raise ValueError(
                    f"stream geometry {(resolution, ts_origin, bucket_seconds)} "
                    f"does not match the table's key {key}"
                )
        enc.append_chunk(
            spark, batch_df, path,
            zlib_level=zlib_level, effort=effort,
            codec_overrides=codec_overrides, shuffle=shuffle,
            _base=(man, snap),
            # without a checkpoint no restart replays a batch
            _batch=[checkpoint_dir, batch_id] if checkpoint_dir else None,
        )

    writer = stream_df.writeStream.foreachBatch(process_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def upsert_stream(
    stream_df: DataFrame,
    path: str,
    key_col,
    *,
    order_col: str | None = None,
    zlib_level: int = 6,
    effort: str = "max",
    codec_overrides: dict[str, str] | None = None,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
    maintenance_every: int | None = None,
    maintenance_small_bytes: int = 64 << 20,
):
    """Streaming MERGE (CDC ingest): each micro-batch upserts into an
    EXISTING committed table via :func:`encode.upsert_rows` — one
    equality delete on the batch's keys plus one appended chunk, no
    existing data file rewritten. ``key_col`` is one column name or a
    LIST (composite natural key, e.g. ``["url", "warc_ts"]``). The
    table must be created first (``encode_to_path``); its manifest
    pins the key geometry.

    ``order_col`` collapses duplicate keys WITHIN a micro-batch to the
    row with the greatest ``order_col`` (CDC streams routinely carry
    several versions of a key per batch; without it, ``upsert_rows``
    raises on in-batch duplicates, which is the right default for
    sources that promise unique keys).

    At-least-once replay is state-idempotent: re-upserting a batch
    appends a fresh chunk whose sequence-rule delete removes the prior
    replay's copies, so the visible rows converge to the same state
    (at the cost of extra commits — run ``expire_snapshots`` +
    ``purge_deletes`` as maintenance, exactly like Iceberg CDC
    pipelines compact).

    ``maintenance_every=N`` runs the in-place maintenance pair inline
    every N processed micro-batches, the way Iceberg CDC pipelines
    schedule table services next to the ingest: ``compact_delete_files``
    (merge the accumulated per-batch delete files, metadata-only) then
    ``compact_chunks`` over visible chunks smaller than
    ``maintenance_small_bytes`` (bin-packing, O(selected bytes)).
    Both run on the foreachBatch driver thread between commits — the
    stream is the only writer then, so the capture-anchored CAS cannot
    race ingest; a failure is logged and ingest continues (maintenance
    is always retryable on the next boundary). Fewer than 2 small
    chunks means compaction is skipped, so steady state is one
    delete file per key set and chunk count ~O(table bytes /
    maintenance_small_bytes), not O(#batches)."""
    if not stream_df.isStreaming:
        raise ValueError("upsert_stream needs a streaming DataFrame")
    if maintenance_every is not None and maintenance_every < 1:
        raise ValueError("maintenance_every must be >= 1")
    # mutable cell, not a global: one counter per started stream
    n_processed = [0]

    def _maintain(spark) -> None:
        import logging

        log = logging.getLogger(__name__)
        try:
            enc.compact_delete_files(spark, path)
        except Exception as e:  # always retryable at the next boundary
            log.warning("compact_delete_files skipped: %s", e)
        try:
            enc.compact_chunks(
                spark, path, small_bytes=maintenance_small_bytes,
                effort=effort, zlib_level=zlib_level,
                codec_overrides=codec_overrides,
            )
        except ValueError:
            pass  # fewer than 2 small chunks: steady state, nothing to do
        except Exception as e:
            log.warning("compact_chunks skipped: %s", e)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        b = batch_df
        if order_col is not None:
            from pyspark.sql import Window

            keys = [key_col] if isinstance(key_col, str) else list(key_col)
            w = Window.partitionBy(*keys).orderBy(
                F.col(order_col).desc_nulls_last()
            )
            b = (
                b.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
        if not b.take(1):
            return
        enc.upsert_rows(
            spark,
            b,
            path,
            key_col,
            zlib_level=zlib_level,
            effort=effort,
            codec_overrides=codec_overrides,
        )
        n_processed[0] += 1
        if maintenance_every and n_processed[0] % maintenance_every == 0:
            _maintain(spark)

    writer = stream_df.writeStream.foreachBatch(process_batch).outputMode(
        "append"
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ------------------------------------------------- streaming analytics ----


def windowed_counts(
    stream_df: DataFrame,
    ts_col: str,
    *,
    key_col: str | None = "event_type",
    value_col: str | None = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the standard late-data
    pattern: events later than ``watermark`` behind the max seen ts are
    dropped deterministically, state for closed windows is evicted (at
    10^12 events the state store holds only open windows x keys). Same
    expression tree works in batch (identical results on a bounded
    input — tested), so the operator is verifiable without a cluster."""
    from pyspark.sql import functions as F

    df = stream_df
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    keys = [F.window(ts_col, window).alias("win")] + (
        [F.col(key_col)] if key_col else []
    )
    aggs = [F.count("*").alias("cnt")]
    if value_col:
        aggs.append(F.sum(value_col).alias("sum_value"))
    out = df.groupBy(*keys).agg(*aggs)
    return out.select(
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        *([key_col] if key_col else []),
        "cnt",
        *(["sum_value"] if value_col else []),
    )


SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events int, sum_value double"
)
_SESSION_STATE_SCHEMA = "start long, end long, n int, s double"


def sessionize(
    stream_df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` (the engine's §2.9 'custom stateful op'
    leg). Per user, consecutive events closer than ``gap_seconds``
    extend the open session kept in the state store; a gap (or state
    timeout at watermark + gap) closes it and emits one relational row
    ``(user, start, end, n_events, sum_value)``.

    Scale: state is one 4-field tuple per ACTIVE user (not per event);
    emitted sessions leave the store immediately; the groupBy shuffles
    events once on user_id. Batch twin below in tests verifies the
    session algebra."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ns = gap_seconds * 1_000_000_000

    def fn(key, pdfs, state: GroupState):
        (uid,) = key
        closed = []
        if state.hasTimedOut:
            if state.exists:
                st, en, n, s = state.get
                closed.append((uid, st, en, n, s))
                state.remove()
        else:
            events = []
            for pdf in pdfs:
                # normalize to epoch ns regardless of the Arrow unit
                t = pd.to_datetime(pdf[ts_col]).astype("datetime64[ns]").astype("int64")
                v = pdf[value_col].astype("float64")
                events.extend(zip(t.tolist(), v.tolist()))
            events.sort(key=lambda tv: tv[0])
            if state.exists:
                st, en, n, s = state.get
            else:
                st = en = None
                n, s = 0, 0.0
            for t, v in events:
                if st is None:
                    st, en, n, s = t, t, 1, v
                elif t < st - gap_ns:
                    # a straggler older than the open session by more
                    # than the gap: its session already expired — emit
                    # it as its own closed single-event session rather
                    # than mis-merging it forward
                    closed.append((uid, t, t, 1, v))
                elif t - en <= gap_ns:
                    # merge; an out-of-order event inside the gap also
                    # extends the session start BACKWARD
                    st, en, n, s = min(st, t), max(en, t), n + 1, s + v
                else:
                    closed.append((uid, st, en, n, s))
                    st, en, n, s = t, t, 1, v
            if st is not None:
                state.update((st, en, n, s))
                state.setTimeoutTimestamp(en // 1_000_000 + gap_seconds * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": pd.to_datetime(
                        [c[1] for c in closed], unit="ns"
                    ),
                    "session_end": pd.to_datetime([c[2] for c in closed], unit="ns"),
                    "n_events": [c[3] for c in closed],
                    "sum_value": [c[4] for c in closed],
                }
            )

    df = stream_df.withWatermark(ts_col, f"{gap_seconds} seconds")
    return (
        df.groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_batch(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str | None = None,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Batch twin of :func:`sessionize`: gap-based sessions via the
    classic gaps-and-islands plan — ``lag`` marks session starts, a
    running sum numbers islands, one groupBy collapses them. Pure
    Column expressions end-to-end (no Python in the plan), one shuffle
    on ``user_col`` reused by both window functions and the final
    aggregate, so the plan survives 10^12 events: per-user partitions
    stream through the window operator without materializing state
    beyond one row of lag.

    Ties on ``ts`` are broken by ``order_col`` (when given) so the
    island numbering — and therefore the output — is deterministic.
    Mirrors the reference's batch-only analytics posture
    (duckdb-raquet has no streaming; see SURVEY §2.9) while sharing
    session semantics with the streaming operator above.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    # microsecond-exact epoch column, timezone-PROOF: for TIMESTAMP
    # inputs unix_micros reads the instant directly; for TIMESTAMP_NTZ
    # the wall-clock fields are composed arithmetically (interpreting
    # the wall time as UTC, matching DuckDB's epoch_us on NTZ). A
    # session-tz cast would shift differences by an hour across DST
    # transitions and flip session splits.
    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        us_col = F.expr(
            f"cast(unix_date(cast(`{ts_col}` as date)) as bigint) * 86400000000"
            f" + cast(extract(HOUR from `{ts_col}`) as bigint) * 3600000000"
            f" + cast(extract(MINUTE from `{ts_col}`) as bigint) * 60000000"
            f" + cast(extract(SECOND from `{ts_col}`) * 1000000 as bigint)"
        )
    else:
        us_col = F.unix_micros(F.col(ts_col))
    d = df.withColumn("_us", us_col)
    order = [F.col("_us")] + ([F.col(order_col)] if order_col else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("_us").over(w)
    new_s = F.when(
        prev.isNull() | (F.col("_us") - prev > gap_seconds * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    g = d.withColumn("_sid", F.sum(new_s).over(run))
    return (
        g.groupBy(user_col, "_sid")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .drop("_sid")
    )


def dedup_exact_stream(
    df: DataFrame,
    *,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "24 hours",
) -> DataFrame:
    """Online exact dedup: keep the FIRST arrival of each content
    digest across micro-batches — the streaming twin of
    ``functions.dedup.exact_dedup``, on the SAME 192-bit composite
    digest ``(length, md5, xxhash64)``, so the stream filter and the
    batch sweep agree on document identity bit-for-bit.

    Plan shape: the digest is three JVM expressions; duplicate
    elimination is Spark's state-store dedup operator — per-batch
    shuffle on the ~45-byte digest (never the document body), then a
    state-store probe, no Python anywhere. With ``ts_col`` the state
    is WATERMARK-BOUNDED (``dropDuplicatesWithinWatermark``): a
    digest's entry is evicted once the watermark passes its event
    time, so at 10^12 docs the store holds only the crawl window's
    digests instead of growing without bound — re-crawls inside the
    window are dropped online, ancient re-crawls re-enter and are
    left to the batch sweep (``jobs/dedup_job.py``), which is the
    standard split of labor in a streaming+batch pipeline. Without
    ``ts_col`` it is a global ``dropDuplicates`` — exact forever,
    unbounded state, fine for bounded backfills. The same expression
    tree runs on a batch DataFrame (state-free dedup), so the
    operator is verifiable without a cluster."""
    from .functions.dedup import exact_digest_cols

    # ONE digest definition with the batch sweep — agreement by
    # construction, not by parallel copies
    keys = ["_len", "_md5", "_xx"]
    d = df.select("*", *exact_digest_cols(text_col))
    if ts_col is not None and df.isStreaming:
        out = d.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    else:
        out = d.dropDuplicates(keys)
    return out.drop(*keys)
