"""Structured-Streaming operators (beyond the reference — SURVEY §2.10:
the reference has no stream processing at all; its ``stream=true`` collect
is just chunked result fetching).

Thin tidy wrappers over readStream → watermark → windowed aggregation →
writeStream, plus stateful dedup.  Batch/stream parity: the same
``TidyFrame`` verbs work on a streaming DataFrame (Spark's unified API);
these helpers add the streaming-only pieces — watermarks, time windows,
session windows, within-watermark dedup — and a synchronous test harness
(memory sink + ``processAllAvailable``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import TidyFrame

__all__ = [
    "read_stream",
    "with_watermark",
    "tumbling_window",
    "sliding_window",
    "session_window",
    "dedup_within_watermark",
    "stream_join",
    "stream_rollup",
    "stateful_running_agg",
    "transform_with_state",
    "stateful_topk",
    "run_to_memory",
    "write_stream",
    "write_stream_delta",
    "foreach_batch",
]


def read_stream(
    spark: SparkSession, path: str, schema=None, fmt: str = "parquet", **options
) -> TidyFrame:
    """Streaming scan (files appearing under ``path``).  Schema is
    mandatory for file streams — pass one or give a sample path in
    options['sampleDir'] to borrow its schema."""
    from ..session import normalize_ntz

    if schema is None:
        sample = options.pop("sampleDir", path)
        schema = spark.read.format(fmt).load(sample).schema
    reader = spark.readStream.format(fmt).schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    # TIMESTAMP_NTZ event-time columns are rejected by withWatermark
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) — normalize at the source.
    return TidyFrame(normalize_ntz(reader.load(path)))


def with_watermark(tf: TidyFrame, ts_col: str, delay: str) -> TidyFrame:
    """Late-data bound, e.g. ``with_watermark(t, "ts", "10 minutes")``."""
    return TidyFrame(tf.df.withWatermark(ts_col, delay), groups=tf.groups)


def tumbling_window(
    tf: TidyFrame, ts_col: str, size: str, *keys: str
) -> TidyFrame:
    """Group by a tumbling time window (+ optional keys); follow with
    ``.summarize(...)``."""
    df = tf.df.groupBy(F.window(ts_col, size), *keys)
    return _grouped(df, tf, ["window", *keys])


def sliding_window(
    tf: TidyFrame, ts_col: str, size: str, slide: str, *keys: str
) -> TidyFrame:
    df = tf.df.groupBy(F.window(ts_col, size, slide), *keys)
    return _grouped(df, tf, ["window", *keys])


def session_window(tf: TidyFrame, ts_col: str, gap: str, *keys: str) -> TidyFrame:
    """Session windows with inactivity ``gap`` (e.g. "30 minutes")."""
    df = tf.df.groupBy(F.session_window(ts_col, gap), *keys)
    return _grouped(df, tf, ["session_window", *keys])


class _GroupedStream:
    """Minimal grouped handle so ``.summarize()`` works on windowed groups."""

    def __init__(self, gdf, parent: TidyFrame):
        self._gdf = gdf
        self._parent = parent

    def summarize(self, **named) -> TidyFrame:
        from ..functions.registry import rewrite

        aggs = [F.expr(rewrite(str(e), None, False)).alias(n) for n, e in named.items()]
        return TidyFrame(self._gdf.agg(*aggs))

    summarise = summarize


def _grouped(gdf, parent: TidyFrame, keys) -> _GroupedStream:
    return _GroupedStream(gdf, parent)


def dedup_within_watermark(tf: TidyFrame, *cols: str) -> TidyFrame:
    """Stateful streaming dedup bounded by the watermark
    (``dropDuplicatesWithinWatermark``) — state is evicted as the
    watermark advances, so memory stays bounded on unbounded streams."""
    return TidyFrame(tf.df.dropDuplicatesWithinWatermark(list(cols)))


def stateful_running_agg(
    tf: TidyFrame, keys, value_col: str
) -> TidyFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running (count, sum, min, max) maintained in GroupState across
    micro-batches — the escape hatch for aggregations Spark's built-in
    streaming aggs can't express (SURVEY §2.10 north star).

    Emits one row per key per micro-batch with the state *after* folding
    that batch in.  State is a fixed-width tuple (~40 bytes/key); for
    unbounded key spaces pair with a watermark-driven timeout upstream.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql import types as T

    keys = [keys] if isinstance(keys, str) else list(keys)
    key_fields = [tf.df.schema[k] for k in keys]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("vmin", T.DoubleType()),
            T.StructField("vmax", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("vmin", T.DoubleType()),
            T.StructField("vmax", T.DoubleType()),
        ]
    )

    def fold(key, pdfs, state):
        if state.exists:
            n, total, vmin, vmax = state.get
        else:
            n, total, vmin, vmax = 0, 0.0, None, None
        for pdf in pdfs:
            v = pdf[value_col].dropna()
            if len(v):
                n += int(v.count())
                total += float(v.sum())
                bmin, bmax = float(v.min()), float(v.max())
                vmin = bmin if vmin is None else min(vmin, bmin)
                vmax = bmax if vmax is None else max(vmax, bmax)
        state.update((n, total, vmin, vmax))
        row = dict(zip(keys, key))
        row.update(n=n, total=total, vmin=vmin, vmax=vmax)
        yield pd.DataFrame([row])

    out = tf.df.groupBy(*keys).applyInPandasWithState(
        fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    return TidyFrame(out)


def write_stream(
    result: TidyFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    mode: str = "append",
    trigger: str | None = None,
    **options,
):
    """Durable streaming sink: file format + checkpoint directory for
    exactly-once output.  ``trigger`` accepts a processing-time interval
    (e.g. "10 seconds") or "availableNow" to drain what exists and stop.
    Returns the StreamingQuery — call ``.awaitTermination()`` or
    ``.processAllAvailable()`` yourself."""
    w = (
        result.df.writeStream.outputMode(mode)
        .format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    for k, v in options.items():
        w = w.option(k, v)
    return _start(w, trigger)


def _start(w, trigger: str | None):
    """Start a DataStreamWriter under ``trigger``: None → Spark's default
    (next batch as soon as the last one ends), "availableNow" → drain what
    exists and stop, anything else → a processing-time interval."""
    if trigger == "availableNow":
        w = w.trigger(availableNow=True)
    elif trigger is not None:
        w = w.trigger(processingTime=trigger)
    return w.start()


def foreach_batch(
    result: TidyFrame,
    fn,
    checkpoint: str | None = None,
    mode: str = "update",
    trigger: str | None = None,
):
    """Arbitrary per-micro-batch sink: ``fn(batch_df, batch_id)`` runs on
    the driver with a *batch* DataFrame — the escape hatch for sinks with
    no streaming connector (JDBC upserts, dedup merges, multi-table
    writes).  ``trigger`` as in :func:`write_stream`.  Returns the
    StreamingQuery."""
    w = result.df.writeStream.outputMode(mode).foreachBatch(fn)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return _start(w, trigger)


def write_stream_delta(
    result: TidyFrame,
    path: str,
    checkpoint: str,
    partition_by=None,
    app_id: str | None = None,
    trigger: str | None = None,
    checkpoint_every: int = 20,
    optimize_every: int = 0,
):
    """EXACTLY-ONCE streaming sink into a jar-free Delta table
    (beyond-reference — composes :func:`foreach_batch` with
    :func:`~tidierdb_jl_spark.sources.delta_writer.write_delta`).

    Each micro-batch commits with ``txn=(app_id, batch_id)``.  After a
    crash, Structured Streaming replays the last batch WITH THE SAME
    batch_id (its checkpoint guarantees that), and the table's ``txn``
    watermark makes the duplicate commit a no-op — the same idempotence
    protocol the real Delta sink uses (PROTOCOL.md "Transaction
    Identifiers").  ``app_id`` defaults to a checkpoint-derived id so a
    restarted query keeps its identity; pass it explicitly when several
    queries append to one table.  Returns the StreamingQuery.

    Table maintenance rides the stream: every ``checkpoint_every``
    committed table versions a classic parquet checkpoint is written
    (readers replay O(1) metadata instead of the whole JSON log — the
    long-lived-sink essential), and when ``optimize_every`` > 0 the
    same cadence compacts small files with ``dataChange=false``
    commits.  Both are driver-side, idempotent, and safe to repeat
    after a crash."""
    import hashlib

    from ..sources.delta_writer import (
        checkpoint_delta, optimize_delta, write_delta,
    )

    app = app_id or ("stream-" + hashlib.sha256(
        str(checkpoint).encode()).hexdigest()[:16])

    def commit_batch(bdf, batch_id: int):
        import json as _json

        from ..sources.fsio import fs_exists, join_path, read_text

        sp = bdf.sparkSession
        v = write_delta(TidyFrame(bdf), path, mode="append",
                        partition_by=partition_by, txn=(app, int(batch_id)))
        if optimize_every and v and v % optimize_every == 0:
            v = optimize_delta(sp, path) or v
        if checkpoint_every:
            lc = join_path(str(path).rstrip("/"), "_delta_log",
                           "_last_checkpoint")
            last = -1
            if fs_exists(sp, lc):
                try:
                    last = int(_json.loads(read_text(sp, lc))["version"])
                except Exception:  # noqa: BLE001 — torn pointer: rewrite
                    last = -1
            if v - last >= checkpoint_every:
                checkpoint_delta(sp, path)

    return foreach_batch(result, commit_batch, checkpoint, mode="append",
                         trigger=trigger)


def write_stream_iceberg(
    result: TidyFrame,
    path: str,
    checkpoint: str,
    partition_by=None,
    app_id: str | None = None,
    trigger: str | None = None,
    rewrite_every: int = 0,
    expire_keep_last: int = 0,
):
    """EXACTLY-ONCE streaming sink into a jar-free Iceberg v2 table —
    the Iceberg twin of :func:`write_stream_delta`.  Each micro-batch
    appends a snapshot whose summary is stamped with
    ``streaming-app-id`` / ``streaming-batch-id`` (what the real
    iceberg-spark sink does); after a crash the replayed batch sees
    ``last_streaming_batch(...) >= batch_id`` and skips — the
    idempotence protocol, with the watermark in the snapshot log
    instead of Delta's ``txn`` action.

    Maintenance rides the stream: every ``rewrite_every`` batches the
    small per-batch files compact through
    :func:`~..sources.iceberg_ops.rewrite_data_files_iceberg` (a
    ``replace`` snapshot — streams tailing the table skip it), and
    with ``expire_keep_last`` > 0 old snapshots expire down to that
    count (kept comfortably above the replay horizon: only the LAST
    batch ever replays)."""
    import hashlib

    from ..sources.iceberg_writer import (
        last_streaming_batch, write_iceberg,
    )

    app = app_id or ("stream-" + hashlib.sha256(
        str(checkpoint).encode()).hexdigest()[:16])

    def commit_batch(bdf, batch_id: int):
        sp = bdf.sparkSession
        bid = int(batch_id)
        if last_streaming_batch(sp, path, app) >= bid:
            return  # replayed batch: already committed
        write_iceberg(TidyFrame(bdf), path, mode="append",
                      partition_by=partition_by,
                      summary_extra={"streaming-app-id": app,
                                     "streaming-batch-id": bid})
        if rewrite_every and (bid + 1) % rewrite_every == 0:
            from ..sources.iceberg_ops import rewrite_data_files_iceberg

            rewrite_data_files_iceberg(sp, path)
            if expire_keep_last:
                from ..sources.iceberg_writer import (
                    expire_snapshots_iceberg,
                )

                expire_snapshots_iceberg(
                    sp, path, retain_last=max(2, expire_keep_last))

    return foreach_batch(result, commit_batch, checkpoint, mode="append",
                         trigger=trigger)


def stream_join(
    left: TidyFrame,
    right: TidyFrame,
    keys,
    ts_left: str,
    ts_right: str,
    within: str,
    how: str = "inner",
    suffix: str = "_right",
) -> TidyFrame:
    """Stream-stream equi-join bounded by an event-time window: matches
    rows with equal ``keys`` whose timestamps differ by at most
    ``within`` (e.g. "10 minutes").  BOTH inputs must already carry
    watermarks (``with_watermark``) — the time bound plus the watermarks
    is what lets Spark evict join state, keeping per-executor state
    bounded on unbounded streams; an unbounded stream-stream join would
    grow state forever.

    Right-side columns that collide with left names get ``suffix``.
    Works identically on batch frames (useful for batch-parity tests).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    la, ra = "__sj_l", "__sj_r"
    l, r = left.df.alias(la), right.df.alias(ra)
    cond = None
    for k in keys:
        piece = F.col(f"{la}.{k}") == F.col(f"{ra}.{k}")
        cond = piece if cond is None else cond & piece
    cond = (
        cond
        & (F.col(f"{ra}.{ts_right}")
           >= F.expr(f"{la}.{ts_left} - INTERVAL {within}"))
        & (F.col(f"{ra}.{ts_right}")
           <= F.expr(f"{la}.{ts_left} + INTERVAL {within}"))
    )
    joined = l.join(r, cond, how)
    lcols = left.df.columns
    out_cols = [F.col(f"{la}.{c}") for c in lcols]
    for c in right.df.columns:
        if c in keys:
            continue  # equi keys deduplicate, batch-join convention
        name = c if c not in lcols else f"{c}{suffix}"
        out_cols.append(F.col(f"{ra}.{c}").alias(name))
    return TidyFrame(joined.select(*out_cols))


def _tws_available() -> bool:
    """transformWithState's Python driver worker speaks protobuf to the JVM
    state server; without the ``protobuf`` package the worker crashes at
    init (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE)."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def transform_with_state(
    tf: TidyFrame,
    keys,
    processor,
    output_schema,
    mode: str = "update",
    time_mode: str = "None",
) -> TidyFrame:
    """Arbitrary stateful processing via Spark 4.x
    ``transformWithStateInPandas`` — the successor to
    ``applyInPandasWithState`` with named state variables (value/list/map),
    per-state TTL, and event/processing-time timers.  ``processor`` is a
    ``pyspark.sql.streaming.StatefulProcessor``.

    Requires the RocksDB state store (set on the session here — state
    spills to disk, so per-executor state is bounded by local SSD, not
    heap; that is what makes billion-key state feasible at cluster scale)
    and the ``protobuf`` package (gated: raises RuntimeError when absent).
    """
    if not _tws_available():
        raise RuntimeError(
            "transform_with_state requires the 'protobuf' package for the "
            "transformWithState state-server protocol; it is not installed "
            "in this environment. Use stateful_running_agg "
            "(applyInPandasWithState) instead, or install protobuf."
        )
    spark = tf.df.sparkSession
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    keys = [keys] if isinstance(keys, str) else list(keys)
    out = tf.df.groupBy(*keys).transformWithStateInPandas(
        statefulProcessor=processor,
        outputStructType=output_schema,
        outputMode=mode.capitalize(),
        timeMode=time_mode,
    )
    return TidyFrame(out)


def _topk_fold(cur: list, values, k: int) -> list:
    """Pure per-batch fold for the running top-k: merge the batch's values
    into the current top-k list.  O(batch + k log k) per batch; state is
    exactly k doubles per key regardless of stream length."""
    merged = list(cur)
    merged.extend(float(v) for v in values)
    merged.sort(reverse=True)
    return merged[:k]


def _make_topk_processor(key_names: list, value_col: str, k: int):
    """Build the StatefulProcessor lazily (the base class import is cheap,
    but keep construction in one place so the gated path stays import-safe).
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    class _TopK(StatefulProcessor):
        def init(self, handle):
            self._state = handle.getValueState("topk", "v array<double>")

        def handleInputRows(self, key, rows, timerValues):
            cur = list(self._state.get()[0]) if self._state.exists() else []
            for pdf in rows:
                cur = _topk_fold(cur, pdf[value_col].dropna(), k)
            self._state.update((cur,))
            row = dict(zip(key_names, key))
            row["topk"] = cur
            yield pd.DataFrame([row])

        def close(self):
            pass

    return _TopK()


def _stateful_topk_classic(
    tf: TidyFrame, keys: list, value_col: str, k: int
) -> TidyFrame:
    """``applyInPandasWithState`` engine for the running top-k: same
    per-batch fold (``_topk_fold``), state is one ``array<double>`` of at
    most k values per key.  Works on any Spark 3.4+/4.x without the
    transformWithState protobuf protocol."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql import types as T

    key_fields = [tf.df.schema[kn] for kn in keys]
    out_schema = T.StructType(
        key_fields + [T.StructField("topk", T.ArrayType(T.DoubleType()))]
    )
    state_schema = T.StructType(
        [T.StructField("topk", T.ArrayType(T.DoubleType()))]
    )

    def fold(key, pdfs, state):
        cur = list(state.get[0]) if state.exists else []
        for pdf in pdfs:
            cur = _topk_fold(cur, pdf[value_col].dropna(), k)
        state.update((cur,))
        row = dict(zip(keys, key))
        row["topk"] = cur
        yield pd.DataFrame([row])

    out = tf.df.groupBy(*keys).applyInPandasWithState(
        fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    return TidyFrame(out)


def stateful_topk(
    tf: TidyFrame, keys, value_col: str, k: int = 3, engine: str = "auto"
) -> TidyFrame:
    """Per-key running top-k values across micro-batches — not expressible
    with built-in streaming aggregations (no streaming window-rank).
    Emits one row per key per batch with the top-k *after* that batch.

    ``engine``: "tws" = transformWithStateInPandas (Spark 4.x named-state
    API + RocksDB store — the scale path, needs protobuf), "classic" =
    ``applyInPandasWithState`` (no extra deps), "auto" = tws when its
    protobuf protocol is importable, else classic.  Both engines run the
    identical ``_topk_fold``, so results match bit-for-bit."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    if engine == "auto":
        engine = "tws" if _tws_available() else "classic"
    if engine == "classic":
        return _stateful_topk_classic(tf, keys, value_col, k)
    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in tf.df.schema
        if f.name in keys
    )
    return transform_with_state(
        tf,
        keys,
        _make_topk_processor(keys, value_col, k),
        f"{key_fields}, topk array<double>",
    )


def stream_rollup(
    stream_tf: TidyFrame,
    ts_col: str,
    width: str,
    keys=(),
    watermark: str = "10 minutes",
    bucket_col: str = "bucket",
    **aggs: str,
) -> TidyFrame:
    """Streaming twin of ``operators.timeagg.time_rollup``: watermarked
    tumbling-window aggregation whose output schema matches the batch
    rollup EXACTLY (``bucket`` timestamp + keys + measures), so the same
    downstream ``merge_rollup`` / dashboard query consumes either — the
    continuous-aggregate pattern with a live head.  ``window(ts, width)``
    and ``time_bucket_expr`` share the epoch origin, so an hourly
    streaming bucket equals the hourly batch bucket bit-for-bit.

    State: one window-keyed aggregation; the watermark bounds it (late
    rows beyond ``watermark`` are dropped, and closed windows are evicted
    after emission in append mode).  Store sketches (``hll_sketch_agg``,
    ``approx_top_k_accumulate``) as measures and the rollup stays
    mergeable exactly like the batch one.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    wm = with_watermark(stream_tf, ts_col, watermark)
    out = tumbling_window(wm, ts_col, width, *keys).summarize(**aggs)
    cols = [F.col("window.start").alias(bucket_col), *keys, *aggs.keys()]
    return TidyFrame(out.df.select(*cols))


def run_to_memory(
    result: TidyFrame, name: str, mode: str = "append"
) -> DataFrame:
    """Test harness: run a streaming query to completion on currently
    available files via a memory sink; returns the batch DataFrame of
    results."""
    q = (
        result.df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark = result.df.sparkSession
    return spark.sql(f"SELECT * FROM {name}")
