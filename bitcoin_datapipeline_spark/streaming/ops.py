"""Structured-Streaming operators (SURVEY §2.10).

Maps the reference's streaming semantics onto Spark primitives:

===============================  ==========================================
reference behavior                Spark construct here
===============================  ==========================================
1-hour in-memory dedup window     withWatermark("event_time", "1 hour") +
(deduplication.py:55-104, LRU     dropDuplicatesWithinWatermark — the
cap + periodic cleanup)           watermark IS the window, the state store
                                  IS the LRU map (RocksDB-backed on a
                                  cluster, spills instead of evicting)
count/time micro-batch trigger    trigger(processingTime=...) — count-based
(stream_aggregator.py:156-164)    triggers approximated by processing time
event-time windows over           window(event_time, ...) tumbling/sliding
arrival-buffered batches          groupBy aggregations
(feature_builder.py:50-54)
keyed mutable gap state           applyInPandasWithState custom stateful
(gap_detector/README.md)          operator carrying last_ts per symbol
sequence-number resume            checkpointLocation offset tracking
(kinesis_consumer.py:231-272)
idempotent sink w/ unique index   no sink-side twin: stream_dedup drops
(db_writer.py:187-225)            duplicates upstream, and
                                  dedup.sink_key_stats counts the sink's
                                  duplicate keys (a per-epoch
                                  dropDuplicates cannot see earlier appends)
===============================  ==========================================

The arrival-vs-event-time split in the reference (buffers keyed by
``time.time()``, features computed on event_ts — SURVEY §7.4) is resolved
here by standardizing on event time everywhere.

STATEFUL-API COMPAT (decision, 2026-08): the three custom stateful
operators (gap detector below, ``streaming/orderbook.py``,
``streaming/grid.py``) stay on ``applyInPandasWithState``.  Spark 4.1
ships the successor ``transformWithStateInPandas`` (StatefulProcessor:
typed value/list/map state, timers, TTL, schema evolution) and migration
is mechanical for all three (single ValueState each, no timers), BUT its
Python *driver worker* hard-requires the ``protobuf`` package at runtime
— absent here, the query fails at start with
STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE ("cannot import name
'descriptor' from 'google.protobuf'"), verified empirically on 4.1.2.
``applyInPandasWithState`` has no such dependency, is not removed in 4.x,
and both APIs share the RocksDB state store.  The pinned matrix in
tests/test_streaming.py::test_stateful_api_compat_matrix asserts (a) the
old API keeps working, (b) the new API surface exists, and (c) the
protobuf blocker — so the moment the environment gains protobuf the test
flags that migration is unblocked.

DE-RISK (round 5): the gap detector — smallest state of the three — is
now DUAL-PATH: ``stream_gap_detect(api=...)`` selects between the classic
operator and a ``StatefulProcessor`` port (``make_gap_processor``), with
``api="auto"`` gated on :func:`tws_available`.  The successor path's
equivalence test auto-skips while protobuf is absent and activates the
moment the environment unblocks; migrating orderbook/grid then follows
the same mechanical shape.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

TRADE_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("event_ts", T.LongType()),
        T.StructField("ingest_ts", T.LongType()),
        T.StructField("trade_id", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("qty", T.DoubleType()),
        T.StructField("is_buyer_maker", T.BooleanType()),
        T.StructField("source", T.StringType()),
    ]
)


def with_event_time(trades: DataFrame) -> DataFrame:
    """epoch-ms long → TimestampType column (required by watermarks)."""
    return trades.withColumn("event_time", F.timestamp_millis(F.col("event_ts")))


def stream_dedup(trades: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """D1 streaming: keyed dedup inside an event-time watermark —
    dropDuplicatesWithinWatermark keeps state only for `watermark`, exactly
    the reference's 3600 s dedup window (deduplication.py:24)."""
    return (
        with_event_time(trades)
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["symbol", "trade_id"])
    )


def stream_bars_1m(trades: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """A4 streaming: tumbling 1-minute bars in append mode; the watermark
    bounds state and late data (reference tolerates ±5 min overlap re-fetch,
    scheduler.py:74-78 — late rows inside the watermark still land in their
    bar)."""
    t = with_event_time(trades).withWatermark("event_time", watermark)
    g = t.groupBy("symbol", F.window("event_time", "1 minute").alias("win")).agg(
        F.min_by("price", "event_ts").alias("open"),
        F.max("price").alias("high"),
        F.min("price").alias("low"),
        F.max_by("price", "event_ts").alias("close"),
        F.sum("qty").alias("volume"),
        F.sum(F.col("price") * F.col("qty")).alias("notional"),
        F.count("*").alias("trade_count"),
    )
    return g.select(
        "symbol",
        F.col("win.start").alias("bar_start"),
        "open",
        "high",
        "low",
        "close",
        "volume",
        "notional",
        "trade_count",
    )


BBA_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("event_ts", T.LongType()),
        T.StructField("ingest_ts", T.LongType()),
        T.StructField("bid_px", T.DoubleType()),
        T.StructField("bid_sz", T.DoubleType()),
        T.StructField("ask_px", T.DoubleType()),
        T.StructField("ask_sz", T.DoubleType()),
        T.StructField("source", T.StringType()),
    ]
)


def stream_quote_trade_join(
    trades: DataFrame, quotes: DataFrame, band_s: int = 2, watermark: str = "10 minutes"
) -> DataFrame:
    """Stream-stream interval join (§2.10 + J1's streaming twin): each
    trade joined to the quotes of the same symbol in the ``band_s`` seconds
    up to the trade — the live feature-assembly step the reference does by
    buffering both feeds in memory (feature_builder.py's trade+BBA merge).

    Both sides carry watermarks and the join condition carries an explicit
    event-time band, so Spark can bound BOTH state stores: each side only
    buffers `watermark + band` of history per symbol (the documented
    requirement for unbounded-free stream-stream inner joins).  At 100 TB/d
    the state is O(symbols × band × quote rate), independent of history."""
    t = (
        with_event_time(trades)
        .withWatermark("event_time", watermark)
        .select(
            F.col("symbol").alias("t_symbol"),
            F.col("event_time").alias("trade_time"),
            "trade_id",
            "price",
            "qty",
        )
    )
    q = (
        quotes.withColumn("event_time", F.timestamp_millis(F.col("event_ts")))
        .withWatermark("event_time", watermark)
        .select(
            F.col("symbol").alias("q_symbol"),
            F.col("event_time").alias("quote_time"),
            "bid_px",
            "ask_px",
        )
    )
    cond = (
        (F.col("t_symbol") == F.col("q_symbol"))
        & (F.col("quote_time") <= F.col("trade_time"))
        & (F.col("quote_time") >= F.col("trade_time") - F.expr(f"INTERVAL {int(band_s)} SECONDS"))
    )
    j = t.join(q, cond, "inner")
    return j.select(
        F.col("t_symbol").alias("symbol"),
        "trade_id",
        "trade_time",
        "quote_time",
        "price",
        "bid_px",
        "ask_px",
    )


def stream_sliding_stats(trades: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """A5 streaming: sliding 5-minute/1-minute hot-window stats — the Redis
    `tr:{symbol}:{window}` rolling state (DATA_PIPELINE.md:109-157) as a
    sliding event-time window aggregate."""
    t = with_event_time(trades).withWatermark("event_time", watermark)
    g = t.groupBy(
        "symbol", F.window("event_time", "5 minutes", "1 minute").alias("win")
    ).agg(
        F.count("*").alias("trade_count"),
        F.sum("qty").alias("volume"),
        F.sum(F.col("price") * F.col("qty")).alias("notional"),
    )
    return g.select(
        "symbol",
        F.col("win.start").alias("win_start"),
        "trade_count",
        "volume",
        (F.col("notional") / F.col("volume")).alias("vwap"),
    )


def stream_sessionize(
    trades: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """§2.10e streaming: gap-based session windows — the streaming twin of
    operators/windows.sessionize (reference analog: connection/stream-session
    accounting around gap-triggered re-anchors).  ``session_window`` merges
    events whose inter-arrival gap is under ``gap``; the watermark closes a
    session once no event can extend it, so state per (symbol, open session)
    is bounded and append mode emits each session exactly once.

    Session bounds are reported from the observed event_ts min/max (the
    batch operator's convention) alongside the engine's window struct — the
    window end is last-event + gap by session_window semantics, which is why
    duration comes from the event bounds, not the window."""
    t = with_event_time(trades).withWatermark("event_time", watermark)
    g = t.groupBy(
        "symbol", F.session_window("event_time", gap).alias("win")
    ).agg(
        F.min("event_ts").alias("session_start"),
        F.max("event_ts").alias("session_end"),
        F.count("*").cast("long").alias("n_trades"),
        F.sum("qty").alias("volume"),
    )
    return g.select(
        "symbol",
        "session_start",
        "session_end",
        F.round((F.col("session_end") - F.col("session_start")) / 1000.0, 6).alias(
            "duration_s"
        ),
        "n_trades",
        F.round("volume", 6).alias("volume"),
    )


GAP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("prev_event_ts", T.LongType()),
        T.StructField("resume_event_ts", T.LongType()),
        T.StructField("gap_ms", T.LongType()),
    ]
)
GAP_STATE_SCHEMA = T.StructType([T.StructField("last_ts", T.LongType())])


def make_gap_detector(threshold_ms: int = 2 * 3_600_000):
    """Custom stateful operator: per-symbol last-event-ts state, emits a row
    whenever the inter-arrival gap exceeds the threshold — the streaming
    analog of services/gap_detector (monitor → flag → trigger re-anchor).

    Built on applyInPandasWithState: state survives across micro-batches and
    is evicted by the engine's watermark/timeout machinery rather than a
    hand-rolled cleanup loop (deduplication.py:142+)."""

    def fn(key, pdfs, state: GroupState):
        symbol = key[0]
        last_ts = state.get[0] if state.exists else None
        # accumulate ALL chunks before sorting: a group larger than the
        # Arrow batch size arrives as multiple pdfs in arbitrary order, and
        # per-chunk sorting would fabricate gaps across chunk boundaries
        # (and corrupt last_ts for the next micro-batch)
        all_ts: list[int] = []
        for pdf in pdfs:
            all_ts.extend(pdf["event_ts"].tolist())
        rows = []
        for ts in sorted(all_ts):
            if last_ts is not None and ts - last_ts > threshold_ms:
                rows.append((symbol, last_ts, ts, ts - last_ts))
            last_ts = ts
        state.update((last_ts,))
        yield pd.DataFrame(rows, columns=[f.name for f in GAP_OUTPUT_SCHEMA.fields])

    return fn


def tws_available() -> bool:
    """True when Spark's successor stateful API
    (``transformWithStateInPandas``) can actually RUN here: the API
    surface shipped in 4.0+, but its Python driver worker hard-requires
    the ``protobuf`` package (see STATEFUL-API COMPAT in the module
    docstring).  The version gate the dual-path operators consult."""
    try:
        from google.protobuf import descriptor  # noqa: F401
        from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
            StatefulProcessor,
        )

        return True
    except ImportError:
        return False


def make_gap_processor(threshold_ms: int = 2 * 3_600_000):
    """``transformWithStateInPandas`` port of :func:`make_gap_detector` —
    the de-risk path for the eventual migration off
    ``applyInPandasWithState`` (smallest state of the three custom
    stateful operators: one LONG per symbol).  Identical semantics on the
    successor API: typed ``ValueState`` replaces the state tuple, chunks
    are still accumulated before sorting (same Arrow-batch-boundary
    hazard), and emission rows are byte-identical to the classic path."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class GapProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._last = handle.getValueState("last_ts", "last_ts long")

        def handleInputRows(self, key, rows, timer_values):
            symbol = key[0]
            last_ts = self._last.get()[0] if self._last.exists() else None
            all_ts: list[int] = []
            for pdf in rows:
                all_ts.extend(pdf["event_ts"].tolist())
            out = []
            for ts in sorted(all_ts):
                if last_ts is not None and ts - last_ts > threshold_ms:
                    out.append((symbol, last_ts, ts, ts - last_ts))
                last_ts = ts
            self._last.update((last_ts,))
            yield pd.DataFrame(
                out, columns=[f.name for f in GAP_OUTPUT_SCHEMA.fields]
            )

        def close(self) -> None:
            pass

    return GapProcessor()


def stream_gap_detect(
    trades: DataFrame,
    threshold_ms: int = 2 * 3_600_000,
    api: str = "auto",
) -> DataFrame:
    """Dual-path per-symbol gap detection.  ``api``:

    - ``"classic"`` — ``applyInPandasWithState`` (runs everywhere);
    - ``"tws"`` — the ``transformWithStateInPandas`` successor
      (requires :func:`tws_available`);
    - ``"auto"`` — classic while the successor's protobuf dependency is
      missing, successor once the environment unblocks (both paths are
      equivalence-tested against the batch twin)."""
    if api == "auto":
        api = "tws" if tws_available() else "classic"
    if api == "tws":
        return trades.groupBy("symbol").transformWithStateInPandas(
            make_gap_processor(threshold_ms),
            outputStructType=GAP_OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
    return (
        trades.groupBy("symbol")
        .applyInPandasWithState(
            make_gap_detector(threshold_ms),
            outputStructType=GAP_OUTPUT_SCHEMA,
            stateStructType=GAP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def latest_snapshot_sink(out_dir: str, key: str = "symbol", ts_col: str = "bucket"):
    """The reference's live per-symbol feature cache (Redis ``feat:{symbol}``
    hash, REDIS_SCHEMA.md feature-vector keys; refreshed continuously by the
    aggregator) as a Parquet-backed foreachBatch sink: each micro-batch
    merges its rows with the current cache and keeps the newest row per key,
    then cuts over atomically via sources/reanchor.atomic_swap_write — a
    reader never observes a half-refreshed cache, mirroring the Redis
    pipeline/RENAME discipline.

    State is bounded at one row per key regardless of stream volume; the
    merge is a max_by aggregate (no sort), and the swap cost is O(keys).
    """
    from ..sources.reanchor import atomic_swap_write, retire

    def write(df: DataFrame, epoch_id: int) -> None:
        spark = df.sparkSession
        merged = df
        try:
            cur = spark.read.parquet(out_dir)
            merged = df.unionByName(cur)
        except Exception:
            pass  # first epoch: no cache yet
        others = [c for c in merged.columns if c != key]
        latest = (
            merged.groupBy(key)
            .agg(
                F.max_by(F.struct(*others), F.col(ts_col)).alias("s")
            )
            .select(key, "s.*")
        )
        retire(atomic_swap_write(latest, out_dir))

    return write


def stream_enrich(trades: DataFrame, dim: DataFrame) -> DataFrame:
    """§2.10 stream-static join: enrich the trade stream with a static
    dimension (the aggregator's per-symbol config lookup — reference
    `feature_builder` reads symbol metadata per message; here the dim is a
    broadcast table joined map-side, re-resolved per micro-batch so a dim
    refresh between batches is picked up without restarting the query).
    Stateless — no watermark needed; the broadcast hint keeps the big
    stream side shuffle-free at any scale."""
    return trades.join(F.broadcast(dim), "symbol", "left")
