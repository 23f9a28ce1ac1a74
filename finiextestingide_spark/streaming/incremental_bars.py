"""Stateful incremental bar rendering (R7) with idle-timeout closing (R8).

The reference's live bar renderer keeps ONE open bar per (symbol, timeframe)
and closes it when the first tick of the next bucket arrives (reference:
python/framework/bars/bar_renderer.py:123-214, state envelope
market_data_types.py:114-133); idle heartbeats can close a bar when the feed
goes quiet (process_tick_loop.py:52-107).

Spark mapping: `applyInPandasWithState` keyed by symbol — per-key GroupState
holds exactly the open-bar tuple (bounded state, the deque(maxlen=1000)
analogue is the downstream sink), and a processing-time timeout closes the
open bar when no tick arrives within the heartbeat interval, which the pure
watermark encoding in bars_stream.py cannot do (a watermark only advances on
new data).

Batch parity: for every bucket except each key's last (which only closes on
timeout/end), output equals operators.bars.ohlcv_bars — pinned by
tests/test_streaming.py.

Draining: the processing-time timeout keeps an ``availableNow`` query
scheduling empty batches, so it never terminates by itself.
``bars_stream.run_to_memory`` stops it from its progress records; pass it
``timeout_ms=heartbeat_ms`` when the heartbeat-closed bars must be in the
output.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_BAR_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("bar_ts", TimestampType()),
        StructField("open", DoubleType()),
        StructField("high", DoubleType()),
        StructField("low", DoubleType()),
        StructField("close", DoubleType()),
        StructField("volume", DoubleType()),
        StructField("tick_count", LongType()),
    ]
)

# state tuple: (bucket_start_epoch_us, open, high, low, close, volume, n)
_STATE_SCHEMA = StructType(
    [
        StructField("bucket_us", LongType()),
        StructField("open", DoubleType()),
        StructField("high", DoubleType()),
        StructField("low", DoubleType()),
        StructField("close", DoubleType()),
        StructField("volume", DoubleType()),
        StructField("n", LongType()),
    ]
)


def _render(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    *,
    bar_us: int,
    timeout_ms: int,
) -> Iterator[pd.DataFrame]:
    (symbol,) = key
    if state.hasTimedOut:
        if state.exists:
            b, o, h, lo, c, v, n = state.get
            state.remove()
            yield _bar_frame(symbol, b, o, h, lo, c, v, n, bar_us)
        return

    open_bar = list(state.get) if state.exists else None
    closed: list[tuple] = []
    # A group spanning several Arrow chunks (>maxRecordsPerBatch rows for one
    # symbol in a microbatch) must be ordered GLOBALLY: sorting each chunk
    # alone lets a tick from an earlier bucket arrive after a later bucket's
    # tick and close the open bar prematurely (duplicate bar_ts rows). State
    # is still one tuple; the concat is bounded by the per-key microbatch.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        keys = ["timestamp", "time_msc"]
        if "tick_seq" in pdf.columns:
            # monotone wire tiebreak: makes the fold order deterministic
            # even for ticks tied on (timestamp, time_msc) — and therefore
            # bit-identical to bootstrap_bar_state's sorted-aggregate seed
            keys.append("tick_seq")
        has_seed = "__is_seed" in pdf.columns
        if has_seed:
            # forming-bar seeds sort FIRST (before any tail tick); a key
            # whose state already exists ignores its seed — checkpoint
            # state outranks the ledger (the shared bootstrap contract)
            pdf = pdf.assign(
                __seed_after=1 - pdf["__is_seed"].fillna(0).astype("int64")
            )
            keys.insert(0, "__seed_after")
        pdf = pdf.sort_values(keys, kind="mergesort")
        us = pdf["timestamp"].astype("int64") // 1000  # ns -> us
        seed_l = pdf["__is_seed"].tolist() if has_seed else None
        rows = zip(range(len(pdf)), us, pdf["mid"], pdf["volume"])
        for i, t_us, price, vol in rows:
            if seed_l is not None and seed_l[i]:
                if open_bar is None:
                    open_bar = [
                        int(pdf["b_bucket_us"].iloc[i]),
                        float(pdf["b_open"].iloc[i]),
                        float(pdf["b_high"].iloc[i]),
                        float(pdf["b_low"].iloc[i]),
                        float(pdf["b_close"].iloc[i]),
                        float(pdf["b_volume"].iloc[i]),
                        int(pdf["b_n"].iloc[i]),
                    ]
                continue
            bucket = (int(t_us) // bar_us) * bar_us
            if open_bar is None:
                open_bar = [bucket, price, price, price, price, vol, 1]
            elif bucket == open_bar[0]:
                open_bar[2] = max(open_bar[2], price)
                open_bar[3] = min(open_bar[3], price)
                open_bar[4] = price
                open_bar[5] += vol
                open_bar[6] += 1
            else:  # first tick of a later bucket closes the open bar
                closed.append(tuple(open_bar))
                open_bar = [bucket, price, price, price, price, vol, 1]
    if open_bar is not None:
        state.update(tuple(open_bar))
        state.setTimeoutDuration(timeout_ms)
    if closed:
        yield pd.concat(
            [_bar_frame(symbol, *bar, bar_us) for bar in closed], ignore_index=True
        )


def _bar_frame(symbol, bucket_us, o, h, lo, c, v, n, bar_us) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "symbol": [symbol],
            "bar_ts": [pd.Timestamp(bucket_us, unit="us")],
            "open": [o],
            "high": [h],
            "low": [lo],
            "close": [c],
            "volume": [v],
            "tick_count": [n],
        }
    )


def bootstrap_bar_state(
    ticks: DataFrame, timeframe_ms: int = 60_000
) -> DataFrame:
    """BATCH forming-bar snapshot from a history ledger — the bulk half of
    the batch-bootstrap/stream-tail protocol for the incremental renderer
    (round-10 item 3; SCALE.md §7: driving history through the per-key
    state machinery cost 21 s at sf1 where the batch bar scan is
    sub-second). Returns one row per symbol: the LAST bucket's aggregates
    ``(symbol, bucket_us, open, high, low, close, volume, n)`` — exactly
    the stream's open-bar state. The volume is folded in (timestamp,
    time_msc[, tick_seq]) tick order via a sorted JVM aggregate, so the
    seeded float running sum is bit-identical to the one an uninterrupted
    stream would hold.

    Tie contract (ADVICE r10): ticks must be UNIQUE on (timestamp,
    time_msc) OR carry a monotone ``tick_seq`` column (picked up here and
    by the streaming renderer as the third sort key). Without either,
    ticks tied on both keys sort here by (mid, volume) while the stream's
    stable mergesort keeps arrival order — the seeded open/close and the
    float volume-sum order can then differ from an uninterrupted stream.

    History's CLOSED bars are the batch path's output
    (operators.bars.ohlcv_bars); pass this snapshot to
    ``incremental_bars(bootstrap=...)`` and stream only the tail."""
    bar_us = timeframe_ms * 1000
    us = F.unix_micros("timestamp")
    cols = [
        ticks["symbol"],
        us.alias("__us"),
        (us - F.pmod(us, F.lit(bar_us))).alias("bucket_us"),
        F.col("time_msc").cast("long").alias("__tie"),
    ]
    struct_keys = ["__us", "__tie"]
    if "tick_seq" in ticks.columns:
        cols.append(F.col("tick_seq").cast("long").alias("__seq3"))
        struct_keys.append("__seq3")
    rows = ticks.select(
        *cols,
        F.col("mid").cast("double").alias("__mid"),
        F.col("volume").cast("double").alias("__vol"),
    )
    per_bucket = rows.groupBy("symbol", "bucket_us").agg(
        F.sort_array(
            F.collect_list(F.struct(*struct_keys, "__mid", "__vol"))
        ).alias("__seq")
    )
    seq = F.col("__seq")
    return (
        per_bucket.withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("symbol").orderBy(F.desc("bucket_us"))
            ),
        )
        .where(F.col("__rk") == 1)
        .select(
            "symbol",
            "bucket_us",
            seq[0]["__mid"].alias("open"),
            F.array_max(F.transform(seq, lambda x: x["__mid"])).alias("high"),
            F.array_min(F.transform(seq, lambda x: x["__mid"])).alias("low"),
            F.element_at(seq, -1)["__mid"].alias("close"),
            # the renderer's running float sum, in exact tick order
            F.aggregate(
                F.transform(seq, lambda x: x["__vol"]),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("volume"),
            F.size(seq).cast("long").alias("n"),
        )
    )


def incremental_bars(
    ticks: DataFrame,
    timeframe_ms: int = 60_000,
    *,
    heartbeat_ms: int = 30_000,
    bootstrap: DataFrame | None = None,
    bootstrap_dir: str | None = None,
) -> DataFrame:
    """Close-on-next-bucket bar stream over columns
    (symbol, timestamp, time_msc, mid, volume).

    A bar for bucket B is emitted when the first tick with bucket > B
    arrives for that symbol (exact reference semantics, including
    out-of-order-free input assumption), or when the symbol's feed is idle
    for ``heartbeat_ms`` of processing time.

    ``bootstrap`` (+ ``bootstrap_dir``): cold-start/backfill seeding from a
    ``bootstrap_bar_state`` snapshot via the shared ledger protocol
    (streaming/bootstrap.py — create-only parquet, one-shot file-source
    union, source-checkpoint dedup across restarts): each symbol's forming
    bar installs BEFORE any tail tick, so a restarted renderer that lost
    its checkpoint resumes mid-bar without replaying history; a key whose
    state already exists ignores its seed."""
    if (bootstrap is None) != (bootstrap_dir is None):
        raise ValueError("bootstrap and bootstrap_dir must be passed together")
    bar_us = timeframe_ms * 1000
    if bootstrap is not None:
        from .bootstrap import persist_ledger

        seed_wire = bootstrap.select(
            F.col("symbol"),
            F.timestamp_micros(F.col("bucket_us")).alias("timestamp"),
            F.lit(0).cast("long").alias("time_msc"),
            F.lit(None).cast("double").alias("mid"),
            F.lit(None).cast("double").alias("volume"),
            F.lit(1).alias("__is_seed"),
            F.col("bucket_us").cast("long").alias("b_bucket_us"),
            F.col("open").cast("double").alias("b_open"),
            F.col("high").cast("double").alias("b_high"),
            F.col("low").cast("double").alias("b_low"),
            F.col("close").cast("double").alias("b_close"),
            F.col("volume").cast("double").alias("b_volume"),
            F.col("n").cast("long").alias("b_n"),
        )
        persist_ledger(seed_wire, bootstrap_dir)
        seed_src = (
            ticks.sparkSession.readStream.schema(seed_wire.schema)
            .parquet(bootstrap_dir)
        )
        ticks = ticks.withColumn("__is_seed", F.lit(0)).unionByName(
            seed_src, allowMissingColumns=True
        )

    def fn(key, pdfs, state):
        return _render(key, pdfs, state, bar_us=bar_us, timeout_ms=heartbeat_ms)

    return ticks.groupBy("symbol").applyInPandasWithState(
        fn,
        outputStructType=_BAR_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
