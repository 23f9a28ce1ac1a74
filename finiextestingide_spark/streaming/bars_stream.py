"""Live-path bar rendering as Structured Streaming (SURVEY.md §2.9, §1.4).

The reference's live pipeline consumes a WebSocket tick feed through a queue
into the same per-tick bar renderer the batch path uses (reference:
python/framework/autotrader/autotrader_tick_loop.py:1-60,
python/framework/bars/bar_renderer.py:123-214): a bar closes when the first
tick of the next bucket arrives.

Spark mapping: the batch/streaming unified DataFrame API is that shared core
for free. ``F.window(ts, tf)`` + a watermark reproduces the close-on-bucket-
change semantics: in append output mode a window's bar is emitted exactly
once, when the watermark passes the window end (= the reference's
"first tick of the next bucket closes the bar", plus bounded lateness the
reference doesn't tolerate at all — its inputs are pre-sorted,
shared_data_preparator.py:686-692, so ``delay='0 seconds'`` matches it).

State bounds: the watermark is the TTL — Spark drops window state once the
watermark passes, the reference's deque(maxlen=1000) analogue
(bar_renderer.py:55-58).

``run_to_memory`` is the one drain every gate and test uses to run a stream
into a memory table: it stops on the query's own progress records (see
``stream_drained``), never on a wall-clock settle."""

from __future__ import annotations

import time
from collections.abc import Mapping, Sequence
from datetime import datetime

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..operators.bars import TIMEFRAMES


def read_tick_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    base_path: str | None = None,
) -> DataFrame:
    """File-drop source — the queue analogue for tests/replay; swap for a
    socket/Kafka source in production (the transformations are identical).

    ``base_path`` must be set (to the containing directory) when ``path``
    names a single file — the file source requires a directory basePath."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    return reader.load(path)


def stream_ohlcv_bars(
    ticks: DataFrame,
    timeframe: str = "M1",
    *,
    ts: str = "timestamp",
    key: str | Sequence[str] = "symbol",
    price: str = "mid",
    volume: str | None = None,
    watermark_delay: str = "0 seconds",
    tiebreak: str | None = None,
) -> DataFrame:
    """Streaming OHLCV — same aggregate expressions as the batch
    operators.bars.ohlcv_bars, over an event-time window + watermark.

    open/close use min_by/max_by on the event timestamp: without
    ``tiebreak``, within-bucket arrival races at identical ts resolve
    arbitrarily, exactly the contract the reference documents for its live
    path (arrival order preserved at import, tick_importer.py:291-293);
    passing a unique ``tiebreak`` column makes open/close deterministic
    (the batch operator's contract)."""
    duration = TIMEFRAMES.get(timeframe, timeframe)
    keys = [key] if isinstance(key, str) else list(key)
    p = F.col(price)
    vol = F.col(volume) if volume is not None else F.lit(1.0)
    order = F.col(ts) if tiebreak is None else F.struct(F.col(ts), F.col(tiebreak))
    return (
        ticks.withWatermark(ts, watermark_delay)
        .groupBy(F.window(F.col(ts), duration).alias("__w"), *keys)
        .agg(
            F.min_by(p, order).alias("open"),
            F.max(p).alias("high"),
            F.min(p).alias("low"),
            F.max_by(p, order).alias("close"),
            F.sum(vol).alias("volume"),
            F.count(F.lit(1)).alias("tick_count"),
        )
        .select(F.col("__w.start").alias("bar_ts"), *keys, "open", "high", "low",
                "close", "volume", "tick_count")
    )


# seconds between looks at a running drain's progress records
_POLL_SECS = 0.1
# a stopped query's teardown wait: at most this many looks at the
# scheduler's running-task count, _POLL_SECS apart
_TEARDOWN_POLLS = 30


def _start_ms(progress: Mapping) -> int:
    """A progress record's trigger start, epoch milliseconds."""
    ts = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
    return int(ts.timestamp() * 1000)


def _moved(progress: Mapping) -> bool:
    return any(
        s["startOffset"] != s["endOffset"] for s in progress.get("sources") or ()
    )


def stream_drained(
    progress: Sequence[Mapping], timeout_ms: int | None = None
) -> bool:
    """The drain's stop rule over a query's completed-batch progress records
    (``StreamingQuery.recentProgress`` entries, in any order).

    True once a batch that moved no source offset (``startOffset ==
    endOffset`` on every source) completed after the last batch that moved
    one: under ``availableNow`` such a batch is only built once every source
    has reached its end offset, so every data batch's output is in the sink.

    ``timeout_ms`` is the stream's processing-time timeout. A timer armed in a
    data batch expires no later than that batch's start + its
    ``triggerExecution`` + ``timeout_ms``; a batch that started after the
    latest such deadline has fired every key's timeout, so it must also have
    completed."""
    data = [p for p in progress if _moved(p)]
    if not data:
        return False
    last = max(p["batchId"] for p in data)
    after = [p for p in progress if p["batchId"] > last]
    if timeout_ms is None:
        return bool(after)
    deadline = max(
        _start_ms(p) + p["durationMs"]["triggerExecution"] + timeout_ms
        for p in data
    )
    return any(_start_ms(p) > deadline for p in after)


def run_to_memory(
    df: DataFrame,
    query_name: str,
    *,
    output_mode: str = "append",
    timeout_ms: int | None = None,
) -> None:
    """Drain all available input into an in-memory table (gates, tests,
    local inspection), then return.

    Runs the stream under ``availableNow``. A stream without a
    processing-time timeout terminates by itself once its input is consumed.
    One with such a timeout never does (every pending timer schedules
    another, empty, batch), so the drain stops it once ``stream_drained``
    holds over its progress records. Pass the stream's own ``timeout_ms``
    when it emits on timeout, so the drain also waits for those emissions.
    A failed query raises here."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    seen: dict = {}
    while not q.awaitTermination(_POLL_SECS):
        # the progress buffer is bounded; keep every record seen so far
        for p in q.recentProgress:
            seen[(p["batchId"], p["timestamp"])] = p
        if stream_drained(list(seen.values()), timeout_ms):
            stop_query_quietly(q, df.sparkSession)
            return


def _running_tasks(spark: SparkSession) -> int:
    """Tasks the task scheduler counts as running on any executor; a task
    leaves the count when its executor reports it ended, after any abort
    it logs. (``statusTracker().getExecutorInfos()`` reads the listener's
    status store, which lags: it read 0 running while the scheduler still
    counted 18 killed tasks of a stopped dedup stream.)"""
    scheduler = spark.sparkContext._jsc.sc().taskScheduler()
    counts = scheduler.runningTasksByExecutors().valuesIterator()
    n = 0
    while counts.hasNext():
        n += counts.next()
    return n


def stop_query_quietly(q, spark: SparkSession) -> None:
    """Stop a drained stateful stream without state-store abort noise.
    ``q.stop()`` interrupts whatever micro-batch is mid-flight; under
    ProcessingTimeTimeout, availableNow schedules timeout-check batches back
    to back, so the interrupt nearly always lands mid-batch (waiting for an
    idle trigger never sees one) and the tasks log 'Aborting commit' /
    HDFSBackedStateStore ERROR stacks. Harmless: every result was already
    drained and the abort-retry is the task protocol working. But it buries
    real errors in every gate log, so during the stop the teardown-noisy log
    categories are lowered to OFF and restored after. The window where they
    are dark is one where the only possible messages are the aborts of
    batches whose output nobody will read."""
    noisy = (
        "org.apache.spark.sql.execution.datasources.v2.DataWritingSparkTask",
        "org.apache.spark.sql.execution.datasources.v2.WriteToDataSourceV2Exec",
        "org.apache.spark.sql.execution.streaming.state",
        "org.apache.spark.executor.Executor",
        "org.apache.spark.scheduler.TaskSetManager",
        "org.apache.spark.util.Utils",
        "org.apache.spark.TaskContextImpl",
        "org.apache.spark.broadcast.TorrentBroadcast",
    )
    # prev accumulates category->level as each is silenced; a failure
    # mid-loop must NOT discard it — whatever was already set to OFF still
    # gets restored in the finally block
    prev: dict = {}
    configurator = None
    try:
        jvm = spark.sparkContext._jvm
        log_manager = jvm.org.apache.logging.log4j.LogManager
        configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        off = jvm.org.apache.logging.log4j.Level.OFF
    except Exception:  # pragma: no cover - alternate log backends
        configurator = None
    if configurator is not None:
        for name in noisy:
            try:
                prev[name] = log_manager.getLogger(name).getLevel()
                configurator.setLevel(name, off)
            except Exception:  # pragma: no cover - per-category failure
                prev.pop(name, None)  # this one wasn't silenced; skip it
    try:
        q.stop()
        q.awaitTermination()
    finally:
        if prev:
            # killed tasks log their abort stacks ASYNCHRONOUSLY after
            # awaitTermination returns (executor threads unwind on their
            # own schedule) — hold the categories dark until no task runs
            # on any executor, so the restore doesn't race the very noise
            # being suppressed
            for _ in range(_TEARDOWN_POLLS):
                if _running_tasks(spark) == 0:
                    break
                time.sleep(_POLL_SECS)
            for name, level in prev.items():
                try:
                    configurator.setLevel(name, level)
                except Exception:  # pragma: no cover
                    pass


def stale_feed_flags(
    ticks: DataFrame,
    *,
    ts: str = "timestamp",
    key: str = "symbol",
    interval: str = "10 seconds",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Stale-feed detection (worker_orchestrator.py:236-247 market-data
    staleness contract): per (key, interval) bucket, the tick count — a
    downstream consumer treats an absent/empty bucket as a stale feed.
    Session-window-free encoding that stays in append mode."""
    return (
        ticks.withWatermark(ts, watermark_delay)
        .groupBy(F.window(F.col(ts), interval).alias("__w"), key)
        .agg(F.count(F.lit(1)).alias("ticks"), F.max(ts).alias("last_tick_ts"))
        .select(F.col("__w.start").alias("bucket_ts"), key, "ticks", "last_tick_ts")
    )
