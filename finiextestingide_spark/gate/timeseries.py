"""Time-series gate queries: the reference's tick->bar->indicator->discovery
pipeline mapped onto the driver's `events` stream table
(event_type -> symbol, value -> price, event_id -> time_msc tiebreak).

Every query is built from the operator library (operators/bars.py,
indicators.py, gaps.py, asof.py, extremes.py, volatility.py) and paired with
a DuckDB oracle that mirrors the exact formula flavor (SURVEY §2.5).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.core import session_from_utc_hour
from ..operators import indicators as ind
from ..operators.asof import asof_join
from ..operators.bars import ohlcv_bars
from ..operators.extremes import extreme_move_candidates
from ..operators.gaps import detect_gaps
from ..operators.volatility import volatility_periods
from ..sources.tables import normalize_ts, set_nanos_as_long
from ._util import Query, t


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "events")


def _bars(spark: SparkSession, sf_dir: str, timeframe: str) -> DataFrame:
    """OHLCV bars over events; volume = exact-decimal sum of value."""
    return ohlcv_bars(
        _events(spark, sf_dir),
        timeframe,
        ts="ts",
        key="event_type",
        price="value",
        volume=F.col("value").cast("decimal(18,2)"),
        tiebreak="event_id",
    ).withColumnRenamed("event_type", "symbol")


def _bars_cte(unit: str) -> str:
    """DuckDB mirror of _bars as a CTE named `bars`."""
    return f"""
bars AS (
  SELECT event_type AS symbol, date_trunc('{unit}', ts) AS bar_ts,
         max(CASE WHEN rna = 1 THEN value END) AS open,
         max(value) AS high, min(value) AS low,
         max(CASE WHEN rnd = 1 THEN value END) AS close,
         sum(CAST(value AS DECIMAL(18,2))) AS volume,
         count(*) AS tick_count
  FROM (
    SELECT *,
           row_number() OVER (PARTITION BY event_type, date_trunc('{unit}', ts) ORDER BY ts, event_id) AS rna,
           row_number() OVER (PARTITION BY event_type, date_trunc('{unit}', ts) ORDER BY ts DESC, event_id DESC) AS rnd
    FROM events
  )
  GROUP BY 1, 2
)"""


def _bar_out(bars: DataFrame) -> DataFrame:
    return bars.select(
        "symbol",
        "bar_ts",
        "open",
        "high",
        "low",
        "close",
        F.round(F.col("volume").cast("double"), 6).alias("volume"),
        F.col("tick_count").cast("long").alias("tick_count"),
    )


_BAR_OUT_SQL = """
SELECT symbol, bar_ts, open, high, low, close,
       round(CAST(volume AS DOUBLE), 6) AS volume,
       CAST(tick_count AS BIGINT) AS tick_count
FROM bars
"""


def bars_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bar_out(_bars(spark, sf_dir, "H1"))


def bars_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bar_out(_bars(spark, sf_dir, "D1"))


BARS_1H_SQL = f"WITH {_bars_cte('hour')} {_BAR_OUT_SQL}"
BARS_1D_SQL = f"WITH {_bars_cte('day')} {_BAR_OUT_SQL}"


def bars_1h_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 bars rolled up from M1 bars (operators.bars.rollup_bars — the one
    tick pass / cascade render path). Oracle: the DIRECT tick->H1 SQL —
    passing proves OHLCV aggregate composability inside the driver gate."""
    from ..operators.bars import rollup_bars

    m1 = _bars(spark, sf_dir, "M1")
    return _bar_out(rollup_bars(m1, "H1", key="symbol"))


BARS_1H_CASCADE_SQL = BARS_1H_SQL


def streaming_bars_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 bars through the STRUCTURED STREAMING path (§2.9): file-drop
    source -> event-time window aggregate -> availableNow drain to a memory
    sink. Oracle: the same direct tick->H1 SQL as bars_1h — passing proves
    stream/batch parity at value-hash level (the reference's tests/parity/
    dual-pipeline contract, done one better: checked against a third
    engine). Complete output mode so the final (never-closed) window is
    emitted too, matching the batch aggregate."""
    from ..streaming.bars_stream import read_tick_stream, run_to_memory, stream_ohlcv_bars

    # Mirror sources.tables.load_table's session posture, then stream the
    # same file: schema from the batch reader (ts arrives as ns-epoch long).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    set_nanos_as_long(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # A literal single-file path makes FileStreamSource derive a file
    # basePath and fail; a glob keeps the parent directory as basePath.
    ticks = normalize_ts(
        read_tick_stream(spark, f"{sf_dir}/events.parque*", raw_schema)
    )
    # volume in the batch gate is the exact-decimal sum of value; the
    # streaming helper takes a column name, so pre-project the decimal cast.
    bars = stream_ohlcv_bars(
        ticks.withColumn("__vol", F.col("value").cast("decimal(18,2)")),
        "H1",
        ts="ts",
        key="event_type",
        price="value",
        volume="__vol",
        tiebreak="event_id",
    ).withColumnRenamed("event_type", "symbol")
    name = "gate_streaming_bars_1h"
    run_to_memory(bars, name, output_mode="complete")
    return _bar_out(spark.table(name))


STREAMING_BARS_1H_SQL = BARS_1H_SQL


def streaming_incremental_bars_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 bars through the STATEFUL streaming operator (R7 as
    applyInPandasWithState, close-on-next-bucket): per-key GroupState holds
    one open bar; a bar is emitted when the first tick of a later bucket
    arrives, so each symbol's final bucket stays open and is absent from the
    output. Oracle: the direct tick->H1 SQL restricted to each symbol's
    non-final buckets, with the volume fold order-matched (list_reduce over
    (ts, event_id)-ordered values == the renderer's running float sum)."""
    from ..streaming.bars_stream import read_tick_stream, run_to_memory
    from ..streaming.incremental_bars import incremental_bars

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    set_nanos_as_long(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ticks = (
        normalize_ts(read_tick_stream(spark, f"{sf_dir}/events.parque*", raw_schema))
        .select(
            F.col("event_type").alias("symbol"),
            F.col("ts").alias("timestamp"),
            # time_msc is only the renderer's sort tiebreak; event_id makes
            # same-microsecond ticks deterministic (the batch operator's
            # tiebreak contract)
            F.col("event_id").alias("time_msc"),
            F.col("value").alias("mid"),
            F.col("value").alias("volume"),
        )
    )
    name = "gate_streaming_incremental_bars_1h"
    # heartbeat far beyond the drain window: only close-on-next-bucket bars
    bars = incremental_bars(ticks, 3_600_000, heartbeat_ms=3_600_000_000)
    run_to_memory(bars, name)
    out = spark.table(name)
    return out.select(
        "symbol",
        "bar_ts",
        "open",
        "high",
        "low",
        "close",
        F.round("volume", 6).alias("volume"),
        F.col("tick_count").cast("long").alias("tick_count"),
    )


def streaming_asof_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming as-of signal join (J1/W7 live path): click events are the
    tick stream, purchase events the signal stream (event timestamps are
    unique in this dataset, so signal tie order is moot); every tick is
    enriched with the latest signal at-or-before it by a per-key
    value-state. Oracle: DuckDB's native ASOF JOIN."""
    from ..streaming.asof_stream import asof_signal_stream
    from ..streaming.bars_stream import read_tick_stream, run_to_memory

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    set_nanos_as_long(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ev = normalize_ts(
        read_tick_stream(spark, f"{sf_dir}/events.parque*", raw_schema)
    )
    ticks = ev.where(F.col("event_type") == "click").select(
        F.lit("x").alias("symbol"), "ts", F.col("value").alias("mid")
    )
    signals = ev.where(F.col("event_type") == "purchase").select(
        F.lit("x").alias("symbol"), F.col("ts").alias("sig_ts"), F.col("value").alias("score")
    )
    # 10-minute staleness bound: both fresh and stale ticks exist at every
    # SF, so the is_stale column (and its fresh->stale flips) is exercised
    out = asof_signal_stream(ticks, signals, max_staleness_ms=600_000)
    name = "gate_streaming_asof_signal"
    run_to_memory(out, name, output_mode="append")
    res = spark.table(name)
    return res.select(
        "symbol",
        "ts",
        F.round("mid", 6).alias("mid"),
        "sig_ts",
        F.round("score", 6).alias("score"),
        "is_stale",
    )


STREAMING_ASOF_SIGNAL_SQL = """
WITH clicks AS (
  SELECT ts, value AS mid FROM events WHERE event_type = 'click'
),
sigs AS (
  SELECT ts AS sig_ts, value AS score FROM events WHERE event_type = 'purchase'
)
SELECT 'x' AS symbol, c.ts, round(c.mid, 6) AS mid,
       make_timestamp((epoch_us(s.sig_ts) // 1000) * 1000) AS sig_ts,
       round(s.score, 6) AS score,
       (s.sig_ts IS NULL
        OR epoch_ms(c.ts) - epoch_ms(s.sig_ts) > 600000) AS is_stale
FROM clicks c ASOF LEFT JOIN sigs s ON s.sig_ts <= c.ts
"""


STREAMING_INCREMENTAL_BARS_1H_SQL = """
WITH ev AS (
  SELECT event_type AS symbol, ts, event_id, value FROM events
),
bars AS (
  SELECT symbol, date_trunc('hour', ts) AS bar_ts,
         max(CASE WHEN rna = 1 THEN value END) AS open,
         max(value) AS high, min(value) AS low,
         max(CASE WHEN rnd = 1 THEN value END) AS close,
         list_reduce(list(value ORDER BY ts, event_id), (x, y) -> x + y) AS volume,
         count(*) AS tick_count
  FROM (
    SELECT *,
           row_number() OVER (PARTITION BY symbol, date_trunc('hour', ts) ORDER BY ts, event_id) AS rna,
           row_number() OVER (PARTITION BY symbol, date_trunc('hour', ts) ORDER BY ts DESC, event_id DESC) AS rnd
    FROM ev
  )
  GROUP BY 1, 2
),
last_b AS (SELECT symbol, max(bar_ts) AS mb FROM bars GROUP BY 1)
SELECT b.symbol, b.bar_ts, b.open, b.high, b.low, b.close,
       round(b.volume, 6) AS volume, CAST(b.tick_count AS BIGINT) AS tick_count
FROM bars b JOIN last_b l ON b.symbol = l.symbol AND b.bar_ts < l.mb
"""


# --- session labeling + per-session profile (S4, A3 session summaries) ---


def session_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    g = (
        ev.withColumn("session", session_from_utc_hour(F.hour("ts")))
        .groupBy("session")
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("__sv"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
    return g.select(
        "session",
        "n_ticks",
        F.round(F.col("__sv").cast("double") / F.col("n_ticks"), 6).alias("avg_value"),
        "n_users",
    )


SESSION_PROFILE_SQL = """
SELECT CASE WHEN hour(ts) >= 22 OR hour(ts) < 8 THEN 'sydney_tokyo'
            WHEN hour(ts) >= 8 AND hour(ts) < 16 THEN 'london'
            WHEN hour(ts) >= 16 AND hour(ts) < 21 THEN 'new_york'
            ELSE 'transition' END AS session,
       count(*) AS n_ticks,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1
"""


# --- gap detection (W9) ---

_EXPECTED_INTERVAL_MS = 600_000  # 10 min expected inter-event interval


def gap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    gaps = detect_gaps(
        _events(spark, sf_dir),
        _EXPECTED_INTERVAL_MS,
        key="event_type",
        ts="ts",
        tiebreak="event_id",
    )
    return gaps.select(
        F.col("key").alias("symbol"),
        F.unix_millis("gap_start").alias("gap_start_ms"),
        F.unix_millis("gap_end").alias("gap_end_ms"),
        "gap_ms",
        "gap_class",
    )


GAP_SCAN_SQL = f"""
SELECT event_type AS symbol,
       prev_ms AS gap_start_ms, ms AS gap_end_ms, ms - prev_ms AS gap_ms,
       CASE WHEN ms - prev_ms < 5000 THEN 'SEAMLESS'
            WHEN ms - prev_ms < 1800000 THEN 'SHORT'
            WHEN ms - prev_ms < 14400000 THEN 'MODERATE'
            ELSE 'LARGE' END AS gap_class
FROM (
  SELECT event_type, epoch_ms(ts) AS ms,
         lag(epoch_ms(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_ms
  FROM events
)
WHERE prev_ms IS NOT NULL AND ms - prev_ms > 2 * {_EXPECTED_INTERVAL_MS}
"""


# --- W9 extended: holiday classification + multi-weekend gap splitting on a
#     deterministic fixture (the reference pins these semantics with fixture
#     tests too — market_calendar.py:31,400-418 holidays, :501 splitter).
#     The fixture exercises every class: SEAMLESS/SHORT/MODERATE/LARGE,
#     WEEKEND primary (Fri>=20:00 -> Sun<=22:00, 40-80h) and alternative
#     (Sat -> Sun<=22:00, 24-50h), HOLIDAY (Dec 25 and Jan 1), and >80h gaps
#     split at Fri-20:00/Sun-22:00 boundaries, each segment re-classified. ---

_GSC_FIXTURE = [
    "2025-11-03 10:00:00",  # Mon
    "2025-11-03 10:00:03",  # +3s                 -> SEAMLESS
    "2025-11-03 10:10:03",  # +10min              -> SHORT
    "2025-11-03 12:10:03",  # +2h                 -> MODERATE
    "2025-11-03 18:10:03",  # +6h                 -> LARGE
    "2025-11-07 21:00:00",  # Fri; ~99h           -> split at Fri 20:00
    "2025-11-09 21:30:00",  # Sun; 48.5h          -> WEEKEND (primary)
    "2025-11-15 10:00:00",  # Sat; 132.5h         -> split (Sun22 + Fri20 inside)
    "2025-11-16 20:00:00",  # Sun; 34h            -> WEEKEND (alternative)
    "2025-12-24 18:00:00",  # Wed; ~910h          -> split across many weekends
    "2025-12-26 10:00:00",  # Fri; 40h, Dec 25    -> HOLIDAY
    "2025-12-26 10:00:03",  # +3s                 -> SEAMLESS
    "2025-12-31 23:00:00",  # Wed; ~133h          -> split (one weekend inside)
    "2026-01-02 08:00:00",  # Fri; 33h, Jan 1     -> HOLIDAY
]
_GSC_INTERVAL_MS = 1000


def gap_scan_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime

    from ..operators.gaps import classify_gap, split_gaps_at_market_boundaries

    # naive fixture datetimes are wall-clock; pin the session to UTC so
    # hour/weekday classification matches DuckDB's naive literals
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = [("FIX", datetime.fromisoformat(s)) for s in _GSC_FIXTURE]
    ticks = spark.createDataFrame(rows, "symbol string, ts timestamp")
    gaps = detect_gaps(ticks, _GSC_INTERVAL_MS, key="symbol", ts="ts")
    segs = split_gaps_at_market_boundaries(gaps)
    return segs.select(
        F.col("key").alias("symbol"),
        F.unix_millis("gap_start").alias("gap_start_ms"),
        F.unix_millis("gap_end").alias("gap_end_ms"),
        "gap_ms",
        F.col("n_segments").cast("int").alias("n_segments"),
        F.unix_millis("segment_start").alias("seg_start_ms"),
        F.unix_millis("segment_end").alias("seg_end_ms"),
        "segment_ms",
        classify_gap(
            F.col("segment_ms"),
            F.col("segment_start"),
            F.col("segment_end"),
            weekend_closure=True,
        ).alias("gap_class"),
    )


def _gsc_sql() -> str:
    values = ",\n    ".join(f"(TIMESTAMP '{s}')" for s in _GSC_FIXTURE)
    # weekday: isodow 1=Mon..7=Sun -> Mon=0 convention via isodow-1
    holiday = (
        "(datediff('day', CAST(segment_start AS DATE), CAST(segment_end AS DATE)) >= 366"
        + "".join(
            f" OR make_date(year(CAST({side} AS DATE)), {m}, {d})"
            f" BETWEEN CAST(segment_start AS DATE) AND CAST(segment_end AS DATE)"
            for m, d in ((12, 25), (1, 1))
            for side in ("segment_start", "segment_end")
        )
        + ")"
    )
    return f"""
WITH fixture(ts) AS (VALUES
    {values}
),
seq AS (SELECT ts, lag(ts) OVER (ORDER BY ts) AS prev FROM fixture),
gaps AS (
  SELECT prev AS gap_start, ts AS gap_end,
         epoch_ms(ts) - epoch_ms(prev) AS gap_ms
  FROM seq
  WHERE prev IS NOT NULL AND epoch_ms(ts) - epoch_ms(prev) > {2 * _GSC_INTERVAL_MS}
),
cal AS (
  SELECT w + INTERVAL 116 HOUR AS b
  FROM generate_series(TIMESTAMP '2025-10-06 00:00:00',
                       TIMESTAMP '2026-02-02 00:00:00', INTERVAL 7 DAY) t(w)
  UNION ALL
  SELECT w + INTERVAL 166 HOUR
  FROM generate_series(TIMESTAMP '2025-10-06 00:00:00',
                       TIMESTAMP '2026-02-02 00:00:00', INTERVAL 7 DAY) t(w)
),
edges AS (
  SELECT g.gap_start, g.gap_end, g.gap_ms, c.b AS edge
  FROM gaps g JOIN cal c
    ON c.b > g.gap_start AND c.b < g.gap_end AND g.gap_ms > {80 * 3600_000}
  UNION ALL SELECT gap_start, gap_end, gap_ms, gap_start FROM gaps
  UNION ALL SELECT gap_start, gap_end, gap_ms, gap_end FROM gaps
),
segs AS (
  SELECT gap_start, gap_end, gap_ms, edge AS segment_start,
         lead(edge) OVER (PARTITION BY gap_start ORDER BY edge) AS segment_end,
         CAST(count(*) OVER (PARTITION BY gap_start) - 1 AS INTEGER) AS n_segments
  FROM edges
),
classified AS (
  SELECT *, epoch_ms(segment_end) - epoch_ms(segment_start) AS segment_ms
  FROM segs WHERE segment_end IS NOT NULL
)
SELECT 'FIX' AS symbol,
       epoch_ms(gap_start) AS gap_start_ms,
       epoch_ms(gap_end) AS gap_end_ms,
       gap_ms, n_segments,
       epoch_ms(segment_start) AS seg_start_ms,
       epoch_ms(segment_end) AS seg_end_ms,
       segment_ms,
       CASE
         WHEN segment_ms < 5000 THEN 'SEAMLESS'
         WHEN (isodow(segment_start) - 1 = 4 AND hour(segment_start) >= 20
               AND isodow(segment_end) - 1 = 6 AND hour(segment_end) <= 22
               AND segment_ms BETWEEN {40 * 3600_000} AND {80 * 3600_000})
           OR (isodow(segment_start) - 1 = 5
               AND isodow(segment_end) - 1 = 6 AND hour(segment_end) <= 22
               AND segment_ms BETWEEN {24 * 3600_000} AND {50 * 3600_000})
           THEN 'WEEKEND'
         WHEN segment_ms >= {20 * 3600_000} AND {holiday} THEN 'HOLIDAY'
         WHEN segment_ms < {30 * 60_000} THEN 'SHORT'
         WHEN segment_ms < {4 * 3600_000} THEN 'MODERATE'
         ELSE 'LARGE'
       END AS gap_class
FROM classified
"""


GAP_SCAN_CALENDAR_SQL = _gsc_sql()


# --- RSI (W1, SMA flavor) on daily bars ---


def rsi_14_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ind.with_rsi(_bars(spark, sf_dir, "D1"), 14, key="symbol", ts="bar_ts")
    return out.where(F.col("rsi").isNotNull()).select(
        "symbol",
        "bar_ts",
        F.round("close", 6).alias("close"),
        F.round("rsi", 6).alias("rsi"),
        F.round("rsi_avg_gain", 6).alias("avg_gain"),
        F.round("rsi_avg_loss", 6).alias("avg_loss"),
    )


RSI_14_DAILY_SQL = f"""
WITH {_bars_cte('day')},
d AS (
  SELECT symbol, bar_ts, close,
         close - lag(close) OVER w AS delta,
         row_number() OVER w AS rn
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
),
g AS (
  SELECT symbol, bar_ts, close, rn,
         avg(greatest(delta, 0)) OVER w2 AS gain,
         avg(greatest(-delta, 0)) OVER w2 AS loss
  FROM d WINDOW w2 AS (PARTITION BY symbol ORDER BY bar_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT symbol, bar_ts, round(close, 6) AS close,
       round(CASE WHEN loss = 0 THEN 100.0 ELSE 100.0 - 100.0 / (1.0 + gain / loss) END, 6) AS rsi,
       round(gain, 6) AS avg_gain, round(loss, 6) AS avg_loss
FROM g WHERE rn > 14
"""


# --- Bollinger (W2: SMA middle, population std) on daily bars ---


def bollinger_20_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ind.with_bollinger(_bars(spark, sf_dir, "D1"), 20, 2.0, key="symbol", ts="bar_ts")
    return out.where(F.col("bb_middle").isNotNull()).select(
        "symbol",
        "bar_ts",
        F.round("close", 6).alias("close"),
        F.round("bb_middle", 6).alias("bb_middle"),
        F.round("bb_upper", 6).alias("bb_upper"),
        F.round("bb_lower", 6).alias("bb_lower"),
        F.round("bb_position", 6).alias("bb_position"),
    )


BOLLINGER_20_DAILY_SQL = f"""
WITH {_bars_cte('day')},
b AS (
  SELECT symbol, bar_ts, close,
         avg(close) OVER w2 AS middle,
         stddev_pop(close) OVER w2 AS std,
         row_number() OVER (PARTITION BY symbol ORDER BY bar_ts) AS rn
  FROM bars WINDOW w2 AS (PARTITION BY symbol ORDER BY bar_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT symbol, bar_ts, round(close, 6) AS close,
       round(middle, 6) AS bb_middle,
       round(middle + 2.0 * std, 6) AS bb_upper,
       round(middle - 2.0 * std, 6) AS bb_lower,
       round(CASE WHEN middle + 2.0 * std = middle - 2.0 * std THEN 0.5
                  ELSE least(greatest((close - (middle - 2.0 * std)) / ((middle + 2.0 * std) - (middle - 2.0 * std)), 0.0), 1.0)
             END, 6) AS bb_position
FROM b WHERE rn >= 20
"""


# --- OBV (W4) on daily bars ---


def obv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _bars(spark, sf_dir, "D1").withColumn("volume", F.col("volume").cast("double"))
    out = ind.with_obv(bars, key="symbol", ts="bar_ts")
    return out.select("symbol", "bar_ts", F.round("obv", 6).alias("obv"))


OBV_DAILY_SQL = f"""
WITH {_bars_cte('day')},
d AS (
  SELECT symbol, bar_ts, CAST(volume AS DOUBLE) AS vol,
         close - lag(close) OVER (PARTITION BY symbol ORDER BY bar_ts) AS delta
  FROM bars
)
SELECT symbol, bar_ts,
       round(coalesce(sum(CAST(sign(delta) AS DOUBLE) * vol)
                      OVER (PARTITION BY symbol ORDER BY bar_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0), 6) AS obv
FROM d
"""


# --- ATR (W6, SMA flavor for the oracle; ewm flavor is atr_ewm_daily) ---


def atr_sma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ind.with_atr_sma(_bars(spark, sf_dir, "D1"), 14, key="symbol", ts="bar_ts")
    return out.where(F.col("atr").isNotNull()).select(
        "symbol", "bar_ts", F.round("atr", 6).alias("atr")
    )


ATR_SMA_DAILY_SQL = f"""
WITH {_bars_cte('day')},
d AS (
  SELECT symbol, bar_ts,
         greatest(high - low,
                  abs(high - coalesce(lag(close) OVER w, close)),
                  abs(low - coalesce(lag(close) OVER w, close))) AS tr,
         row_number() OVER w AS rn
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
)
SELECT symbol, bar_ts, round(atr, 6) AS atr
FROM (
  SELECT symbol, bar_ts, rn,
         avg(tr) OVER (PARTITION BY symbol ORDER BY bar_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS atr
  FROM d
)
WHERE rn >= 14
"""


# --- as-of join (J1/J2): latest prior click per purchase, staleness flag ---

_STALENESS_MS = 6 * 3600_000


def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        tolerance_ms=_STALENESS_MS,
    )
    return joined.select(
        "purchase_id",
        "user_id",
        F.unix_millis("ts").alias("purchase_ms"),
        "click_id",
        F.round("click_value", 6).alias("click_value"),
        (F.unix_millis("ts") - F.unix_millis("click_ts")).alias("staleness_ms"),
        "is_stale",
    )


ASOF_PURCHASE_CLICK_SQL = f"""
SELECT p.event_id AS purchase_id, p.user_id,
       epoch_ms(p.ts) AS purchase_ms,
       c.event_id AS click_id,
       round(c.value, 6) AS click_value,
       epoch_ms(p.ts) - epoch_ms(c.ts) AS staleness_ms,
       (epoch_ms(p.ts) - epoch_ms(c.ts)) > {_STALENESS_MS} AS is_stale
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# --- extreme move scan (W10) on hourly bars ---

_XM_SIZE = 24
_XM_MIN_ATR = 3.0
_XM_MAX_ADV = 1.5


def extreme_moves_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = ind.with_atr_sma(_bars(spark, sf_dir, "H1"), 14, key="symbol", ts="bar_ts")
    bars = bars.withColumn("atr", F.coalesce("atr", F.lit(None)))
    # candidates need a defined ATR on every bar in the window: SMA-ATR is
    # null during warmup; restrict to rows where it is defined, mirrored in SQL.
    bars = bars.where(F.col("atr").isNotNull())
    cands = extreme_move_candidates(
        bars, window_sizes=(_XM_SIZE,), min_atr_multiple=_XM_MIN_ATR, max_adverse_atr=_XM_MAX_ADV,
        key="symbol", ts="bar_ts", atr="atr",
    )
    return cands.select(
        F.col("key").alias("symbol"),
        "direction",
        F.unix_millis("start_time").alias("start_ms"),
        F.unix_millis("end_time").alias("end_ms"),
        "bar_count",
        F.round("entry_price", 6).alias("entry_price"),
        F.round("extreme_price", 6).alias("extreme_price"),
        F.round("move_atr_multiple", 6).alias("move_atr_multiple"),
        F.round("adverse_atr_multiple", 6).alias("adverse_atr_multiple"),
        F.col("tick_count").cast("long").alias("tick_count"),
    )


EXTREME_MOVES_HOURLY_SQL = f"""
WITH {_bars_cte('hour')},
tr AS (
  SELECT symbol, bar_ts, open, high, low, close, tick_count,
         greatest(high - low,
                  abs(high - coalesce(lag(close) OVER w, close)),
                  abs(low - coalesce(lag(close) OVER w, close))) AS tr,
         row_number() OVER w AS rn0
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
),
withatr AS (
  SELECT * FROM (
    SELECT symbol, bar_ts, open, high, low, close, tick_count, rn0,
           avg(tr) OVER (PARTITION BY symbol ORDER BY bar_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS atr
    FROM tr
  ) WHERE rn0 >= 14
),
anchored AS (
  SELECT symbol, bar_ts, open, atr,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY symbol) AS total,
         max(high) OVER fw AS window_high,
         min(low) OVER fw AS window_low,
         avg(atr) OVER fw AS window_atr,
         max(bar_ts) OVER fw AS end_time,
         sum(tick_count) OVER fw AS window_ticks
  FROM withatr
  WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts),
         fw AS (PARTITION BY symbol ORDER BY bar_ts ROWS BETWEEN CURRENT ROW AND {_XM_SIZE - 1} FOLLOWING)
),
cand AS (
  SELECT * FROM anchored
  WHERE (rn - 1) % {_XM_SIZE // 4} = 0 AND rn + {_XM_SIZE} - 1 <= total AND window_atr > 0
),
both_dirs AS (
  SELECT symbol, 'LONG' AS direction, epoch_ms(bar_ts) AS start_ms, epoch_ms(end_time) AS end_ms,
         {_XM_SIZE} AS bar_count, open AS entry_price, window_high AS extreme_price,
         (window_high - open) / window_atr AS move_atr_multiple,
         (open - window_low) / window_atr AS adverse_atr_multiple,
         CAST(window_ticks AS BIGINT) AS tick_count
  FROM cand
  UNION ALL
  SELECT symbol, 'SHORT', epoch_ms(bar_ts), epoch_ms(end_time),
         {_XM_SIZE}, open, window_low,
         (open - window_low) / window_atr,
         (window_high - open) / window_atr,
         CAST(window_ticks AS BIGINT)
  FROM cand
)
SELECT symbol, direction, start_ms, end_ms, bar_count,
       round(entry_price, 6) AS entry_price,
       round(extreme_price, 6) AS extreme_price,
       round(move_atr_multiple, 6) AS move_atr_multiple,
       round(adverse_atr_multiple, 6) AS adverse_atr_multiple,
       tick_count
FROM both_dirs
WHERE move_atr_multiple >= {_XM_MIN_ATR} AND adverse_atr_multiple <= {_XM_MAX_ADV}
"""


# --- volatility regime periods (A3) ---

_VP_GRANULARITY_H = 4


def volatility_regimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = ind.with_atr_sma(_bars(spark, sf_dir, "H1"), 14, key="symbol", ts="bar_ts")
    periods = volatility_periods(
        bars, _VP_GRANULARITY_H, key="symbol", ts="bar_ts", atr="atr"
    )
    return periods.select(
        F.col("key").alias("symbol"),
        "period_start",
        F.round("avg_atr", 6).alias("avg_atr"),
        F.round("atr_ratio", 6).alias("atr_ratio"),
        "regime",
        F.round("atr_percentile", 6).alias("atr_percentile"),
        F.col("tick_count").cast("long").alias("tick_count"),
        F.col("bar_count").cast("long").alias("bar_count"),
        F.round("price_range", 6).alias("price_range"),
    )


_VOL_PERIODS_CTE = f"""{_bars_cte('hour')},
tr AS (
  SELECT symbol, bar_ts, high, low, tick_count,
         greatest(high - low,
                  abs(high - coalesce(lag(close) OVER w, close)),
                  abs(low - coalesce(lag(close) OVER w, close))) AS tr,
         row_number() OVER w AS rn0
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
),
withatr AS (
  SELECT * FROM (
    SELECT symbol, bar_ts, high, low, tick_count, rn0,
           avg(tr) OVER (PARTITION BY symbol ORDER BY bar_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS atr
    FROM tr
  ) WHERE rn0 >= 14
),
periods AS (
  -- make_timestamp(us) keeps the bucket start a naive TIMESTAMP (to_timestamp
  -- would yield TIMESTAMPTZ and depend on the session timezone); // on DOUBLE
  -- does not floor in DuckDB, so floor() explicitly.
  SELECT symbol,
         make_timestamp(CAST(floor(epoch(bar_ts) / {_VP_GRANULARITY_H * 3600}) AS BIGINT) * {_VP_GRANULARITY_H * 3600} * 1000000) AS period_start,
         CAST(avg(CAST(atr AS DECIMAL(28,10))) AS DOUBLE) AS avg_atr,
         sum(tick_count) AS tick_count,
         count(*) AS bar_count,
         max(high) AS high, min(low) AS low
  FROM withatr
  GROUP BY 1, 2
)"""


VOLATILITY_REGIMES_SQL = f"""
WITH {_VOL_PERIODS_CTE},
ranked AS (
  SELECT symbol, period_start, avg_atr,
         avg_atr / CAST(avg(CAST(avg_atr AS DECIMAL(28,10))) OVER (PARTITION BY symbol) AS DOUBLE) AS atr_ratio,
         (rank() OVER (PARTITION BY symbol ORDER BY avg_atr) - 1) * 100.0
           / count(*) OVER (PARTITION BY symbol) AS atr_percentile,
         tick_count, bar_count, high, low
  FROM periods
)
SELECT symbol, CAST(period_start AS TIMESTAMP) AS period_start,
       round(avg_atr, 6) AS avg_atr,
       round(atr_ratio, 6) AS atr_ratio,
       CASE WHEN atr_ratio < 0.5 THEN 'VERY_LOW'
            WHEN atr_ratio < 0.8 THEN 'LOW'
            WHEN atr_ratio < 1.2 THEN 'MEDIUM'
            WHEN atr_ratio < 2.0 THEN 'HIGH'
            ELSE 'VERY_HIGH' END AS regime,
       round(atr_percentile, 6) AS atr_percentile,
       CAST(tick_count AS BIGINT) AS tick_count,
       CAST(bar_count AS BIGINT) AS bar_count,
       round(high - low, 6) AS price_range
FROM ranked
"""


def volatility_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — per-symbol profile summary over the regime periods (min/max/
    mean/population-std ATR, totals, regime distribution)."""
    from ..operators.volatility import profile_summary

    bars = ind.with_atr_sma(_bars(spark, sf_dir, "H1"), 14, key="symbol", ts="bar_ts")
    periods = volatility_periods(
        bars, _VP_GRANULARITY_H, key="symbol", ts="bar_ts", atr="atr"
    )
    out = profile_summary(periods, key="key")
    return out.select(
        F.col("key").alias("symbol"),
        F.round("min_atr", 6).alias("min_atr"),
        F.round("max_atr", 6).alias("max_atr"),
        F.round("mean_atr", 6).alias("mean_atr"),
        F.round("std_atr", 6).alias("std_atr"),
        F.col("total_ticks").cast("long").alias("total_ticks"),
        F.col("periods").cast("long").alias("periods"),
        F.col("n_very_low").cast("long").alias("n_very_low"),
        F.col("n_low").cast("long").alias("n_low"),
        F.col("n_medium").cast("long").alias("n_medium"),
        F.col("n_high").cast("long").alias("n_high"),
        F.col("n_very_high").cast("long").alias("n_very_high"),
    )


VOLATILITY_PROFILE_SQL = f"""
WITH {_VOL_PERIODS_CTE},
regimed AS (
  SELECT symbol, avg_atr, tick_count,
         avg_atr / avg(avg_atr) OVER (PARTITION BY symbol) AS atr_ratio
  FROM periods
)
SELECT symbol,
       round(min(avg_atr), 6) AS min_atr,
       round(max(avg_atr), 6) AS max_atr,
       round(avg(avg_atr), 6) AS mean_atr,
       round(stddev_pop(avg_atr), 6) AS std_atr,
       CAST(sum(tick_count) AS BIGINT) AS total_ticks,
       CAST(count(*) AS BIGINT) AS periods,
       CAST(sum(CASE WHEN atr_ratio < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_very_low,
       CAST(sum(CASE WHEN atr_ratio >= 0.5 AND atr_ratio < 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       CAST(sum(CASE WHEN atr_ratio >= 0.8 AND atr_ratio < 1.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
       CAST(sum(CASE WHEN atr_ratio >= 1.2 AND atr_ratio < 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       CAST(sum(CASE WHEN atr_ratio >= 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_very_high
FROM regimed
GROUP BY symbol
"""


# --- robustness statistics (A9): daily PnL-like distribution per symbol ---

_PIVOT = "2024-01-16 00:00:00"


def robustness_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        F.col("event_type").alias("symbol"), F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("__s"))
    daily = daily.withColumn("day_value", F.col("__s").cast("double"))
    stats = daily.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("__s").alias("__total"),
        F.median("day_value").alias("__med"),
        F.stddev_pop("day_value").alias("__std"),
        F.sum(F.when(F.col("day") < F.expr(f"TIMESTAMP '{_PIVOT}'"), F.col("__s"))).alias("__is_s"),
        F.count(F.when(F.col("day") < F.expr(f"TIMESTAMP '{_PIVOT}'"), 1)).alias("__is_n"),
        F.sum(F.when(F.col("day") >= F.expr(f"TIMESTAMP '{_PIVOT}'"), F.col("__s"))).alias("__oos_s"),
        F.count(F.when(F.col("day") >= F.expr(f"TIMESTAMP '{_PIVOT}'"), 1)).alias("__oos_n"),
    )
    mean = F.col("__total").cast("double") / F.col("n_days")
    joined = daily.join(F.broadcast(stats), "symbol").groupBy(
        "symbol", "n_days", "__total", "__med", "__std", "__is_s", "__is_n", "__oos_s", "__oos_n"
    ).agg(
        F.sum(
            F.when(F.col("day_value") > F.col("__total").cast("double") / F.col("n_days"), 1).otherwise(0)
        ).alias("__above")
    )
    is_mean = F.col("__is_s").cast("double") / F.col("__is_n")
    oos_mean = F.col("__oos_s").cast("double") / F.col("__oos_n")
    return joined.select(
        "symbol",
        "n_days",
        F.round(F.col("__total").cast("double") / F.col("n_days"), 6).alias("mean_day"),
        F.round("__med", 6).alias("median_day"),
        F.round("__std", 6).alias("std_day"),
        F.round(F.col("__std") / (F.col("__total").cast("double") / F.col("n_days")), 6).alias("cov"),
        F.round(F.col("__above").cast("double") / F.col("n_days"), 6).alias("pct_above_mean"),
        F.round(is_mean, 6).alias("is_mean"),
        F.round(oos_mean, 6).alias("oos_mean"),
        F.round(oos_mean / is_mean, 6).alias("wfe"),
    )


ROBUSTNESS_DAILY_SQL = f"""
WITH daily AS (
  SELECT event_type AS symbol, date_trunc('day', ts) AS day,
         sum(CAST(value AS DECIMAL(18,2))) AS s,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT symbol,
         count(*) AS n_days,
         sum(s) AS total,
         median(day_value) AS med,
         stddev_pop(day_value) AS std,
         sum(CASE WHEN day < TIMESTAMP '{_PIVOT}' THEN s END) AS is_s,
         count(CASE WHEN day < TIMESTAMP '{_PIVOT}' THEN 1 END) AS is_n,
         sum(CASE WHEN day >= TIMESTAMP '{_PIVOT}' THEN s END) AS oos_s,
         count(CASE WHEN day >= TIMESTAMP '{_PIVOT}' THEN 1 END) AS oos_n
  FROM daily GROUP BY 1
),
above AS (
  SELECT d.symbol, sum(CASE WHEN d.day_value > CAST(st.total AS DOUBLE) / st.n_days THEN 1 ELSE 0 END) AS n_above
  FROM daily d JOIN stats st USING (symbol) GROUP BY 1
)
SELECT st.symbol, st.n_days,
       round(CAST(st.total AS DOUBLE) / st.n_days, 6) AS mean_day,
       round(st.med, 6) AS median_day,
       round(st.std, 6) AS std_day,
       round(st.std / (CAST(st.total AS DOUBLE) / st.n_days), 6) AS cov,
       round(CAST(a.n_above AS DOUBLE) / st.n_days, 6) AS pct_above_mean,
       round(CAST(st.is_s AS DOUBLE) / st.is_n, 6) AS is_mean,
       round(CAST(st.oos_s AS DOUBLE) / st.oos_n, 6) AS oos_mean,
       round((CAST(st.oos_s AS DOUBLE) / st.oos_n) / (CAST(st.is_s AS DOUBLE) / st.is_n), 6) AS wfe
FROM stats st JOIN above a USING (symbol)
"""


# --- MA-trend (W5): MA slope normalized by window volatility -> label ---


def ma_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ind.with_ma_trend(_bars(spark, sf_dir, "D1"), 10, key="symbol", ts="bar_ts")
    return out.where(F.col("ma_trend").isNotNull()).select(
        "symbol",
        "bar_ts",
        F.round("ma_trend_slope", 6).alias("slope"),
        F.col("ma_trend").alias("trend"),
    )


MA_TREND_DAILY_SQL = f"""
WITH {_bars_cte('day')},
b AS (
  SELECT symbol, bar_ts,
         avg(close) OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS ma,
         stddev_pop(close) OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vol,
         row_number() OVER w AS rn
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
),
s AS (
  SELECT symbol, bar_ts, rn,
         CASE WHEN vol <> 0 THEN (ma - lag(ma) OVER (PARTITION BY symbol ORDER BY bar_ts)) / vol
              ELSE 0.0 END AS norm
  FROM b
)
SELECT symbol, bar_ts, round(norm, 6) AS slope,
       CASE WHEN norm > 0.1 THEN 'UP' WHEN norm < -0.1 THEN 'DOWN' ELSE 'FLAT' END AS trend
FROM s WHERE rn > 10
"""


# --- warmup-bar selection (P4): last N bars strictly before scenario start ---

_WARMUP_SCENARIOS = [
    ("s1", "click", "2024-01-20 00:00:00"),
    ("s2", "view", "2024-01-25 12:00:00"),
    ("s3", "error", "2024-01-10 06:00:00"),
]


def warmup_bars_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scenario_prep import warmup_bars

    scen = spark.createDataFrame(
        [(s, sym, ts) for s, sym, ts in _WARMUP_SCENARIOS],
        "scenario string, symbol string, start_str string",
    ).withColumn("start_ts", F.to_timestamp("start_str"))
    out = warmup_bars(_bars(spark, sf_dir, "H1"), scen.drop("start_str"), 10)
    return out.select(
        "scenario",
        "symbol",
        "bar_ts",
        "close",
        F.col("tick_count").cast("long").alias("tick_count"),
        "bars_back",
    )


_WARMUP_VALUES = ", ".join(f"('{s}', '{sym}', TIMESTAMP '{ts}')" for s, sym, ts in _WARMUP_SCENARIOS)

WARMUP_BARS_10_SQL = f"""
WITH {_bars_cte('hour')},
scen(scenario, symbol, start_ts) AS (VALUES {_WARMUP_VALUES}),
j AS (
  SELECT scen.scenario, bars.symbol, bars.bar_ts, bars.close, bars.tick_count,
         row_number() OVER (PARTITION BY scen.scenario ORDER BY bars.bar_ts DESC) AS bars_back
  FROM bars JOIN scen ON bars.symbol = scen.symbol AND bars.bar_ts < scen.start_ts
)
SELECT scenario, symbol, bar_ts, close, CAST(tick_count AS BIGINT) AS tick_count, bars_back
FROM j WHERE bars_back <= 10
"""


# --- interval-overlap coverage join (J4): indexed segments x load ranges ---

_COVERAGE_RANGES = [
    ("r1", "click", "2024-01-05 00:00:00", "2024-01-12 00:00:00"),
    ("r2", "view", "2024-01-20 18:00:00", "2024-01-28 00:00:00"),
    ("r3", "purchase", "2024-01-01 00:00:00", "2024-01-03 12:00:00"),
]


def interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scenario_prep import interval_overlap_join

    ev = _events(spark, sf_dir)
    segments = ev.groupBy(
        F.col("event_type").alias("symbol"),
        F.date_trunc("day", "ts").alias("segment_day"),
    ).agg(
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    ranges = spark.createDataFrame(
        _COVERAGE_RANGES, "range_id string, symbol string, s string, e string"
    ).select(
        "range_id",
        "symbol",
        F.to_timestamp("s").alias("start_ts"),
        F.to_timestamp("e").alias("end_ts"),
    )
    out = interval_overlap_join(segments, ranges)
    return out.select(
        "range_id",
        "symbol",
        "segment_day",
        F.unix_millis("min_ts").alias("min_ms"),
        F.unix_millis("max_ts").alias("max_ms"),
        "n_rows",
    )


_COVERAGE_VALUES = ", ".join(
    f"('{r}', '{sym}', TIMESTAMP '{s}', TIMESTAMP '{e}')" for r, sym, s, e in _COVERAGE_RANGES
)

INTERVAL_COVERAGE_SQL = f"""
WITH seg AS (
  SELECT event_type AS symbol, date_trunc('day', ts) AS segment_day,
         min(epoch_ms(ts)) AS min_ms, max(epoch_ms(ts)) AS max_ms, count(*) AS n_rows
  FROM events GROUP BY 1, 2
),
rng(range_id, symbol, start_ts, end_ts) AS (VALUES {_COVERAGE_VALUES})
SELECT rng.range_id, seg.symbol, seg.segment_day, seg.min_ms, seg.max_ms, seg.n_rows
FROM seg JOIN rng
  ON seg.symbol = rng.symbol
 AND epoch_ms(rng.start_ts) <= seg.max_ms
 AND epoch_ms(rng.end_ts) >= seg.min_ms
"""


# --- EMA family (W3 MACD, W6 ATR-ewm): recursive — oracled via DuckDB
#     RECURSIVE CTEs that replay the exact recurrence (expression order
#     matches the pandas implementation term-for-term; pandas
#     ewm(span, adjust=False) is bit-identical to the explicit recursion),
#     plus golden pytest coverage (tests/test_indicators.py) ---


def macd_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ind.with_macd(_bars(spark, sf_dir, "D1").withColumn("volume", F.col("volume").cast("double")))
    return out.where(F.col("macd").isNotNull()).select(
        "symbol",
        "bar_ts",
        F.round("macd", 6).alias("macd"),
        F.round("macd_signal", 6).alias("macd_signal"),
        F.round("macd_histogram", 6).alias("macd_histogram"),
    )


MACD_DAILY_SQL = f"""
WITH RECURSIVE {_bars_cte('day')},
c AS MATERIALIZED (
  SELECT symbol, bar_ts, close,
         row_number() OVER w AS rn,
         avg(close) OVER (w ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS sma_f,
         avg(close) OVER (w ROWS BETWEEN 25 PRECEDING AND CURRENT ROW) AS sma_s
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
),
fe(symbol, rn, e) AS (
  SELECT symbol, rn, sma_f FROM c WHERE rn = 12
  UNION ALL
  SELECT c.symbol, c.rn, (2.0/13.0) * c.close + (1.0 - 2.0/13.0) * fe.e
  FROM c JOIN fe ON c.symbol = fe.symbol AND c.rn = fe.rn + 1
),
se(symbol, rn, e) AS (
  SELECT symbol, rn, sma_s FROM c WHERE rn = 26
  UNION ALL
  SELECT c.symbol, c.rn, (2.0/27.0) * c.close + (1.0 - 2.0/27.0) * se.e
  FROM c JOIN se ON c.symbol = se.symbol AND c.rn = se.rn + 1
),
m AS MATERIALIZED (
  SELECT c.symbol, c.bar_ts, fe.e - se.e AS macd,
         row_number() OVER (PARTITION BY c.symbol ORDER BY c.rn) AS srn,
         avg(fe.e - se.e) OVER (PARTITION BY c.symbol ORDER BY c.rn
                                ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS sma_m
  FROM c
  JOIN fe ON c.symbol = fe.symbol AND c.rn = fe.rn
  JOIN se ON c.symbol = se.symbol AND c.rn = se.rn
),
sig(symbol, srn, e) AS (
  SELECT symbol, srn, sma_m FROM m WHERE srn = 9
  UNION ALL
  SELECT m.symbol, m.srn, (2.0/10.0) * m.macd + (1.0 - 2.0/10.0) * sig.e
  FROM m JOIN sig ON m.symbol = sig.symbol AND m.srn = sig.srn + 1
)
SELECT m.symbol, m.bar_ts, round(m.macd, 6) AS macd,
       round(sig.e, 6) AS macd_signal,
       round(m.macd - sig.e, 6) AS macd_histogram
FROM m LEFT JOIN sig ON m.symbol = sig.symbol AND m.srn = sig.srn
"""


def atr_ewm_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _bars(spark, sf_dir, "D1").withColumn("volume", F.col("volume").cast("double"))
    out = ind.with_atr_ewm(bars, 14, key="symbol", ts="bar_ts")
    return out.select("symbol", "bar_ts", F.round("atr", 6).alias("atr"))


ATR_EWM_DAILY_SQL = f"""
WITH RECURSIVE {_bars_cte('day')},
tr AS MATERIALIZED (
  SELECT symbol, bar_ts,
         row_number() OVER w AS rn,
         greatest(high - low,
                  abs(high - lag(close) OVER w),
                  abs(low - lag(close) OVER w)) AS tr
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
),
ema(symbol, rn, e) AS (
  SELECT symbol, rn, tr FROM tr WHERE rn = 1
  UNION ALL
  SELECT t.symbol, t.rn, (1.0 - 2.0/15.0) * ema.e + (2.0/15.0) * t.tr
  FROM tr t JOIN ema ON t.symbol = ema.symbol AND t.rn = ema.rn + 1
)
SELECT t.symbol, t.bar_ts, round(ema.e, 6) AS atr
FROM tr t JOIN ema ON t.symbol = ema.symbol AND t.rn = ema.rn
"""


# --- R1-R9: the stateful replay over events-derived ticks (rows-only: the
#     order-fill state machine is not SQL-expressible; determinism + semantics
#     are pinned by tests/test_replay.py golden runs) ---


def replay_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.replay import run_backtest

    ev = _events(spark, sf_dir)
    ticks = ev.select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("timestamp"),
        F.unix_millis("ts").alias("time_msc"),
        F.unix_millis("ts").alias("collected_msc"),
        (F.col("value") - 0.005).alias("bid"),
        (F.col("value") + 0.005).alias("ask"),
    )
    base = {"bar_ms": "3600000", "fast": "3", "slow": "8", "equity_sample_every": "0"}
    scen_rows = [
        (1, "click-sma", "click", None, None, 11, 100, 5000, {**base, "strategy": "sma_cross"}),
        (2, "view-rsi", "view", None, None, 12, 100, 5000,
         {**base, "strategy": "rsi_reversion", "period": "9"}),
        (3, "purchase-hold", "purchase", None, None, 13, 0, 0,
         {**base, "strategy": "buy_hold", "sl_dist": "2.0", "tp_dist": "4.0"}),
        (4, "error-budget", "error", 20000, 500.0, 14, 100, 5000,
         {**base, "strategy": "sma_cross"}),
        (5, "signup-macd", "signup", None, None, 15, 100, 5000,
         {**base, "strategy": "macd_cross", "fast": "5", "slow": "13", "signal": "4"}),
        (6, "click-consensus", "click", None, None, 16, 100, 5000,
         {**base, "strategy": "consensus", "fast": "3", "slow": "8", "period": "9"}),
    ]
    scenarios = spark.createDataFrame(
        scen_rows,
        "scenario_id int, name string, symbol string, max_ticks int, "
        "tick_processing_budget_ms double, latency_seed int, latency_min_ms int, "
        "latency_max_ms int, parameters map<string,string>",
    )
    res = run_backtest(ticks, scenarios)
    return res.select(
        "scenario_id",
        "ticks_processed",
        "ticks_clipped",
        "bars_closed",
        "trades_count",
        "wins",
        "losses",
        F.round("gross_profit", 6).alias("gross_profit"),
        F.round("gross_loss", 6).alias("gross_loss"),
        F.round("net_pnl", 6).alias("net_pnl"),
        F.round("final_equity", 6).alias("final_equity"),
        F.round("max_drawdown", 6).alias("max_drawdown"),
    )


def replay_loadtest_40(spark: SparkSession, sf_dir: str) -> DataFrame:
    """40-scenario replay (the reference benchmark-certificate shape: 40
    parallel scenarios through the full bars+strategy+simulator pipeline,
    BASELINE.md). 5 symbols x 8 parameter variants; scenario parallelism is
    Spark task parallelism over groupBy(scenario_id)."""
    from ..operators.replay import run_backtest

    ev = _events(spark, sf_dir)
    ticks = ev.select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("timestamp"),
        F.unix_millis("ts").alias("time_msc"),
        F.unix_millis("ts").alias("collected_msc"),
        (F.col("value") - 0.005).alias("bid"),
        (F.col("value") + 0.005).alias("ask"),
    )
    base = {"bar_ms": "3600000", "equity_sample_every": "0"}
    strategies = [
        {"strategy": "sma_cross", "fast": "3", "slow": "8"},
        {"strategy": "sma_cross", "fast": "5", "slow": "13"},
        {"strategy": "rsi_reversion", "period": "9"},
        {"strategy": "rsi_reversion", "period": "14"},
        {"strategy": "buy_hold", "sl_dist": "2.0", "tp_dist": "4.0"},
        {"strategy": "buy_hold", "sl_dist": "1.0", "tp_dist": "2.0"},
        {"strategy": "sma_cross", "fast": "2", "slow": "21"},
        {"strategy": "rsi_reversion", "period": "5"},
    ]
    rows = []
    sid = 0
    for sym in ["click", "view", "purchase", "signup", "error"]:
        for k, strat in enumerate(strategies):
            sid += 1
            rows.append(
                (sid, f"{sym}-{k}", sym, None, None, 100 + sid, 100, 5000, {**base, **strat})
            )
    scenarios = spark.createDataFrame(
        rows,
        "scenario_id int, name string, symbol string, max_ticks int, "
        "tick_processing_budget_ms double, latency_seed int, latency_min_ms int, "
        "latency_max_ms int, parameters map<string,string>",
    )
    res = run_backtest(ticks, scenarios)
    return res.select(
        "scenario_id",
        "ticks_processed",
        "bars_closed",
        "trades_count",
        F.round("net_pnl", 6).alias("net_pnl"),
        F.round("final_equity", 6).alias("final_equity"),
    )


# --- oracle-checked replay: with zero latency and no SL/TP, the sma_cross
#     state machine is exactly SQL-expressible, so the trades it emits can be
#     hash-checked against DuckDB (upgrade over the rows-only replay gates):
#     decisions depend only on closed-bar closes; a flip's close+open orders
#     both fill on the decision tick (due == t drains the queue on arrival);
#     MAE/MFE are running extrema of dir*(mark - entry) over the ticks from
#     entry up to (not including) the next flip tick — reference semantics
#     per trade_simulator.py:146-236 / portfolio_types.py:120-155. ---

_RSO_SYMBOLS = ["click", "view", "purchase", "signup", "error"]
_RSO_CONFIGS = [(3, 8), (5, 13)]  # (fast, slow) SMA pairs
_RSO_BAR_MS = 3_600_000


def _live_gate_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stream source for the live-loop gates: events replayed
    through a file stream in the live wire contract (time_msc = epoch-ms
    clock, event_id as tick_seq for stable intra-ms ties)."""
    from ..streaming.bars_stream import read_tick_stream

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    set_nanos_as_long(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    return (
        normalize_ts(read_tick_stream(spark, f"{sf_dir}/events.parque*", raw_schema))
        .select(
            F.col("event_type").alias("symbol"),
            F.col("ts").alias("timestamp"),
            # wire contract (live_replay module docstring): time_msc =
            # epoch-ms event time — the engine clock, exactly as batch;
            # event_id joins the sort key as tick_seq for stable ties
            F.unix_millis(F.col("ts")).alias("time_msc"),
            F.col("event_id").alias("tick_seq"),
            (F.col("value") - 0.005).alias("bid"),
            (F.col("value") + 0.005).alias("ask"),
        )
    )


def streaming_live_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE autotrader loop (streaming/live_replay.live_backtest) driven
    as a stream inside the gate: events replayed through a file stream into
    the per-symbol stateful session (bars + SMA decision + fills +
    excursions), trades drained to a memory sink. Oracle: the SAME SQL
    trade-sequence reconstruction that hash-checks the batch replay
    (REPLAY_SMA_ORACLE_SQL), restricted to the first config's scenarios and
    to non-END exits — a live session has no end of data, so its final
    open position never force-closes. Passing means the live pipeline's
    trade records are hash-identical to a third engine's model of the
    batch semantics: the reference's dual-pipeline parity contract
    (tests/parity/test_trade_records_parity.py), driver-checked."""
    from ..streaming.bars_stream import run_to_memory
    from ..streaming.live_replay import live_backtest

    ticks = _live_gate_ticks(spark, sf_dir)
    fast, slow = _RSO_CONFIGS[0]
    params = {
        "strategy": "sma_cross",
        "fast": str(fast),
        "slow": str(slow),
        "bar_ms": str(_RSO_BAR_MS),
        "equity_sample_every": "0",
    }
    name = "gate_streaming_live_replay"
    run_to_memory(live_backtest(ticks, params), name)
    sid = F.create_map(
        *[x for i, s in enumerate(_RSO_SYMBOLS) for x in (F.lit(s), F.lit(i + 1))]
    )[F.col("symbol")]
    return spark.table(name).select(
        sid.cast("int").alias("scenario_id"),
        "trade_id",
        "direction",
        "entry_ts",
        F.round("entry_price", 6).alias("entry_price"),
        "exit_ts",
        F.round("exit_price", 6).alias("exit_price"),
        F.round("gross_pnl", 6).alias("gross_pnl"),
        F.round("net_pnl", 6).alias("net_pnl"),
        F.round("mae_pnl", 6).alias("mae_pnl"),
        F.round("mfe_pnl", 6).alias("mfe_pnl"),
        F.round("mae_price", 6).alias("mae_price"),
        F.round("mfe_price", 6).alias("mfe_price"),
        "exit_reason",
    )


# --- live loop, FULL ORDER SURFACE (round 7): a resting LIMIT entry
#     registered by the latency queue, filled AT the limit on the price
#     trigger, then exited by broker-side SL/TP filled AT the level — all
#     inside the stateful streaming session. SQL-expressible because
#     buy_hold makes exactly one decision: trigger = decision-tick ask -
#     offset; fill at the first tick with ask <= trigger; exit at the first
#     tick from the fill on whose close-side move crosses the SL/TP
#     distance; excursions are running extrema of (bid - trigger) over
#     [fill, exit] with the entry anchored when a side never leaves zero.
#     The trade's exit_reason is SL or TP — NON-END, so a live session
#     (which never force-closes) emits the identical record. ---

_SLL_OFFSET = 0.01
_SLL_SL = 25.0
_SLL_TP = 40.0


def streaming_live_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live stateful session driving the R3 resting-order surface
    (streaming/live_replay.live_backtest with entry_type=limit +
    sl_dist/tp_dist): the limit entry RESTS in the pickled session's
    resting book across micro-batches, fills AT the limit when the ask touches it, and the
    position exits at the SL/TP LEVEL on the close-side mark — the same
    contract the batch replay_limit_oracle gate pins
    (trade_simulator.py:610-686 fill-at-limit;
    abstract_trade_executor._check_sl_tp_triggers:403-459 level fills).
    Hash-checked against an independent DuckDB reconstruction."""
    from ..streaming.bars_stream import run_to_memory
    from ..streaming.live_replay import live_backtest

    ticks = _live_gate_ticks(spark, sf_dir)
    params = {
        "strategy": "buy_hold",
        "bar_ms": str(_RSO_BAR_MS),
        "entry_type": "limit",
        "entry_offset": str(_SLL_OFFSET),
        "sl_dist": str(_SLL_SL),
        "tp_dist": str(_SLL_TP),
        "equity_sample_every": "0",
    }
    name = "gate_streaming_live_limit"
    run_to_memory(live_backtest(ticks, params), name)
    sid = F.create_map(
        *[x for i, s in enumerate(_RSO_SYMBOLS) for x in (F.lit(s), F.lit(i + 1))]
    )[F.col("symbol")]
    return spark.table(name).select(
        sid.cast("int").alias("scenario_id"),
        "direction",
        "entry_ts",
        F.round("entry_price", 6).alias("entry_price"),
        "exit_ts",
        F.round("exit_price", 6).alias("exit_price"),
        F.round("net_pnl", 6).alias("net_pnl"),
        F.round("mae_pnl", 6).alias("mae_pnl"),
        F.round("mfe_pnl", 6).alias("mfe_pnl"),
        "exit_reason",
    )


STREAMING_LIVE_LIMIT_SQL = f"""
WITH base AS (
  SELECT event_type AS symbol, ts, epoch_ms(ts) AS ms,
         value - 0.005 AS bid, value + 0.005 AS ask
  FROM events
),
ticks AS (
  SELECT symbol, ts, ms, bid, ask, ms // {_RSO_BAR_MS} AS bucket,
         row_number() OVER (PARTITION BY symbol ORDER BY ms, ts, bid, ask) AS rn
  FROM base
),
b0 AS (SELECT symbol, min(bucket) AS first_bucket FROM ticks GROUP BY 1),
entry AS (
  SELECT t.symbol, min(t.rn) AS decision_rn
  FROM ticks t JOIN b0 USING (symbol)
  WHERE t.bucket > b0.first_bucket
  GROUP BY 1
),
lim AS (
  SELECT e.symbol, e.decision_rn, t.ask - {_SLL_OFFSET} AS trig
  FROM entry e JOIN ticks t ON t.symbol = e.symbol AND t.rn = e.decision_rn
),
fill AS (
  SELECT l.symbol, l.trig, min(t.rn) AS fill_rn
  FROM lim l JOIN ticks t ON t.symbol = l.symbol AND t.rn >= l.decision_rn AND t.ask <= l.trig
  GROUP BY 1, 2
),
fts AS (
  SELECT f.symbol, f.trig, f.fill_rn, t.ms AS entry_ms
  FROM fill f JOIN ticks t ON t.symbol = f.symbol AND t.rn = f.fill_rn
),
-- excursion marks from the fill tick on: the SL/TP check runs AFTER the
-- excursion update each tick, so the exit tick's raw mark still lands in
-- MAE/MFE even when it gapped through the level
hit AS (
  SELECT f.symbol, min(t.rn) AS exit_rn
  FROM fts f JOIN ticks t ON t.symbol = f.symbol AND t.rn >= f.fill_rn
  WHERE t.bid - f.trig <= -{_SLL_SL} OR t.bid - f.trig >= {_SLL_TP}
  GROUP BY 1
),
xx AS (
  SELECT h.symbol, t.ms AS exit_ms,
         CASE WHEN t.bid - f.trig <= -{_SLL_SL} THEN 'SL' ELSE 'TP' END AS reason,
         CASE WHEN t.bid - f.trig <= -{_SLL_SL}
              THEN f.trig - {_SLL_SL} ELSE f.trig + {_SLL_TP} END AS exit_price
  FROM hit h
  JOIN fts f USING (symbol)
  JOIN ticks t ON t.symbol = h.symbol AND t.rn = h.exit_rn
),
ex AS (
  SELECT f.symbol, t.bid - f.trig AS move
  FROM fts f
  JOIN hit h USING (symbol)
  JOIN ticks t ON t.symbol = f.symbol AND t.rn BETWEEN f.fill_rn AND h.exit_rn
),
exagg AS (SELECT symbol, min(move) AS minm, max(move) AS maxm FROM ex GROUP BY 1),
sids AS (
  SELECT symbol, sid FROM (VALUES {", ".join(f"('{s}', {i + 1})" for i, s in enumerate(_RSO_SYMBOLS))}) AS v(symbol, sid)
)
SELECT s.sid AS scenario_id, 'LONG' AS direction,
       make_timestamp(f.entry_ms * 1000) AS entry_ts,
       round(f.trig, 6) AS entry_price,
       make_timestamp(x.exit_ms * 1000) AS exit_ts,
       round(x.exit_price, 6) AS exit_price,
       round(x.exit_price - f.trig, 6) AS net_pnl,
       round(least(0, e.minm), 6) AS mae_pnl,
       round(greatest(0, e.maxm), 6) AS mfe_pnl,
       x.reason AS exit_reason
FROM fts f
JOIN xx x USING (symbol)
JOIN exagg e USING (symbol)
JOIN sids s USING (symbol)
"""


# --- live SIGNAL path (W7, round 7): signal_follow decides from the as-of
#     signal with staleness gating. SQL-expressible without recursion: the
#     target at each decision is a PURE function of (decision tick, latest
#     signal at-or-before it) — stale/absent -> 0, else sign past the
#     threshold — so flips are a lag() comparison, entries are flips to
#     nonzero with a later flip (a live session never END-closes, so the
#     final open entry is deliberately absent from BOTH sides), and each
#     trade stamps the driving signal. ---

_SLS_THR = 5.0
_SLS_MAX_AGE_MS = 86_400_000  # 24h staleness bound over ~16h signal spacing


def streaming_live_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The W7 live signal path under the correctness gate: a signal stream
    (every 50th event, score = value - 50) unions into the per-symbol
    stateful session (signal-first at equal event time); signal_follow
    goes long/short/flat from the latest as-of signal with a 24h
    staleness bound, and every emitted trade carries the signal that
    drove its entry. Hash-checked against a DuckDB reconstruction of the
    decision series + as-of resolution + flip/trade enumeration — the
    reference's llm_sentiment worker runs inside the live loop the same
    way (core/llm_sentiment_worker.py:73-107)."""
    from ..streaming.bars_stream import read_tick_stream, run_to_memory
    from ..streaming.live_replay import live_backtest

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    set_nanos_as_long(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ticks = _live_gate_ticks(spark, sf_dir)
    signals = (
        normalize_ts(read_tick_stream(spark, f"{sf_dir}/events.parque*", raw_schema))
        .where(F.col("event_id") % 50 == 0)
        .select(
            F.col("event_type").alias("symbol"),
            F.col("ts").alias("sig_ts"),
            (F.col("value") - 50.0).alias("score"),
        )
    )
    params = {
        "strategy": "signal_follow",
        "bar_ms": str(_RSO_BAR_MS),
        "signal_threshold": str(_SLS_THR),
        "signal_max_age_ms": str(_SLS_MAX_AGE_MS),
        "equity_sample_every": "0",
    }
    name = "gate_streaming_live_signal"
    run_to_memory(live_backtest(ticks, params, signals=signals), name)
    sid = F.create_map(
        *[x for i, s in enumerate(_RSO_SYMBOLS) for x in (F.lit(s), F.lit(i + 1))]
    )[F.col("symbol")]
    return spark.table(name).select(
        sid.cast("int").alias("scenario_id"),
        "trade_id",
        "direction",
        "entry_ts",
        F.round("entry_price", 6).alias("entry_price"),
        "exit_ts",
        F.round("exit_price", 6).alias("exit_price"),
        F.col("entry_sig_ts").alias("sig_ts"),
        F.round("entry_sig_score", 6).alias("sig_score"),
    )


STREAMING_LIVE_SIGNAL_SQL = f"""
WITH base AS (
  SELECT event_type AS symbol, ts, epoch_ms(ts) AS ms, event_id,
         value - 0.005 AS bid, value + 0.005 AS ask
  FROM events
),
ticks AS (
  SELECT symbol, ts, ms, bid, ask, ms // {_RSO_BAR_MS} AS bucket,
         row_number() OVER (PARTITION BY symbol ORDER BY ms, ts, bid, ask) AS rn
  FROM base
),
sigs AS (
  SELECT event_type AS symbol, ts AS sig_ts, epoch_ms(ts) AS sig_ms,
         value - 50.0 AS score
  FROM events WHERE event_id % 50 = 0
),
-- a decision fires on the FIRST tick of every bucket except the stream's
-- first (the forming bar must have closed once)
b0 AS (SELECT symbol, min(bucket) AS first_bucket FROM ticks GROUP BY 1),
dec AS (
  SELECT t.symbol, t.bucket, min(t.rn) AS rn
  FROM ticks t JOIN b0 USING (symbol)
  WHERE t.bucket > b0.first_bucket
  GROUP BY 1, 2
),
dquote AS (
  SELECT d.symbol, d.rn, t.ms, t.bid, t.ask
  FROM dec d JOIN ticks t ON t.symbol = d.symbol AND t.rn = d.rn
),
-- as-of resolution: latest signal at-or-before the decision tick
-- (signal-first at equal event time in the live merge => <= here)
resolved AS (
  SELECT q.symbol, q.rn, q.ms, q.bid, q.ask, s.sig_ts, s.sig_ms, s.score
  FROM dquote q
  LEFT JOIN LATERAL (
    SELECT sig_ts, sig_ms, score FROM sigs s
    WHERE s.symbol = q.symbol AND s.sig_ms <= q.ms
    ORDER BY s.sig_ms DESC LIMIT 1
  ) s ON true
),
targets AS (
  SELECT *,
    CASE
      WHEN sig_ms IS NULL OR ms - sig_ms > {_SLS_MAX_AGE_MS} THEN 0
      WHEN score > {_SLS_THR} THEN 1
      WHEN score < -{_SLS_THR} THEN -1
      ELSE 0
    END AS target
  FROM resolved
),
flips AS (
  SELECT *,
         row_number() OVER (PARTITION BY symbol ORDER BY rn) AS flip_no
  FROM (
    SELECT *,
           coalesce(lag(target) OVER (PARTITION BY symbol ORDER BY rn), 0) AS prev_t
    FROM targets
  )
  WHERE target != prev_t
),
-- an entry is a flip to nonzero; it EMITS only if a later flip closes it
trades AS (
  SELECT f.symbol, f.target, f.ms AS entry_ms,
         CASE WHEN f.target > 0 THEN f.ask ELSE f.bid END AS entry_price,
         f.sig_ms, f.score,
         nx.ms AS exit_ms,
         CASE WHEN f.target > 0 THEN nx.bid ELSE nx.ask END AS exit_price,
         row_number() OVER (PARTITION BY f.symbol ORDER BY f.rn) - 1 AS trade_id
  FROM flips f
  JOIN LATERAL (
    SELECT ms, bid, ask FROM flips n
    WHERE n.symbol = f.symbol AND n.rn > f.rn
    ORDER BY n.rn LIMIT 1
  ) nx ON true
  WHERE f.target != 0
),
sids AS (
  SELECT symbol, sid FROM (VALUES {", ".join(f"('{s}', {i + 1})" for i, s in enumerate(_RSO_SYMBOLS))}) AS v(symbol, sid)
)
SELECT s.sid AS scenario_id,
       CAST(t.trade_id AS INT) AS trade_id,
       CASE WHEN t.target > 0 THEN 'LONG' ELSE 'SHORT' END AS direction,
       make_timestamp(t.entry_ms * 1000) AS entry_ts,
       round(t.entry_price, 6) AS entry_price,
       make_timestamp(t.exit_ms * 1000) AS exit_ts,
       round(t.exit_price, 6) AS exit_price,
       -- the live side stamps the signal at MS precision (the engine
       -- clock); truncate the raw event timestamp identically
       make_timestamp(t.sig_ms * 1000) AS sig_ts,
       round(t.score, 6) AS sig_score
FROM trades t JOIN sids s USING (symbol)
"""


def replay_sma_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.replay import run_backtest, trades_table

    ev = _events(spark, sf_dir)
    ticks = ev.select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("timestamp"),
        F.unix_millis("ts").alias("time_msc"),
        F.unix_millis("ts").alias("collected_msc"),
        (F.col("value") - 0.005).alias("bid"),
        (F.col("value") + 0.005).alias("ask"),
    )
    rows = []
    for ci, (fast, slow) in enumerate(_RSO_CONFIGS):
        for si, sym in enumerate(_RSO_SYMBOLS):
            sid = ci * len(_RSO_SYMBOLS) + si + 1
            params = {
                "strategy": "sma_cross",
                "fast": str(fast),
                "slow": str(slow),
                "bar_ms": str(_RSO_BAR_MS),
                "equity_sample_every": "0",
            }
            rows.append((sid, f"sma-{fast}-{slow}-{sym}", sym, None, None, sid, 0, 0, params))
    scenarios = spark.createDataFrame(
        rows,
        "scenario_id int, name string, symbol string, max_ticks int, "
        "tick_processing_budget_ms double, latency_seed int, latency_min_ms int, "
        "latency_max_ms int, parameters map<string,string>",
    )
    tr = trades_table(run_backtest(ticks, scenarios))
    return tr.select(
        "scenario_id",
        "trade_id",
        "direction",
        "entry_ts",
        F.round("entry_price", 6).alias("entry_price"),
        "exit_ts",
        F.round("exit_price", 6).alias("exit_price"),
        F.round("gross_pnl", 6).alias("gross_pnl"),
        F.round("net_pnl", 6).alias("net_pnl"),
        F.round("mae_pnl", 6).alias("mae_pnl"),
        F.round("mfe_pnl", 6).alias("mfe_pnl"),
        F.round("mae_price", 6).alias("mae_price"),
        F.round("mfe_price", 6).alias("mfe_price"),
        "exit_reason",
    )


def _rso_sid_case(cfg_base: int) -> str:
    whens = " ".join(
        f"WHEN '{s}' THEN {cfg_base + i + 1}" for i, s in enumerate(_RSO_SYMBOLS)
    )
    return f"CASE t.symbol {whens} END"


def _rso_cfg_block(ci: int, fast: int, slow: int) -> str:
    """Per-config CTE chain: decisions -> flips -> trades -> excursions.

    Mirrors _replay_core exactly for this restricted config: bar m's close is
    the mid of its last tick; the decision at closed-bar m is 0 before
    `slow` bars, else sign(SMA(fast) - SMA(slow)) with ties SHORT; a target
    change closes the old position and opens the new one on the decision
    tick (zero latency); MAE/MFE cover [entry tick, next flip tick) for
    SIGNAL exits and [entry tick, last tick] for the final END close, with
    price-at-extreme = mark at the FIRST tick achieving the extremum
    (strict-inequality running update)."""
    c = f"_c{ci}"
    return f"""
dec{c} AS (
  SELECT symbol, bar_idx, decision_rn,
         CASE WHEN bar_idx < {slow} THEN 0
              WHEN avg(close) OVER (PARTITION BY symbol ORDER BY bar_idx
                                    ROWS BETWEEN {fast - 1} PRECEDING AND CURRENT ROW)
                 > avg(close) OVER (PARTITION BY symbol ORDER BY bar_idx
                                    ROWS BETWEEN {slow - 1} PRECEDING AND CURRENT ROW)
              THEN 1 ELSE -1 END AS target
  FROM bars
),
flips{c} AS (
  SELECT symbol, entry_rn, dir,
         row_number() OVER (PARTITION BY symbol ORDER BY entry_rn) AS k
  FROM (
    SELECT symbol, decision_rn AS entry_rn, target AS dir,
           lag(target, 1, 0) OVER (PARTITION BY symbol ORDER BY bar_idx) AS prev
    FROM dec{c}
  )
  WHERE dir <> prev
),
trades{c} AS (
  SELECT f.symbol, f.k, f.dir, f.entry_rn,
         coalesce(nxt, n.n) AS exit_rn,
         coalesce(nxt - 1, n.n) AS ex_end,
         CASE WHEN nxt IS NULL THEN 'END' ELSE 'SIGNAL' END AS exit_reason
  FROM (
    SELECT *, lead(entry_rn) OVER (PARTITION BY symbol ORDER BY k) AS nxt
    FROM flips{c}
  ) f
  JOIN nmax n USING (symbol)
),
tr{c} AS (
  SELECT t.*,
         CASE WHEN t.dir = 1 THEN te.ask ELSE te.bid END AS entry_price,
         te.ms AS entry_ms,
         CASE WHEN t.dir = 1 THEN tx.bid ELSE tx.ask END AS exit_price,
         tx.ms AS exit_ms
  FROM trades{c} t
  JOIN ticks te ON te.symbol = t.symbol AND te.rn = t.entry_rn
  JOIN ticks tx ON tx.symbol = t.symbol AND tx.rn = t.exit_rn
),
ex{c} AS (
  SELECT tr.symbol, tr.k, tk.rn,
         CASE WHEN tr.dir = 1 THEN tk.bid ELSE tk.ask END AS mark,
         tr.dir * ((CASE WHEN tr.dir = 1 THEN tk.bid ELSE tk.ask END) - tr.entry_price) AS pnl
  FROM tr{c} tr
  JOIN ticks tk ON tk.symbol = tr.symbol AND tk.rn BETWEEN tr.entry_rn AND tr.ex_end
),
exagg{c} AS (
  SELECT symbol, k, min(pnl) AS minp, max(pnl) AS maxp,
         max(CASE WHEN rmin = 1 THEN mark END) AS min_mark,
         max(CASE WHEN rmax = 1 THEN mark END) AS max_mark
  FROM (
    SELECT *,
           row_number() OVER (PARTITION BY symbol, k ORDER BY pnl ASC, rn ASC) AS rmin,
           row_number() OVER (PARTITION BY symbol, k ORDER BY pnl DESC, rn ASC) AS rmax
    FROM ex{c}
  )
  GROUP BY 1, 2
),
out{c} AS (
  SELECT {_rso_sid_case(ci * len(_RSO_SYMBOLS))} AS scenario_id,
         CAST(t.k - 1 AS INTEGER) AS trade_id,
         CASE WHEN t.dir = 1 THEN 'LONG' ELSE 'SHORT' END AS direction,
         make_timestamp(t.entry_ms * 1000) AS entry_ts,
         round(t.entry_price, 6) AS entry_price,
         make_timestamp(t.exit_ms * 1000) AS exit_ts,
         round(t.exit_price, 6) AS exit_price,
         round(t.dir * (t.exit_price - t.entry_price), 6) AS gross_pnl,
         round(t.dir * (t.exit_price - t.entry_price), 6) AS net_pnl,
         round(least(0, e.minp), 6) AS mae_pnl,
         round(greatest(0, e.maxp), 6) AS mfe_pnl,
         round(CASE WHEN e.minp < 0 THEN e.min_mark ELSE t.entry_price END, 6) AS mae_price,
         round(CASE WHEN e.maxp > 0 THEN e.max_mark ELSE t.entry_price END, 6) AS mfe_price,
         t.exit_reason
  FROM tr{c} t
  JOIN exagg{c} e ON e.symbol = t.symbol AND e.k = t.k
)"""


def _rso_sql() -> str:
    blocks = ",\n".join(
        _rso_cfg_block(ci, fast, slow) for ci, (fast, slow) in enumerate(_RSO_CONFIGS)
    )
    union = "\nUNION ALL\n".join(f"SELECT * FROM out_c{ci}" for ci in range(len(_RSO_CONFIGS)))
    return f"""
WITH base AS (
  SELECT event_type AS symbol, ts, epoch_ms(ts) AS ms,
         value - 0.005 AS bid, value + 0.005 AS ask
  FROM events
),
ticks AS (
  SELECT symbol, ts, ms, bid, ask, (bid + ask) / 2 AS mid,
         ms // {_RSO_BAR_MS} AS bucket,
         row_number() OVER (PARTITION BY symbol ORDER BY ms, ts, bid, ask) AS rn
  FROM base
),
nmax AS (SELECT symbol, max(rn) AS n FROM ticks GROUP BY 1),
buckets AS (
  SELECT symbol, bucket, min(rn) AS first_rn, max(rn) AS last_rn,
         row_number() OVER (PARTITION BY symbol ORDER BY bucket) AS bidx
  FROM ticks
  GROUP BY symbol, bucket
),
bars AS (
  SELECT b.symbol, b.bidx AS bar_idx, t.mid AS close, nb.first_rn AS decision_rn
  FROM buckets b
  JOIN buckets nb ON nb.symbol = b.symbol AND nb.bidx = b.bidx + 1
  JOIN ticks t ON t.symbol = b.symbol AND t.rn = b.last_rn
),
{blocks}
{union}
"""


REPLAY_SMA_ORACLE_SQL = _rso_sql()

# live-loop twin: same reconstruction, first config only, no END closes
# (a live session's final position is still open when the feed pauses)
STREAMING_LIVE_REPLAY_SQL = f"""
SELECT * FROM ({REPLAY_SMA_ORACLE_SQL})
WHERE scenario_id <= {len(_RSO_SYMBOLS)} AND exit_reason <> 'END'
"""


# --- S5 ingest quality checks over events-as-ticks, oracle-checked:
#     invalid prices (value 0 exists in the data), extreme relative spreads,
#     and per-symbol price jumps (lag window, guarded division) ---

_QC_SPREAD_PCT = 0.05
_QC_JUMP_PCT = 50.0


def quality_check_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.mql5_json import quality_flags

    ev = _events(spark, sf_dir)
    mid = F.col("value")
    ticks = ev.select(
        F.lit("x").alias("broker_type"),
        F.col("event_type").alias("symbol"),
        F.col("event_id"),
        F.unix_millis("ts").alias("time_msc"),
        (F.col("value") - 0.005).alias("bid"),
        (F.col("value") + 0.005).alias("ask"),
        F.when(mid > 0, F.lit(0.01) / mid * 100).alias("spread_pct"),
    )
    out = quality_flags(ticks, max_spread_pct=_QC_SPREAD_PCT, max_jump_pct=_QC_JUMP_PCT)
    return out.select(
        "symbol",
        "event_id",
        F.round(F.coalesce("spread_pct", F.lit(-1.0)), 6).alias("spread_pct"),
        "flag_invalid_price",
        "flag_extreme_spread",
        "flag_price_jump",
    )


QUALITY_CHECK_TICKS_SQL = f"""
WITH ticks AS (
  SELECT event_type AS symbol, event_id, epoch_ms(ts) AS ms,
         value - 0.005 AS bid, value + 0.005 AS ask,
         CASE WHEN value > 0 THEN 0.01 / value * 100 END AS spread_pct
  FROM events
),
lagged AS (
  SELECT *,
         lag((bid + ask) / 2) OVER (PARTITION BY symbol ORDER BY ms) AS prev_mid,
         (bid + ask) / 2 AS mid
  FROM ticks
)
SELECT symbol, event_id,
       round(coalesce(spread_pct, -1.0), 6) AS spread_pct,
       bid <= 0 OR ask <= 0 AS flag_invalid_price,
       coalesce(spread_pct > {_QC_SPREAD_PCT}, FALSE) AS flag_extreme_spread,
       coalesce(CASE WHEN prev_mid > 0 THEN abs(mid - prev_mid) / prev_mid * 100 END
                > {_QC_JUMP_PCT}, FALSE) AS flag_price_jump
FROM lagged
"""


# --- skew-salted two-phase aggregation: result must equal the plain
#     GROUP BY (decimal sums keep the algebra exact), regardless of how the
#     salt fans hot keys out — the oracle is the UNSALTED query ---


def salted_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_agg

    ev = _events(spark, sf_dir).withColumn(
        "__v", F.col("value").cast("decimal(18,2)")
    )
    out = salted_agg(
        ev,
        "event_type",
        unique_col="event_id",
        n_salts=16,
        sums={"__v": "sum_value"},
    )
    return out.select(
        F.col("event_type").alias("symbol"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("sum_value").cast("double"), 6).alias("sum_value"),
    )


SALTED_EVENT_TOTALS_SQL = """
SELECT event_type AS symbol, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_value
FROM events
GROUP BY event_type
"""


# --- pivot surface (beyond the reference, from Catalyst): per-day counts
#     pivoted to one column per event type ---


def event_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    types = sorted(_RSO_SYMBOLS)
    out = (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "day",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types],
    )


EVENT_PIVOT_DAILY_SQL = f"""
SELECT date_trunc('day', ts) AS day,
{",".join(f"       CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}" for t in sorted(_RSO_SYMBOLS))}
FROM events
GROUP BY 1
"""


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows on the STREAMING path (F.session_window):
    per-key activity sessions that close after 10 minutes of silence.
    Window-merge semantics: an event extends the session iff it arrives
    STRICTLY before last+gap, so a delta of exactly the gap starts a new
    session (mirrored by `>=` in the oracle — the batch sessionize operator
    deliberately uses `>` per the lag-cumsum convention; both are gated)."""
    from ..streaming.bars_stream import read_tick_stream, run_to_memory

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    set_nanos_as_long(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ev = normalize_ts(
        read_tick_stream(spark, f"{sf_dir}/events.parque*", raw_schema)
    )
    agg = (
        ev.groupBy(
            F.session_window(F.col("ts"), "10 minutes").alias("__w"),
            F.col("event_type").alias("symbol"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("symbol", "session_start", "session_end", "n_events")
    )
    name = "gate_streaming_session_windows"
    run_to_memory(agg, name, output_mode="complete")
    return spark.table(name).select(
        "symbol", "session_start", "session_end", F.col("n_events").cast("long").alias("n_events")
    )


STREAMING_SESSION_WINDOWS_SQL = """
WITH marked AS (
  SELECT event_type AS symbol, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 600000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts)
),
sess AS (
  SELECT symbol, ts,
         sum(is_new) OVER (PARTITION BY symbol ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT symbol, min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess
GROUP BY symbol, sid
"""


# --- walk-forward IS/OOS lifecycle (§3.3 end-to-end): generator ->
#     role-tagged scenario windows -> one distributed replay -> WFE.
#     buy_hold + zero latency keeps every per-window KPI closed-form. ---

_WF_TRAIN_D = 10
_WF_TEST_D = 5


def walkforward_wfe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import timedelta

    from ..operators.replay import run_backtest
    from ..operators.reporting import walk_forward_efficiency
    from ..operators.scenario_gen import walk_forward_split

    ev = _events(spark, sf_dir)
    ticks = ev.select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("timestamp"),
        F.unix_millis("ts").alias("time_msc"),
        F.unix_millis("ts").alias("collected_msc"),
        (F.col("value") - 0.005).alias("bid"),
        (F.col("value") + 0.005).alias("ask"),
    )
    # planning-time bounds scan, exactly the reference's phase-1 index read
    b = (
        ev.where(F.col("event_type") == "click")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()[0]
    )
    scen = (
        walk_forward_split(
            spark,
            "click",
            b["lo"],
            b["hi"],
            train=timedelta(days=_WF_TRAIN_D),
            test=timedelta(days=_WF_TEST_D),
        )
        .withColumn("max_ticks", F.lit(None).cast("int"))
        .withColumn("tick_processing_budget_ms", F.lit(None).cast("double"))
        .withColumn("latency_seed", F.col("scenario_id") + 1)
        .withColumn("latency_min_ms", F.lit(0))
        .withColumn("latency_max_ms", F.lit(0))
        .withColumn(
            "parameters",
            F.expr(
                "map('strategy','buy_hold','bar_ms','3600000','equity_sample_every','0')"
            ),
        )
    )
    res = run_backtest(ticks, scen)
    roles = scen.select("scenario_id", "role")
    out = walk_forward_efficiency(res.join(F.broadcast(roles), "scenario_id"))
    return out.select(
        F.round("is_mean", 6).alias("is_mean"),
        F.round("oos_mean", 6).alias("oos_mean"),
        F.round("wfe", 6).alias("wfe"),
    )


WALKFORWARD_WFE_SQL = f"""
WITH base AS (
  SELECT ts, epoch_ms(ts) AS ms, value - 0.005 AS bid, value + 0.005 AS ask
  FROM events WHERE event_type = 'click'
),
bounds AS (SELECT min(ts) AS tmin, max(ts) AS tmax FROM base),
wins AS (
  SELECT i,
         tmin + i * INTERVAL {_WF_TEST_D} DAY AS is_start,
         tmin + i * INTERVAL {_WF_TEST_D} DAY + INTERVAL {_WF_TRAIN_D} DAY AS is_end,
         tmin + i * INTERVAL {_WF_TEST_D} DAY + INTERVAL {_WF_TRAIN_D + _WF_TEST_D} DAY AS oos_end
  FROM bounds, UNNEST(generate_series(0, 1000)) AS t(i)
  WHERE tmin + i * INTERVAL {_WF_TEST_D} DAY + INTERVAL {_WF_TRAIN_D + _WF_TEST_D} DAY <= tmax
),
scen AS (
  SELECT 2 * i AS sid, 'IS' AS role, is_start AS s, is_end AS e FROM wins
  UNION ALL
  SELECT 2 * i + 1 AS sid, 'OOS' AS role, is_end AS s, oos_end AS e FROM wins
),
sl AS (
  SELECT sc.sid, sc.role, b.ts, b.ms, b.bid, b.ask, b.ms // 3600000 AS bucket,
         row_number() OVER (PARTITION BY sc.sid ORDER BY b.ms, b.ts, b.bid, b.ask) AS rn
  FROM scen sc JOIN base b ON b.ts >= sc.s AND b.ts < sc.e
),
nmax AS (SELECT sid, role, max(rn) AS n FROM sl GROUP BY 1, 2),
b0 AS (SELECT sid, min(bucket) AS fb FROM sl GROUP BY 1),
entry AS (
  SELECT s.sid, min(s.rn) AS ern
  FROM sl s JOIN b0 ON b0.sid = s.sid
  WHERE s.bucket > b0.fb
  GROUP BY 1
),
ep AS (SELECT e.sid, t.ask AS entry_ask FROM entry e JOIN sl t ON t.sid = e.sid AND t.rn = e.ern),
xp AS (SELECT n.sid, n.role, t.bid AS exit_bid FROM nmax n JOIN sl t ON t.sid = n.sid AND t.rn = n.n),
nets AS (
  SELECT x.sid, x.role,
         CASE WHEN p.entry_ask IS NULL THEN 0.0 ELSE x.exit_bid - p.entry_ask END AS net
  FROM xp x LEFT JOIN ep p USING (sid)
),
means AS (SELECT role, avg(net) AS m FROM nets GROUP BY 1)
SELECT round(i.m, 6) AS is_mean, round(o.m, 6) AS oos_mean,
       CASE WHEN i.m <> 0 THEN round(o.m / i.m, 6) ELSE NULL END AS wfe
FROM (SELECT m FROM means WHERE role = 'IS') i,
     (SELECT m FROM means WHERE role = 'OOS') o
"""


# --- purged walk-forward: an EMBARGO gap between each IS end and its OOS
#     start keeps boundary-lookback leakage out of the OOS evaluation (the
#     financial-ML purged split; reference splits are contiguous, the
#     embargo is the scale-era guard on top) ---

_WF_EMBARGO_D = 2


def walkforward_embargo_wfe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import timedelta

    from ..operators.replay import run_backtest
    from ..operators.reporting import walk_forward_efficiency
    from ..operators.scenario_gen import walk_forward_split

    ev = _events(spark, sf_dir)
    ticks = ev.select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("timestamp"),
        F.unix_millis("ts").alias("time_msc"),
        F.unix_millis("ts").alias("collected_msc"),
        (F.col("value") - 0.005).alias("bid"),
        (F.col("value") + 0.005).alias("ask"),
    )
    b = (
        ev.where(F.col("event_type") == "click")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()[0]
    )
    scen = (
        walk_forward_split(
            spark,
            "click",
            b["lo"],
            b["hi"],
            train=timedelta(days=_WF_TRAIN_D),
            test=timedelta(days=_WF_TEST_D),
            embargo=timedelta(days=_WF_EMBARGO_D),
        )
        .withColumn("max_ticks", F.lit(None).cast("int"))
        .withColumn("tick_processing_budget_ms", F.lit(None).cast("double"))
        .withColumn("latency_seed", F.col("scenario_id") + 1)
        .withColumn("latency_min_ms", F.lit(0))
        .withColumn("latency_max_ms", F.lit(0))
        .withColumn(
            "parameters",
            F.expr(
                "map('strategy','buy_hold','bar_ms','3600000','equity_sample_every','0')"
            ),
        )
    )
    res = run_backtest(ticks, scen)
    roles = scen.select("scenario_id", "role")
    out = walk_forward_efficiency(res.join(F.broadcast(roles), "scenario_id"))
    return out.select(
        F.round("is_mean", 6).alias("is_mean"),
        F.round("oos_mean", 6).alias("oos_mean"),
        F.round("wfe", 6).alias("wfe"),
    )


WALKFORWARD_EMBARGO_WFE_SQL = f"""
WITH base AS (
  SELECT ts, epoch_ms(ts) AS ms, value - 0.005 AS bid, value + 0.005 AS ask
  FROM events WHERE event_type = 'click'
),
bounds AS (SELECT min(ts) AS tmin, max(ts) AS tmax FROM base),
wins AS (
  SELECT i,
         tmin + i * INTERVAL {_WF_TEST_D} DAY AS is_start,
         tmin + i * INTERVAL {_WF_TEST_D} DAY + INTERVAL {_WF_TRAIN_D} DAY AS is_end,
         tmin + i * INTERVAL {_WF_TEST_D} DAY + INTERVAL {_WF_TRAIN_D + _WF_EMBARGO_D} DAY AS oos_start,
         tmin + i * INTERVAL {_WF_TEST_D} DAY + INTERVAL {_WF_TRAIN_D + _WF_EMBARGO_D + _WF_TEST_D} DAY AS oos_end
  FROM bounds, UNNEST(generate_series(0, 1000)) AS t(i)
  WHERE tmin + i * INTERVAL {_WF_TEST_D} DAY
        + INTERVAL {_WF_TRAIN_D + _WF_EMBARGO_D + _WF_TEST_D} DAY <= tmax
),
scen AS (
  SELECT 2 * i AS sid, 'IS' AS role, is_start AS s, is_end AS e FROM wins
  UNION ALL
  SELECT 2 * i + 1 AS sid, 'OOS' AS role, oos_start AS s, oos_end AS e FROM wins
),
sl AS (
  SELECT sc.sid, sc.role, b.ts, b.ms, b.bid, b.ask, b.ms // 3600000 AS bucket,
         row_number() OVER (PARTITION BY sc.sid ORDER BY b.ms, b.ts, b.bid, b.ask) AS rn
  FROM scen sc JOIN base b ON b.ts >= sc.s AND b.ts < sc.e
),
nmax AS (SELECT sid, role, max(rn) AS n FROM sl GROUP BY 1, 2),
b0 AS (SELECT sid, min(bucket) AS fb FROM sl GROUP BY 1),
entry AS (
  SELECT s.sid, min(s.rn) AS ern
  FROM sl s JOIN b0 ON b0.sid = s.sid
  WHERE s.bucket > b0.fb
  GROUP BY 1
),
ep AS (SELECT e.sid, t.ask AS entry_ask FROM entry e JOIN sl t ON t.sid = e.sid AND t.rn = e.ern),
xp AS (SELECT n.sid, n.role, t.bid AS exit_bid FROM nmax n JOIN sl t ON t.sid = n.sid AND t.rn = n.n),
nets AS (
  SELECT x.sid, x.role,
         CASE WHEN p.entry_ask IS NULL THEN 0.0 ELSE x.exit_bid - p.entry_ask END AS net
  FROM xp x LEFT JOIN ep p USING (sid)
),
means AS (SELECT role, avg(net) AS m FROM nets GROUP BY 1)
SELECT round(i.m, 6) AS is_mean, round(o.m, 6) AS oos_mean,
       CASE WHEN i.m <> 0 THEN round(o.m / i.m, 6) ELSE NULL END AS wfe
FROM (SELECT m FROM means WHERE role = 'IS') i,
     (SELECT m FROM means WHERE role = 'OOS') o
"""


# --- M5 blocks generator + coverage counts: equal 5-day blocks over the
#     (fixed, evenly-divisible) January window; every 3rd block OOS ---


def blocks_split_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime

    from ..operators.scenario_gen import blocks_split

    scen = blocks_split(
        spark, "click", datetime(2024, 1, 1), datetime(2024, 1, 31), 6
    )
    ev = _events(spark, sf_dir).where(F.col("event_type") == "click")
    counts = (
        scen.alias("s")
        .join(
            ev.alias("e"),
            (F.col("e.ts") >= F.col("s.start_ts")) & (F.col("e.ts") < F.col("s.end_ts")),
            "left",
        )
        .groupBy("s.scenario_id", "s.name", "s.role", "s.start_ts", "s.end_ts")
        .agg(F.count(F.col("e.ts")).alias("n_events"))
    )
    return counts.select(
        F.col("scenario_id"),
        "name",
        "role",
        "start_ts",
        "end_ts",
        F.col("n_events").cast("long").alias("n_events"),
    )


BLOCKS_SPLIT_COVERAGE_SQL = """
WITH blocks AS (
  SELECT i AS scenario_id,
         'click_block' || i AS name,
         CASE WHEN (i + 1) % 3 = 0 THEN 'OOS' ELSE 'IS' END AS role,
         TIMESTAMP '2024-01-01' + i * INTERVAL 5 DAY AS start_ts,
         TIMESTAMP '2024-01-01' + (i + 1) * INTERVAL 5 DAY AS end_ts
  FROM UNNEST(generate_series(0, 5)) AS t(i)
)
SELECT b.scenario_id, b.name, b.role, b.start_ts, b.end_ts,
       CAST(count(e.ts) AS BIGINT) AS n_events
FROM blocks b
LEFT JOIN (SELECT ts FROM events WHERE event_type = 'click') e
  ON e.ts >= b.start_ts AND e.ts < b.end_ts
GROUP BY 1, 2, 3, 4, 5
"""


# --- gap-based sessionization (activity-defined sessions; batch analogue
#     of streaming session windows, generalizing the S4 fixed-hour labels) ---

_SESSION_GAP_MS = 10 * 60_000  # 10 minutes of silence ends a session


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.gaps import session_stats

    ev = _events(spark, sf_dir)
    out = session_stats(ev, _SESSION_GAP_MS, key="event_type", ts="ts")
    return out.select(
        F.col("event_type").alias("symbol"),
        F.col("session_id").cast("long").alias("session_id"),
        "session_start",
        "session_end",
        F.col("duration_ms").cast("long").alias("duration_ms"),
        F.col("n_events").cast("long").alias("n_events"),
    )


SESSION_WINDOWS_SQL = f"""
WITH marked AS (
  SELECT event_type AS symbol, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > {_SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts)
),
sess AS (
  SELECT symbol, ts,
         sum(is_new) OVER (PARTITION BY symbol ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT symbol, CAST(session_id AS BIGINT) AS session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(epoch_ms(max(ts)) - epoch_ms(min(ts)) AS BIGINT) AS duration_ms,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess
GROUP BY symbol, session_id
"""


# --- A5 per-group trade analytics over the oracle-checked replay trades:
#     aggregate the same rounded trade rows the replay_sma oracle emits, so
#     the oracle is simply the aggregation over that query's output ---


def trade_analytics_by_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.reporting import per_group_trade_analytics
    from ..operators.replay import run_backtest, trades_table

    ev = _events(spark, sf_dir)
    ticks = ev.select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("timestamp"),
        F.unix_millis("ts").alias("time_msc"),
        F.unix_millis("ts").alias("collected_msc"),
        (F.col("value") - 0.005).alias("bid"),
        (F.col("value") + 0.005).alias("ask"),
    )
    rows = []
    for ci, (fast, slow) in enumerate(_RSO_CONFIGS):
        for si, sym in enumerate(_RSO_SYMBOLS):
            sid = ci * len(_RSO_SYMBOLS) + si + 1
            params = {
                "strategy": "sma_cross",
                "fast": str(fast),
                "slow": str(slow),
                "bar_ms": str(_RSO_BAR_MS),
                "equity_sample_every": "0",
            }
            rows.append((sid, f"ta-{sid}", sym, None, None, sid, 0, 0, params))
    scenarios = spark.createDataFrame(
        rows,
        "scenario_id int, name string, symbol string, max_ticks int, "
        "tick_processing_budget_ms double, latency_seed int, latency_min_ms int, "
        "latency_max_ms int, parameters map<string,string>",
    )
    tr = trades_table(run_backtest(ticks, scenarios)).select(
        "scenario_id",
        F.round("gross_pnl", 6).alias("gross_pnl"),
        F.round("fees", 6).alias("fees"),
        F.round("net_pnl", 6).alias("net_pnl"),
        F.round("mae_pnl", 6).alias("mae_pnl"),
        F.round("mfe_pnl", 6).alias("mfe_pnl"),
    )
    out = per_group_trade_analytics(tr, group="scenario_id")
    return out.select(
        "scenario_id",
        F.col("trades").cast("long").alias("trades"),
        F.col("wins").cast("long").alias("wins"),
        F.col("losses").cast("long").alias("losses"),
        F.round("expectancy", 6).alias("expectancy"),
        F.round("avg_win", 6).alias("avg_win"),
        F.round("avg_loss", 6).alias("avg_loss"),
        F.round("winner_avg_mae", 6).alias("winner_avg_mae"),
        F.round("loser_avg_mfe", 6).alias("loser_avg_mfe"),
        F.round("net_pnl", 6).alias("net_pnl"),
    )


def _trade_analytics_sql() -> str:
    return f"""
WITH t AS (
{REPLAY_SMA_ORACLE_SQL}
)
SELECT scenario_id,
       CAST(count(*) AS BIGINT) AS trades,
       CAST(sum(CASE WHEN net_pnl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS wins,
       CAST(sum(CASE WHEN net_pnl < 0 THEN 1 ELSE 0 END) AS BIGINT) AS losses,
       round(avg(net_pnl), 6) AS expectancy,
       round(avg(CASE WHEN net_pnl > 0 THEN net_pnl END), 6) AS avg_win,
       round(avg(CASE WHEN net_pnl < 0 THEN net_pnl END), 6) AS avg_loss,
       round(avg(CASE WHEN net_pnl > 0 THEN mae_pnl END), 6) AS winner_avg_mae,
       round(avg(CASE WHEN net_pnl < 0 THEN mfe_pnl END), 6) AS loser_avg_mfe,
       round(sum(net_pnl), 6) AS net_pnl
FROM t
GROUP BY scenario_id
"""


TRADE_ANALYTICS_BY_SCENARIO_SQL = _trade_analytics_sql()


# --- sweep path, oracle-checked end-to-end: grid expansion -> one
#     distributed replay pass -> ledger -> deterministic ranking (O2) and
#     OFAT sensitivity (A11). With buy_hold + zero latency + no stops the
#     per-run KPIs are closed-form: one trade from the first closed bar's
#     decision tick (entry at ask) to the last tick (exit at bid), fees
#     2 x fee x lots, drawdown from the running equity peak. ---

_SW_SYMBOLS = _RSO_SYMBOLS
_SW_LOTS = ["1", "2", "4"]
_SW_FEES = ["0.0", "0.5"]
_SW_GRID = {"lots": _SW_LOTS, "fee_per_side": _SW_FEES}
_SW_BAR_MS = 3_600_000


def _sweep_ledger(spark: SparkSession, sf_dir: str):
    from ..operators.sweep import ledger_rows, run_sweep

    ev = _events(spark, sf_dir)
    ticks = ev.select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("timestamp"),
        F.unix_millis("ts").alias("time_msc"),
        F.unix_millis("ts").alias("collected_msc"),
        (F.col("value") - 0.005).alias("bid"),
        (F.col("value") + 0.005).alias("ask"),
    )
    rows = [
        (i + 1, f"bh-{sym}", sym, None, None, i + 1, 0, 0,
         {"strategy": "buy_hold", "bar_ms": str(_SW_BAR_MS), "equity_sample_every": "0"})
        for i, sym in enumerate(_SW_SYMBOLS)
    ]
    scenarios = spark.createDataFrame(
        rows,
        "scenario_id int, name string, symbol string, max_ticks int, "
        "tick_processing_budget_ms double, latency_seed int, latency_min_ms int, "
        "latency_max_ms int, parameters map<string,string>",
    )
    return ledger_rows(run_sweep(spark, ticks, scenarios, _SW_GRID, sweep_id="bh"))


def sweep_buyhold_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    led = _sweep_ledger(spark, sf_dir)
    w = Window.orderBy(F.desc("objective"), F.asc("run_id"))
    return (
        led.withColumn("rank", F.row_number().over(w))
        .select(
            "run_id",
            F.col("parameters")["lots"].alias("lots"),
            F.col("parameters")["fee_per_side"].alias("fee_per_side"),
            F.col("ticks_processed"),
            F.col("trades").cast("int").alias("trades"),
            "wins",
            "losses",
            F.round("net_pnl", 6).alias("net_pnl"),
            F.round("final_equity", 6).alias("final_equity"),
            F.round("max_drawdown", 6).alias("max_drawdown"),
            "rank",
        )
    )


def sweep_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sweep import parameter_sensitivity

    led = _sweep_ledger(spark, sf_dir)
    out = parameter_sensitivity(led, ["lots", "fee_per_side"])
    return out.select(
        "param",
        "level",
        F.round("mean_objective", 6).alias("mean_objective"),
        F.col("runs").cast("long").alias("runs"),
        F.round("influence", 6).alias("influence"),
    )


def _sw_combos_values() -> str:
    """VALUES rows mirroring expand_grid: sorted param names
    (fee_per_side, lots), value order preserved, combo_id enumerated."""
    import itertools

    rows = []
    for cid, (fee, lots) in enumerate(itertools.product(_SW_FEES, _SW_LOTS)):
        rows.append(f"({cid}, '{lots}', CAST({lots} AS DOUBLE), '{fee}', CAST({fee} AS DOUBLE))")
    return ",\n  ".join(rows)


_SW_BASE_CTE = f"""
base AS (
  SELECT event_type AS symbol, ts, epoch_ms(ts) AS ms,
         value - 0.005 AS bid, value + 0.005 AS ask
  FROM events
),
ticks AS (
  SELECT symbol, ts, ms, bid, ask, ms // {_SW_BAR_MS} AS bucket,
         row_number() OVER (PARTITION BY symbol ORDER BY ms, ts, bid, ask) AS rn
  FROM base
),
nticks AS (SELECT symbol, count(*) AS n FROM ticks GROUP BY 1),
b0 AS (SELECT symbol, min(bucket) AS first_bucket FROM ticks GROUP BY 1),
entry AS (
  SELECT t.symbol, min(t.rn) AS entry_rn
  FROM ticks t JOIN b0 USING (symbol)
  WHERE t.bucket > b0.first_bucket
  GROUP BY 1
),
eprice AS (
  SELECT e.symbol, e.entry_rn, t.ask AS entry_ask
  FROM entry e JOIN ticks t ON t.symbol = e.symbol AND t.rn = e.entry_rn
),
xprice AS (
  SELECT n.symbol, t.bid AS exit_bid
  FROM nticks n JOIN ticks t ON t.symbol = n.symbol AND t.rn = n.n
),
combos(combo_id, lots_s, lots, fee_s, fee) AS (
  VALUES
  {_sw_combos_values()}
),
sids AS (
  SELECT symbol, sid FROM (VALUES {", ".join(f"('{s}', {i + 1})" for i, s in enumerate(_SW_SYMBOLS))}) AS v(symbol, sid)
),
eq AS (
  SELECT t.symbol, c.combo_id,
         10000 + (t.bid - p.entry_ask) * c.lots AS e,
         t.rn
  FROM ticks t
  JOIN eprice p USING (symbol)
  CROSS JOIN combos c
  WHERE t.rn >= p.entry_rn
),
peaks AS (
  SELECT symbol, combo_id,
         greatest(10000, max(e) OVER (PARTITION BY symbol, combo_id ORDER BY rn)) AS peak, e
  FROM eq
),
dd AS (
  SELECT symbol, combo_id, max(peak - e) AS max_dd FROM peaks GROUP BY 1, 2
),
runs AS (
  SELECT 'bh-' || s.sid || '-' || c.combo_id AS run_id,
         c.lots_s, c.fee_s, c.combo_id,
         n.n AS ticks_processed,
         (p.exit_bid - e.entry_ask) * c.lots AS gross,
         c.fee * c.lots + c.fee * c.lots AS fees,
         (p.exit_bid - e.entry_ask) * c.lots - (c.fee * c.lots + c.fee * c.lots) AS net,
         dd.max_dd
  FROM sids s
  JOIN eprice e USING (symbol)
  JOIN xprice p USING (symbol)
  JOIN nticks n USING (symbol)
  CROSS JOIN combos c
  JOIN dd ON dd.symbol = s.symbol AND dd.combo_id = c.combo_id
)"""

SWEEP_BUYHOLD_LEDGER_SQL = f"""
WITH {_SW_BASE_CTE}
SELECT run_id, lots_s AS lots, fee_s AS fee_per_side,
       CAST(ticks_processed AS BIGINT) AS ticks_processed,
       1 AS trades,
       CASE WHEN net > 0 THEN 1 ELSE 0 END AS wins,
       CASE WHEN net < 0 THEN 1 ELSE 0 END AS losses,
       round(net, 6) AS net_pnl,
       round(10000 + net, 6) AS final_equity,
       round(max_dd, 6) AS max_drawdown,
       row_number() OVER (ORDER BY net DESC, run_id ASC) AS rank
FROM runs
"""

SWEEP_SENSITIVITY_SQL = f"""
WITH {_SW_BASE_CTE},
exploded AS (
  SELECT run_id, net, 'lots' AS param, lots_s AS level FROM runs
  UNION ALL
  SELECT run_id, net, 'fee_per_side' AS param, fee_s AS level FROM runs
),
per_level AS (
  SELECT param, level, avg(net) AS mean_objective, count(*) AS runs
  FROM exploded GROUP BY 1, 2
),
influence AS (
  SELECT param, max(mean_objective) - min(mean_objective) AS influence
  FROM per_level GROUP BY 1
)
SELECT p.param, p.level, round(p.mean_objective, 6) AS mean_objective,
       CAST(p.runs AS BIGINT) AS runs, round(i.influence, 6) AS influence
FROM per_level p JOIN influence i USING (param)
"""


# --- R5 equity/drawdown sampled series, oracle-checked: with buy_hold +
#     zero latency the running equity is closed-form per tick (flat 10000
#     before the entry fill, 10000 + (bid - entry_ask) after; drawdown from
#     the running peak seeded at the start balance), so the sampled curve
#     the replay emits every k ticks is exactly SQL-expressible. ---

_REQ_SAMPLE_EVERY = 100


def replay_equity_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.replay import equity_table, run_backtest

    ev = _events(spark, sf_dir)
    ticks = ev.select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("timestamp"),
        F.unix_millis("ts").alias("time_msc"),
        F.unix_millis("ts").alias("collected_msc"),
        (F.col("value") - 0.005).alias("bid"),
        (F.col("value") + 0.005).alias("ask"),
    )
    rows = [
        (i + 1, f"eq-{sym}", sym, None, None, i + 1, 0, 0,
         {"strategy": "buy_hold", "bar_ms": str(_RSO_BAR_MS),
          "equity_sample_every": str(_REQ_SAMPLE_EVERY)})
        for i, sym in enumerate(_RSO_SYMBOLS)
    ]
    scenarios = spark.createDataFrame(
        rows,
        "scenario_id int, name string, symbol string, max_ticks int, "
        "tick_processing_budget_ms double, latency_seed int, latency_min_ms int, "
        "latency_max_ms int, parameters map<string,string>",
    )
    out = equity_table(run_backtest(ticks, scenarios))
    return out.select(
        "scenario_id",
        "ts",
        F.round("equity", 6).alias("equity"),
        F.round("drawdown", 6).alias("drawdown"),
    )


REPLAY_EQUITY_ORACLE_SQL = f"""
WITH base AS (
  SELECT event_type AS symbol, ts, epoch_ms(ts) AS ms,
         value - 0.005 AS bid, value + 0.005 AS ask
  FROM events
),
ticks AS (
  SELECT symbol, ts, ms, bid, ask, ms // {_RSO_BAR_MS} AS bucket,
         row_number() OVER (PARTITION BY symbol ORDER BY ms, ts, bid, ask) AS rn
  FROM base
),
b0 AS (SELECT symbol, min(bucket) AS first_bucket FROM ticks GROUP BY 1),
entry AS (
  SELECT t.symbol, min(t.rn) AS entry_rn
  FROM ticks t JOIN b0 USING (symbol)
  WHERE t.bucket > b0.first_bucket
  GROUP BY 1
),
eprice AS (
  SELECT e.symbol, e.entry_rn, t.ask AS entry_ask
  FROM entry e JOIN ticks t ON t.symbol = e.symbol AND t.rn = e.entry_rn
),
eq AS (
  SELECT t.symbol, t.rn, t.ms,
         CASE WHEN t.rn < p.entry_rn THEN CAST(10000 AS DOUBLE)
              ELSE 10000 + (t.bid - p.entry_ask) END AS e
  FROM ticks t JOIN eprice p USING (symbol)
),
peaks AS (
  SELECT symbol, rn, ms, e,
         greatest(10000, max(e) OVER (PARTITION BY symbol ORDER BY rn)) AS peak
  FROM eq
),
sids AS (
  SELECT symbol, sid FROM (VALUES {", ".join(f"('{s}', {i + 1})" for i, s in enumerate(_RSO_SYMBOLS))}) AS v(symbol, sid)
)
SELECT s.sid AS scenario_id, make_timestamp(p.ms * 1000) AS ts,
       round(p.e, 6) AS equity, round(p.peak - p.e, 6) AS drawdown
FROM peaks p JOIN sids s USING (symbol)
WHERE (p.rn - 1) % {_REQ_SAMPLE_EVERY} = 0
"""


# --- R3 limit-entry matching, oracle-checked: buy_hold + zero latency +
#     a limit entry is closed-form — the order rests from the decision tick
#     at (decision ask - offset) and fills AT the limit on the first tick
#     whose ask crosses it; MAE/MFE run from the fill tick to the end. ---

_RLO_OFFSET = 0.01


def replay_limit_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.replay import run_backtest, trades_table

    ev = _events(spark, sf_dir)
    ticks = ev.select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("timestamp"),
        F.unix_millis("ts").alias("time_msc"),
        F.unix_millis("ts").alias("collected_msc"),
        (F.col("value") - 0.005).alias("bid"),
        (F.col("value") + 0.005).alias("ask"),
    )
    rows = [
        (i + 1, f"lim-{sym}", sym, None, None, i + 1, 0, 0,
         {"strategy": "buy_hold", "bar_ms": str(_RSO_BAR_MS),
          "entry_type": "limit", "entry_offset": str(_RLO_OFFSET),
          "equity_sample_every": "0"})
        for i, sym in enumerate(_RSO_SYMBOLS)
    ]
    scenarios = spark.createDataFrame(
        rows,
        "scenario_id int, name string, symbol string, max_ticks int, "
        "tick_processing_budget_ms double, latency_seed int, latency_min_ms int, "
        "latency_max_ms int, parameters map<string,string>",
    )
    tr = trades_table(run_backtest(ticks, scenarios))
    return tr.select(
        "scenario_id",
        "direction",
        "entry_ts",
        F.round("entry_price", 6).alias("entry_price"),
        "exit_ts",
        F.round("exit_price", 6).alias("exit_price"),
        F.round("net_pnl", 6).alias("net_pnl"),
        F.round("mae_pnl", 6).alias("mae_pnl"),
        F.round("mfe_pnl", 6).alias("mfe_pnl"),
        "exit_reason",
    )


REPLAY_LIMIT_ORACLE_SQL = f"""
WITH base AS (
  SELECT event_type AS symbol, ts, epoch_ms(ts) AS ms,
         value - 0.005 AS bid, value + 0.005 AS ask
  FROM events
),
ticks AS (
  SELECT symbol, ts, ms, bid, ask, ms // {_RSO_BAR_MS} AS bucket,
         row_number() OVER (PARTITION BY symbol ORDER BY ms, ts, bid, ask) AS rn
  FROM base
),
nmax AS (SELECT symbol, max(rn) AS n FROM ticks GROUP BY 1),
b0 AS (SELECT symbol, min(bucket) AS first_bucket FROM ticks GROUP BY 1),
entry AS (
  SELECT t.symbol, min(t.rn) AS decision_rn
  FROM ticks t JOIN b0 USING (symbol)
  WHERE t.bucket > b0.first_bucket
  GROUP BY 1
),
lim AS (
  SELECT e.symbol, e.decision_rn, t.ask - {_RLO_OFFSET} AS trig
  FROM entry e JOIN ticks t ON t.symbol = e.symbol AND t.rn = e.decision_rn
),
fill AS (
  SELECT l.symbol, l.trig, min(t.rn) AS fill_rn
  FROM lim l JOIN ticks t ON t.symbol = l.symbol AND t.rn >= l.decision_rn AND t.ask <= l.trig
  GROUP BY 1, 2
),
fts AS (
  SELECT f.symbol, f.trig, f.fill_rn, t.ms AS entry_ms
  FROM fill f JOIN ticks t ON t.symbol = f.symbol AND t.rn = f.fill_rn
),
xprice AS (
  SELECT n.symbol, t.bid AS exit_bid, t.ms AS exit_ms
  FROM nmax n JOIN ticks t ON t.symbol = n.symbol AND t.rn = n.n
),
ex AS (
  SELECT f.symbol, t.bid - f.trig AS pnl
  FROM fts f JOIN ticks t ON t.symbol = f.symbol AND t.rn >= f.fill_rn
),
exagg AS (SELECT symbol, min(pnl) AS minp, max(pnl) AS maxp FROM ex GROUP BY 1),
sids AS (
  SELECT symbol, sid FROM (VALUES {", ".join(f"('{s}', {i + 1})" for i, s in enumerate(_RSO_SYMBOLS))}) AS v(symbol, sid)
)
SELECT s.sid AS scenario_id, 'LONG' AS direction,
       make_timestamp(f.entry_ms * 1000) AS entry_ts,
       round(f.trig, 6) AS entry_price,
       make_timestamp(x.exit_ms * 1000) AS exit_ts,
       round(x.exit_bid, 6) AS exit_price,
       round(x.exit_bid - f.trig, 6) AS net_pnl,
       round(least(0, e.minp), 6) AS mae_pnl,
       round(greatest(0, e.maxp), 6) AS mfe_pnl,
       'END' AS exit_reason
FROM fts f
JOIN xprice x USING (symbol)
JOIN exagg e USING (symbol)
JOIN sids s USING (symbol)
"""


# --- R6 in-replay overnight swap accrual, oracle-checked: buy_hold holds
#     one position from the first closed bar's decision tick to the end, so
#     the accrued swap is exactly rate x (UTC day of last tick - UTC day of
#     entry tick) and net/final-equity follow in closed form. ---

_RSW_RATE = 1.5


def replay_swap_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.replay import run_backtest

    ev = _events(spark, sf_dir)
    ticks = ev.select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("timestamp"),
        F.unix_millis("ts").alias("time_msc"),
        F.unix_millis("ts").alias("collected_msc"),
        (F.col("value") - 0.005).alias("bid"),
        (F.col("value") + 0.005).alias("ask"),
    )
    rows = [
        (i + 1, f"sw-{sym}", sym, None, None, i + 1, 0, 0,
         {"strategy": "buy_hold", "bar_ms": str(_RSO_BAR_MS),
          "swap_long_daily": str(_RSW_RATE), "equity_sample_every": "0"})
        for i, sym in enumerate(_RSO_SYMBOLS)
    ]
    scenarios = spark.createDataFrame(
        rows,
        "scenario_id int, name string, symbol string, max_ticks int, "
        "tick_processing_budget_ms double, latency_seed int, latency_min_ms int, "
        "latency_max_ms int, parameters map<string,string>",
    )
    res = run_backtest(ticks, scenarios)
    return res.select(
        "scenario_id",
        "ticks_processed",
        "trades_count",
        F.round("swap", 6).alias("swap"),
        F.round("net_pnl", 6).alias("net_pnl"),
        F.round("final_equity", 6).alias("final_equity"),
    )


REPLAY_SWAP_ORACLE_SQL = f"""
WITH base AS (
  SELECT event_type AS symbol, ts, epoch_ms(ts) AS ms,
         value - 0.005 AS bid, value + 0.005 AS ask
  FROM events
),
ticks AS (
  SELECT symbol, ts, ms, bid, ask, ms // {_RSO_BAR_MS} AS bucket,
         row_number() OVER (PARTITION BY symbol ORDER BY ms, ts, bid, ask) AS rn
  FROM base
),
nmax AS (SELECT symbol, max(rn) AS n FROM ticks GROUP BY 1),
b0 AS (SELECT symbol, min(bucket) AS first_bucket FROM ticks GROUP BY 1),
entry AS (
  SELECT t.symbol, min(t.rn) AS entry_rn
  FROM ticks t JOIN b0 USING (symbol)
  WHERE t.bucket > b0.first_bucket
  GROUP BY 1
),
eprice AS (
  SELECT e.symbol, t.ask AS entry_ask, t.ms AS entry_ms
  FROM entry e JOIN ticks t ON t.symbol = e.symbol AND t.rn = e.entry_rn
),
xprice AS (
  SELECT n.symbol, n.n, t.bid AS exit_bid, t.ms AS exit_ms
  FROM nmax n JOIN ticks t ON t.symbol = n.symbol AND t.rn = n.n
),
sids AS (
  SELECT symbol, sid FROM (VALUES {", ".join(f"('{s}', {i + 1})" for i, s in enumerate(_RSO_SYMBOLS))}) AS v(symbol, sid)
)
SELECT s.sid AS scenario_id,
       CAST(x.n AS BIGINT) AS ticks_processed,
       1 AS trades_count,
       round({_RSW_RATE} * (x.exit_ms // 86400000 - e.entry_ms // 86400000), 6) AS swap,
       round((x.exit_bid - e.entry_ask) - {_RSW_RATE} * (x.exit_ms // 86400000 - e.entry_ms // 86400000), 6) AS net_pnl,
       round(10000 + ((x.exit_bid - e.entry_ask) - {_RSW_RATE} * (x.exit_ms // 86400000 - e.entry_ms // 86400000)), 6) AS final_equity
FROM sids s
JOIN eprice e USING (symbol)
JOIN xprice x USING (symbol)
"""


def live_clipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#197 clipping telemetry, fleet roll-up form: deterministic synthetic
    per-tick processing times (((event_id %% 97) + 1) * 0.25 ms) against
    the real inter-arrival deltas of the events feed, classified with the
    reference's rule (clipped when processing > tick_delta > 0; staleness =
    overshoot; avg staleness over CLIPPED ticks only). Floor-form rounding
    on double outputs; the classification compares UNROUNDED values."""
    from ..operators.clipping import clipping_report

    def _r(col, n=6):
        return F.floor(col * F.lit(float(10**n)) + 0.5) / F.lit(float(10**n))

    telem = _events(spark, sf_dir).select(
        F.col("event_type").alias("symbol"),
        F.unix_micros("ts").alias("arrival_us"),
        (((F.col("event_id") % 97) + 1) * 0.25).alias("processing_ms"),
        "event_id",
    )
    out = clipping_report(telem, by=("symbol",), order_tiebreak="event_id")
    return out.select(
        "symbol",
        "total_ticks",
        "ticks_clipped",
        _r(F.col("clipping_ratio")).alias("clipping_ratio"),
        _r(F.col("max_stale_ms")).alias("max_stale_ms"),
        _r(F.col("avg_stale_ms")).alias("avg_stale_ms"),
        _r(F.col("max_processing_ms")).alias("max_processing_ms"),
        _r(F.col("avg_processing_ms")).alias("avg_processing_ms"),
    )


LIVE_CLIPPING_REPORT_SQL = """
WITH telem AS (
  SELECT event_type AS symbol, epoch_us(ts) AS arrival_us,
         ((event_id % 97) + 1) * 0.25 AS processing_ms, event_id
  FROM events
),
d AS (
  SELECT symbol, processing_ms,
         (arrival_us - lag(arrival_us) OVER (
            PARTITION BY symbol ORDER BY arrival_us, event_id)) / 1000.0
           AS delta_ms
  FROM telem
),
s AS (
  SELECT symbol, processing_ms,
         CASE WHEN delta_ms > 0 AND processing_ms > delta_ms
              THEN processing_ms - delta_ms END AS stale_ms
  FROM d
)
SELECT symbol,
       count(*) AS total_ticks,
       count(stale_ms) AS ticks_clipped,
       floor(CAST(count(stale_ms) AS DOUBLE) / count(*) * 1000000.0 + 0.5)
         / 1000000.0 AS clipping_ratio,
       floor(coalesce(max(stale_ms), 0.0) * 1000000.0 + 0.5) / 1000000.0
         AS max_stale_ms,
       floor(coalesce(avg(stale_ms), 0.0) * 1000000.0 + 0.5) / 1000000.0
         AS avg_stale_ms,
       floor(max(processing_ms) * 1000000.0 + 0.5) / 1000000.0
         AS max_processing_ms,
       floor(avg(processing_ms) * 1000000.0 + 0.5) / 1000000.0
         AS avg_processing_ms
FROM s
GROUP BY symbol
"""


def clipping_ledger_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#197 PERIODIC reports through the telemetry LEDGER, end to end
    (VERDICT r10 #4's "ideally a gate"): each symbol's ticks drive a real
    ``ClippingMonitor`` fold on a DETERMINISTIC clock (1 synthetic second
    per tick, report_interval 100 s -> one interval report per 100 ticks
    plus a tail flush), every report is appended to the ledger via
    ``write_report_row`` from the executors, and the gate output is
    ``read_clipping_telemetry`` over that ledger — so the driver hash
    covers the monitor's interval arithmetic AND the write/read plumbing.
    The oracle recomputes the interval chunking relationally (row_number
    // 100 per symbol in (arrival, event_id) order). Multiplicity
    matters: identical report rows from different intervals must both
    survive the round trip (the order-insensitive hash counts them)."""
    import tempfile

    def _r(col, n=6):
        return F.floor(col * F.lit(float(10**n)) + 0.5) / F.lit(float(10**n))

    telem = _events(spark, sf_dir).select(
        F.col("event_type").alias("symbol"),
        F.unix_micros("ts").alias("arrival_us"),
        (((F.col("event_id") % 97) + 1) * 0.25).alias("processing_ms"),
        "event_id",
    )
    tdir = tempfile.mkdtemp(prefix="clip_ledger_")

    def fold(pdf):
        import pandas as _pd

        from finiextestingide_spark.operators.clipping import (
            ClippingMonitor,
            write_report_row,
        )

        pdf = pdf.sort_values(["arrival_us", "event_id"], kind="mergesort")
        symbol = pdf["symbol"].iloc[0]
        m = ClippingMonitor(report_interval_s=100.0, start_s=0.0)
        prev = None
        k = 0
        for arr, proc in zip(pdf["arrival_us"], pdf["processing_ms"]):
            delta = 0.0 if prev is None else (arr - prev) / 1000.0
            prev = arr
            m.record_tick(int(proc * 1e6), delta)
            k += 1
            if k % 100 == 0:
                rep = m.get_periodic_report(float(k))
                if rep is not None:
                    write_report_row(tdir, symbol, rep)
        rep = m.get_periodic_report(float(k) + 100.0)  # tail flush
        if rep is not None:
            write_report_row(tdir, symbol, rep)
        return _pd.DataFrame({"symbol": [symbol]})

    # NOTE (ADVICE r11): executors write into a driver-side mkdtemp path —
    # valid only because this harness runs local-mode (one host, shared
    # filesystem); write_report_row's docstring states the shared-fs
    # requirement for real clusters.
    # force the distributed fold (one row per symbol) before reading the
    # ledger back — the round trip IS the thing under test
    telem.groupBy("symbol").applyInPandas(fold, "symbol string").count()

    from ..operators.clipping import read_clipping_telemetry

    # materialize the ledger rows on the driver so the temp dir can be
    # removed (one row per ~100 events — bounded), then hand back a local
    # DataFrame; leaving tdir behind leaked one dir of JSON per gate run
    raw = read_clipping_telemetry(spark, tdir)
    led = spark.createDataFrame(raw.collect(), raw.schema)
    import shutil

    shutil.rmtree(tdir, ignore_errors=True)
    return led.select(
        "key",
        F.col("interval_ticks").cast("long").alias("interval_ticks"),
        F.col("interval_clipped").cast("long").alias("interval_clipped"),
        _r(F.col("interval_max_stale_ms")).alias("interval_max_stale_ms"),
        _r(F.col("interval_avg_stale_ms")).alias("interval_avg_stale_ms"),
        _r(F.col("interval_max_processing_ms")).alias(
            "interval_max_processing_ms"
        ),
        _r(F.col("interval_avg_processing_ms")).alias(
            "interval_avg_processing_ms"
        ),
        F.col("interval_max_queue_depth").cast("long").alias(
            "interval_max_queue_depth"
        ),
    )


CLIPPING_LEDGER_ROUNDTRIP_SQL = """
WITH telem AS (
  SELECT event_type AS symbol, epoch_us(ts) AS arrival_us,
         ((event_id % 97) + 1) * 0.25 AS processing_ms, event_id
  FROM events
),
d AS (
  SELECT symbol, processing_ms,
         row_number() OVER (
            PARTITION BY symbol ORDER BY arrival_us, event_id) AS rn,
         (arrival_us - lag(arrival_us) OVER (
            PARTITION BY symbol ORDER BY arrival_us, event_id)) / 1000.0
           AS delta_ms
  FROM telem
),
s AS (
  SELECT symbol, processing_ms, (rn - 1) // 100 AS iv,
         CASE WHEN delta_ms > 0 AND processing_ms > delta_ms
              THEN processing_ms - delta_ms END AS stale_ms
  FROM d
)
SELECT symbol AS key,
       CAST(count(*) AS BIGINT) AS interval_ticks,
       CAST(count(stale_ms) AS BIGINT) AS interval_clipped,
       floor(coalesce(max(stale_ms), 0.0) * 1000000.0 + 0.5) / 1000000.0
         AS interval_max_stale_ms,
       floor(coalesce(avg(stale_ms), 0.0) * 1000000.0 + 0.5) / 1000000.0
         AS interval_avg_stale_ms,
       floor(max(processing_ms) * 1000000.0 + 0.5) / 1000000.0
         AS interval_max_processing_ms,
       floor(avg(processing_ms) * 1000000.0 + 0.5) / 1000000.0
         AS interval_avg_processing_ms,
       CAST(0 AS BIGINT) AS interval_max_queue_depth
FROM s
GROUP BY symbol, iv
"""


QUERIES: dict[str, Query] = {
    "bars_1h": Query(bars_1h, BARS_1H_SQL, "A1 tumbling OHLCV, H1"),
    "bars_1d": Query(bars_1d, BARS_1D_SQL, "A1 tumbling OHLCV, D1"),
    "bars_1h_cascade": Query(
        bars_1h_cascade, BARS_1H_CASCADE_SQL, "A2 cascade rollup vs direct-H1 oracle"
    ),
    "session_profile": Query(session_profile, SESSION_PROFILE_SQL, "S4 session labels + A3 summary"),
    "gap_scan": Query(gap_scan, GAP_SCAN_SQL, "W9 gap detection + classification"),
    "gap_scan_calendar": Query(
        gap_scan_calendar,
        GAP_SCAN_CALENDAR_SQL,
        "W9 holiday classification + multi-weekend gap splitting (fixture)",
    ),
    "rsi_14_daily": Query(rsi_14_daily, RSI_14_DAILY_SQL, "W1 RSI (SMA flavor)"),
    "bollinger_20_daily": Query(bollinger_20_daily, BOLLINGER_20_DAILY_SQL, "W2 Bollinger (pop std)"),
    "obv_daily": Query(obv_daily, OBV_DAILY_SQL, "W4 on-balance volume"),
    "atr_sma_daily": Query(atr_sma_daily, ATR_SMA_DAILY_SQL, "W6 ATR (SMA flavor)"),
    "asof_purchase_click": Query(asof_purchase_click, ASOF_PURCHASE_CLICK_SQL, "J1/J2 as-of join + staleness"),
    "extreme_moves_hourly": Query(extreme_moves_hourly, EXTREME_MOVES_HOURLY_SQL, "W10 extreme-move scan"),
    "volatility_regimes": Query(volatility_regimes, VOLATILITY_REGIMES_SQL, "A3 regime periods"),
    "robustness_daily": Query(robustness_daily, ROBUSTNESS_DAILY_SQL, "A9 robustness distribution"),
    "ma_trend_daily": Query(ma_trend_daily, MA_TREND_DAILY_SQL, "W5 MA-trend label"),
    "warmup_bars_10": Query(warmup_bars_10, WARMUP_BARS_10_SQL, "P4 warmup-bar selection"),
    "interval_coverage": Query(interval_coverage, INTERVAL_COVERAGE_SQL, "J4 interval-overlap join"),
    "macd_daily": Query(macd_daily, MACD_DAILY_SQL, "W3 MACD — recursive-CTE oracle"),
    "atr_ewm_daily": Query(atr_ewm_daily, ATR_EWM_DAILY_SQL, "W6 ATR ewm — recursive-CTE oracle"),
    "replay_backtest": Query(
        replay_backtest, None, "R1-R9 stateful replay — golden-tested, deterministic"
    ),
    "replay_loadtest_40": Query(
        replay_loadtest_40, None, "40-scenario replay loadtest (BASELINE.md shape)"
    ),
    "streaming_live_replay": Query(
        streaming_live_replay,
        STREAMING_LIVE_REPLAY_SQL,
        "LIVE autotrader loop (stateful stream) hash-checked vs the batch trade-sequence oracle",
    ),
    "streaming_live_limit": Query(
        streaming_live_limit,
        STREAMING_LIVE_LIMIT_SQL,
        "LIVE loop, full order surface: resting limit entry + SL/TP level fills, hash-checked",
    ),
    "streaming_live_signal": Query(
        streaming_live_signal,
        STREAMING_LIVE_SIGNAL_SQL,
        "W7 LIVE signal path: as-of signal_follow decisions + stamped driving signals, hash-checked",
    ),
    "replay_sma_oracle": Query(
        replay_sma_oracle,
        REPLAY_SMA_ORACLE_SQL,
        "R3/R4/R9 replay trades, hash-checked: zero-latency sma_cross is SQL-expressible",
    ),
    "streaming_bars_1h": Query(
        streaming_bars_1h,
        STREAMING_BARS_1H_SQL,
        "§2.9 Structured Streaming bars, hash-checked vs the batch SQL oracle",
    ),
    "streaming_incremental_bars_1h": Query(
        streaming_incremental_bars_1h,
        STREAMING_INCREMENTAL_BARS_1H_SQL,
        "R7 stateful close-on-next-bucket renderer, hash-checked (closed bars only)",
    ),
    "sweep_buyhold_ledger": Query(
        sweep_buyhold_ledger,
        SWEEP_BUYHOLD_LEDGER_SQL,
        "O6xR10xS13xO2 sweep: grid -> replay -> ledger -> ranking, hash-checked",
    ),
    "sweep_sensitivity": Query(
        sweep_sensitivity,
        SWEEP_SENSITIVITY_SQL,
        "A11 OFAT sensitivity over the sweep ledger, hash-checked",
    ),
    "replay_equity_oracle": Query(
        replay_equity_oracle,
        REPLAY_EQUITY_ORACLE_SQL,
        "R5 sampled equity/drawdown series from the replay, hash-checked",
    ),
    "replay_limit_oracle": Query(
        replay_limit_oracle,
        REPLAY_LIMIT_ORACLE_SQL,
        "R3 resting limit-entry matching (fill AT the limit), hash-checked",
    ),
    "replay_swap_oracle": Query(
        replay_swap_oracle,
        REPLAY_SWAP_ORACLE_SQL,
        "R6 in-replay overnight swap accrual, hash-checked",
    ),
    "streaming_asof_signal": Query(
        streaming_asof_signal,
        STREAMING_ASOF_SIGNAL_SQL,
        "J1/W7 live path: stateful streaming as-of join vs native ASOF oracle",
    ),
    "session_windows": Query(
        session_windows,
        SESSION_WINDOWS_SQL,
        "gap-based sessionization (lag + conditional cumsum), hash-checked",
    ),
    "walkforward_embargo_wfe": Query(
        walkforward_embargo_wfe,
        WALKFORWARD_EMBARGO_WFE_SQL,
        "purged walk-forward WFE (embargo gap between IS and OOS)",
    ),
    "walkforward_wfe": Query(
        walkforward_wfe,
        WALKFORWARD_WFE_SQL,
        "§3.3 lifecycle: walk-forward generator -> replay -> WFE, hash-checked",
    ),
    "event_pivot_daily": Query(
        event_pivot_daily, EVENT_PIVOT_DAILY_SQL, "pivot: per-day event-type count matrix"
    ),
    "quality_check_ticks": Query(
        quality_check_ticks,
        QUALITY_CHECK_TICKS_SQL,
        "S5 ingest quality flags (invalid/spread/jump), hash-checked",
    ),
    "salted_event_totals": Query(
        salted_event_totals,
        SALTED_EVENT_TOTALS_SQL,
        "skew-salted two-phase aggregate == plain GROUP BY (unsalted oracle)",
    ),
    "streaming_session_windows": Query(
        streaming_session_windows,
        STREAMING_SESSION_WINDOWS_SQL,
        "native streaming session windows (10-min gap), hash-checked",
    ),
    "blocks_split_coverage": Query(
        blocks_split_coverage,
        BLOCKS_SPLIT_COVERAGE_SQL,
        "M5 blocks generator + per-block coverage counts, hash-checked",
    ),
    "volatility_profile": Query(
        volatility_profile,
        VOLATILITY_PROFILE_SQL,
        "A4 per-symbol volatility profile summary, hash-checked",
    ),
    "trade_analytics_by_scenario": Query(
        trade_analytics_by_scenario,
        TRADE_ANALYTICS_BY_SCENARIO_SQL,
        "A5 expectancy/win-loss analytics over oracle-checked replay trades",
    ),
    "live_clipping_report": Query(
        live_clipping_report,
        LIVE_CLIPPING_REPORT_SQL,
        "#197 clipping telemetry roll-up: processing vs inter-arrival delta",
    ),
    "clipping_ledger_roundtrip": Query(
        clipping_ledger_roundtrip,
        CLIPPING_LEDGER_ROUNDTRIP_SQL,
        "#197 periodic reports through the telemetry ledger (write/read round trip)",
    ),
}
