"""Scenario-parallel stateful replay — the backtest core (SURVEY.md §2.8).

The reference forks one OS process per scenario and runs a per-tick Python
loop through bars -> workers -> decision -> trade simulator (reference:
python/framework/batch/batch_orchestrator.py:550-574,
python/framework/process/process_tick_loop.py:110+,
python/framework/trading_env/simulation/trade_simulator.py:146-236).

Spark-first shape: scenarios are rows; ticks are range-joined to scenarios
(one broadcast join = the reference's grouped scan-sharing,
shared_data_preparator.py:624-696), then ONE ``groupBy(scenario_id)
.applyInPandas(...)`` replaces the process pool. Each scenario's stream is
independent, so this partitions perfectly: on a 1000-executor cluster a
40-scenario batch is 40 tasks, a 100k-combination sweep is 100k tasks —
no shuffle after the one scenario-attach join, no driver-side loop.

Inside the group the semantics are deliberately sequential (that is the
operator's contract — order fills depend on prior fills):

- R1 tick-budget clipping: virtual clock over ``collected_msc``; a clipped
  tick is invisible to the strategy but the broker still matches orders on
  it (shared_data_preparator.py:462-536).
- R2 seeded latency queue: each order is delayed by
  ``random.Random(seed).randint(min_ms, max_ms)`` — the exact RNG sequence
  the reference uses (seeded_delay_generator.py:15-40), so same seed =>
  same fills, different seed => different fills.
- R3 order matching: market orders fill on the first tick at/after the
  latency deadline (BUY at ask, SELL at bid); SL/TP exits are broker-side
  and immediate (trade_simulator.py:610-686, close-side price selection:
  LONG exits at bid, SHORT at ask). Limit/stop ENTRY orders
  (params entry_type='limit'|'stop' with entry_offset) rest after their
  latency deadline and fill on the reference's trigger rules
  (trade_simulator.py:610-686): LONG limit fills at the limit price once
  ask <= limit, SHORT limit once bid >= limit; LONG stop fills at market
  once ask >= stop, SHORT stop once bid <= stop. A newer signal cancels the
  resting entry (the resolve-modify/cancel phase) before queueing its own
  orders; close orders are always market.
- R4 position P&L + MAE/MFE running extrema with price-at-extreme capture
  (portfolio_types.py:120-155).
- R5 equity / peak / drawdown account state (portfolio_manager.py:1080-1139).
- R7 incremental bar render: bucket floor per tick; a bar closes on the
  first tick of the next bucket; decisions fire on bar close
  (bar_renderer.py:123-214).
- R9 decision logic: pluggable strategies over the closed-bar close series
  (the reference's decision_logic/ plugins); each is O(1) per bar via
  incremental state.

Memory posture: one scenario's ticks must fit one task (the same bound the
reference has per process). Columns are projected to 5 primitive arrays
before the loop; 10M ticks/scenario ~= 400 MB — within executor budgets.
Equity output is sampled every ``equity_sample_every`` ticks so the result
row stays small.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .seeded import SeededProbabilityFilter

TRADE_FIELDS = StructType(
    [
        StructField("trade_id", IntegerType()),
        StructField("direction", StringType()),
        StructField("lots", DoubleType()),
        StructField("entry_ts", TimestampType()),
        StructField("entry_price", DoubleType()),
        StructField("exit_ts", TimestampType()),
        StructField("exit_price", DoubleType()),
        StructField("gross_pnl", DoubleType()),
        StructField("fees", DoubleType()),
        StructField("swap", DoubleType()),
        StructField("net_pnl", DoubleType()),
        StructField("mae_pnl", DoubleType()),
        StructField("mfe_pnl", DoubleType()),
        StructField("mae_price", DoubleType()),
        StructField("mfe_price", DoubleType()),
        StructField("exit_reason", StringType()),
        StructField("position_id", IntegerType()),
        StructField("close_type", StringType()),
    ]
)

EQUITY_SAMPLE_FIELDS = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("equity", DoubleType()),
        StructField("drawdown", DoubleType()),
    ]
)

REPLAY_RESULT_SCHEMA = StructType(
    [
        StructField("scenario_id", IntegerType()),
        StructField("ticks_processed", LongType()),
        StructField("ticks_clipped", LongType()),
        StructField("bars_closed", LongType()),
        StructField("trades_count", IntegerType()),
        StructField("orders_rejected", IntegerType()),
        StructField("orders_filled", IntegerType()),
        StructField("orders_cancelled", IntegerType()),
        StructField("sl_tp_exits", IntegerType()),
        # stale-data stress (#436): entries blocked inside a planned stale
        # window, and whether the window was entered at all
        StructField("stale_entries_rejected", IntegerType()),
        StructField("stale_windows_hit", IntegerType()),
        # event channel (reference backtesting_metadata.received_events):
        # engine status events + strategy emit() calls, order-preserving,
        # capped to bound driver memory
        StructField("events", ArrayType(StringType())),
        StructField("wins", IntegerType()),
        StructField("losses", IntegerType()),
        StructField("gross_profit", DoubleType()),
        StructField("gross_loss", DoubleType()),
        StructField("fees", DoubleType()),
        StructField("swap", DoubleType()),
        StructField("net_pnl", DoubleType()),
        StructField("final_equity", DoubleType()),
        StructField("max_drawdown", DoubleType()),
        StructField("trades", ArrayType(TRADE_FIELDS)),
        StructField("equity_samples", ArrayType(EQUITY_SAMPLE_FIELDS)),
    ]
)


# ---------------------------------------------------------------------------
# Strategies (R9) — incremental, O(1) per closed bar. The reference's
# decision-logic plugins (python/framework/decision_logic/core/) follow the
# same contract: warmup depth + a per-bar decision.
# ---------------------------------------------------------------------------


class SmaCross:
    """target +1 when SMA(fast) > SMA(slow), else -1."""

    def __init__(self, params: dict):
        self.fast = int(params.get("fast", 5))
        self.slow = int(params.get("slow", 20))
        self.warmup = self.slow
        self._closes: list[float] = []

    def on_bar(self, close: float) -> int:
        # SMAs are recomputed FRESH over the window each bar, never kept as
        # incremental rolling sums: add-newest/subtract-oldest drifts in the
        # last ulps over thousands of bars, and a near-tie crossover then
        # resolves differently from a fresh windowed avg — surfaced at the
        # 10x (sf1) scale check as two missed flips ~1,350 trades in, while
        # every smaller SF hash-matched. O(slow) per bar is noise; the exact
        # window is also what the DuckDB oracle computes.
        cs = self._closes
        cs.append(close)
        if len(cs) > self.slow:
            del cs[0]
        if len(cs) < self.warmup:
            return 0
        return 1 if sum(cs[-self.fast:]) / self.fast > sum(cs) / self.slow else -1


class RsiReversion:
    """SMA-flavor RSI (rsi_worker.py:96-139): long below `buy_below`, short
    above `sell_above`, otherwise hold the previous target."""

    def __init__(self, params: dict):
        self.period = int(params.get("period", 14))
        self.buy_below = float(params.get("buy_below", 30.0))
        self.sell_above = float(params.get("sell_above", 70.0))
        self.warmup = self.period + 1
        self._deltas: list[float] = []
        self._prev_close: float | None = None
        self._target = 0

    def on_bar(self, close: float) -> int:
        if self._prev_close is not None:
            self._deltas.append(close - self._prev_close)
        self._prev_close = close
        if len(self._deltas) < self.period:
            return self._target
        window = self._deltas[-self.period :]
        gain = sum(d for d in window if d > 0) / self.period
        loss = sum(-d for d in window if d < 0) / self.period
        rsi = 100.0 if loss == 0 else 100.0 - 100.0 / (1.0 + gain / loss)
        if rsi < self.buy_below:
            self._target = 1
        elif rsi > self.sell_above:
            self._target = -1
        return self._target


class BuyHold:
    def __init__(self, params: dict):
        self.warmup = 1

    def on_bar(self, close: float) -> int:
        return 1


class _Ema:
    """SMA-seeded recursive EMA (the reference's flavor, macd_worker.py:262-284):
    first `n` values average into the seed, then alpha = 2/(n+1)."""

    def __init__(self, n: int):
        self.n = n
        self.alpha = 2.0 / (n + 1.0)
        self._buf: list[float] = []
        self.val: float | None = None

    def update(self, x: float) -> float | None:
        if self.val is None:
            self._buf.append(x)
            if len(self._buf) == self.n:
                self.val = sum(self._buf) / self.n
            return self.val
        self.val = self.val + self.alpha * (x - self.val)
        return self.val


class MacdCross:
    """Long while MACD > signal line, short otherwise (the reference's
    cautious-MACD decision logic family, decision_logic/core/); EMAs and the
    signal line use the exact W3 formula flavor (SMA-seeded recursion)."""

    def __init__(self, params: dict):
        fast = int(params.get("fast", 12))
        slow = int(params.get("slow", 26))
        signal = int(params.get("signal", 9))
        self.warmup = slow + signal
        self._ef = _Ema(fast)
        self._es = _Ema(slow)
        self._esig = _Ema(signal)
        self._target = 0

    def on_bar(self, close: float) -> int:
        f = self._ef.update(close)
        s = self._es.update(close)
        if f is None or s is None:
            return self._target
        macd = f - s
        sig = self._esig.update(macd)
        if sig is None:
            return self._target
        self._target = 1 if macd > sig else -1
        return self._target


class Consensus:
    """Majority vote of sma_cross + rsi_reversion + macd_cross: flip only
    when at least `quorum` sub-signals agree on a direction, else hold (the
    reference's simple-consensus decision logic shape)."""

    def __init__(self, params: dict):
        self._subs = [SmaCross(params), RsiReversion(params), MacdCross(params)]
        self.warmup = max(s.warmup for s in self._subs)
        self.quorum = int(params.get("quorum", 2))
        self._target = 0

    def on_bar(self, close: float) -> int:
        votes = [s.on_bar(close) for s in self._subs]
        for side in (1, -1):
            if sum(1 for v in votes if v == side) >= self.quorum:
                self._target = side
        return self._target


class _SmaState:
    """Shared SMA(fast)/SMA(slow) condition used by the multi-position
    strategies (same fresh-window arithmetic as SmaCross — see the drift
    note there; rolling add/subtract sums diverge on long histories)."""

    def __init__(self, params: dict):
        self.fast = int(params.get("fast", 5))
        self.slow = int(params.get("slow", 20))
        self.warmup = self.slow
        self._closes: list[float] = []

    def update(self, close: float) -> bool | None:
        """None until warmup, else SMA(fast) > SMA(slow)."""
        cs = self._closes
        cs.append(close)
        if len(cs) > self.slow:
            del cs[0]
        if len(cs) < self.warmup:
            return None
        return sum(cs[-self.fast:]) / self.fast > sum(cs) / self.slow

    def drop_history(self) -> None:
        # the window is trimmed to `slow` closes on every update; nothing
        # further to drop (kept for caller compatibility)
        pass


class Pyramid:
    """Multi-position pyramiding (the reference's concurrent-position model,
    portfolio_manager.py open_positions dict + tests/simulation/
    multi_position/): while SMA(fast) > SMA(slow), ADD one position on every
    closed bar, up to ``max_positions``; on the flip to <=, close ALL open
    positions (oldest first). Emits explicit actions — requires the
    action-based replay core (positions list), not the net-target model."""

    def __init__(self, params: dict):
        self._sma = _SmaState(params)
        self.warmup = self._sma.warmup
        self.max_positions = int(params.get("max_positions", 3))
        self._open_count = 0

    def on_bar_actions(self, close: float) -> list[tuple]:
        cond = self._sma.update(close)
        self._sma.drop_history()
        if cond is None:
            return []
        if cond:
            if self._open_count < self.max_positions:
                self._open_count += 1
                return [("open", 1, 1.0)]
            return []
        if self._open_count:
            self._open_count = 0
            return [("close_all",)]
        return []

    def on_open_dropped(self) -> None:
        # engine feedback: an emitted open was capacity/margin-dropped and
        # never reached the book — reclaim the slot reserved for it so the
        # strategy can keep adding positions it actually has room for
        if self._open_count:
            self._open_count -= 1


class ScaleOut:
    """Partial-close ladder (reference partial_close_position,
    portfolio_manager.py:454-520 + tests/simulation/partial_close/):
    cross-up opens one LONG; after ``hold_bars`` further closed bars, close
    ``fraction`` of the position's current lots (PARTIAL trade record,
    remainder keeps running); cross-down or END closes the rest."""

    def __init__(self, params: dict):
        self._sma = _SmaState(params)
        self.warmup = self._sma.warmup
        self.fraction = float(params.get("fraction", 0.5))
        self.hold_bars = int(params.get("hold_bars", 5))
        self._in = False
        self._bars_held = 0
        self._partial_done = False

    def on_bar_actions(self, close: float) -> list[tuple]:
        cond = self._sma.update(close)
        self._sma.drop_history()
        if cond is None:
            return []
        if not self._in:
            if cond:
                self._in = True
                self._bars_held = 0
                self._partial_done = False
                return [("open", 1, 1.0)]
            return []
        if not cond:
            self._in = False
            return [("close_all",)]
        self._bars_held += 1
        if not self._partial_done and self._bars_held == self.hold_bars:
            self._partial_done = True
            return [("close_oldest", self.fraction)]
        return []


class TrendChannel:
    """Port of the reference's production decision logic
    (decision_logic/core/trend_channel_reference.py, 844 LoC; suite
    tests/simulation/trend_channel_reference/): an H1 ma_trend gate plus an
    M15 Bollinger channel driving the FULL order surface — resting
    LIMIT(pullback)/STOP(breakout) entries with order-attached SL/TP sized
    off the band half-width, an always-on ratcheting trailing stop with an
    epsilon anti-spam guard, a one-rung partial close at a configured
    R-multiple, cancel-on-gate-flip and re-price-on-band-drift for resting
    entries, and up to max_positions concurrent stacked positions.

    Management cadence: the reference's _execute_decision_impl runs EVERY
    tick (manage positions -> manage resting entries -> place entry); only
    its gate/band INPUTS move at bar closes. ``manage_per_tick`` (default
    on, the reference-parity mode) reproduces that exactly via the engine's
    per-tick hook: the trailing ratchet, R-rung partial close, gate-flip
    cancel, band-drift re-price, and armed-entry placement all re-evaluate
    at the current tick price against the latest bar-close band geometry.
    ``manage_per_tick=0`` keeps the bar-close-bounded mode (one management
    pass per closed bar) for cheaper sweeps.

    Other adaptation notes (engine model, not semantics changes): the H1
    gate is aggregated strategy-side from every ``gate_every_bars``-th
    base-bar close (the reference declares a second worker timeframe);
    trailing-stop modifies apply synchronously (the reference's
    capability-gated sync fallback path)."""

    def __init__(self, params: dict):
        self.mode = params.get("entry_mode", "limit_pullback")
        self.boll_n = int(params.get("boll_period", 20))
        self.boll_dev = float(params.get("boll_dev", 2.0))
        self.gate_every = int(params.get("gate_every_bars", 4))
        self.ma_n = int(params.get("gate_ma_period", 20))
        self.flat_threshold = float(params.get("gate_flat_threshold", 0.1))
        self.entry_band_pos = float(params.get("entry_band_pos", 0.25))
        self.sl_mult = float(params.get("sl_mult", 1.0))
        self.tp_mult = float(params.get("tp_mult", 2.0))
        self.breakout_offset_mult = float(params.get("breakout_offset_mult", 0.25))
        self.trail_mult = float(params.get("trail_mult", 1.0))
        self.partial_rr = float(params.get("partial_rr", 1.0))
        self.partial_fraction = float(params.get("partial_fraction", 0.5))
        # shared key with the core's position-book cap, so the algo-side
        # capacity check and the broker-side cap always agree
        self.max_positions = int(params.get("max_positions", 2))
        self.warmup = max(self.boll_n, (self.ma_n + 1) * self.gate_every)
        self._closes: list[float] = []
        self._h1: list[float] = []
        self._bar_no = 0
        self._gate = "FLAT"
        self._oid = 0
        self._resting: dict[str, dict] = {}
        self._initial_risk: dict[int, float] = {}
        self._partial_done: set[int] = set()
        self._known_pos: set[int] = set()
        # stashed band geometry (compute_tick's stash-for-execution-pass)
        self._upper: float | None = None
        self._lower: float | None = None
        self._bh: float | None = None
        self.manage_per_tick = params.get("manage_per_tick", "1") == "1"
        if self.manage_per_tick:
            # instance attribute, not a class method: the engine detects
            # per-tick strategies by hasattr and skips the per-tick ctx
            # build entirely for everything else
            self.on_tick = self._on_tick

    def _geometry(self, buy: bool, upper: float, lower: float, bh: float):
        """(entry, sl, tp) from the band edges (_entry_geometry)."""
        sl_d = self.sl_mult * bh
        tp_d = self.tp_mult * bh
        if self.mode == "limit_pullback":
            entry = lower if buy else upper
            return (
                (entry, entry - sl_d, entry + tp_d)
                if buy
                else (entry, entry + sl_d, entry - tp_d)
            )
        off = self.breakout_offset_mult * bh
        entry = (upper + off) if buy else (lower - off)
        return (
            (entry, entry - sl_d, entry + tp_d)
            if buy
            else (entry, entry + sl_d, entry - tp_d)
        )

    def on_bar_ctx(self, ctx: dict) -> list[tuple]:
        from statistics import fmean, pstdev

        close = ctx["close"]
        self._bar_no += 1
        cs = self._closes
        cs.append(close)
        if len(cs) > 4 * self.boll_n:
            del cs[: -2 * self.boll_n]
        # H1 gate: every gate_every-th base-bar close is an H1 close;
        # ma_trend = MA slope normalized by window volatility
        # (ma_trend_worker.py:145-205 flavor, matching operators.indicators)
        if self._bar_no % self.gate_every == 0:
            h1 = self._h1
            h1.append(close)
            if len(h1) > 4 * self.ma_n:
                del h1[: -2 * self.ma_n]
            if len(h1) >= self.ma_n + 1:
                ma = fmean(h1[-self.ma_n :])
                ma_prev = fmean(h1[-self.ma_n - 1 : -1])
                vol = pstdev(h1[-self.ma_n :])
                norm = (ma - ma_prev) / vol if vol != 0 else 0.0
                self._gate = (
                    "UP"
                    if norm > self.flat_threshold
                    else ("DOWN" if norm < -self.flat_threshold else "FLAT")
                )
        if len(cs) < self.boll_n:
            return []
        window = cs[-self.boll_n :]
        mid = fmean(window)
        std = pstdev(window)
        self._upper = mid + self.boll_dev * std
        self._lower = mid - self.boll_dev * std
        self._bh = (self._upper - self._lower) / 2.0
        if self.manage_per_tick:
            # reference cadence: the band/gate inputs just moved; the
            # management + entry pass runs on this (and every) tick via
            # the engine's on_tick hook
            return []
        return self._manage_and_enter((ctx["bid"] + ctx["ask"]) / 2.0, ctx)

    def _on_tick(self, ctx: dict) -> list[tuple]:
        if self._bh is None:
            return []  # band not warm yet
        return self._manage_and_enter((ctx["bid"] + ctx["ask"]) / 2.0, ctx)

    def _manage_and_enter(self, price: float, ctx: dict) -> list[tuple]:
        upper, lower, bh = self._upper, self._lower, self._bh

        acts: list[tuple] = []
        # 1. reconcile fills: a position first seen now seeds its initial
        # risk off its attached SL (entry-to-SL distance)
        for pid, d, plots, entry, slp, _tpp in ctx["positions"]:
            if pid not in self._known_pos:
                self._known_pos.add(pid)
                self._initial_risk[pid] = abs(entry - slp) if slp is not None else bh
        live_oids = {r[0] for r in ctx["resting"]}
        live_oids |= set(ctx.get("pending_oids", ()))  # latency in-flight
        for oid in list(self._resting):
            if oid not in live_oids:
                del self._resting[oid]  # filled or cancelled

        # 2. open positions: one-rung partial close at the R rung, then an
        # always-on trail that only ratchets in the profit direction
        for pid, d, plots, entry, slp, _tpp in ctx["positions"]:
            risk = self._initial_risk.get(pid) or bh
            if risk <= 0.0:
                continue
            move = (price - entry) if d > 0 else (entry - price)
            if pid not in self._partial_done and move / risk >= self.partial_rr:
                self._partial_done.add(pid)
                acts.append(("close_pos", pid, self.partial_fraction))
            offset = self.trail_mult * risk
            if offset > 0.0:
                eps = risk * 0.1  # anti-spam epsilon (reference _maybe_trail)
                if d > 0:
                    new_sl = price - offset
                    if slp is None or new_sl > slp + eps:
                        acts.append(("set_sl", pid, new_sl))
                else:
                    new_sl = price + offset
                    if slp is None or new_sl < slp - eps:
                        acts.append(("set_sl", pid, new_sl))

        # 3. resting entries: cancel on gate flip; re-price on band drift
        if bh > 0.0:
            for oid, d, otype, trig, _lim in ctx["resting"]:
                info = self._resting.get(oid)
                if info is None:
                    continue
                if self._gate != ("UP" if d > 0 else "DOWN"):
                    acts.append(("cancel_order", oid))
                    del self._resting[oid]
                    continue
                buy = d > 0
                new_entry, new_sl, new_tp = self._geometry(buy, upper, lower, bh)
                if abs(new_entry - info["price"]) <= bh * 0.5:
                    continue
                # keep the re-priced order on the correct side of price
                if otype == "stop":
                    if (buy and new_entry <= price) or (not buy and new_entry >= price):
                        continue
                else:
                    if (buy and new_entry >= price) or (not buy and new_entry <= price):
                        continue
                acts.append(("modify_order", oid, new_entry, None, new_sl, new_tp))
                info.update(price=new_entry, sl=new_sl, tp=new_tp)

        # 4. new entry: one resting at a time, capacity-capped, armed by %B
        # (pullback) or trigger-beyond-price (breakout)
        if (
            bh > 0.0
            and self._gate in ("UP", "DOWN")
            and not self._resting
            and len(ctx["positions"]) < self.max_positions
        ):
            buy = self._gate == "UP"
            entry, slp2, tpp2 = self._geometry(buy, upper, lower, bh)
            pos_raw = (price - lower) / (upper - lower)
            if self.mode == "limit_pullback":
                armed = (
                    pos_raw <= self.entry_band_pos
                    if buy
                    else pos_raw >= 1.0 - self.entry_band_pos
                )
            else:
                armed = (price < entry) if buy else (price > entry)
            if armed:
                oid = f"tc{self._oid}"
                self._oid += 1
                otype = "stop" if self.mode == "stop_breakout" else "limit"
                acts.append(
                    ("open_order", 1 if buy else -1, 1.0, otype, entry, None, slp2, tpp2, oid)
                )
                self._resting[oid] = {"price": entry, "sl": slp2, "tp": tpp2}
        return acts


class SignalFollow:
    """W7 signal-driven decision logic (the reference's llm_sentiment
    worker feeding decisions — core/llm_sentiment_worker.py:73-107, run in
    BATCH backtests through the scenario's signal-data slice and LIVE
    through the same session): target = sign of the latest as-of signal
    past ``signal_threshold``, FLAT when the signal is absent or older
    than ``signal_max_age_ms`` at the decision tick (the stale-data guard
    posture — entries are blocked on stale signals). Exposes the
    ``on_bar_sig`` capability; the session feeds it the as-of signal state
    maintained by ``process_signal``. Identical arithmetic to the live
    explicit path's signal_follow branch (streaming/live_replay.py)."""

    def __init__(self, params: dict):
        self.thr = float(params.get("signal_threshold", 0.0))
        self.max_age = (
            int(params["signal_max_age_ms"]) if "signal_max_age_ms" in params else None
        )
        self.warmup = 0

    def on_bar_sig(self, close: float, sig_age_ms: int | None, sig_val: float) -> int:
        if sig_age_ms is None or (self.max_age is not None and sig_age_ms > self.max_age):
            return 0
        if sig_val > self.thr:
            return 1
        if sig_val < -self.thr:
            return -1
        return 0


STRATEGIES = {
    "sma_cross": SmaCross,
    "rsi_reversion": RsiReversion,
    "buy_hold": BuyHold,
    "macd_cross": MacdCross,
    "consensus": Consensus,
    "pyramid": Pyramid,
    "scale_out": ScaleOut,
    "trend_channel": TrendChannel,
    "signal_follow": SignalFollow,
}

_PLUGIN_GROUP = "finiextestingide_spark.strategies"
_plugins_loaded = False
_PLUGIN_NAMES: set[str] = set()  # names registered FROM plugins (reloadable)


def load_strategy_plugins(*, force: bool = False, hot_reload: bool = False) -> list[str]:
    """USER-namespace decision-logic discovery (reference Readme.md:79:
    decision logics are auto-discovered from an installed namespace, not
    registered by editing framework code). Any installed distribution may
    expose strategies via the ``finiextestingide_spark.strategies`` entry
    -point group; each entry point loads to a strategy class (the same
    duck-typed contract as the built-ins: __init__(params) plus
    decide/on_bar_actions/on_bar_ctx). Called lazily on the first unknown
    strategy name — which also makes it work inside Spark Python workers,
    where each worker re-imports this module and re-discovers the same
    installed plugins (sys.path is the contract, no driver-side state to
    ship). Built-in names cannot be shadowed by a plugin.

    ``hot_reload=True`` re-imports already-registered plugin modules and
    swaps the refreshed classes in (the reference's USER-namespace hot
    reload, Readme.md:79): an iterating strategy author re-runs without
    restarting the session. Each reloaded class passes the same wall-clock
    validation as a fresh load; built-ins are never reloadable. Scope:
    driver-side registry only — replays already IN FLIGHT in Spark workers
    keep the class they shipped with (cloudpickle closure), exactly the
    isolation a mid-sweep reload needs."""
    global _plugins_loaded
    if _plugins_loaded and not (force or hot_reload):
        return []
    from importlib.metadata import entry_points

    loaded = []
    for ep in entry_points(group=_PLUGIN_GROUP):
        if ep.name in STRATEGIES and ep.name not in _PLUGIN_NAMES:
            continue  # built-in shadow ban
        if ep.name in _PLUGIN_NAMES and not hot_reload:
            continue
        cls = ep.load()
        if hot_reload and ep.name in _PLUGIN_NAMES:
            import importlib
            import sys as _sys

            mod = _sys.modules.get(cls.__module__)
            if mod is not None:
                mod = importlib.reload(mod)
                obj = mod
                for part in ep.attr.split("."):
                    obj = getattr(obj, part)
                cls = obj
        # startup validator (#359 / §9): USER strategies must not read the
        # wall clock — same scan the CI lint runs on the shipped surface
        import inspect

        from .validation import validate_no_wall_clock

        src = inspect.getsourcefile(cls)
        if src is None:
            # compiled extension / zipimport / exec'd module: the ban is
            # unenforceable for exactly the plugins hardest to audit —
            # refuse instead of silently skipping the check
            raise ValueError(
                f"strategy plugin {ep.name!r} ({cls!r}) has no locatable "
                "Python source; the wall-clock ban cannot be verified, "
                "refusing to load (ship the plugin as plain .py source)"
            )
        # scoped to the class body: unrelated module-level timing code in
        # the plugin's file must not false-positive the ban
        validate_no_wall_clock([src], only_class=cls.__name__)
        STRATEGIES[ep.name] = cls
        _PLUGIN_NAMES.add(ep.name)
        loaded.append(ep.name)
    _plugins_loaded = True
    return loaded


@dataclass
class _Position:
    pos_id: int
    direction: int  # +1 long, -1 short
    lots: float
    entry_ms: int
    entry_price: float
    fees: float
    swap: float = 0.0
    mae_pnl: float = 0.0
    mfe_pnl: float = 0.0
    mae_price: float = 0.0
    mfe_price: float = 0.0
    # per-position broker-side levels (absolute prices; None = none) — the
    # reference Position carries stop_loss/take_profit, modifiable via
    # modify_position (trade_simulator.py:1054)
    sl_price: float | None = None
    tp_price: float | None = None
    # decision-time as-of signal for signal-driven strategies (None for the
    # rest) — rides to the trade record as entry_sig_ms/entry_sig_score so
    # the live TRADE_SCHEMA stamping works on the generic path too
    sig_ms: int | None = None
    sig_val: float | None = None


class AccountState:
    """Shared account-scope state for multi-symbol LIVE sessions: one
    balance and one open-lots total spanning every symbol sub-book, so the
    margin gate rejects an open on symbol B because symbol A's position
    consumed the margin — the reference's live portfolio_manager holds
    exactly this account-global view (portfolio_manager.py:1080-1139).
    Plain picklable data; sub-sessions share ONE instance (pickle's memo
    preserves the sharing inside a single state blob)."""

    __slots__ = ("balance", "open_lots")

    def __init__(self, balance: float):
        self.balance = balance
        self.open_lots = 0.0


class ReplaySession:
    """The per-tick trading state machine, shared by BATCH and LIVE.

    The reference runs the SAME pipeline core in its batch orchestrator and
    its live autotrader loop (tick_pipeline_core.py:1-16 — "one tick in,
    bars/decision/execution out"); this class is the engine's analogue.
    ``_replay_core`` drives it in a loop over a scenario's tick arrays; the
    live operator (streaming/live_replay._live_fold) pickles each key's
    book — one session per symbol, sharing one ``AccountState`` under an
    account key — into Structured Streaming state and feeds it each
    micro-batch, so every strategy and every feature of the
    batch surface (resting orders, modify/cancel, maker/taker + flat fees,
    spot dual-balance, margin gate, swap accrual, stress rejection, stale
    windows, budget clipping, heartbeats, partial closes, per-position
    SL/TP, per-tick management) runs live with parity BY CONSTRUCTION, not
    by reimplementation.

    Every attribute is picklable plain data — including ``random.Random``
    (its Mersenne state pickles O(1) in lifetime draws) and the strategy
    instance (plain attrs; bound-method ``on_tick`` hooks pickle by
    qualified name) — which is the live checkpoint contract.

    All per-tick semantics and their reference citations live in the
    method bodies below; the loop ordering (swap -> Phase 0 -> heartbeat ->
    budget -> stale hook -> bar close/decision -> Phase 1 -> Phases 2/3 ->
    excursions/SLTP -> per-tick hook -> account state) is _replay_core's
    historical contract, hash-pinned by the replay gate oracles.
    """

    def __init__(self, scen: dict, account: AccountState | None = None):
        self.sid = int(scen["scenario_id"])
        # account-scope coupling (LIVE multi-symbol sessions): when set,
        # balance reads/writes route to the shared AccountState and the
        # margin gate checks ACCOUNT-wide open lots; None (the batch path
        # and single-symbol live) keeps the historical per-scenario account
        self.account = account
        raw_params = scen.get("parameters")
        params: dict = dict(raw_params) if isinstance(raw_params, dict) else {}
        self.params = params

        strategy_name = params.get("strategy", "sma_cross")
        if strategy_name not in STRATEGIES:
            load_strategy_plugins()
        self.strategy = STRATEGIES[strategy_name](params)
        self.bar_ms = int(params.get("bar_ms", 60_000))
        self.lots = float(params.get("lots", 1.0))
        self.contract = float(params.get("contract_size", 1.0))
        self.fee_per_side = float(params.get("fee_per_side", 0.0))
        # Maker/taker value-based fees (reference trading_fee_factory.py:44-75,
        # abstract_trade_executor.py:630: LIMIT/STOP_LIMIT entries add
        # liquidity = maker rate; MARKET/STOP and synthetic closes = taker).
        # Rates are PERCENT of order value (lots x contract x price), the
        # Kraken convention (0.16/0.26). When configured they replace the flat
        # per-lot fee; unset keeps the historical flat model bit-identical.
        self.maker_fee_pct = (
            float(params["maker_fee_pct"]) if "maker_fee_pct" in params else None
        )
        self.taker_fee_pct = (
            float(params["taker_fee_pct"]) if "taker_fee_pct" in params else None
        )
        self.mt_fees = self.maker_fee_pct is not None or self.taker_fee_pct is not None
        if self.mt_fees and (self.maker_fee_pct is None or self.taker_fee_pct is None):
            # a one-sided config would silently make the other liquidity side
            # free (it does NOT fall back to fee_per_side) — fail loud instead
            raise ValueError(
                "maker_fee_pct and taker_fee_pct must be configured together"
            )
        self.sl_dist = float(params["sl_dist"]) if "sl_dist" in params else None
        self.tp_dist = float(params["tp_dist"]) if "tp_dist" in params else None
        self.start_balance = float(params.get("start_balance", 10_000.0))
        self.sample_every = int(params.get("equity_sample_every", 1000))
        # market | limit | stop | stop_limit (stop_limit: stop trigger converts
        # to a limit order at trigger -/+ limit_offset, trade_simulator.py:161-193)
        self.entry_type = params.get("entry_type", "market")
        self.entry_offset = float(params.get("entry_offset", 0.0))
        self.limit_offset = float(params.get("limit_offset", 0.0))
        # Multi-position cap (reference: unlimited concurrent positions in
        # open_positions; 1 reproduces the historical net-position model).
        self.max_positions = int(params.get("max_positions", 1))
        # Order-modify lifecycle (#318 async pattern, trade_simulator.py:724,919):
        # after `modify_after_bars` closed bars resting un-triggered, the entry's
        # trigger moves by dir*modify_delta (scheduled at the decision tick,
        # APPLIED at the first tick >= schedule + modify_cancel_delay_ms — the
        # reference's Phase 0 resolve); after `cancel_after_bars` it is cancelled.
        self.modify_after_bars = (
            int(params["modify_after_bars"]) if "modify_after_bars" in params else None
        )
        self.modify_delta = float(params.get("modify_delta", 0.0))
        self.cancel_after_bars = (
            int(params["cancel_after_bars"]) if "cancel_after_bars" in params else None
        )
        self.modify_cancel_delay_ms = int(params.get("modify_cancel_delay_ms", 1))
        # Spot dual-balance accounting (abstract_adapter spot semantics,
        # portfolio_manager.py:334-348,395-407,509-521): buys spend quote and
        # receive base, sells the reverse; equity = quote + base*mid; no margin,
        # no swap; insufficient funds rejects the order.
        self.spot_mode = params.get("spot_mode") == "1"
        if self.spot_mode and self.contract != 1.0:
            # Spot balances move lots*price cash with NO contract multiplier
            # (the balance walk below and _side_fee both assume it); the
            # reference's maker/taker fee notional however always includes
            # contract_size (create_maker_taker_fee: lots*contract*price), so a
            # non-unit contract in spot mode would diverge silently. Reject it
            # loudly instead of producing self-consistent-but-wrong numbers.
            raise ValueError(
                "spot_mode requires contract_size == 1 (spot cash accounting "
                f"carries no contract multiplier; got contract_size={self.contract})"
            )
        self.base_start = float(params.get("base_start", 0.0))
        # Order-price precision: limit/stop triggers and SL/TP levels are
        # snapped to the symbol's digits at SUBMISSION (the reference's
        # _round_price, abstract_trade_executor.py:570 + order_precision
        # suite); market fills use the raw quote. None = no snapping.
        self.price_digits = (
            int(params["price_digits"]) if "price_digits" in params else None
        )
        # R6 — overnight rollover fee per UTC day boundary crossed while a
        # position is open (portfolio_manager.py:860-917); multi-day gaps charge
        # once per crossed boundary.
        self.swap_long = float(params.get("swap_long_daily", 0.0))
        self.swap_short = float(params.get("swap_short_daily", 0.0))
        # Triple-swap weekday (ISO 1=Mon..7=Sun; brokers usually 3=Wednesday,
        # charging the weekend's rollovers mid-week — portfolio_manager.py
        # _accrue_swap's per-rollover multiplier / MarketCalendar
        # iter_swap_rollovers). Opt-in to keep the flat accrual the gate
        # oracles pin; operators/swap.py carries the same closed form batch-side.
        self.swap_triple_weekday = (
            int(params["swap_triple_weekday"]) if "swap_triple_weekday" in params else None
        )
        # R5 — margin gate (portfolio_manager margin checks / the reference's
        # margin_validation suite): an open is REJECTED when current equity
        # cannot cover the required margin. None = margin checks off.
        self.margin_per_lot = (
            float(params["margin_per_lot"]) if "margin_per_lot" in params else None
        )
        # R8 — simulated-time heartbeats (opt-in): resolve latency-queue fills
        # whose deadline falls inside an inter-tick gap at the last known quote,
        # at the deadline instant; suppressed across gaps larger than the
        # suppress threshold (reference: process_tick_loop.py:52-107 — ghost
        # passes every heartbeat interval, suppressed across large gaps).
        self.heartbeat_ms = int(params["heartbeat_ms"]) if "heartbeat_ms" in params else None
        self.suppress_gap_ms = int(
            params.get(
                "heartbeat_suppress_gap_ms",
                0 if self.heartbeat_ms is None else 100 * self.heartbeat_ms,
            )
        )
        # Stress-test order rejection (reference stress_test_rejection.py:22-83):
        # each order evaluated at fill time draws once from a seeded probability
        # filter; a trigger rejects the order (BROKER_ERROR in the reference).
        # Same (seed, order sequence) => identical rejections on any engine.
        reject_prob = float(params.get("reject_probability", 0.0))
        self.stress_reject = (
            SeededProbabilityFilter(int(params.get("reject_seed", 0)), reject_prob)
            if reject_prob > 0.0
            else None
        )
        # Stale-data stress (#436, tests/simulation/stale_stress): a PLANNED
        # window [from, to) of epoch-ms during which the scenario's market data
        # counts as stale — the guard blocks NEW entries deterministically
        # (counted separately from broker rejections), an optional
        # strategy.on_market_data_stale() hook fires once on window entry, and
        # exits/stops still process (an outage must never trap a position).
        self.stale_from = (
            int(params["stale_window_from_ms"])
            if "stale_window_from_ms" in params
            else None
        )
        self.stale_to = (
            int(params["stale_window_to_ms"])
            if "stale_window_to_ms" in params
            else (2**62 if self.stale_from is not None else None)
        )

        budget_ms = scen.get("tick_processing_budget_ms")
        self.budget_ms = (
            float(budget_ms)
            if budget_ms is not None and not pd.isna(budget_ms)
            else None
        )
        seed = scen.get("latency_seed")
        seed = int(seed) if seed is not None and not pd.isna(seed) else 42
        lat_min = scen.get("latency_min_ms")
        self.lat_min = int(lat_min) if lat_min is not None and not pd.isna(lat_min) else 0
        lat_max = scen.get("latency_max_ms")
        self.lat_max = int(lat_max) if lat_max is not None and not pd.isna(lat_max) else 0
        self.rng = random.Random(seed)

        # decision-surface dispatch (computed once; the reference's
        # capability detection): action model / ctx model / per-tick hook
        self.use_actions = hasattr(self.strategy, "on_bar_actions")
        self.use_ctx = hasattr(self.strategy, "on_bar_ctx")
        self.use_tick = hasattr(self.strategy, "on_tick")
        self.use_sig = hasattr(self.strategy, "on_bar_sig")

        # --- mutable account/session state ---
        self._balance = self.start_balance  # margin-mode account currency
        self.quote_bal = self.start_balance  # spot-mode quote balance
        self.base_bal = self.base_start  # spot-mode base-asset balance
        self.equity = self.start_balance
        self.peak = self.start_balance
        self.max_dd = 0.0
        self.clock = -(2**62)
        self.n_clipped = 0
        self.n_rejected = 0
        self.n_filled = 0
        self.n_cancelled = 0
        self.n_sltp = 0
        self.n_stale_rejected = 0
        self.stale_hook_fired = False
        self.bars_closed = 0
        self.cur_bucket = -(2**62)
        self.cur_close = 0.0
        self.have_bar = False
        self.target = 0
        # Concurrent open positions, oldest first (the reference's
        # open_positions dict; insertion order == open order).
        self.positions: list[_Position] = []
        self.next_pos_id = 0
        # latency queue, FIFO with head-blocking: (due_ms, action) where action is
        #   ("open", dir, lots, trigger|None, limit|None, order_type, sl, tp, oid)
        #   ("close_all",) | ("close_oldest", fraction) | ("close_newest", fraction)
        self.pending: list[tuple[int, tuple]] = []
        # limit/stop/stop_limit entries past their latency deadline, awaiting a
        # price trigger (_active_limit_orders/_active_stop_orders); each may carry
        # one scheduled in-flight op (#318): ("modify", apply_ms, ...) or
        # ("cancel", apply_ms).
        self.resting: list[dict] = []
        self.trades: list[dict] = []
        self.samples: list[dict] = []
        self.next_trade_id = 0
        # Event channel (reference event_channel / stale_stress suites read
        # decision_statistics.backtesting_metadata.received_events): the engine
        # records status-plane events; strategies append via the ctx "emit"
        # callable. Order-preserving, capped — overflow is summarized, never
        # silently dropped.
        self.events_buf: list[str] = []
        self.events_dropped = 0
        # W7 — latest as-of signal (None ms = none yet), fed by
        # process_signal and consumed by on_bar_sig strategies
        self.sig_ms: int | None = None
        self.sig_val = 0.0
        # previous tick (swap day-boundary math, heartbeat gap fills, END close)
        self.prev_t: int | None = None
        self.prev_b = 0.0
        self.prev_a = 0.0
        self.n_ticks = 0
        # live ghost clock (R8): advanced by heartbeat() between real ticks,
        # reset by the next real tick — see heartbeat() for the parity model
        self.ghost_t: int | None = None

    @property
    def balance(self) -> float:
        return self.account.balance if self.account is not None else self._balance

    @balance.setter
    def balance(self, v: float) -> None:
        if self.account is not None:
            self.account.balance = v
        else:
            self._balance = v

    _EVENTS_CAP = 1000

    def emit_event(self, name: str) -> None:
        if len(self.events_buf) < self._EVENTS_CAP:
            self.events_buf.append(name)
        else:
            self.events_dropped += 1

    def vectorizable(self) -> bool:
        """True when the scenario is the dominant sweep configuration the
        numpy fast path reproduces bit-identically (market orders, no
        stops/budget/heartbeat/margin/swap, no equity sampling)."""
        return (
            self.budget_ms is None
            and self.sl_dist is None
            and self.tp_dist is None
            and self.heartbeat_ms is None
            and self.margin_per_lot is None
            and self.swap_long == 0.0
            and self.swap_short == 0.0
            and self.entry_type == "market"
            and self.sample_every == 0
            and self.max_positions == 1
            and not self.spot_mode
            and self.stress_reject is None
            and self.stale_from is None
            and not self.mt_fees
            and not self.use_actions
            and not self.use_ctx
            and not self.use_tick
            and not self.use_sig
            and self.params.get("force_slow") != "1"
        )

    # --- order/account mechanics ------------------------------------------

    def _side_fee(self, olots: float, price: float, maker: bool) -> float:
        if self.mt_fees:
            rate = self.maker_fee_pct if maker else self.taker_fee_pct
            # spot balances move lots*price cash (no contract multiplier),
            # so the fee notional must match or affordability and the
            # balance walk disagree; margin-mode P&L scales with contract
            notional = olots * price * (1.0 if self.spot_mode else self.contract)
            return notional * rate / 100.0
        return self.fee_per_side * olots

    def _close_position(
        self,
        price: float,
        reason: str,
        p: _Position,
        exit_ms: int,
        fraction: float = 1.0,
    ) -> None:
        """Close `p` in full, or — fraction < 1 — partially
        (portfolio_manager.partial_close_position:454-520): the closed lots
        realize proportional P&L/fees/swap into a PARTIAL trade record; the
        position keeps the remainder with fees/swap scaled down. MAE/MFE in
        the partial record are the position's RUNNING extrema, unscaled —
        exactly what the reference copies into the partial TradeRecord."""
        close_lots = p.lots if fraction >= 1.0 else round(p.lots * fraction, 8)
        if self.account is not None and not self.spot_mode:
            self.account.open_lots -= close_lots
        ratio = close_lots / p.lots
        full = close_lots >= p.lots
        gross = p.direction * (price - p.entry_price) * self.contract * close_lots
        exit_fee = self._side_fee(close_lots, price, maker=False)  # closes are taker
        fees = p.fees * ratio + exit_fee
        swap_part = p.swap * ratio
        if self.spot_mode:
            # balance walk: entry-side fees were paid at open; only the exit
            # fee moves cash here (portfolio_manager.py:395-407,509-521)
            if p.direction > 0:  # close LONG = SELL base for quote
                self.base_bal -= close_lots
                self.quote_bal += close_lots * price - exit_fee
            else:  # close SHORT = BUY back base with quote
                self.quote_bal -= close_lots * price + exit_fee
                self.base_bal += close_lots
        else:
            # swap was already debited from balance at each day boundary; it
            # joins the trade record (and net) here, not the balance again
            self.balance += gross - fees
        self.trades.append(
            {
                "trade_id": self.next_trade_id,
                "direction": "LONG" if p.direction > 0 else "SHORT",
                "lots": close_lots,
                "entry_ts": pd.Timestamp(p.entry_ms, unit="ms"),
                "entry_price": p.entry_price,
                "exit_ts": pd.Timestamp(exit_ms, unit="ms"),
                "exit_price": price,
                "gross_pnl": gross,
                "fees": fees,
                "swap": swap_part,
                "net_pnl": gross - fees - swap_part,
                "mae_pnl": p.mae_pnl,
                "mfe_pnl": p.mfe_pnl,
                "mae_price": p.mae_price,
                "mfe_price": p.mfe_price,
                "exit_reason": reason,
                "position_id": p.pos_id,
                "close_type": "FULL" if full else "PARTIAL",
                "entry_sig_ms": p.sig_ms,
                "entry_sig_score": p.sig_val,
            }
        )
        self.next_trade_id += 1
        self.n_filled += 1  # every close is a broker fill (ExecutionStats parity)
        if reason in ("SL", "TP"):
            self.n_sltp += 1
        if full:
            self.positions.remove(p)
        else:
            p.lots = round(p.lots - close_lots, 8)
            p.fees *= 1.0 - ratio
            p.swap *= 1.0 - ratio

    def _can_open(self, d: int, olots: float, price: float, maker: bool = False) -> bool:
        """Fill-time gate. Margin mode: balance must cover the margin of ALL
        open lots plus the new order (reduces to the flat-account check when
        no position is open). Spot mode: the spending balance must cover the
        trade (INSUFFICIENT_FUNDS rejection, reference spot_trading suite)."""
        if self.spot_mode:
            fee = self._side_fee(olots, price, maker)
            ok = (
                (self.quote_bal >= olots * price + fee)
                if d > 0
                else (self.base_bal >= olots)
            )
            if not ok:
                self.n_rejected += 1
                return False
            return True
        if self.margin_per_lot is not None:
            if self.account is not None:
                # ACCOUNT scope: every symbol's open lots count against the
                # one shared balance (portfolio_manager.py:1080-1139 live)
                open_lots = self.account.open_lots
            else:
                open_lots = 0.0
                for p in self.positions:
                    open_lots += p.lots
            if self.balance < self.margin_per_lot * (open_lots + olots):
                self.n_rejected += 1
                return False
        return True

    def _dec_sig(self) -> tuple:
        """Decision-time as-of signal stamp, riding the open action to the
        position and its trade records (entry_sig_ms/entry_sig_score).
        Native-live parity: only signal-consuming strategies stamp."""
        if self.use_sig and self.sig_ms is not None:
            return (self.sig_ms, self.sig_val)
        return (None, None)

    def _open_position(
        self,
        entry_ms: int,
        d: int,
        olots: float,
        price: float,
        sl: float | None = None,
        tp: float | None = None,
        maker: bool = False,
        sig_ms: int | None = None,
        sig_val: float | None = None,
    ) -> None:
        self.n_filled += 1
        if self.account is not None and not self.spot_mode:
            self.account.open_lots += olots
        fee = self._side_fee(olots, price, maker)
        if self.spot_mode:  # asset transfer on open (portfolio_manager.py:334-348)
            if d > 0:  # BUY: spend quote, receive base
                self.quote_bal -= olots * price + fee
                self.base_bal += olots
            else:  # SELL: spend base, receive quote
                self.base_bal -= olots
                self.quote_bal += olots * price - fee
        self.positions.append(
            _Position(
                pos_id=self.next_pos_id,
                direction=d,
                lots=olots,
                entry_ms=entry_ms,
                entry_price=price,
                fees=fee,
                mae_price=price,
                mfe_price=price,
                sl_price=sl,
                tp_price=tp,
                sig_ms=sig_ms,
                sig_val=sig_val,
            )
        )
        self.next_pos_id += 1

    def _rp(self, x: float | None) -> float | None:
        """Snap an order price to the symbol's digits (no-op when unset)."""
        if x is None or self.price_digits is None:
            return x
        return round(x, self.price_digits)

    def _entry_trigger(self, d: int, b: float, a: float) -> tuple[float | None, float | None]:
        """Trigger/limit prices for a non-market entry queued at decision
        time, derived from the decision tick's quote."""
        if self.entry_type == "limit":
            return (
                self._rp((a - self.entry_offset) if d > 0 else (b + self.entry_offset)),
                None,
            )
        if self.entry_type == "stop":
            return (
                self._rp((a + self.entry_offset) if d > 0 else (b - self.entry_offset)),
                None,
            )
        if self.entry_type == "stop_limit":
            trig = (a + self.entry_offset) if d > 0 else (b - self.entry_offset)
            lim = (trig - self.limit_offset) if d > 0 else (trig + self.limit_offset)
            return self._rp(trig), self._rp(lim)
        return None, None

    def _handle_actions(self, acts: list[tuple], t: int, b: float, a: float) -> None:
        """Dispatch decision actions. Queueable order actions share ONE rng
        draw per decision (the reference's per-submission delay — close+open
        of a flip share the submission moment). Position-modify actions
        apply synchronously (the reference's capability-gated sync fallback,
        trade_simulator.modify_position:1054); resting-order cancel/modify
        go through the #318 scheduled-op machinery."""
        due = None
        for act in acts:
            kind = act[0]
            if kind in ("set_sl", "set_sltp"):
                for p in self.positions:
                    if p.pos_id == act[1]:
                        p.sl_price = self._rp(act[2])
                        if kind == "set_sltp":
                            p.tp_price = self._rp(act[3])
                        break
                continue
            if kind == "cancel_order":
                for r in self.resting:
                    if r.get("oid") == act[1] and r["op"] is None:
                        r["op"] = ("cancel", t + self.modify_cancel_delay_ms)
                        break
                continue
            if kind == "modify_order":
                _, oid, ntrig, nlim, nsl, ntp = act
                for r in self.resting:
                    if r.get("oid") == oid and r["op"] is None:
                        r["op"] = (
                            "modify",
                            t + self.modify_cancel_delay_ms,
                            self._rp(ntrig),
                            self._rp(nlim),
                            self._rp(nsl),
                            self._rp(ntp),
                        )
                        break
                continue
            # queueable order actions share one submission-delay draw
            if due is None:
                delay = (
                    self.rng.randint(self.lat_min, self.lat_max)
                    if self.lat_max > 0
                    else 0
                )
                due = t + delay
            if kind == "open":
                d = act[1]
                olots = self.lots * (act[2] if len(act) > 2 else 1.0)
                trig, lim = self._entry_trigger(d, b, a)
                self.pending.append(
                    (due, ("open", d, olots, trig, lim, self.entry_type,
                           None, None, None, *self._dec_sig()))
                )
            elif kind == "open_order":
                # absolute-price order: (dir, lots_mult, otype, trigger,
                # limit, sl, tp, oid)
                _, d, mult, otype, trig, lim, sl, tp, oid = act
                self.pending.append(
                    (
                        due,
                        (
                            "open",
                            d,
                            self.lots * mult,
                            self._rp(trig),
                            self._rp(lim),
                            otype,
                            self._rp(sl),
                            self._rp(tp),
                            oid,
                            *self._dec_sig(),
                        ),
                    )
                )
            else:
                self.pending.append((due, act))

    def _execute(self, act: tuple, t: int, b: float, a: float, due: int | None) -> None:
        """Phase-1 body for one latency-resolved action at quote (b, a).
        `due` non-None stamps heartbeat fills at their deadline instant."""
        kind = act[0]
        if kind == "close_all":
            for p in list(self.positions):  # oldest first
                self._close_position(
                    b if p.direction > 0 else a,
                    "SIGNAL",
                    p,
                    exit_ms=due if due is not None else t,
                )
        elif kind in ("close_oldest", "close_newest"):
            if self.positions:
                p = self.positions[0] if kind == "close_oldest" else self.positions[-1]
                self._close_position(
                    b if p.direction > 0 else a,
                    "SIGNAL",
                    p,
                    exit_ms=due if due is not None else t,
                    fraction=act[1],
                )
        elif kind == "close_pos":
            for p in self.positions:
                if p.pos_id == act[1]:
                    self._close_position(
                        b if p.direction > 0 else a,
                        "SIGNAL",
                        p,
                        exit_ms=due if due is not None else t,
                        fraction=act[2],
                    )
                    break
        else:  # open
            _, d, olots, trig, lim, otype, sl, tp, oid, *dsig = act
            dsig_ms, dsig_val = dsig if dsig else (None, None)
            if self.stale_from is not None and self.stale_from <= t < self.stale_to:
                # stale-window entry guard (#436): the order is consumed
                # and counted; the strategy reclaims its slot. Applies to
                # resting registration AND market opens — no NEW entry may
                # originate inside the outage window.
                self.n_stale_rejected += 1
                self.emit_event("stale_entry_rejected")
                notify = getattr(self.strategy, "on_open_dropped", None)
                if notify is not None:
                    notify()
            elif trig is not None:
                # limit/stop/stop_limit rest past their deadline; price
                # triggers are evaluated in Phases 2/3 (same tick included)
                self.resting.append(
                    {
                        "dir": d,
                        "otype": otype,
                        "trig": trig,
                        "limit": lim,
                        "lots": olots,
                        "sl": sl,
                        "tp": tp,
                        "oid": oid,
                        "bars_rested": 0,
                        "modified": False,
                        "op": None,
                        "sig_ms": dsig_ms,
                        "sig_val": dsig_val,
                    }
                )
            elif len(self.positions) >= self.max_positions:
                # capacity-dropped market open: counted as rejected (it was
                # neither filled nor left resting) and surfaced to the
                # strategy so self-tracked open counts don't drift — a
                # latency-delayed open can arrive after the book filled up
                self.n_rejected += 1
                notify = getattr(self.strategy, "on_open_dropped", None)
                if notify is not None:
                    notify()
            elif self.stress_reject is not None and self.stress_reject.should_trigger():
                # stress-test seeded rejection (BROKER_ERROR in the
                # reference): the order is consumed, counted rejected, and
                # the strategy's reserved slot reclaimed. Drawn AFTER the
                # capacity branch — only orders that would actually fill
                # consume a Bernoulli draw, matching the resting-trigger
                # path below so the shared seed sequence stays consistent
                # between market and resting fills (the reference evaluates
                # should_reject uniformly at pending-order fill time)
                self.n_rejected += 1
                notify = getattr(self.strategy, "on_open_dropped", None)
                if notify is not None:
                    notify()
            elif self._can_open(d, olots, a if d > 0 else b):
                self._open_position(
                    due if due is not None else t, d, olots, a if d > 0 else b, sl, tp,
                    sig_ms=dsig_ms, sig_val=dsig_val,
                )
            else:
                # margin/funds-rejected (_can_open already counted it)
                notify = getattr(self.strategy, "on_open_dropped", None)
                if notify is not None:
                    notify()

    def process_signal(self, t: int, score: float) -> None:
        """One signal event: advance the as-of signal state (W7). Signal
        rows carry no quote and never touch bar/order state — they only
        inform the next decision, exactly the reference's queue-fed signal
        worker. Feed in event-time order, signal-first at equal time (the
        as-of at-or-before contract)."""
        self.sig_ms = int(t)
        self.sig_val = float(score)

    # --- the per-tick body -------------------------------------------------

    def process_tick(self, t: int, c: int, b: float, a: float) -> None:
        """One tick through the full pipeline: `t` = event ms (the engine
        clock), `c` = collection stamp ms (budget clipping; pass `t` when
        the feed carries no collection stamps, e.g. live)."""
        positions = self.positions

        # R6 — overnight rollover: charge per UTC day boundary crossed
        # since the previous tick while holding (position state is from
        # before this tick's fills, so a position opened on this tick is
        # not charged for this boundary). Spot accounts carry no swap
        # (portfolio_manager.py:868).
        if (
            positions
            and self.prev_t is not None
            and not self.spot_mode
            and (self.swap_long != 0.0 or self.swap_short != 0.0)
        ):
            days = t // 86_400_000 - self.prev_t // 86_400_000
            if days > 0:
                units = days
                if self.swap_triple_weekday is not None:
                    # crossed midnights start days prev+1 .. prev+days; ISO
                    # dow of epoch-day d is ((d + 3) % 7) + 1 (day 0 = Thu).
                    # Each rollover landing on the triple weekday charges 2
                    # extra units — the closed form of the reference's
                    # per-rollover multiplier.
                    first = self.prev_t // 86_400_000 + 1
                    first_dow = ((first + 3) % 7) + 1
                    offset = (self.swap_triple_weekday - first_dow + 7) % 7
                    triples = 0 if offset >= days else (days - 1 - offset) // 7 + 1
                    units = days + 2 * triples
                for p in positions:
                    rate = self.swap_long if p.direction > 0 else self.swap_short
                    charge = rate * units * p.lots
                    self.balance -= charge
                    p.swap += charge

        # Phase 0 — resolve modify/cancel ops scheduled on earlier ticks
        # (#318: applied BEFORE price triggers so the updated trigger is in
        # effect for this tick, trade_simulator._resolve_pending_operations)
        if self.resting:
            kept_r = []
            for r in self.resting:
                op = r["op"]
                if op is not None and t >= op[1]:
                    if op[0] == "cancel":
                        self.n_cancelled += 1
                        continue  # order removed
                    # ("modify", apply_ms, trig, lim, sl, tp) — None = keep
                    for field, val in zip(("trig", "limit", "sl", "tp"), op[2:]):
                        if val is not None:
                            r[field] = val
                    r["op"] = None
                kept_r.append(r)
            self.resting = kept_r

        # R8 — heartbeat passes inside an inter-tick gap: fills whose
        # latency deadline expired during the gap resolve at the LAST known
        # quote, stamped at the deadline; suppressed for gaps beyond the
        # threshold (weekend analogue — those fills wait for the next tick).
        if (
            self.heartbeat_ms is not None
            and self.prev_t is not None
            and self.heartbeat_ms < t - self.prev_t <= self.suppress_gap_ms
        ):
            pb, pa = self.prev_b, self.prev_a
            while self.pending and self.pending[0][0] < t:
                due, act = self.pending.pop(0)
                self._execute(act, due, pb, pa, due)

        # R1 — budget clipping (algo-invisible, broker-visible)
        clipped = False
        if self.budget_ms is not None:
            if c < self.clock:
                clipped = True
                self.n_clipped += 1
            else:
                self.clock = c + self.budget_ms

        # stale-window entry transition (#436): status-plane dispatch, once
        if (
            self.stale_from is not None
            and not self.stale_hook_fired
            and self.stale_from <= t < self.stale_to
        ):
            self.stale_hook_fired = True
            self.emit_event("market_data_stale")
            hook = getattr(self.strategy, "on_market_data_stale", None)
            if hook is not None:
                hook()

        # R7 — bar close on first tick of a new bucket; R9 decision
        if t // self.bar_ms != self.cur_bucket:
            if self.have_bar:
                self.bars_closed += 1
                # modify/cancel lifecycle bookkeeping: count closed bars an
                # entry has rested un-triggered; schedule ops at the decision
                # tick (they apply at Phase 0 once the delay elapses)
                if self.resting and (
                    self.modify_after_bars is not None
                    or self.cancel_after_bars is not None
                ):
                    for r in self.resting:
                        r["bars_rested"] += 1
                        if r["op"] is None:
                            if (
                                self.cancel_after_bars is not None
                                and r["bars_rested"] >= self.cancel_after_bars
                            ):
                                r["op"] = ("cancel", t + self.modify_cancel_delay_ms)
                            elif (
                                self.modify_after_bars is not None
                                and not r["modified"]
                                and r["bars_rested"] >= self.modify_after_bars
                            ):
                                r["modified"] = True
                                r["op"] = (
                                    "modify",
                                    t + self.modify_cancel_delay_ms,
                                    self._rp(r["trig"] + r["dir"] * self.modify_delta),
                                    None,
                                    None,
                                    None,
                                )
                if self.use_ctx:
                    # context contract: the strategy sees its open positions
                    # and resting orders (the reference's trading_api reads:
                    # get_open_positions / get_active_orders) and may manage
                    # them — trailing, partial close, cancel, re-price.
                    ctx = {
                        "close": self.cur_close,
                        "bid": b,
                        "ask": a,
                        "positions": [
                            (p.pos_id, p.direction, p.lots, p.entry_price,
                             p.sl_price, p.tp_price)
                            for p in positions
                        ],
                        "resting": [
                            (r.get("oid"), r["dir"], r["otype"], r["trig"], r["limit"])
                            for r in self.resting
                        ],
                        # latency-pending open orders not yet registered in
                        # the resting book: strategies must treat these as
                        # live submissions, not as filled/cancelled
                        "pending_oids": [
                            x[1][8]
                            for x in self.pending
                            if x[1][0] == "open" and x[1][8] is not None
                        ],
                        "emit": self.emit_event,
                    }
                    acts = self.strategy.on_bar_ctx(ctx)
                    if not clipped and acts:
                        self._handle_actions(acts, t, b, a)
                elif self.use_actions:
                    acts = self.strategy.on_bar_actions(self.cur_close)
                    if not clipped and acts:
                        self._handle_actions(acts, t, b, a)
                else:
                    if self.use_sig:
                        age = None if self.sig_ms is None else t - self.sig_ms
                        new_target = self.strategy.on_bar_sig(
                            self.cur_close, age, self.sig_val
                        )
                    else:
                        new_target = self.strategy.on_bar(self.cur_close)
                    if not clipped and new_target != self.target:
                        self.target = new_target
                        # one rng draw per flip regardless of what gets
                        # queued — preserves the historical RNG sequence
                        delay = (
                            self.rng.randint(self.lat_min, self.lat_max)
                            if self.lat_max > 0
                            else 0
                        )
                        due = t + delay
                        # resolve-modify/cancel phase: a newer signal cancels
                        # any resting entry before queueing its own orders
                        self.n_cancelled += len(self.resting)
                        self.resting = []
                        if positions:
                            self.pending.append((due, ("close_all",)))
                        if self.target != 0:
                            trig, lim = self._entry_trigger(self.target, b, a)
                            self.pending.append(
                                (
                                    due,
                                    (
                                        "open",
                                        self.target,
                                        self.lots,
                                        trig,
                                        lim,
                                        self.entry_type,
                                        None,
                                        None,
                                        None,
                                        *self._dec_sig(),
                                    ),
                                )
                            )
            self.cur_bucket = t // self.bar_ms
            self.have_bar = True
        self.cur_close = (b + a) / 2.0

        # Phase 1 (R2/R3) — drain latency queue in submission order
        while self.pending and t >= self.pending[0][0]:
            _, act = self.pending.pop(0)
            self._execute(act, t, b, a, None)
        positions = self.positions

        # Phases 2+3 (R3) — price triggers on resting entries
        # (trade_simulator.py:610-686): LONG limit fills AT the limit once
        # ask <= limit, SHORT once bid >= limit; stops break out and fill at
        # market; a triggered STOP_LIMIT converts to a limit order at its
        # stored limit price and may fill the same tick (:161-193). Orders
        # triggering while the position book is at capacity wait (the
        # historical single-position contract); margin/funds rejection
        # consumes the order.
        if self.resting:
            kept_r = []
            for r in self.resting:
                d = r["dir"]
                trig = r["trig"]
                fill = None
                if r["otype"] == "limit":
                    if d > 0 and a <= trig:
                        fill = trig
                    elif d < 0 and b >= trig:
                        fill = trig
                elif r["otype"] == "stop":
                    if d > 0 and a >= trig:
                        fill = a
                    elif d < 0 and b <= trig:
                        fill = b
                else:  # stop_limit: stop leg triggers -> convert to limit
                    if (d > 0 and a >= trig) or (d < 0 and b <= trig):
                        r["otype"] = "limit"
                        r["trig"] = r["limit"]
                        r["op"] = None  # conversion clears in-flight ops
                        if d > 0 and a <= r["trig"]:
                            fill = r["trig"]
                        elif d < 0 and b >= r["trig"]:
                            fill = r["trig"]
                if fill is None:
                    kept_r.append(r)
                elif self.stale_from is not None and self.stale_from <= t < self.stale_to:
                    kept_r.append(r)  # outage: triggered entries wait it out
                elif len(self.positions) >= self.max_positions:
                    kept_r.append(r)  # wait for capacity, keep resting
                elif (
                    self.stress_reject is not None
                    and self.stress_reject.should_trigger()
                ):
                    # drawn at the order's actual fill moment — AFTER the
                    # capacity wait, so a book-blocked order re-triggering
                    # across ticks does not redraw (and compound) the
                    # per-order Bernoulli or shift the shared seed sequence
                    self.n_rejected += 1  # stress-test seeded rejection; consumed
                else:
                    is_maker = r["otype"] == "limit"  # stop fills take liquidity
                    if self._can_open(d, r["lots"], fill, maker=is_maker):
                        self._open_position(
                            t, d, r["lots"], fill, r.get("sl"), r.get("tp"),
                            maker=is_maker,
                            sig_ms=r.get("sig_ms"),
                            sig_val=r.get("sig_val"),
                        )
                    # margin/funds-rejected triggered orders are consumed
            self.resting = kept_r
        positions = self.positions

        # R4 — excursion update as the price arrives (before stop evaluation,
        # so the exit tick's adverse move is captured in MAE)
        total_unreal = 0.0
        for p in list(positions):
            mark = b if p.direction > 0 else a
            unreal = p.direction * (mark - p.entry_price) * self.contract * p.lots
            if unreal < p.mae_pnl:
                p.mae_pnl = unreal
                p.mae_price = mark
            if unreal > p.mfe_pnl:
                p.mfe_pnl = unreal
                p.mfe_price = mark

            # R3 — broker-side SL/TP. Trigger on the close-side price
            # (LONG->bid, SHORT->ask); FILL AT THE LEVEL, not the breaching
            # mark — the reference closes via a synthetic order with
            # "Fill price = SL/TP level (deterministic)"
            # (abstract_trade_executor._check_sl_tp_triggers:403-459; its
            # sltp_limit_validation suite pins exit_price == the level).
            # The excursion update above still runs on the raw mark, so a
            # gap through the level is captured in MAE/MFE.
            if self.sl_dist is not None or self.tp_dist is not None:
                move = p.direction * (mark - p.entry_price)
                if self.sl_dist is not None and move <= -self.sl_dist:
                    self._close_position(
                        p.entry_price - p.direction * self.sl_dist, "SL", p, exit_ms=t
                    )
                    continue
                if self.tp_dist is not None and move >= self.tp_dist:
                    self._close_position(
                        p.entry_price + p.direction * self.tp_dist, "TP", p, exit_ms=t
                    )
                    continue
            # per-position absolute SL/TP levels (order-attached or modified
            # via set_sl) — same level-fill contract
            if p.sl_price is not None and p.direction * (mark - p.sl_price) <= 0:
                self._close_position(p.sl_price, "SL", p, exit_ms=t)
                continue
            if p.tp_price is not None and p.direction * (mark - p.tp_price) >= 0:
                self._close_position(p.tp_price, "TP", p, exit_ms=t)
                continue
            total_unreal += unreal

        # Per-tick management pass (reference _execute_decision_impl runs
        # every tick: partial close -> trail -> resting cancel/re-price ->
        # armed entry). Runs AFTER this tick's broker-side stop evaluation,
        # so a freshly-ratcheted SL takes effect on the next quote — the
        # reference's modify lands broker-side after the tick that computed
        # it, same ordering. Budget-clipped ticks are algo-invisible here
        # exactly as they are for bar decisions.
        if self.use_tick and not clipped:
            acts = self.strategy.on_tick(
                {
                    "bid": b,
                    "ask": a,
                    "positions": [
                        (p.pos_id, p.direction, p.lots, p.entry_price,
                         p.sl_price, p.tp_price)
                        for p in self.positions
                    ],
                    "resting": [
                        (r.get("oid"), r["dir"], r["otype"], r["trig"], r["limit"])
                        for r in self.resting
                    ],
                    "pending_oids": [
                        x[1][8]
                        for x in self.pending
                        if x[1][0] == "open" and x[1][8] is not None
                    ],
                    "emit": self.emit_event,
                }
            )
            if acts:
                self._handle_actions(acts, t, b, a)
                # zero-latency actions resolve on this tick, matching the
                # bar-decision path (Phase 1 already ran this iteration)
                while self.pending and t >= self.pending[0][0]:
                    _, act = self.pending.pop(0)
                    self._execute(act, t, b, a, None)

        # R5 — account state (spot: equity = portfolio value at mid,
        # portfolio_manager.get_spot_equity)
        if self.spot_mode:
            self.equity = self.quote_bal + self.base_bal * ((b + a) / 2.0)
        else:
            self.equity = self.balance + total_unreal
        if self.equity > self.peak:
            self.peak = self.equity
        dd = self.peak - self.equity
        if dd > self.max_dd:
            self.max_dd = dd
        if self.sample_every > 0 and self.n_ticks % self.sample_every == 0:
            self.samples.append(
                {"ts": pd.Timestamp(t, unit="ms"), "equity": self.equity, "drawdown": dd}
            )

        self.prev_t, self.prev_b, self.prev_a = t, b, a
        self.n_ticks += 1
        self.ghost_t = None

    def heartbeat(self, advance_ms: int) -> None:
        """R8 live ghost pass — the real-time form of the inter-tick
        heartbeat the batch loop runs retroactively at the next tick
        (reference: process_tick_loop.py:52-107, ghost decision passes on
        a timer while the feed is quiet). Each call advances a ghost
        clock by ``advance_ms`` past the last real tick and resolves
        latency-queue fills whose deadline the ghost clock has passed, at
        the LAST known quote, stamped at the deadline — exactly the batch
        R8 resolution, so a fill emitted here is bit-identical to the one
        the batch pass would emit at the gap's end. Live merely emits it
        while the gap is still open instead of hours later. Suppressed
        (like batch) once the gap exceeds ``suppress_gap_ms``: weekend
        gaps leave fills queued for the next real tick.

        Parity bound, stated honestly: when a gap ultimately exceeds the
        suppress threshold, batch resolves NO in-gap fills, while live
        ghost passes already resolved those whose deadline fell before
        the threshold was crossed — the unavoidable seam between a
        real-time loop and a recorded replay (the reference's live loop
        has the same property vs its batch simulation). Within the
        threshold, parity is exact UNDER THE ASSUMPTION that processing
        time tracks event time (heartbeats fire because the FEED is
        quiet): the ghost clock advances by wall-clock ``advance_ms``
        but the gap is measured against event-time ``prev_t``, so a feed
        that is wall-delayed yet event-time dense (e.g. a backfill
        draining hours of ticks slowly) can see in-gap fills resolved at
        the last quote where batch would fill at the next tick's quote.
        Callers replaying recorded history through the live path should
        disable heartbeats (the default) or drive them from the stream's
        event clock/watermark rather than a wall timer."""
        if self.heartbeat_ms is None or self.prev_t is None:
            return
        base = self.ghost_t if self.ghost_t is not None else self.prev_t
        ghost_t = base + int(advance_ms)
        self.ghost_t = ghost_t
        gap = ghost_t - self.prev_t
        if not (self.heartbeat_ms < gap <= self.suppress_gap_ms):
            return
        pb, pa = self.prev_b, self.prev_a
        while self.pending and self.pending[0][0] < ghost_t:
            due, act = self.pending.pop(0)
            self._execute(act, due, pb, pa, due)

    def finish(self) -> None:
        """End of data (BATCH ONLY — a live session never ends): force-close
        every open position at the last tick's close-side quote."""
        if self.positions and self.n_ticks > 0:
            for p in list(self.positions):
                self._close_position(
                    self.prev_b if p.direction > 0 else self.prev_a,
                    "END",
                    p,
                    exit_ms=self.prev_t,
                )
            self.equity = (
                self.quote_bal
                + self.base_bal * ((self.prev_b + self.prev_a) / 2.0)
                if self.spot_mode
                else self.balance
            )

    def drain_trades(self) -> list[dict]:
        """Emit-and-clear for the live operator: trade records closed since
        the last drain (numbering continues via next_trade_id), with the
        equity-sample buffer cleared too so state size stays bounded over a
        session's lifetime."""
        out = self.trades
        self.trades = []
        self.samples = []
        return out

    def summary_frame(self) -> pd.DataFrame:
        trades = self.trades
        wins = sum(1 for tr in trades if tr["net_pnl"] > 0)
        losses = sum(1 for tr in trades if tr["net_pnl"] < 0)
        return pd.DataFrame(
            [
                {
                    "scenario_id": self.sid,
                    "ticks_processed": self.n_ticks,
                    "ticks_clipped": self.n_clipped,
                    "bars_closed": self.bars_closed,
                    "trades_count": len(trades),
                    "orders_rejected": self.n_rejected,
                    "orders_filled": self.n_filled,
                    "orders_cancelled": self.n_cancelled,
                    "sl_tp_exits": self.n_sltp,
                    "stale_entries_rejected": self.n_stale_rejected,
                    "stale_windows_hit": 1 if self.stale_hook_fired else 0,
                    "events": self.events_buf
                    + (
                        [f"events_overflow:{self.events_dropped}"]
                        if self.events_dropped
                        else []
                    ),
                    "wins": wins,
                    "losses": losses,
                    "gross_profit": sum(
                        tr["gross_pnl"] for tr in trades if tr["gross_pnl"] > 0
                    ),
                    "gross_loss": sum(
                        tr["gross_pnl"] for tr in trades if tr["gross_pnl"] < 0
                    ),
                    "fees": sum(tr["fees"] for tr in trades),
                    "swap": sum(tr["swap"] for tr in trades),
                    "net_pnl": sum(tr["net_pnl"] for tr in trades),
                    "final_equity": self.equity if self.n_ticks > 0 else self.start_balance,
                    "max_drawdown": self.max_dd,
                    "trades": trades,
                    "equity_samples": self.samples,
                }
            ]
        )


def _replay_core(pdf: pd.DataFrame, scen: dict) -> pd.DataFrame:
    """One scenario through the session state machine (or the bit-identical
    numpy fast path when the configuration allows it)."""
    sess = ReplaySession(scen)

    max_ticks = scen.get("max_ticks")
    max_ticks = int(max_ticks) if max_ticks is not None and not pd.isna(max_ticks) else None

    # Deterministic total order — reference bug #385 is tick-order
    # instability. Input row order after the scenario-attach shuffle is
    # arbitrary, so time_msc alone leaves ties nondeterministic; break them
    # with the ingest tick_seq when present, else every value column (rows
    # still tied after that are identical, so their order cannot matter).
    sort_keys = [
        c
        for c in ("time_msc", "tick_seq", "timestamp", "collected_msc", "bid", "ask")
        if c in pdf.columns
    ]
    has_sig = "__is_sig" in pdf.columns
    if has_sig:
        # signal rows sort FIRST at equal event time (as-of at-or-before)
        pdf = pdf.assign(__tick_after_sig=1 - pdf["__is_sig"])
        sort_keys.insert(1, "__tick_after_sig")
    pdf = pdf.sort_values(sort_keys, kind="mergesort")
    if max_ticks is not None:
        if has_sig:
            # R1 bounds TICKS; interleaved signal rows ride along for free
            pdf = pdf[(pdf["__is_sig"] == 0).cumsum() <= max_ticks]
        else:
            pdf = pdf.iloc[:max_ticks]

    ts_ms = pdf["time_msc"].to_numpy(dtype="int64")
    coll_ms = (
        pdf["collected_msc"].to_numpy(dtype="int64")
        if "collected_msc" in pdf.columns
        else ts_ms
    )
    bid = pdf["bid"].to_numpy(dtype="float64")
    ask = pdf["ask"].to_numpy(dtype="float64")

    if has_sig:
        sig_l = pdf["__is_sig"].tolist()
        score_l = pdf["__score"].tolist()
        for t, c, b, a, is_sig, score in zip(
            ts_ms.tolist(), coll_ms.tolist(), bid.tolist(), ask.tolist(),
            sig_l, score_l,
        ):
            if is_sig:
                sess.process_signal(t, score)
            else:
                sess.process_tick(t, c, b, a)
        sess.finish()
        return sess.summary_frame()

    # Vectorized fast path for the dominant sweep configuration (market
    # orders, no stops/budget/heartbeat/margin/swap, no equity sampling):
    # bit-identical results, ~10x per-core throughput. force_slow=1 pins
    # the reference loop (used by the equivalence tests). The ndarrays go
    # in directly — materializing 4 multi-million-element Python lists per
    # group only to np.asarray them back was the dominant allocation/GC
    # cost at sf10 group sizes (round-8 sweep finding); the slow paths
    # below still take .tolist(), where zip over PyObjects beats numpy
    # scalar indexing in the per-tick loop.
    if sess.vectorizable():
        return _replay_fast(
            sess.sid,
            sess.strategy,
            ts_ms,
            bid,
            ask,
            ts_ms // sess.bar_ms,
            rng=sess.rng,
            lat_min=sess.lat_min,
            lat_max=sess.lat_max,
            lots=sess.lots,
            contract=sess.contract,
            fee_per_side=sess.fee_per_side,
            start_balance=sess.start_balance,
        )

    for t, c, b, a in zip(
        ts_ms.tolist(), coll_ms.tolist(), bid.tolist(), ask.tolist()
    ):
        sess.process_tick(t, c, b, a)
    sess.finish()
    return sess.summary_frame()


def _replay_fast(
    sid: int,
    strategy,
    tsl,   # int64 array-like (epoch ms)
    bl,    # float64 array-like
    al,    # float64 array-like
    bk,    # int64 array-like (bar bucket ids)
    *,
    rng: random.Random,
    lat_min: int,
    lat_max: int,
    lots: float,
    contract: float,
    fee_per_side: float,
    start_balance: float,
) -> pd.DataFrame:
    """Vectorized replay for the market-order / no-stop / no-budget domain.

    Decisions depend only on closed-bar closes, never on fills, so the flip
    sequence is computed once from the (short) bar series; fills resolve by
    searchsorted with FIFO head-blocking; MAE/MFE and the equity/drawdown
    stream are per-segment numpy reductions. BIT-IDENTICAL to _replay_core
    on this domain (pinned by tests + a hypothesis equivalence property):
    every float expression keeps the loop's exact operation order, the
    strategy object and the latency RNG are consumed in the same sequence.
    ~10x the per-core throughput of the per-tick loop — this is the path a
    100k-combination sweep runs on."""
    ts = np.asarray(tsl, dtype=np.int64)
    bid = np.asarray(bl, dtype=np.float64)
    ask = np.asarray(al, dtype=np.float64)
    buckets = np.asarray(bk, dtype=np.int64)
    n = len(ts)
    mid = (bid + ask) / 2.0

    # closed-bar closes + decision tick indices (first tick of each new
    # bucket after the first)
    change = np.flatnonzero(np.diff(buckets) != 0) + 1
    closes = mid[change - 1]
    bars_closed = int(len(change))

    # strategy targets per closed bar -> flip points (same call sequence as
    # the loop; strategies are deterministic, no RNG inside)
    flips: list[tuple[int, int]] = []  # (decision tick idx, new target)
    target = 0
    for ci, close in zip(change, closes):
        new_target = strategy.on_bar(float(close))
        if new_target != target:
            target = new_target
            flips.append((int(ci), new_target))

    # FIFO queue with head-blocking fills; close fills close whatever is
    # open (direction recorded at fill, like the loop)
    balance = start_balance
    trades: list[dict] = []
    pos_dir = 0
    pos_entry_i = -1
    pos_entry_ms = 0
    pos_entry_price = 0.0
    segments: list[tuple[int, int, int, float, float]] = []  # (s, e, dir, entry, bal)
    seg_start = 0
    seg_bal = balance
    last_fill_idx = 0
    queue: list[tuple[int, int, int, str]] = []  # (due, emit_idx, dir, purpose)

    def close_at(i: int, exit_ms: int, reason: str) -> None:
        nonlocal balance, pos_dir, seg_start, seg_bal
        entry = pos_entry_price
        d = pos_dir
        price = bid[i] if d > 0 else ask[i]
        gross = d * (price - entry) * contract * lots
        fees = fee_per_side * lots + fee_per_side * lots
        # MAE/MFE window: [entry_i, i-1] for SIGNAL (drain precedes the
        # excursion block), [entry_i, i] for END (post-loop close)
        w_end = i if reason == "END" else i - 1
        if w_end >= pos_entry_i:
            mark = (bid if d > 0 else ask)[pos_entry_i : w_end + 1]
            pnl = d * (mark - entry) * contract * lots
            jmin = int(np.argmin(pnl))
            jmax = int(np.argmax(pnl))
            minp, maxp = float(pnl[jmin]), float(pnl[jmax])
            mae = minp if minp < 0.0 else 0.0
            mfe = maxp if maxp > 0.0 else 0.0
            mae_price = float(mark[jmin]) if minp < 0.0 else entry
            mfe_price = float(mark[jmax]) if maxp > 0.0 else entry
        else:  # empty window: opened and closed on the same tick
            mae = mfe = 0.0
            mae_price = mfe_price = entry
        balance += gross - fees
        trades.append(
            {
                "trade_id": len(trades),
                "direction": "LONG" if d > 0 else "SHORT",
                "lots": lots,
                "entry_ts": pd.Timestamp(pos_entry_ms, unit="ms"),
                "entry_price": entry,
                "exit_ts": pd.Timestamp(exit_ms, unit="ms"),
                "exit_price": float(price),
                "gross_pnl": float(gross),
                "fees": fees,
                "swap": 0.0,
                "net_pnl": float(gross - fees - 0.0),
                "mae_pnl": mae,
                "mfe_pnl": mfe,
                "mae_price": mae_price,
                "mfe_price": mfe_price,
                "exit_reason": reason,
                # single-position fast domain: every open closes before the
                # next, so position ids coincide with trade ids (matches the
                # slow path's per-open pos_id counter)
                "position_id": len(trades),
                "close_type": "FULL",
            }
        )
        segments.append((seg_start, i - 1 if reason != "END" else i, d, entry, seg_bal))
        seg_start = i if reason != "END" else i + 1
        seg_bal = balance
        pos_dir = 0

    def open_at(i: int, entry_ms: int, d: int) -> None:
        nonlocal pos_dir, pos_entry_i, pos_entry_ms, pos_entry_price, seg_start, seg_bal
        price = ask[i] if d > 0 else bid[i]
        if seg_start <= i - 1:
            segments.append((seg_start, i - 1, 0, 0.0, seg_bal))
        seg_start = i
        pos_dir = d
        pos_entry_i = i
        pos_entry_ms = entry_ms
        pos_entry_price = float(price)

    def drain(limit_idx: int) -> None:
        nonlocal last_fill_idx
        while queue:
            due, emit_idx, d, purpose = queue[0]
            fidx = int(np.searchsorted(ts, due, side="left"))
            fidx = max(fidx, emit_idx, last_fill_idx)
            if fidx > limit_idx:
                return
            queue.pop(0)
            last_fill_idx = fidx
            if purpose == "close":
                if pos_dir != 0:
                    close_at(fidx, int(ts[fidx]), "SIGNAL")
            elif pos_dir == 0:
                open_at(fidx, int(ts[fidx]), d)

    for ik, tgt in flips:
        drain(ik - 1)
        delay = rng.randint(lat_min, lat_max) if lat_max > 0 else 0
        due = int(ts[ik]) + delay
        if pos_dir != 0:
            queue.append((due, ik, -pos_dir, "close"))
        if tgt != 0:
            queue.append((due, ik, tgt, "open"))
        drain(ik)
    drain(n - 1)
    if pos_dir != 0 and n > 0:
        close_at(n - 1, int(ts[n - 1]), "END")
    if seg_start <= n - 1:
        segments.append((seg_start, n - 1, 0, 0.0, seg_bal))

    # equity / peak / drawdown over the piecewise-affine segments — same
    # expression order as the loop: unreal = d*(mark-entry)*contract*lots,
    # equity = balance + unreal, peak/dd by running comparison
    peak = start_balance
    max_dd = 0.0
    for s, e, d, entry, bal in segments:
        if e < s:
            continue
        if d != 0:
            mark = (bid if d > 0 else ask)[s : e + 1]
            eq = bal + d * (mark - entry) * contract * lots
        else:
            eq = np.full(e - s + 1, bal)
        run_peak = np.maximum(np.maximum.accumulate(eq), peak)
        dd = float(np.max(run_peak - eq))
        if dd > max_dd:
            max_dd = dd
        peak = float(run_peak[-1])

    wins = sum(1 for tr in trades if tr["net_pnl"] > 0)
    losses = sum(1 for tr in trades if tr["net_pnl"] < 0)
    return pd.DataFrame(
        [
            {
                "scenario_id": sid,
                "ticks_processed": n,
                "ticks_clipped": 0,
                "bars_closed": bars_closed,
                "trades_count": len(trades),
                "orders_rejected": 0,
                "orders_filled": 2 * len(trades),
                "orders_cancelled": 0,
                "sl_tp_exits": 0,
                "stale_entries_rejected": 0,
                "stale_windows_hit": 0,
                "events": [],
                "wins": wins,
                "losses": losses,
                "gross_profit": sum(tr["gross_pnl"] for tr in trades if tr["gross_pnl"] > 0),
                "gross_loss": sum(tr["gross_pnl"] for tr in trades if tr["gross_pnl"] < 0),
                "fees": sum(tr["fees"] for tr in trades),
                "swap": 0.0,
                "net_pnl": sum(tr["net_pnl"] for tr in trades),
                "final_equity": balance if n > 0 else start_balance,
                "max_drawdown": max_dd,
                "trades": trades,
                "equity_samples": [],
            }
        ]
    )


def attach_scenarios(ticks: DataFrame, scenarios: DataFrame) -> DataFrame:
    """Range-join ticks to scenarios (J3 scan sharing): every scenario gets
    its slice out of ONE scan. Scenarios are tiny -> broadcast; a tick
    belonging to k scenarios is duplicated k times, exactly the reference's
    per-scenario package copy."""
    cond = ticks["symbol"] == scenarios["symbol"]
    # Guard each bound independently: a scenarios frame may carry only one of
    # start_ts / end_ts.
    if "start_ts" in scenarios.columns:
        cond = cond & (
            scenarios["start_ts"].isNull() | (ticks["timestamp"] >= scenarios["start_ts"])
        )
    if "end_ts" in scenarios.columns:
        cond = cond & (
            scenarios["end_ts"].isNull() | (ticks["timestamp"] < scenarios["end_ts"])
        )
    return ticks.join(F.broadcast(scenarios.drop("broker_type")), cond).drop(
        scenarios["symbol"]
    )


_M32 = 0xFFFFFFFF


def _murmur3_hash_int(value: int, seed: int = 42) -> int:
    """Spark's Murmur3Hash of one IntegerType value (catalyst hashInt,
    default seed 42), as a SIGNED 32-bit int — lets the driver predict
    exactly which partition ``repartition(n, int_col)`` sends a row to
    (partition = pmod(hash, n)). Verified bit-for-bit against F.hash in
    tests/test_replay.py."""
    k1 = (value & _M32) * 0xCC9E2D51 & _M32
    k1 = ((k1 << 15) | (k1 >> 17)) & _M32
    k1 = (k1 * 0x1B873593) & _M32
    h1 = (seed ^ k1) & _M32
    h1 = ((h1 << 13) | (h1 >> 19)) & _M32
    h1 = (h1 * 5 + 0xE6546B64) & _M32
    h1 ^= 4  # length in bytes
    h1 = (h1 ^ (h1 >> 16)) * 0x85EBCA6B & _M32
    h1 = (h1 ^ (h1 >> 13)) * 0xC2B2AE35 & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _part_salts(sids: list, n: int) -> dict[int, int]:
    """scenario_id -> int salt whose murmur3 partition is UNIQUE.

    ``repartition(n, col)`` places rows at pmod(murmur3(col), n); hashing n
    distinct scenario ids into n partitions collides birthday-style — the
    round-8 sf10 sweep measured a 4-scenario stack on one core with 17 of
    40 partitions empty, turning the replay stage's critical path into 4x
    one scenario's work. Salting driver-side makes placement exact: the
    replay stage's wall is ONE scenario regardless of fleet size. Greedy
    single-pass search (~n·H(n) hash evals, a couple of seconds at the
    200k-scenario driver bound — planning cost, not per-tick cost)."""
    salts: dict[int, int] = {}
    used: set[int] = set()
    v = 0
    for sid in sids:
        while True:
            part = _murmur3_hash_int(v) % n
            if part not in used:
                break
            v += 1
        used.add(part)
        salts[sid] = v
        v += 1
    return salts


# Driver-side planning bound: run_backtest materializes the scenario table on
# the driver (config closure + partition count). A parameter sweep that
# cross-joins itself to 10^7 combinations would silently OOM the driver, so
# the collect fails loudly past this bound (override per call).
MAX_DRIVER_SCENARIOS = 200_000


def _bounded_collect(df: DataFrame, bound: int, what: str) -> list:
    """collect() with a loud size guard: fetch bound+1 rows via limit so the
    driver never materializes an unbounded result, and raise if the limit
    was hit."""
    rows = df.limit(bound + 1).collect()
    if len(rows) > bound:
        raise ValueError(
            f"{what}: more than {bound} rows would be collected to the "
            "driver; raise the bound explicitly if this is intentional"
        )
    return rows


def merge_signal_rows(ticks: DataFrame, signals: DataFrame) -> DataFrame:
    """Union a (symbol, sig_ts, score) signal table into a tick frame as
    typed signal ROWS (__is_sig/__score, NaN quotes, time_msc from
    sig_ts): the scenario attach then slices signals with the ticks, and
    the replay session consumes them in event-time order — the reference
    loads each scenario's signal-data slice alongside its ticks
    (signal_jsonl_loader.py:24-80) and feeds the same worker batch and
    live."""
    sig = signals.select(
        F.col("symbol"),
        F.col("sig_ts").alias("timestamp"),
        F.unix_millis("sig_ts").alias("time_msc"),
        *(
            [F.unix_millis("sig_ts").alias("collected_msc")]
            if "collected_msc" in ticks.columns
            else []
        ),
        F.lit(None).cast("double").alias("bid"),
        F.lit(None).cast("double").alias("ask"),
        F.lit(1).alias("__is_sig"),
        F.col("score").cast("double").alias("__score"),
    )
    t = ticks.withColumn("__is_sig", F.lit(0)).withColumn(
        "__score", F.lit(None).cast("double")
    )
    return t.unionByName(sig, allowMissingColumns=True)


def run_backtest(
    ticks: DataFrame,
    scenarios: DataFrame,
    *,
    signals: DataFrame | None = None,
    max_driver_scenarios: int = MAX_DRIVER_SCENARIOS,
) -> DataFrame:
    """ticks(symbol,timestamp,time_msc[,collected_msc],bid,ask) x scenarios
    (SCENARIO_SCHEMA) -> one result row per scenario (REPLAY_RESULT_SCHEMA).

    Three scale decisions here:
    - Scenario CONFIG travels in a driver-side closure keyed by scenario_id,
      not as columns joined onto every tick: the pre-replay shuffle carries
      only (scenario_id, ts, time_msc, collected_msc, bid, ask), never the
      parameters map duplicated 10^5-10^6 times per scenario.
    - The shuffle is explicitly repartitioned to one partition per scenario:
      the replay stage is Python-CPU-bound, and AQE's bytes-based coalescing
      would merge the (small-in-bytes, expensive-in-CPU) scenario groups
      onto fewer cores. An explicit repartition(n, col) is exempt from AQE
      coalescing. The scenario table is driver metadata (same as the
      reference's scenario list) and the collect is SIZE-GUARDED — a sweep
      beyond ``max_driver_scenarios`` fails loudly instead of OOMing.
    - The result is materialized ONCE: the frame is marked
      ``localCheckpoint(eager=False)``, so the first action runs the replay
      state machine and every later action (a ledger write, then the range
      sample and the sort of a ranking, then a count) reads the stored rows
      instead of re-running the Python stage. Storage footprint: one row
      per scenario, with its trades and equity-sample arrays, held in
      executor block storage at MEMORY_AND_DISK and freed by the
      ContextCleaner once the frame is dropped (no ``unpersist`` owner
      needed, unlike ``persist``). Lineage trade-off: the checkpoint
      truncates lineage, so losing an executor that holds result blocks
      fails the action instead of recomputing the replay. Under AQE,
      marking the checkpoint runs the pre-replay shuffle at call time; the
      replay itself still waits for the first action."""
    return _replay_plan(
        ticks, scenarios, signals=signals, max_driver_scenarios=max_driver_scenarios
    ).localCheckpoint(eager=False)


def _replay_plan(
    ticks: DataFrame,
    scenarios: DataFrame,
    *,
    signals: DataFrame | None = None,
    max_driver_scenarios: int = MAX_DRIVER_SCENARIOS,
) -> DataFrame:
    """The lazy replay frame behind ``run_backtest``: scenario attach, one
    ``repartition(n, __part)`` and the grouped ``applyInPandas``. Every
    action on it re-runs the replay; its executed plan is the one the
    plan-shape tests pin."""
    scen_rows = _bounded_collect(scenarios, max_driver_scenarios, "run_backtest(scenarios)")
    cfg = {r["scenario_id"]: r.asDict(recursive=True) for r in scen_rows}
    n = max(len(scen_rows), 1)
    # Exact 1:1 scenario->partition placement: shuffle AND group on a
    # driver-computed salt whose murmur3 partition is collision-free (see
    # _part_salts — hash placement alone stacked 4 scenarios on one core
    # at the sf10 sweep while a third of the cluster sat idle).
    salts = _part_salts(sorted(cfg), n)
    by_salt = {v: cfg[sid] for sid, v in salts.items()}

    if signals is not None:
        ticks = merge_signal_rows(ticks, signals)
    slim_cols = ["scenario_id", "symbol"] + [
        c for c in ("start_ts", "end_ts") if c in scenarios.columns
    ]
    slim = scenarios.select(*slim_cols)
    if not salts:
        slim = slim.withColumn("__part", F.lit(0))
    elif len(salts) <= 2048:
        # literal CASE map: zero extra jobs/joins (a per-call
        # createDataFrame costs ~0.3 s of driver time, visible at bench
        # scale); the expression tree stays small for real fleet sizes
        mapping = F.create_map(
            *[F.lit(x) for sid, v in salts.items() for x in (sid, v)]
        )
        slim = slim.withColumn("__part", F.element_at(mapping, F.col("scenario_id")))
    else:
        part_df = scenarios.sparkSession.createDataFrame(
            [(int(sid), int(v)) for sid, v in salts.items()],
            "scenario_id int, __part int",
        )
        slim = slim.join(F.broadcast(part_df), "scenario_id")
    tick_cols = [
        c
        for c in ("timestamp", "time_msc", "collected_msc", "bid", "ask", "tick_seq",
                  "__is_sig", "__score")
        if c in ticks.columns
    ]
    joined = (
        attach_scenarios(ticks, slim)
        .select("__part", *tick_cols)
        .repartition(n, "__part")
    )

    def replay(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return _replay_core(pdf, by_salt[key[0]])

    return joined.groupBy("__part").applyInPandas(replay, REPLAY_RESULT_SCHEMA)


def trades_table(results: DataFrame) -> DataFrame:
    """Explode nested trades to a flat TRADE_SCHEMA-shaped table."""
    return results.select("scenario_id", F.explode("trades").alias("t")).select(
        "scenario_id", "t.*"
    )


def equity_table(results: DataFrame) -> DataFrame:
    return results.select("scenario_id", F.explode("equity_samples").alias("e")).select(
        "scenario_id", "e.*"
    )
