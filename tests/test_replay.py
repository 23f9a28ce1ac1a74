"""Replay operator tests — deterministic golden runs, the model the
reference uses (tests/simulation/baseline/: same seed => same fills,
tick counts, P&L, trade sequences)."""

from __future__ import annotations

from datetime import datetime, timedelta

import random

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from finiextestingide_spark.operators.replay import (
    REPLAY_RESULT_SCHEMA,
    run_backtest,
    trades_table,
)

T0_MS = 1_767_225_600_000  # 2026-01-01 00:00:00 UTC


def make_ticks(spark, prices, symbol="X", step_ms=30_000, spread=0.02):
    """One tick per 30s -> two ticks per 1-minute bar."""
    rows = []
    for i, p in enumerate(prices):
        ms = T0_MS + i * step_ms
        rows.append(
            (
                symbol,
                datetime.utcfromtimestamp(ms / 1000.0),
                ms,
                ms,
                p - spread / 2,
                p + spread / 2,
            )
        )
    return spark.createDataFrame(
        rows,
        "symbol string, timestamp timestamp, time_msc long, collected_msc long, bid double, ask double",
    )


def make_scenarios(spark, rows):
    cols = (
        "scenario_id int, name string, symbol string, max_ticks int, "
        "tick_processing_budget_ms double, latency_seed int, latency_min_ms int, "
        "latency_max_ms int, parameters map<string,string>"
    )
    return spark.createDataFrame(rows, cols)


BASE = {
    "strategy": "sma_cross",
    "fast": "2",
    "slow": "4",
    "bar_ms": "60000",
    "equity_sample_every": "1",
}


def scen(spark, sid=1, seed=7, lat=(0, 0), budget=None, max_ticks=None, **over):
    params = {**BASE, **{k: str(v) for k, v in over.items()}}
    return make_scenarios(
        spark,
        [(sid, f"s{sid}", "X", max_ticks, budget, seed, lat[0], lat[1], params)],
    )


# up-trend then crash: sma_cross goes long, then flips short
PRICES = [100.0 + i * 0.5 for i in range(12)] + [105.0 - i * 1.0 for i in range(12)]


def test_replay_counts_and_bars(spark):
    ticks = make_ticks(spark, PRICES)
    res = run_backtest(ticks, scen(spark)).collect()[0]
    assert res["ticks_processed"] == 24
    # 12 one-minute buckets; the last bar never closes (no next-bucket tick)
    assert res["bars_closed"] == 11
    assert res["ticks_clipped"] == 0


def test_replay_trade_semantics_long_flip_short(spark):
    ticks = make_ticks(spark, PRICES)
    res = run_backtest(ticks, scen(spark)).collect()[0]
    tr = sorted(res["trades"], key=lambda t: t["trade_id"])
    assert len(tr) == 2
    # first trade: long opened once SMA2 > SMA4 (warmup 4 bars), closed on flip
    assert tr[0]["direction"] == "LONG"
    assert tr[0]["exit_reason"] == "SIGNAL"
    assert tr[1]["direction"] == "SHORT"
    assert tr[1]["exit_reason"] == "END"
    # long entered at ask, exited at bid (close-side selection)
    assert tr[0]["gross_pnl"] == pytest.approx(
        (tr[0]["exit_price"] - tr[0]["entry_price"]), abs=1e-12
    )
    # short profits from the crash
    assert tr[1]["gross_pnl"] > 0
    # bookkeeping identities
    assert res["net_pnl"] == pytest.approx(sum(t["net_pnl"] for t in tr))
    assert res["final_equity"] == pytest.approx(10_000.0 + res["net_pnl"])
    assert res["trades_count"] == 2 and res["wins"] + res["losses"] <= 2


def test_replay_deterministic_same_seed(spark):
    ticks = make_ticks(spark, PRICES)
    s = scen(spark, seed=123, lat=(1000, 40_000))
    r1 = run_backtest(ticks, s).collect()[0]
    r2 = run_backtest(ticks, s).collect()[0]
    assert r1["trades"] == r2["trades"]
    assert r1["final_equity"] == r2["final_equity"]


def test_replay_latency_changes_fills(spark):
    ticks = make_ticks(spark, PRICES)
    no_lat = run_backtest(ticks, scen(spark, lat=(0, 0))).collect()[0]
    lat = run_backtest(ticks, scen(spark, seed=9, lat=(60_000, 120_000))).collect()[0]
    t0_entry = sorted(no_lat["trades"], key=lambda t: t["trade_id"])[0]["entry_ts"]
    t1_entry = sorted(lat["trades"], key=lambda t: t["trade_id"])[0]["entry_ts"]
    assert t1_entry > t0_entry  # delayed fill lands on a later tick


def test_replay_budget_clipping_counts(spark):
    # collected_msc == time_msc, ticks every 30s; a 45s budget clips every
    # second tick (clock = c + 45000 > next tick's 30s-later stamp).
    ticks = make_ticks(spark, PRICES)
    res = run_backtest(ticks, scen(spark, budget=45_000.0)).collect()[0]
    assert res["ticks_clipped"] == 12
    assert res["ticks_processed"] == 24


def test_replay_stop_loss_fires(spark):
    # long via buy_hold, then a cliff: SL at 2.0 below entry must fire
    prices = [100.0, 100.2, 100.4, 100.6, 90.0, 89.0, 88.0, 87.0]
    ticks = make_ticks(spark, prices)
    s = scen(spark, strategy="buy_hold", sl_dist=2.0)
    tr = sorted(run_backtest(ticks, s).collect()[0]["trades"], key=lambda t: t["trade_id"])
    assert tr[0]["exit_reason"] == "SL"
    assert tr[0]["gross_pnl"] < 0
    assert tr[0]["mae_pnl"] <= tr[0]["gross_pnl"]  # MAE captured at/under exit


def test_replay_take_profit_fires(spark):
    prices = [100.0, 100.2, 100.1, 100.3, 103.0, 103.5, 104.0, 104.5]
    ticks = make_ticks(spark, prices)
    s = scen(spark, strategy="buy_hold", tp_dist=1.5)
    tr = sorted(run_backtest(ticks, s).collect()[0]["trades"], key=lambda t: t["trade_id"])
    assert tr[0]["exit_reason"] == "TP"
    assert tr[0]["gross_pnl"] >= 1.5 - 1e-9


def test_replay_max_ticks(spark):
    ticks = make_ticks(spark, PRICES)
    res = run_backtest(ticks, scen(spark, max_ticks=10)).collect()[0]
    assert res["ticks_processed"] == 10


def test_replay_multi_scenario_partitioning(spark):
    """N scenarios over one symbol = one scan, N independent groups."""
    ticks = make_ticks(spark, PRICES)
    scenarios = make_scenarios(
        spark,
        [
            (1, "a", "X", None, None, 1, 0, 0, BASE),
            (2, "b", "X", 10, None, 1, 0, 0, BASE),
            (3, "c", "X", None, None, 1, 0, 0, {**BASE, "strategy": "buy_hold"}),
        ],
    )
    res = {r["scenario_id"]: r for r in run_backtest(ticks, scenarios).collect()}
    assert set(res) == {1, 2, 3}
    assert res[1]["ticks_processed"] == 24
    assert res[2]["ticks_processed"] == 10
    assert res[3]["trades_count"] >= 1


def test_trades_table_flattens(spark):
    ticks = make_ticks(spark, PRICES)
    out = trades_table(run_backtest(ticks, scen(spark)))
    rows = out.collect()
    assert len(rows) == 2
    assert {"scenario_id", "trade_id", "direction", "net_pnl"} <= set(out.columns)


def test_fees_reduce_net(spark):
    ticks = make_ticks(spark, PRICES)
    free = run_backtest(ticks, scen(spark)).collect()[0]
    paid = run_backtest(ticks, scen(spark, fee_per_side=1.0)).collect()[0]
    assert paid["fees"] == pytest.approx(free["fees"] + 2.0 * paid["trades_count"])
    assert paid["net_pnl"] == pytest.approx(free["net_pnl"] - 2.0 * paid["trades_count"])


def test_replay_heartbeat_fills_in_gap(spark):
    """R8: with heartbeat enabled, a latency fill due inside a long
    inter-tick gap resolves at the last pre-gap quote stamped at the
    deadline; without it, the fill waits for the next tick."""
    # 9 rising ticks: bar closes at ticks 2,4,6,8 — the 4th close (tick 8,
    # the last pre-gap tick) emits the long signal, whose 5s latency
    # deadline falls inside the 10-minute gap that follows.
    prices = [100.0 + i * 0.5 for i in range(9)]
    rows = []
    for i, p in enumerate(prices):
        ms = T0_MS + i * 30_000
        rows.append(("X", datetime.utcfromtimestamp(ms / 1000.0), ms, ms, p - 0.01, p + 0.01))
    gap_start_ms = T0_MS + 9 * 30_000
    after_ms = gap_start_ms + 600_000  # 10 min gap
    for i in range(6):
        ms = after_ms + i * 30_000
        p = 103.0 - i
        rows.append(("X", datetime.utcfromtimestamp(ms / 1000.0), ms, ms, p - 0.01, p + 0.01))
    ticks = spark.createDataFrame(
        rows,
        "symbol string, timestamp timestamp, time_msc long, collected_msc long, bid double, ask double",
    )

    def run(extra):
        s = scen(spark, lat=(5_000, 5_000), seed=3, **extra)
        res = run_backtest(ticks, s)
        return trades_table(res).orderBy("trade_id").collect()

    base_trades = run({})
    hb_trades = run({"heartbeat_ms": 60_000})

    assert base_trades and hb_trades
    # the entry whose 5s latency deadline lands in the gap:
    # without heartbeat it fills on the first post-gap tick; with heartbeat
    # it fills at the deadline at the last pre-gap ask.
    hb_entry_ms = {int(t["entry_ts"].timestamp() * 1000) for t in hb_trades}
    base_entry_ms = {int(t["entry_ts"].timestamp() * 1000) for t in base_trades}
    assert any(ms < after_ms and ms > gap_start_ms - 30_000 for ms in hb_entry_ms), hb_entry_ms
    assert not any(gap_start_ms - 25_000 < ms < after_ms for ms in base_entry_ms), base_entry_ms


def test_gap_anti_join_filters_moves(spark):
    from finiextestingide_spark.operators.extremes import filter_moves_by_gaps

    cands = spark.createDataFrame(
        [
            ("X", "UP", datetime(2026, 1, 3, 10), datetime(2026, 1, 3, 12), 4.0),
            ("X", "UP", datetime(2026, 1, 4, 1), datetime(2026, 1, 4, 3), 5.0),
            ("Y", "UP", datetime(2026, 1, 4, 1), datetime(2026, 1, 4, 2), 6.0),
        ],
        "key string, direction string, start_time timestamp, end_time timestamp, move_atr_multiple double",
    )
    gaps = spark.createDataFrame(
        [("X", datetime(2026, 1, 4, 0), datetime(2026, 1, 4, 6))],
        "key string, gap_start timestamp, gap_end timestamp",
    )
    kept = sorted(
        (r["key"], r["start_time"].hour) for r in filter_moves_by_gaps(cands, gaps).collect()
    )
    # X's 01:00 move starts inside X's gap -> dropped; Y untouched (gap is X's)
    assert kept == [("X", 10), ("Y", 1)]


# --- R10 decision-logic depth: macd_cross + consensus strategies ---


def test_macd_cross_matches_independent_recursion():
    """MacdCross targets must equal an independently-coded SMA-seeded EMA
    recursion (the W3 formula flavor, reference macd_worker.py:262-284)."""
    from finiextestingide_spark.operators.replay import MacdCross

    closes = [100.0, 101.5, 99.8, 102.2, 103.0, 101.1, 104.5, 105.2, 103.9,
              106.0, 107.2, 105.5, 108.1, 109.0, 107.7, 110.3, 111.0, 109.5]
    fast, slow, signal = 3, 6, 3

    def ema_seq(vals, n):
        out, val, alpha = [], None, 2.0 / (n + 1.0)
        for i, x in enumerate(vals):
            if val is None and i + 1 == n:
                val = sum(vals[: n]) / n
            elif val is not None:
                val = val + alpha * (x - val)
            out.append(val)
        return out

    ef, es = ema_seq(closes, fast), ema_seq(closes, slow)
    macds = [f - s for f, s in zip(ef, es) if f is not None and s is not None]
    sigs = ema_seq(macds, signal)
    expected = []
    target = 0
    si = 0
    for i in range(len(closes)):
        if es[i] is None:
            expected.append(target)
            continue
        macd, sig = macds[si], sigs[si]
        si += 1
        if sig is not None:
            target = 1 if macd > sig else -1
        expected.append(target)

    strat = MacdCross({"fast": str(fast), "slow": str(slow), "signal": str(signal)})
    got = [strat.on_bar(c) for c in closes]
    assert got == expected
    assert any(t != 0 for t in got)  # the path actually produces signals


def test_consensus_is_majority_of_subsignals():
    from finiextestingide_spark.operators.replay import (
        Consensus,
        MacdCross,
        RsiReversion,
        SmaCross,
    )

    params = {"fast": "2", "slow": "4", "period": "3", "signal": "2"}
    closes = [100.0, 101.0, 102.0, 103.0, 104.0, 103.0, 101.0, 99.0, 97.0,
              95.0, 96.0, 98.0, 100.0, 102.0, 104.0, 106.0]
    subs = [SmaCross(dict(params)), RsiReversion(dict(params)), MacdCross(dict(params))]
    cons = Consensus(dict(params))
    target = 0
    for c in closes:
        votes = [s.on_bar(c) for s in subs]
        for side in (1, -1):
            if sum(1 for v in votes if v == side) >= 2:
                target = side
        assert cons.on_bar(c) == target


def test_replay_macd_and_consensus_deterministic(spark):
    prices = PRICES + [94.0 + i * 0.8 for i in range(12)]
    ticks = make_ticks(spark, prices)
    for strat, extra in [
        ("macd_cross", {"fast": 2, "slow": 4, "signal": 2}),
        ("consensus", {"fast": 2, "slow": 4, "period": 3, "signal": 2}),
    ]:
        s = scen(spark, seed=11, lat=(1000, 20_000), strategy=strat, **extra)
        r1 = run_backtest(ticks, s).collect()[0]
        r2 = run_backtest(ticks, s).collect()[0]
        assert r1["trades"] == r2["trades"], strat
        assert r1["bars_closed"] == len(prices) // 2 - 1
        assert r1["trades_count"] >= 1, strat


def test_replay_tick_tie_order_deterministic_across_partitionings(spark):
    """Ticks tied on time_msc must replay in the same order regardless of
    input partitioning (reference bug #385 class; regression for the
    mergesort-on-time_msc-only sort)."""
    rows = []
    for i, p in enumerate(PRICES):
        ms = T0_MS + (i // 2) * 60_000  # PAIRS of ticks share one time_msc
        rows.append(("X", datetime.utcfromtimestamp(ms / 1000.0), ms, ms,
                     p - 0.01, p + 0.01))
    ddl = ("symbol string, timestamp timestamp, time_msc long, collected_msc long, "
           "bid double, ask double")
    results = []
    for nparts in (1, 3, 8):
        ticks = spark.createDataFrame(rows, ddl).repartition(nparts)
        res = run_backtest(ticks, scen(spark, seed=5, lat=(500, 90_000))).collect()[0]
        results.append((res["trades"], res["final_equity"], res["bars_closed"]))
    assert results[0] == results[1] == results[2]


# --- R3 depth: resting limit/stop entry orders ---


def test_replay_limit_entry_fills_at_limit_on_dip(spark):
    # buy_hold decides long at i=2 (first tick of bar 2, ask=101.01);
    # limit = 101.01 - 0.3 = 100.71 rests until the dip at i=4 (ask=100.61)
    prices = [100.0, 100.0, 101.0, 101.0, 100.6, 102.0, 103.0, 104.0]
    ticks = make_ticks(spark, prices)
    res = run_backtest(
        ticks,
        scen(spark, strategy="buy_hold", entry_type="limit", entry_offset=0.3),
    ).collect()[0]
    tr = sorted(res["trades"], key=lambda t: t["trade_id"])
    assert len(tr) == 1
    assert tr[0]["entry_price"] == pytest.approx(100.71)  # filled AT the limit
    assert int(tr[0]["entry_ts"].timestamp() * 1000) == T0_MS + 4 * 30_000
    assert tr[0]["exit_reason"] == "END"


def test_replay_stop_entry_fills_at_market_on_breakout(spark):
    # stop = 101.01 + 0.5 = 101.51; breakout at i=5 (ask=102.01) fills at market
    prices = [100.0, 100.0, 101.0, 101.0, 101.2, 102.0, 103.0, 104.0]
    ticks = make_ticks(spark, prices)
    res = run_backtest(
        ticks,
        scen(spark, strategy="buy_hold", entry_type="stop", entry_offset=0.5),
    ).collect()[0]
    tr = sorted(res["trades"], key=lambda t: t["trade_id"])
    assert len(tr) == 1
    assert tr[0]["entry_price"] == pytest.approx(102.01)  # market, not the stop
    assert int(tr[0]["entry_ts"].timestamp() * 1000) == T0_MS + 5 * 30_000


def test_replay_flip_cancels_resting_limit(spark):
    # a far-away limit never triggers; each flip cancels the previous
    # resting entry (resolve-modify/cancel phase) -> zero trades
    ticks = make_ticks(spark, PRICES)
    res = run_backtest(
        ticks, scen(spark, entry_type="limit", entry_offset=50.0)
    ).collect()[0]
    assert res["trades_count"] == 0
    assert res["final_equity"] == 10_000.0


def test_replay_market_path_unchanged_by_order_types(spark):
    # default market behavior must be byte-identical to before the
    # limit/stop extension (golden invariants from the existing suite)
    ticks = make_ticks(spark, PRICES)
    res = run_backtest(ticks, scen(spark)).collect()[0]
    tr = sorted(res["trades"], key=lambda t: t["trade_id"])
    assert len(tr) == 2
    assert tr[0]["direction"] == "LONG" and tr[1]["direction"] == "SHORT"


def test_replay_swap_accrual_charges_day_boundaries(spark):
    # ticks at day 0 (2 bars -> entry), then days 1 and 3 (gap skips day 2):
    # boundaries crossed while holding = 3 -> swap = 3 * rate
    day = 86_400_000
    times = [0, 30_000, 60_000, 90_000, day, day + 30_000, 3 * day, 3 * day + 30_000]
    rows = []
    for ms_off, p in zip(times, [100.0, 100.0, 101.0, 101.0, 102.0, 102.0, 103.0, 103.0]):
        ms = T0_MS + ms_off
        rows.append(("X", datetime.utcfromtimestamp(ms / 1000.0), ms, ms,
                     p - 0.01, p + 0.01))
    ticks = spark.createDataFrame(
        rows,
        "symbol string, timestamp timestamp, time_msc long, collected_msc long, bid double, ask double",
    )
    res = run_backtest(
        ticks, scen(spark, strategy="buy_hold", swap_long_daily=2.0)
    ).collect()[0]
    tr = res["trades"]
    assert len(tr) == 1
    assert tr[0]["swap"] == pytest.approx(6.0)  # 3 boundaries x 2.0
    assert res["swap"] == pytest.approx(6.0)
    # net = gross - swap; final equity folds the swap in exactly once
    assert tr[0]["net_pnl"] == pytest.approx(tr[0]["gross_pnl"] - 6.0)
    assert res["final_equity"] == pytest.approx(10_000.0 + res["net_pnl"])


def test_replay_margin_rejects_unaffordable_open(spark):
    ticks = make_ticks(spark, PRICES)
    res = run_backtest(
        ticks, scen(spark, strategy="buy_hold", margin_per_lot=20_000.0)
    ).collect()[0]
    assert res["trades_count"] == 0
    assert res["orders_rejected"] == 1
    assert res["final_equity"] == 10_000.0

    ok = run_backtest(
        ticks, scen(spark, strategy="buy_hold", margin_per_lot=5_000.0)
    ).collect()[0]
    assert ok["trades_count"] == 1
    assert ok["orders_rejected"] == 0


# --- fast-path equivalence: vectorized replay vs the reference loop ---


def _run_both(spark, ticks, **over):
    fast = run_backtest(ticks, scen(spark, equity_sample_every=0, **over)).collect()[0]
    slow = run_backtest(
        ticks, scen(spark, equity_sample_every=0, force_slow=1, **over)
    ).collect()[0]
    return fast, slow


def _assert_identical(fast, slow):
    assert fast["trades"] == slow["trades"]
    for k in ("ticks_processed", "bars_closed", "trades_count", "wins", "losses",
              "gross_profit", "gross_loss", "fees", "net_pnl", "final_equity",
              "max_drawdown"):
        assert fast[k] == slow[k], k


@pytest.mark.slow  # 77 s: full golden-path sweep; the random-walk
# Hypothesis parity test above keeps fast default coverage of the same path
def test_fast_path_identical_on_golden_paths(spark):
    for prices in [
        PRICES,
        PRICES[::-1],
        [100.0] * 24,
        [100.0 + ((i * 7919) % 13) * 0.25 for i in range(60)],
    ]:
        ticks = make_ticks(spark, prices)
        for over in [
            {},
            {"strategy": "rsi_reversion", "period": 3},
            {"strategy": "macd_cross", "fast": 2, "slow": 4, "signal": 2},
            {"lat": (500, 90_000), "seed": 3},
            {"lat": (1, 200_000), "seed": 9, "fee_per_side": 0.5},
        ]:
            lat = over.pop("lat", (0, 0))
            seed = over.pop("seed", 7)
            fast, slow = _run_both(spark, ticks, lat=lat, seed=seed, **over)
            _assert_identical(fast, slow)


def test_fast_path_used_and_slow_forced(spark):
    # sanity: the two paths genuinely differ in implementation — SL/TP
    # configs must keep taking the loop (trades carry SL exits only there)
    prices = [100.0, 100.2, 100.4, 100.6, 90.0, 89.0, 88.0, 87.0]
    ticks = make_ticks(spark, prices)
    res = run_backtest(
        ticks, scen(spark, strategy="buy_hold", sl_dist=2.0, equity_sample_every=0)
    ).collect()[0]
    assert any(t["exit_reason"] == "SL" for t in res["trades"])


def test_replay_short_limit_and_stop_sides(spark):
    # force a SHORT signal via sma_cross on a crash, then verify both
    # resting entry kinds on the short side
    prices = [100.0] * 8 + [95.0, 94.0, 96.5, 93.0, 92.0, 91.0, 90.0, 89.0]
    ticks = make_ticks(spark, prices)
    # short limit: trig = bid@decision + offset; fills AT the limit when bid >= trig
    res_l = run_backtest(
        ticks, scen(spark, entry_type="limit", entry_offset=1.5)
    ).collect()[0]
    lt = [t for t in res_l["trades"] if t["direction"] == "SHORT"]
    if lt:  # fills only if a bounce reaches the limit
        assert all(t["entry_price"] > 90.0 for t in lt)
    # short stop: trig = bid@decision - offset; fills at MARKET when bid <= trig
    res_s = run_backtest(
        ticks, scen(spark, entry_type="stop", entry_offset=1.0)
    ).collect()[0]
    st = [t for t in res_s["trades"] if t["direction"] == "SHORT"]
    assert st, "short stop should trigger on the continued crash"
    # market fill: entry at the triggering tick's bid, below the stop level
    decision_bids = [p - 0.01 for p in prices]
    assert all(any(abs(t["entry_price"] - b) < 1e-9 for b in decision_bids) for t in st)


# ---------------------------------------------------------------------------
# Round-4 semantics: multi-position, partial close, STOP_LIMIT, modify
# lifecycle, spot dual-balance (reference suites tests/simulation/
# {multi_position,partial_close,modify_lifecycle,spot_trading}/)
# ---------------------------------------------------------------------------

# steady rise: SMA(2) crosses above SMA(4) early and stays above
RISING = [100.0 + i * 0.5 for i in range(24)]


def test_pyramid_opens_up_to_cap_and_closes_all(spark):
    ticks = make_ticks(spark, RISING)
    s = scen(spark, strategy="pyramid", fast=2, slow=4, max_positions=3)
    res = run_backtest(ticks, s).collect()[0]
    tr = sorted((t.asDict() for t in res["trades"]), key=lambda r: r["trade_id"])
    assert res["trades_count"] == 3
    assert [t["position_id"] for t in tr] == [0, 1, 2]
    assert all(t["close_type"] == "FULL" for t in tr)
    assert all(t["direction"] == "LONG" for t in tr)
    # the ladder opens on three consecutive bar closes -> strictly rising entries
    entries = [t["entry_price"] for t in tr]
    assert entries == sorted(entries) and len(set(entries)) == 3
    # all three positions close together at data end
    assert len({t["exit_ts"] for t in tr}) == 1
    assert all(t["exit_reason"] == "END" for t in tr)


def test_pyramid_flip_closes_oldest_first(spark):
    prices = [100.0 + i * 0.5 for i in range(16)] + [108.0 - i * 2.0 for i in range(8)]
    ticks = make_ticks(spark, prices)
    s = scen(spark, strategy="pyramid", fast=2, slow=4, max_positions=2)
    res = run_backtest(ticks, s).collect()[0]
    tr = sorted((t.asDict() for t in res["trades"]), key=lambda r: r["trade_id"])
    sig = [t for t in tr if t["exit_reason"] == "SIGNAL"]
    assert len(sig) >= 2
    # FIFO close order: among same-exit trades, entry_ts ascending
    assert sig[0]["exit_ts"] == sig[1]["exit_ts"]
    assert sig[0]["entry_ts"] < sig[1]["entry_ts"]


def test_scale_out_emits_partial_then_full(spark):
    ticks = make_ticks(spark, RISING)
    s = scen(spark, strategy="scale_out", fast=2, slow=4, fraction=0.5, hold_bars=3)
    res = run_backtest(ticks, s).collect()[0]
    tr = sorted((t.asDict() for t in res["trades"]), key=lambda r: r["trade_id"])
    assert [t["close_type"] for t in tr] == ["PARTIAL", "FULL"]
    part, full = tr
    assert part["lots"] == pytest.approx(0.5)
    assert full["lots"] == pytest.approx(0.5)
    assert part["position_id"] == full["position_id"] == 0
    assert part["entry_price"] == full["entry_price"]
    assert part["exit_ts"] < full["exit_ts"]
    # proportional P&L: each record carries its own lots' gross
    assert part["gross_pnl"] == pytest.approx(
        (part["exit_price"] - part["entry_price"]) * 0.5
    )
    assert full["gross_pnl"] == pytest.approx(
        (full["exit_price"] - full["entry_price"]) * 0.5
    )


def test_scale_out_short_island_skips_partial(spark):
    # island too short to reach hold_bars -> single FULL record
    prices = [100.0] * 8 + [104.0, 104.0, 105.0, 105.0] + [90.0] * 8
    ticks = make_ticks(spark, prices)
    s = scen(spark, strategy="scale_out", fast=2, slow=4, fraction=0.5, hold_bars=6)
    res = run_backtest(ticks, s).collect()[0]
    tr = [t.asDict() for t in res["trades"]]
    assert [t["close_type"] for t in tr] == ["FULL"]
    assert tr[0]["lots"] == pytest.approx(1.0)


def test_stop_limit_converts_then_fills_on_pullback(spark):
    # rest at t2: trig=102.01, lim=101.01; breakout at 104 converts; pullback
    # to 101 fills AT the limit price; buy_hold holds to END
    prices = [100.0, 100.0, 100.0, 100.0, 104.0, 104.0, 101.0, 101.0, 99.0, 99.0]
    ticks = make_ticks(spark, prices)
    s = scen(
        spark,
        strategy="buy_hold",
        entry_type="stop_limit",
        entry_offset=2.0,
        limit_offset=1.0,
    )
    res = run_backtest(ticks, s).collect()[0]
    tr = [t.asDict() for t in res["trades"]]
    assert len(tr) == 1
    assert tr[0]["entry_price"] == pytest.approx(101.01)
    assert tr[0]["exit_reason"] == "END"


def test_stop_limit_immediate_fill_at_limit_above_market(spark):
    # limit_offset < 0 puts the limit ABOVE the trigger: conversion tick
    # already satisfies ask <= limit -> same-tick fill at the limit price
    prices = [100.0, 100.0, 100.0, 100.0, 103.0, 103.0, 99.0, 99.0]
    ticks = make_ticks(spark, prices)
    s = scen(
        spark,
        strategy="buy_hold",
        entry_type="stop_limit",
        entry_offset=2.0,
        limit_offset=-1.0,
    )
    res = run_backtest(ticks, s).collect()[0]
    tr = [t.asDict() for t in res["trades"]]
    assert len(tr) == 1
    # trig = 102.01, limit = 103.01; converts at ask=103.01 and fills at 103.01
    assert tr[0]["entry_price"] == pytest.approx(103.01)


def test_modify_lifecycle_moves_trigger_then_fills(spark):
    # limit rests 5 under market (never fills); after 2 bars the trigger is
    # modified +4 (applies next tick, Phase 0); fills at the NEW price when
    # the market dips under it
    prices = [100.0] * 8 + [98.0] * 4
    ticks = make_ticks(spark, prices)
    s = scen(
        spark,
        strategy="buy_hold",
        entry_type="limit",
        entry_offset=5.0,
        modify_after_bars=2,
        modify_delta=4.0,
    )
    res = run_backtest(ticks, s).collect()[0]
    tr = [t.asDict() for t in res["trades"]]
    assert len(tr) == 1
    # original trig = 100.01 - 5 = 95.01; modified = 99.01
    assert tr[0]["entry_price"] == pytest.approx(99.01)


def test_cancel_lifecycle_removes_resting_order(spark):
    prices = [100.0] * 8 + [90.0] * 4  # would fill the original trigger...
    ticks = make_ticks(spark, prices)
    s = scen(
        spark,
        strategy="buy_hold",
        entry_type="limit",
        entry_offset=5.0,
        cancel_after_bars=2,
    )
    res = run_backtest(ticks, s).collect()[0]
    # ...but the cancel resolved first (bar 2 close + 1ms < the dip)
    assert res["trades_count"] == 0


def test_modify_does_not_apply_same_tick(spark):
    # the modify schedules at a bar-close tick; a fill on that SAME tick
    # must use the OLD trigger (op applies at ms+1, reference Phase 0)
    prices = [100.0] * 6 + [95.0, 98.0] + [98.0] * 4
    ticks = make_ticks(spark, prices)
    # original trig 95.01: the t6 dip (ask 95.01) fills it on the very tick
    # where modify_after_bars=2 schedules its op -> old price wins
    s = scen(
        spark,
        strategy="buy_hold",
        entry_type="limit",
        entry_offset=5.0,
        modify_after_bars=2,
        modify_delta=4.0,
    )
    res = run_backtest(ticks, s).collect()[0]
    tr = [t.asDict() for t in res["trades"]]
    assert len(tr) == 1
    assert tr[0]["entry_price"] == pytest.approx(95.01)


def test_spot_balance_walk_and_equity(spark):
    # LONG round trip in spot mode, no fees: quote walk is
    # -lots*entry +lots*exit; base returns to base_start; equity = quote +
    # base*mid(last)
    prices = [100.0] * 2 + [101.0] * 2 + [102.0] * 2 + [103.0] * 2 + [95.0] * 8
    ticks = make_ticks(spark, prices)
    s = scen(
        spark,
        strategy="sma_cross",
        fast=2,
        slow=3,
        spot_mode=1,
        start_balance=10_000.0,
        base_start=5.0,
        lots=2.0,
    )
    res = run_backtest(ticks, s).collect()[0]
    tr = sorted((t.asDict() for t in res["trades"]), key=lambda r: r["trade_id"])
    assert res["trades_count"] >= 1
    quote = 10_000.0
    for t in tr:
        if t["direction"] == "LONG":
            quote += -2.0 * t["entry_price"] + 2.0 * t["exit_price"]
        else:
            quote += 2.0 * t["entry_price"] - 2.0 * t["exit_price"]
    last_mid = 95.0
    assert res["final_equity"] == pytest.approx(quote + 5.0 * last_mid)


def test_spot_insufficient_base_rejects_short(spark):
    # declining prices -> first signal is SHORT; base_start=0 cannot SELL
    prices = [110.0 - i for i in range(16)]
    ticks = make_ticks(spark, prices)
    s = scen(
        spark,
        strategy="sma_cross",
        fast=2,
        slow=3,
        spot_mode=1,
        start_balance=10_000.0,
        base_start=0.0,
    )
    res = run_backtest(ticks, s).collect()[0]
    assert res["orders_rejected"] >= 1
    assert res["trades_count"] == 0


def test_pyramid_latency_deterministic_per_seed(spark):
    prices = [100.0 + ((i * 7) % 13) * 0.3 for i in range(60)]
    ticks = make_ticks(spark, prices)

    def run(seed):
        s = scen(
            spark, seed=seed, lat=(50, 40_000),
            strategy="pyramid", fast=2, slow=4, max_positions=3,
        )
        r = run_backtest(ticks, s).collect()[0]
        return [(t["entry_ts"], t["exit_ts"], t["entry_price"]) for t in r["trades"]]

    assert run(11) == run(11)


def test_bounded_collect_guards_driver_size(spark):
    from finiextestingide_spark.operators.replay import _bounded_collect

    df = spark.range(10)
    assert len(_bounded_collect(df, 10, "x")) == 10
    with pytest.raises(ValueError, match="more than 3 rows"):
        _bounded_collect(df, 3, "x")


def test_trend_channel_full_surface_and_determinism(spark):
    """The production-complexity strategy port: resting entries with
    attached SL/TP, trailing modifies, R-rung partial closes, and
    determinism (same seed => identical trade sequence; reference suite
    tests/simulation/trend_channel_reference/)."""
    import numpy as np

    rng = np.random.default_rng(3)
    mid = 100 + np.cumsum(rng.normal(0.02, 0.4, 4000))
    prices = [float(x) for x in mid]
    ticks = make_ticks(spark, prices, step_ms=30_000)

    def run(seed, mode):
        s = scen(
            spark, seed=seed, lat=(50, 5_000),
            strategy="trend_channel", entry_mode=mode,
            bar_ms=900_000, boll_period=12, gate_every_bars=4,
            gate_ma_period=8, max_positions=2,
        )
        r = run_backtest(ticks, s).collect()[0]
        return r

    r1 = run(5, "limit_pullback")
    r2 = run(5, "limit_pullback")
    assert [t.asDict() for t in r1["trades"]] == [t.asDict() for t in r2["trades"]]
    assert r1["trades_count"] > 0
    kinds = {t["close_type"] for t in r1["trades"]}
    reasons = {t["exit_reason"] for t in r1["trades"]}
    # the full surface fired: partial closes and broker-side SL/TP exits
    assert "PARTIAL" in kinds
    assert reasons & {"SL", "TP"}
    # stacking: at least one pair of trades overlaps in time
    spans = sorted(
        ((t["entry_ts"], t["exit_ts"]) for t in r1["trades"]), key=lambda s: s[0]
    )
    assert any(spans[i][1] > spans[i + 1][0] for i in range(len(spans) - 1))
    # breakout mode also trades
    rb = run(5, "stop_breakout")
    assert rb["trades_count"] > 0


def test_sl_tp_fill_at_level_not_mark(spark):
    """Reference contract (abstract_trade_executor._check_sl_tp_triggers):
    a triggered SL/TP closes AT the configured level even when the price
    gaps through it; the gap still shows up in MAE."""
    # gap from 100.x straight to 90: SL level = entry - 2.0
    prices = [100.0, 100.2, 100.4, 100.6, 90.0, 89.0, 88.0, 87.0]
    ticks = make_ticks(spark, prices)
    s = scen(spark, strategy="buy_hold", sl_dist=2.0)
    tr = sorted(run_backtest(ticks, s).collect()[0]["trades"], key=lambda t: t["trade_id"])
    entry = tr[0]["entry_price"]
    assert tr[0]["exit_price"] == pytest.approx(entry - 2.0)
    assert tr[0]["gross_pnl"] == pytest.approx(-2.0)
    # the gap to bid=89.99 exceeded the SL distance -> deeper MAE than gross
    assert tr[0]["mae_pnl"] < tr[0]["gross_pnl"]

    # TP side: gap through the level fills at the level exactly
    prices2 = [100.0, 100.2, 100.1, 100.3, 103.0, 103.5, 104.0, 104.5]
    tp = sorted(
        run_backtest(make_ticks(spark, prices2), scen(spark, strategy="buy_hold", tp_dist=1.5))
        .collect()[0]["trades"],
        key=lambda t: t["trade_id"],
    )
    assert tp[0]["gross_pnl"] == pytest.approx(1.5)


def test_price_digits_snaps_order_prices(spark):
    """order_precision contract (_round_price at submission): limit
    triggers snap to the symbol's digits; fills happen at the snapped
    price."""
    prices = [100.0] * 4 + [99.0] * 6
    ticks = make_ticks(spark, prices)
    # raw trig = ask(d1) - 0.37 = 100.01 - 0.37 = 99.64 -> snapped to 99.6
    s = scen(
        spark, strategy="buy_hold", entry_type="limit",
        entry_offset=0.37, price_digits=1,
    )
    tr = run_backtest(ticks, s).collect()[0]["trades"]
    assert len(tr) == 1
    assert tr[0]["entry_price"] == pytest.approx(99.6)


def test_pyramid_reclaims_margin_rejected_slots(spark):
    """An emitted open that the book margin-rejects never filled, so the
    strategy's self-tracked count must not burn the slot permanently: with
    margin for only one position, pyramid keeps retrying on every rising
    bar (rejections accumulate) instead of silently stalling at its cap."""
    ticks = make_ticks(spark, RISING)
    s = scen(
        spark, strategy="pyramid", fast=2, slow=4, max_positions=3,
        margin_per_lot=8_000.0,
    )
    res = run_backtest(ticks, s).collect()[0]
    assert res["trades_count"] == 1  # only one position ever affordable
    # without slot reclaim the count would stick at max_positions after 2
    # rejections; retry-per-bar proves the on_open_dropped feedback works
    assert res["orders_rejected"] > 2


def test_capacity_dropped_market_open_counts_rejected():
    """A market open arriving at a full book is dropped — it must surface
    in orders_rejected, not vanish from ExecutionStats. Runs the per-
    scenario pandas core in-process so a test-only strategy can be
    registered (worker processes re-import the module registry)."""
    import pandas as pd

    from finiextestingide_spark.operators import replay as R

    class _AlwaysOpen:
        warmup = 1

        def __init__(self, params):
            pass

        def on_bar_actions(self, close):
            return [("open", 1, 1.0)]

    rows = []
    for i, p in enumerate(RISING):
        ms = T0_MS + i * 30_000
        rows.append({"symbol": "X", "time_msc": ms, "collected_msc": ms,
                     "bid": p - 0.01, "ask": p + 0.01})
    pdf = pd.DataFrame(rows)
    scen_cfg = {
        "scenario_id": 1,
        "parameters": {**BASE, "strategy": "always_open_test",
                       "max_positions": "1"},
        "tick_processing_budget_ms": None,
        "latency_seed": 7,
        "latency_min_ms": 0,
        "latency_max_ms": 0,
        "max_ticks": None,
    }
    R.STRATEGIES["always_open_test"] = _AlwaysOpen
    try:
        res = R._replay_core(pdf, scen_cfg).iloc[0]
    finally:
        del R.STRATEGIES["always_open_test"]
    assert res["trades_count"] == 1
    # every post-fill bar's open is capacity-dropped and counted
    assert res["orders_rejected"] >= 5


def test_seeded_probability_filter_contract():
    """Parity with the reference seeded_probability_filter.py: strict-
    interior probabilities draw once per call from random.Random(seed);
    the 0.0/1.0 shortcuts never advance the RNG; out-of-range raises."""
    import random as _random

    from finiextestingide_spark.operators.seeded import SeededProbabilityFilter

    f = SeededProbabilityFilter(123, 0.4)
    ref = _random.Random(123)
    assert [f.should_trigger() for _ in range(50)] == [
        ref.random() < 0.4 for _ in range(50)
    ]
    always, never = SeededProbabilityFilter(1, 1.0), SeededProbabilityFilter(1, 0.0)
    assert all(always.should_trigger() for _ in range(5))
    assert not any(never.should_trigger() for _ in range(5))
    with pytest.raises(ValueError):
        SeededProbabilityFilter(1, 1.5)


def test_stress_rejection_seeded_determinism(spark):
    """R2-style parity for the stress-rejection filter: same seed => same
    kept/rejected order set; probability 1.0 rejects every open; 0.0 is
    bit-identical to no stress config."""
    ticks = make_ticks(spark, PRICES)
    a = run_backtest(
        ticks, scen(spark, reject_probability=0.5, reject_seed=11)
    ).collect()[0]
    b = run_backtest(
        ticks, scen(spark, reject_probability=0.5, reject_seed=11)
    ).collect()[0]
    assert a["trades"] == b["trades"]
    assert a["orders_rejected"] == b["orders_rejected"]

    all_rej = run_backtest(ticks, scen(spark, reject_probability=1.0)).collect()[0]
    assert all_rej["trades_count"] == 0
    assert all_rej["orders_rejected"] >= 1

    base = run_backtest(ticks, scen(spark)).collect()[0]
    off = run_backtest(ticks, scen(spark, reject_probability=0.0)).collect()[0]
    assert off["trades"] == base["trades"]
    assert off["orders_rejected"] == base["orders_rejected"]


def test_strategy_plugin_entry_point_discovery(tmp_path):
    """A strategy shipped by an installed distribution (entry-point group
    finiextestingide_spark.strategies) is auto-discovered on the first
    unknown strategy name — registration without editing framework code."""
    import sys
    import pandas as pd

    from finiextestingide_spark.operators import replay as R

    # synthetic installed distribution: module + dist-info on sys.path
    site = tmp_path / "site"
    site.mkdir()
    (site / "myplugin.py").write_text(
        "class EveryBarLong:\n"
        "    warmup = 1\n"
        "    def __init__(self, params):\n"
        "        self._opened = False\n"
        "    def on_bar_actions(self, close):\n"
        "        if not self._opened:\n"
        "            self._opened = True\n"
        "            return [('open', 1, 1.0)]\n"
        "        return []\n"
    )
    dist = site / "myplugin-1.0.dist-info"
    dist.mkdir()
    (dist / "METADATA").write_text("Metadata-Version: 2.1\nName: myplugin\nVersion: 1.0\n")
    (dist / "entry_points.txt").write_text(
        "[finiextestingide_spark.strategies]\nplugin_long = myplugin:EveryBarLong\n"
    )
    sys.path.insert(0, str(site))
    try:
        R._plugins_loaded = False
        rows = []
        for i, p in enumerate([100.0 + 0.1 * i for i in range(8)]):
            ms = T0_MS + i * 30_000
            rows.append({"symbol": "X", "time_msc": ms, "collected_msc": ms,
                         "bid": p - 0.01, "ask": p + 0.01})
        scen_cfg = {
            "scenario_id": 1,
            "parameters": {**BASE, "strategy": "plugin_long"},
            "tick_processing_budget_ms": None,
            "latency_seed": 7,
            "latency_min_ms": 0,
            "latency_max_ms": 0,
            "max_ticks": None,
        }
        res = R._replay_core(pd.DataFrame(rows), scen_cfg).iloc[0]
        assert res["trades_count"] == 1  # the plugin's single long, END-closed
        assert "plugin_long" in R.STRATEGIES
        # built-ins cannot be shadowed
        assert R.STRATEGIES["pyramid"].__name__ == "Pyramid"
    finally:
        sys.path.remove(str(site))
        R.STRATEGIES.pop("plugin_long", None)
        R._plugins_loaded = False


def _tc_run(spark, ticks, mode, per_tick, seed=5):
    s = scen(
        spark, seed=seed, lat=(50, 5_000),
        strategy="trend_channel", entry_mode=mode,
        manage_per_tick=1 if per_tick else 0,
        bar_ms=900_000, boll_period=12, gate_every_bars=4,
        gate_ma_period=8, max_positions=2,
    )
    return run_backtest(ticks, s).collect()[0]


def test_trend_channel_reference_suite_both_modes(spark):
    """The reference's trend_channel_reference suite, replicated per mode
    (tests/simulation/trend_channel_reference/test_trend_channel_reference.py):
    entries only via resting orders, SL and TP both occur, the always-on
    trailing stop closes at least one trade in profit, the partial-close
    ladder splits a position across records, positions stack concurrently,
    and the capacity/gate guards keep orders_rejected at 0. Asserted for
    the per-tick (reference-parity default) AND bar-close-bounded modes."""
    import numpy as np

    rng = np.random.default_rng(3)
    mid = 100 + np.cumsum(rng.normal(0.02, 0.4, 4000))
    ticks = make_ticks(spark, [float(x) for x in mid], step_ms=30_000)

    for per_tick in (True, False):
        trades = []
        for mode in ("limit_pullback", "stop_breakout"):
            r = _tc_run(spark, ticks, mode, per_tick)
            assert r["trades_count"] > 0, (mode, per_tick)
            assert r["orders_rejected"] == 0, (mode, per_tick)
            trades += [t.asDict() for t in r["trades"]]
        reasons = {t["exit_reason"] for t in trades}
        if per_tick:
            # the reference suite runs per-tick management; both broker
            # exits occur and the always-on ratchet closes in profit
            assert "SL" in reasons and "TP" in reasons
            trailed = [
                t for t in trades if t["exit_reason"] == "SL" and t["gross_pnl"] > 0
            ]
            assert trailed, "no SL exit in profit (trailing did not ratchet)"
        else:
            # bar-close-bounded management ratchets less often; broker
            # exits still fire (the original port's contract)
            assert reasons & {"SL", "TP"}
        # partial-close ladder: one position closes across >1 record
        by_pos = {}
        for t in trades:
            by_pos.setdefault((t["entry_ts"], t["direction"]), []).append(t)
        assert any(len(v) > 1 for v in by_pos.values()), per_tick
        assert any(t["close_type"] == "PARTIAL" for t in trades), per_tick
        # multi-position stacking: overlapping lifetimes
        spans = sorted((t["entry_ts"], t["exit_ts"]) for t in trades)
        assert any(
            spans[i][1] > spans[i + 1][0] for i in range(len(spans) - 1)
        ), per_tick


def test_trend_channel_per_tick_ratchets_intrabar(spark):
    """Divergence pin for the two cadences: per-tick management ratchets
    the trail during an intrabar spike that fully retraces before the bar
    closes — bar-close-bounded management never sees the peak. Each mode
    is deterministic; their trade outputs differ on this path."""
    import numpy as np

    rng = np.random.default_rng(3)
    mid = 100 + np.cumsum(rng.normal(0.02, 0.4, 4000))
    ticks = make_ticks(spark, [float(x) for x in mid], step_ms=30_000)

    pt1 = _tc_run(spark, ticks, "limit_pullback", True)
    pt2 = _tc_run(spark, ticks, "limit_pullback", True)
    bc = _tc_run(spark, ticks, "limit_pullback", False)
    assert [t.asDict() for t in pt1["trades"]] == [t.asDict() for t in pt2["trades"]]
    assert [t.asDict() for t in pt1["trades"]] != [t.asDict() for t in bc["trades"]]


def test_stale_window_blocks_entries_and_fires_hook_once():
    """Stale-data stress (#436, tests/simulation/stale_stress): a planned
    stale window blocks NEW entries deterministically (counted separately
    from broker rejections), the status hook fires exactly once on window
    entry, entries resume after the window, and a no-window control run is
    untouched."""
    import pandas as pd

    from finiextestingide_spark.operators import replay as R

    calls = []

    class _OpenEachBar:
        warmup = 1

        def __init__(self, params):
            self._n = 0

        def on_bar_actions(self, close):
            self._n += 1
            return [("open", 1, 1.0)] if self._n <= 3 else []

        def on_market_data_stale(self):
            calls.append("stale")

    rows = []
    for i, p in enumerate([100.0 + 0.1 * i for i in range(16)]):
        ms = T0_MS + i * 30_000
        rows.append({"symbol": "X", "time_msc": ms, "collected_msc": ms,
                     "bid": p - 0.01, "ask": p + 0.01})

    def run(**extra):
        calls.clear()
        cfg = {
            "scenario_id": 1,
            "parameters": {**BASE, "strategy": "stale_probe_test",
                           "max_positions": "3", **extra},
            "tick_processing_budget_ms": None,
            "latency_seed": 7,
            "latency_min_ms": 0,
            "latency_max_ms": 0,
            "max_ticks": None,
        }
        R.STRATEGIES["stale_probe_test"] = _OpenEachBar
        try:
            return R._replay_core(pd.DataFrame(rows), cfg).iloc[0]
        finally:
            del R.STRATEGIES["stale_probe_test"]

    control = run()
    assert control["trades_count"] == 3
    assert control["stale_entries_rejected"] == 0
    assert control["stale_windows_hit"] == 0 and calls == []

    # window covers the 2nd bar's decision tick only: entry 2 blocked,
    # entries 1 and 3 fill; hook fires exactly once
    w_from, w_to = T0_MS + 60_000, T0_MS + 120_000
    stressed = run(stale_window_from_ms=w_from, stale_window_to_ms=w_to)
    assert stressed["trades_count"] == 2
    assert stressed["stale_entries_rejected"] == 1
    assert stressed["stale_windows_hit"] == 1
    assert calls == ["stale"]
    # blocked entries are NOT broker rejections
    assert stressed["orders_rejected"] == control["orders_rejected"]
    # event channel (reference received_events assertions: hook fired once,
    # entry blocked once; control run records no events at all)
    assert list(stressed["events"]).count("market_data_stale") == 1
    assert list(stressed["events"]).count("stale_entry_rejected") == 1
    assert list(control["events"]) == []


def test_replay_triple_swap_wednesday(spark):
    """Forex triple-swap parity (market_calendar suite: triple on the
    configured Wednesday, not on Monday): a rollover into Wednesday
    charges 3x the daily rate; into Monday charges 1x; flat accrual
    unless the weekday is configured."""
    day = 86_400_000
    # T0 = Thu 2026-01-01. Wed = Jan 7 (offset 6 days), Mon = Jan 5 (offset 4).
    def run(start_off_days, **extra):
        base = T0_MS + start_off_days * day + 23 * 3_600_000  # 23:00 of day
        # bar closes (and buy_hold enters) at 23:01, BEFORE the midnight
        # rollover; the next ticks arrive after it
        times = [base, base + 30_000, base + 60_000,
                 base + 2 * 3_600_000, base + 2 * 3_600_000 + 30_000]
        prices = [100.0, 100.5, 100.6, 101.0, 101.0]
        rows = [("X", datetime.utcfromtimestamp(ms / 1000.0), ms, ms, p - 0.01, p + 0.01)
                for ms, p in zip(times, prices)]
        ticks = spark.createDataFrame(
            rows,
            "symbol string, timestamp timestamp, time_msc long, collected_msc long, bid double, ask double",
        )
        s = scen(spark, strategy="buy_hold", bar_ms=60_000,
                 swap_long_daily=2.0, **extra)
        return run_backtest(ticks, s).collect()[0]

    into_wed = run(5, swap_triple_weekday=3)   # Jan 6 23:00 -> crosses into Wed Jan 7
    assert into_wed["swap"] == pytest.approx(6.0)  # 3 units x 2.0

    into_mon = run(3, swap_triple_weekday=3)   # Jan 4 23:00 -> crosses into Mon Jan 5
    assert into_mon["swap"] == pytest.approx(2.0)  # 1 unit

    flat = run(5)                               # no weekday configured: flat
    assert flat["swap"] == pytest.approx(2.0)


def test_no_wall_clock_in_strategy_surface():
    """Reference §9 CI lint (algo_clock suite): the shipped strategy/
    streaming surface must never read the wall clock — deterministic
    replay derives all time from data."""
    from pathlib import Path

    from finiextestingide_spark.operators.validation import find_wall_clock_calls

    pkg = Path(__file__).resolve().parents[1] / "finiextestingide_spark"
    violations = []
    for sub in ("operators", "streaming", "functions"):
        for py in (pkg / sub).rglob("*.py"):
            # incremental_bars.py hosts drain_to_memory, the stream-polling
            # HARNESS loop (framework code in the reference's layout, not
            # algo surface) — wall-clock polling is its job
            if py.name == "incremental_bars.py":
                continue
            violations.extend(find_wall_clock_calls(py, allow_pragma=True))
    assert not violations, "\n".join(violations)


def test_plugin_with_wall_clock_is_rejected(tmp_path):
    """The startup validator (#359) blocks a USER plugin that reads the
    wall clock."""
    import sys

    from finiextestingide_spark.operators import replay as R

    site = tmp_path / "site"
    site.mkdir()
    (site / "badplugin.py").write_text(
        "import datetime\n"
        "class WallClockStrategy:\n"
        "    warmup = 1\n"
        "    def __init__(self, params):\n"
        "        self.t0 = datetime.datetime.now()\n"
        "    def on_bar_actions(self, close):\n"
        "        return []\n"
    )
    dist = site / "badplugin-1.0.dist-info"
    dist.mkdir()
    (dist / "METADATA").write_text("Metadata-Version: 2.1\nName: badplugin\nVersion: 1.0\n")
    (dist / "entry_points.txt").write_text(
        "[finiextestingide_spark.strategies]\nbad_clock = badplugin:WallClockStrategy\n"
    )
    sys.path.insert(0, str(site))
    try:
        R._plugins_loaded = False
        with pytest.raises(ValueError, match="wall-clock"):
            R.load_strategy_plugins(force=True)
        assert "bad_clock" not in R.STRATEGIES
    finally:
        sys.path.remove(str(site))
        R.STRATEGIES.pop("bad_clock", None)
        R._plugins_loaded = False


def test_trend_channel_inflight_submission_not_rearmed():
    """A latency-pending entry (submitted but not yet in the resting book)
    must count as live: the strategy keeps tracking it via ctx
    pending_oids and does NOT re-arm a duplicate each tick."""
    from finiextestingide_spark.operators.replay import TrendChannel

    tc = TrendChannel({
        "boll_period": "3", "gate_every_bars": "1", "gate_ma_period": "2",
        "gate_flat_threshold": "0.01", "entry_band_pos": "1.0",
        "entry_mode": "limit_pullback", "manage_per_tick": "1",
    })
    # rising closes warm the gate UP and the band
    for i, c in enumerate([100.0, 100.5, 101.0, 101.5, 102.0]):
        tc.on_bar_ctx({"close": c, "bid": c - 0.01, "ask": c + 0.01,
                       "positions": [], "resting": [], "pending_oids": []})
    base = {"bid": 101.99, "ask": 102.01, "positions": [], "resting": []}
    first = tc._on_tick({**base, "pending_oids": []})
    opens = [a for a in first if a[0] == "open_order"]
    assert len(opens) == 1
    oid = opens[0][8]
    # order still in the latency queue: not resting yet, but in flight
    second = tc._on_tick({**base, "pending_oids": [oid]})
    assert [a for a in second if a[0] == "open_order"] == []
    assert oid in tc._resting
    # once it is in NEITHER (filled/cancelled), tracking is dropped and a
    # new entry may arm
    third = tc._on_tick({**base, "pending_oids": []})
    assert oid not in tc._resting
    assert [a for a in third if a[0] == "open_order"] != []


def test_wall_clock_validator_catches_bare_import(tmp_path):
    """`from time import time; time()` must not bypass the ban."""
    from finiextestingide_spark.operators.validation import find_wall_clock_calls

    p = tmp_path / "sneaky.py"
    p.write_text(
        "from time import time as now_fn\n"
        "def decide():\n"
        "    return now_fn()\n"
    )
    hits = find_wall_clock_calls(p)
    assert len(hits) == 1 and "now_fn()" in hits[0]


def test_wall_clock_pragma_semantics(tmp_path):
    """`# wall-clock-ok: <reason>` exempts a line ONLY when allow_pragma
    is set (the repo lint) AND a reason is stated; the plugin startup
    validator never honors it — a USER plugin cannot pragma its way past
    the determinism ban."""
    from finiextestingide_spark.operators.validation import find_wall_clock_calls

    p = tmp_path / "telemetry.py"
    p.write_text(
        "import time\n"
        "def a():\n"
        "    return time.monotonic()  # wall-clock-ok: observational\n"
        "def b():\n"
        "    return time.monotonic()  # wall-clock-ok:\n"  # no reason
        "def c():\n"
        "    return time.perf_counter_ns()\n"
    )
    # default (plugin-validator path): pragma means nothing
    assert len(find_wall_clock_calls(p)) == 3
    # repo lint: reasoned pragma exempts; bare pragma and unmarked don't
    hits = find_wall_clock_calls(p, allow_pragma=True)
    assert len(hits) == 2
    assert all("monotonic" in h or "perf_counter_ns" in h for h in hits)


def test_maker_taker_fees_spot(spark):
    """Maker/taker value-based fees (trading_fee_factory.py): a LIMIT entry
    pays the maker rate on entry value, the synthetic close pays the taker
    rate on exit value; fees on the trade record are their sum and the
    spot balance walk matches exactly."""
    prices = [100.0] * 4 + [99.0] * 4 + [101.0, 101.0]
    ticks = make_ticks(spark, prices, spread=0.0)
    s = scen(
        spark, strategy="buy_hold", entry_type="limit", entry_offset=1.0,
        spot_mode=1, maker_fee_pct=0.16, taker_fee_pct=0.26,
        start_balance=10_000.0,
    )
    res = run_backtest(ticks, s).collect()[0]
    tr = res["trades"]
    assert len(tr) == 1
    entry, exit_p, lots = tr[0]["entry_price"], tr[0]["exit_price"], tr[0]["lots"]
    expect = lots * entry * 0.0016 + lots * exit_p * 0.0026
    assert tr[0]["fees"] == pytest.approx(expect)
    # balance identity: quote spent at entry incl. maker fee, received at
    # exit net of taker fee
    assert res["final_equity"] == pytest.approx(
        10_000.0 - lots * entry - lots * entry * 0.0016
        + lots * exit_p - lots * exit_p * 0.0026
        + 0.0,
    )

    # market entry pays taker on BOTH sides
    m = run_backtest(
        ticks,
        scen(spark, strategy="buy_hold", spot_mode=1,
             maker_fee_pct=0.16, taker_fee_pct=0.26),
    ).collect()[0]
    mt = m["trades"][0]
    assert mt["fees"] == pytest.approx(
        mt["lots"] * mt["entry_price"] * 0.0026 + mt["lots"] * mt["exit_price"] * 0.0026
    )

    # unset rates keep the flat per-lot model: 1.0 per side x 2 sides
    flat = run_backtest(
        ticks, scen(spark, strategy="buy_hold", fee_per_side=1.0)
    ).collect()[0]
    assert flat["trades"][0]["fees"] == pytest.approx(2.0 * flat["trades"][0]["lots"])

    # a one-sided rate config is a loud error, not a silently-free side
    with pytest.raises(Exception, match="configured together"):
        run_backtest(
            ticks, scen(spark, strategy="buy_hold", spot_mode=1, taker_fee_pct=0.26)
        ).collect()


def test_strategy_emit_reaches_event_channel():
    """A strategy's ctx emit() lands in the result's events array in
    decision order (reference emit_event -> received_events)."""
    import pandas as pd

    from finiextestingide_spark.operators import replay as R

    class _Emitter:
        warmup = 1

        def __init__(self, params):
            self._n = 0

        def on_bar_ctx(self, ctx):
            self._n += 1
            ctx["emit"](f"bar_{self._n}")
            return []

    rows = []
    for i, p in enumerate([100.0 + 0.1 * i for i in range(8)]):
        ms = T0_MS + i * 30_000
        rows.append({"symbol": "X", "time_msc": ms, "collected_msc": ms,
                     "bid": p - 0.01, "ask": p + 0.01})
    cfg = {
        "scenario_id": 1,
        "parameters": {**BASE, "strategy": "emitter_test"},
        "tick_processing_budget_ms": None,
        "latency_seed": 7, "latency_min_ms": 0, "latency_max_ms": 0,
        "max_ticks": None,
    }
    R.STRATEGIES["emitter_test"] = _Emitter
    try:
        res = R._replay_core(pd.DataFrame(rows), cfg).iloc[0]
    finally:
        del R.STRATEGIES["emitter_test"]
    assert list(res["events"]) == ["bar_1", "bar_2", "bar_3"]


def test_strategy_plugin_hot_reload(tmp_path):
    """Hot reload (Readme.md:79): after the plugin module's source changes
    on disk, load_strategy_plugins(hot_reload=True) re-imports it and swaps
    the refreshed class in — new replays pick up the new behavior without a
    session restart. Built-ins stay non-reloadable, and a reloaded class
    that starts reading the wall clock is refused."""
    import sys
    import pandas as pd
    import pytest

    from finiextestingide_spark.operators import replay as R

    site = tmp_path / "site"
    site.mkdir()
    plugin_v1 = (
        "class FlipFlop:\n"
        "    warmup = 1\n"
        "    VERSION = 1\n"
        "    def __init__(self, params):\n"
        "        self._opened = False\n"
        "    def on_bar_actions(self, close):\n"
        "        if not self._opened:\n"
        "            self._opened = True\n"
        "            return [('open', 1, 1.0)]\n"
        "        return []\n"
    )
    (site / "hotplugin.py").write_text(plugin_v1)
    dist = site / "hotplugin-1.0.dist-info"
    dist.mkdir()
    (dist / "METADATA").write_text("Metadata-Version: 2.1\nName: hotplugin\nVersion: 1.0\n")
    (dist / "entry_points.txt").write_text(
        "[finiextestingide_spark.strategies]\nflip_flop = hotplugin:FlipFlop\n"
    )
    sys.path.insert(0, str(site))
    try:
        R._plugins_loaded = False
        loaded = R.load_strategy_plugins(force=True)
        assert "flip_flop" in loaded
        assert R.STRATEGIES["flip_flop"].VERSION == 1

        # v2: opens SHORT instead of long
        (site / "hotplugin.py").write_text(plugin_v1.replace(
            "VERSION = 1", "VERSION = 2").replace("('open', 1, 1.0)", "('open', -1, 1.0)"))
        # without hot_reload the stale class stays registered
        R.load_strategy_plugins(force=True)
        assert R.STRATEGIES["flip_flop"].VERSION == 1
        reloaded = R.load_strategy_plugins(hot_reload=True)
        assert "flip_flop" in reloaded
        assert R.STRATEGIES["flip_flop"].VERSION == 2
        assert R.STRATEGIES["pyramid"].__name__ == "Pyramid"  # built-ins untouched

        rows = []
        for i, p in enumerate([100.0 + 0.1 * i for i in range(6)]):
            ms = T0_MS + i * 30_000
            rows.append({"symbol": "X", "time_msc": ms, "collected_msc": ms,
                         "bid": p - 0.01, "ask": p + 0.01})
        scen_cfg = {
            "scenario_id": 1,
            "parameters": {**BASE, "strategy": "flip_flop"},
            "tick_processing_budget_ms": None,
            "latency_seed": 7, "latency_min_ms": 0, "latency_max_ms": 0,
            "max_ticks": None,
        }
        res = R._replay_core(pd.DataFrame(rows), scen_cfg).iloc[0]
        assert res["trades_count"] == 1
        assert res["net_pnl"] < 0  # short into a rising market: v2 behavior

        # a reload that introduces a wall-clock read is refused
        (site / "hotplugin.py").write_text(
            "import time\n" + plugin_v1.replace(
                "return []", "return [] if time.time() else []"))
        with pytest.raises(ValueError, match="wall-clock"):
            R.load_strategy_plugins(hot_reload=True)
    finally:
        sys.path.remove(str(site))
        sys.modules.pop("hotplugin", None)
        R.STRATEGIES.pop("flip_flop", None)
        R._PLUGIN_NAMES.discard("flip_flop")
        R._plugins_loaded = False


def test_session_chunk_pickle_invariance():
    """The live contract in one property: feeding ReplaySession a tick
    stream in ARBITRARY chunks with a full pickle round-trip (the state
    store) and a trade drain between chunks must produce exactly the
    trades of a single-shot run — for every feature surface at once
    (latency queue, SL/TP, resting limit/stop_limit entries,
    modify/cancel lifecycle, pyramid slots, trend_channel per-tick
    management, stress rejection, stale windows, budget clipping,
    heartbeats, swap accrual, maker/taker fees, margin gate). Micro-batch
    boundaries are the ONLY thing live adds over batch; this pins them to
    be invisible without needing Spark in the loop."""
    import pickle
    import random as rnd

    from finiextestingide_spark.operators.replay import ReplaySession

    gen = rnd.Random(20260814)
    n = 2500
    t = 1_767_225_600_000
    ticks = []
    px = 100.0
    for i in range(n):
        # irregular spacing incl. occasional gaps (heartbeat fodder) and a
        # collection stamp that sometimes lags (budget-clip fodder)
        t += gen.choice((120, 250, 400, 700, 2600 if i % 97 == 0 else 250))
        px = max(1.0, px + gen.uniform(-0.4, 0.4))
        c = t + gen.choice((0, 0, 0, 180))
        ticks.append((t, c, px - 0.005, px + 0.005))

    configs = [
        {"strategy": "sma_cross", "fast": "3", "slow": "9", "bar_ms": "1000",
         "sl_dist": "1.2", "tp_dist": "2.5", "fee_per_side": "0.01",
         "equity_sample_every": "0"},
        {"strategy": "buy_hold", "bar_ms": "1000", "entry_type": "limit",
         "entry_offset": "0.4", "modify_after_bars": "2", "modify_delta": "0.2",
         "cancel_after_bars": "6", "price_digits": "3",
         "sl_dist": "1.0", "tp_dist": "2.0", "equity_sample_every": "0"},
        {"strategy": "sma_cross", "fast": "2", "slow": "7", "bar_ms": "1000",
         "entry_type": "stop_limit", "entry_offset": "0.5", "limit_offset": "0.2",
         "equity_sample_every": "0"},
        {"strategy": "pyramid", "fast": "3", "slow": "8", "bar_ms": "1000",
         "equity_sample_every": "0"},
        {"strategy": "trend_channel", "entry_mode": "limit_pullback",
         "bar_ms": "1000", "boll_period": "10", "gate_every_bars": "3",
         "gate_ma_period": "6", "max_positions": "2", "equity_sample_every": "0"},
        {"strategy": "sma_cross", "fast": "3", "slow": "9", "bar_ms": "1000",
         "reject_probability": "0.2", "reject_seed": "5",
         "stale_window_from_ms": str(ticks[800][0]),
         "stale_window_to_ms": str(ticks[900][0]),
         "swap_long_daily": "0.7", "swap_short_daily": "-0.3",
         "maker_fee_pct": "0.16", "taker_fee_pct": "0.26",
         "margin_per_lot": "9000", "heartbeat_ms": "200",
         "equity_sample_every": "0"},
    ]
    for ci, params in enumerate(configs):
        scen = {
            "scenario_id": ci, "parameters": params,
            "tick_processing_budget_ms": 150.0 if ci == 5 else None,
            "max_ticks": None,
            "latency_seed": ci + 1, "latency_min_ms": 50, "latency_max_ms": 900,
        }
        one = ReplaySession(scen)
        for row in ticks:
            one.process_tick(*row)
        # same stream, random chunks, pickle + drain between chunks
        sess = ReplaySession(scen)
        drained: list = []
        i = 0
        while i < len(ticks):
            k = gen.randint(1, 41)
            for row in ticks[i:i + k]:
                sess.process_tick(*row)
            drained.extend(sess.drain_trades())
            sess = pickle.loads(pickle.dumps(sess))
            i += k
        drained.extend(sess.drain_trades())
        assert len(one.trades) > 0, (ci, "fixture must actually trade")
        assert drained == one.trades, (ci, params["strategy"])


@st.composite
def _session_scenario(draw):
    """Random (ticks, scen) pair spanning the feature surface: random walk
    quotes, irregular spacing with gaps, and a sampled feature combo."""
    seed = draw(st.integers(0, 2**16))
    gen = random.Random(seed)
    n = draw(st.integers(300, 900))
    t = 1_767_225_600_000
    px = 50.0
    ticks = []
    for i in range(n):
        t += gen.choice((100, 300, 500, 2400))
        px = max(0.5, px + gen.uniform(-0.5, 0.5))
        ticks.append((t, t + gen.choice((0, 0, 200)), px - 0.005, px + 0.005))
    strat = draw(st.sampled_from(
        ["sma_cross", "buy_hold", "rsi_reversion", "pyramid", "scale_out",
         "trend_channel", "macd_cross", "consensus"]
    ))
    params = {"strategy": strat, "bar_ms": "1000", "fast": "2", "slow": "5",
              "boll_period": "6", "gate_every_bars": "2", "gate_ma_period": "4",
              "equity_sample_every": "0"}
    if draw(st.booleans()):
        params["sl_dist"] = "0.8"
        params["tp_dist"] = "1.5"
    if strat not in ("trend_channel",) and draw(st.booleans()):
        params["entry_type"] = draw(st.sampled_from(["limit", "stop", "stop_limit"]))
        params["entry_offset"] = "0.3"
        params["limit_offset"] = "0.1"
        if draw(st.booleans()):
            params["modify_after_bars"] = "2"
            params["modify_delta"] = "-0.1"
            params["cancel_after_bars"] = "5"
    if draw(st.booleans()):
        params["reject_probability"] = "0.15"
    lat = draw(st.sampled_from([(0, 0), (50, 700)]))
    scen = {"scenario_id": seed, "parameters": params,
            "tick_processing_budget_ms": None, "max_ticks": None,
            "latency_seed": seed, "latency_min_ms": lat[0], "latency_max_ms": lat[1]}
    chunk_seed = draw(st.integers(0, 2**16))
    return ticks, scen, chunk_seed


@given(_session_scenario())
@settings(max_examples=15, deadline=None)
def test_session_chunk_invariance_property(case):
    """Hypothesis sweep of the micro-batch invariance: for RANDOM price
    paths, spacings, feature combos, and chunkings, chunked-with-pickle
    processing equals single-shot processing exactly."""
    import pickle

    from finiextestingide_spark.operators.replay import ReplaySession

    ticks, scen, chunk_seed = case
    one = ReplaySession(scen)
    for row in ticks:
        one.process_tick(*row)

    gen = random.Random(chunk_seed)
    sess = ReplaySession(scen)
    drained: list = []
    i = 0
    while i < len(ticks):
        k = gen.randint(1, 29)
        for row in ticks[i:i + k]:
            sess.process_tick(*row)
        drained.extend(sess.drain_trades())
        sess = pickle.loads(pickle.dumps(sess))
        i += k
    drained.extend(sess.drain_trades())
    assert drained == one.trades


def test_heartbeat_ghost_pass_matches_batch():
    """R8 live ghost parity (round-8 item 1): driving
    ``ReplaySession.heartbeat()`` between ticks — the generic/account live
    paths' ProcessingTimeTimeout firing — resolves EXACTLY the in-gap
    latency fills the batch R8 block resolves retroactively at the next
    tick, at the same (deadline, last-quote) stamps. Ghost passes only
    change WHEN a trade is emitted, never its content: chunk-style
    equality over random walks with real gaps, for the production
    decision logic (trend_channel) and the flip-heavy sma_cross, with
    pickle round-trips between firings (the live checkpoint form)."""
    import pickle

    from finiextestingide_spark.operators.replay import ReplaySession

    gen = random.Random(80801)
    t = 1_767_225_600_000
    px = 50.0
    ticks = []
    for i in range(900):
        # real gaps: mostly sub-heartbeat spacing with frequent 2.4s lulls
        t += gen.choice((100, 300, 500, 2400, 2400))
        px = max(0.5, px + gen.uniform(-0.5, 0.5))
        ticks.append((t, t, px - 0.005, px + 0.005))

    configs = [
        {"strategy": "sma_cross", "fast": "2", "slow": "5", "bar_ms": "1000",
         "heartbeat_ms": "300", "heartbeat_suppress_gap_ms": "100000000000",
         "equity_sample_every": "0"},
        {"strategy": "trend_channel", "entry_mode": "limit_pullback",
         "bar_ms": "1000", "boll_period": "6", "gate_every_bars": "2",
         "gate_ma_period": "4", "max_positions": "2",
         "heartbeat_ms": "300", "heartbeat_suppress_gap_ms": "100000000000",
         "equity_sample_every": "0"},
    ]
    for ci, params in enumerate(configs):
        scen = {"scenario_id": ci, "parameters": params,
                "tick_processing_budget_ms": None, "max_ticks": None,
                "latency_seed": ci + 3, "latency_min_ms": 50,
                "latency_max_ms": 900}
        batch = ReplaySession(scen)
        for row in ticks:
            batch.process_tick(*row)

        live = ReplaySession(scen)
        drained: list = []
        for row in ticks:
            # timer firings while the feed is quiet: each advances the
            # ghost clock 250ms; stop before the ghost would overtake the
            # actual next tick (a live timer never sees the future)
            while live.prev_t is not None:
                base = live.ghost_t if live.ghost_t is not None else live.prev_t
                if base + 250 >= row[0]:
                    break
                live.heartbeat(250)
                drained.extend(live.drain_trades())
                live = pickle.loads(pickle.dumps(live))
            live.process_tick(*row)
        drained.extend(live.drain_trades())
        assert len(batch.trades) > 0, (ci, "fixture must actually trade")
        assert drained == batch.trades, (ci, params["strategy"])


def test_heartbeat_ghost_pass_respects_suppression():
    """The ghost-pass gate mirrors the batch R8 window exactly: a firing
    whose gap-so-far exceeds ``heartbeat_suppress_gap_ms`` resolves
    NOTHING (weekend analogue — fills wait for the next real tick), one
    inside (heartbeat_ms, suppress] resolves fills the ghost clock has
    passed, and one at or under heartbeat_ms is a no-op."""
    from finiextestingide_spark.operators.replay import ReplaySession

    def warm_session():
        params = {"strategy": "buy_hold", "bar_ms": "1000",
                  "heartbeat_ms": "300", "heartbeat_suppress_gap_ms": "500",
                  "equity_sample_every": "0"}
        scen = {"scenario_id": 0, "parameters": params,
                "tick_processing_budget_ms": None, "max_ticks": None,
                "latency_seed": 1, "latency_min_ms": 0, "latency_max_ms": 0}
        s = ReplaySession(scen)
        t0 = 1_767_225_600_000
        for i in range(3):
            s.process_tick(t0 + i * 100, t0 + i * 100, 99.99, 100.01)
        return s

    # gap beyond suppress: queued action survives every firing
    s = warm_session()
    s.pending.append((s.prev_t + 400, ("close_all",)))
    s.heartbeat(600)  # gap 600 > suppress 500
    assert len(s.pending) == 1
    s.heartbeat(600)  # gap only grows; still suppressed
    assert len(s.pending) == 1

    # gap at or under heartbeat_ms: no-op
    s = warm_session()
    s.pending.append((s.prev_t + 100, ("close_all",)))
    s.heartbeat(300)  # gap 300, not > heartbeat_ms
    assert len(s.pending) == 1

    # gap inside (heartbeat_ms, suppress]: due fills resolve, later ones wait
    s = warm_session()
    s.pending.append((s.prev_t + 400, ("close_all",)))
    s.pending.append((s.prev_t + 2000, ("close_all",)))
    s.heartbeat(450)  # gap 450 in (300, 500]; resolves due < prev+450
    assert [due for due, _ in s.pending] == [s.prev_t + 2000]

    # a real tick resets the ghost clock: the next quiet spell gates on
    # the NEW gap anchor
    s.process_tick(s.prev_t + 460, s.prev_t + 460, 99.99, 100.01)
    assert s.ghost_t is None


def test_murmur_salt_exact_partition_placement(spark):
    """Round-8 sf10 finding: hashing N scenario ids into N partitions
    collides birthday-style (a 4-scenario stack on one core at sf10 while
    17/40 partitions sat empty). run_backtest now shuffles AND groups on a
    driver-computed salt with collision-free murmur3 placement. Pins:
    (a) _murmur3_hash_int is bit-identical to Spark's F.hash on ints,
    (b) _part_salts yields one distinct partition per scenario,
    (c) the physical plan still carries exactly ONE Exchange (the salt
        grouping reuses the explicit repartition — no second shuffle). The
        plan is read from ``_replay_plan``, the lazy frame run_backtest
        checkpoints."""
    import pyspark.sql.functions as F

    from finiextestingide_spark.operators.replay import (
        _murmur3_hash_int,
        _part_salts,
        _replay_plan,
    )

    vals = [0, 1, 7, 40, 12345, 2**31 - 1, -1, -40, 999_983]
    got = spark.createDataFrame([(v,) for v in vals], "v int").select(
        F.hash("v").alias("h")
    ).collect()
    for v, r in zip(vals, got):
        assert _murmur3_hash_int(v) == r["h"], v

    for n in (1, 3, 40, 257):
        salts = _part_salts(list(range(n)), n)
        assert len({_murmur3_hash_int(s) % n for s in salts.values()}) == n

    ticks = make_ticks(spark, PRICES)
    scenarios = make_scenarios(
        spark,
        [(i, f"s{i}", "X", None, None, 1, 0, 0, BASE) for i in range(1, 9)],
    )
    plan = _replay_plan(ticks, scenarios)._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


@given(_session_scenario(), st.integers(60, 450))
@settings(max_examples=10, deadline=None)
def test_ghost_heartbeat_invariance_property(case, step):
    """Hypothesis sweep of the R8 ghost-pass parity: for RANDOM price
    paths, spacings, strategy/feature combos and timer cadences, driving
    heartbeat() between ticks (suppression off) never changes the trade
    stream vs the plain batch loop — ghost passes may only change WHEN a
    fill-resolved trade is emitted, never its content."""
    import pickle

    from finiextestingide_spark.operators.replay import ReplaySession

    ticks, scen, _chunk_seed = case
    params = dict(scen["parameters"])
    params["heartbeat_ms"] = "300"
    params["heartbeat_suppress_gap_ms"] = "100000000000"
    scen = {**scen, "parameters": params,
            "latency_min_ms": 50, "latency_max_ms": 700}

    batch = ReplaySession(scen)
    for row in ticks:
        batch.process_tick(*row)

    live = ReplaySession(scen)
    drained: list = []
    for row in ticks:
        while live.prev_t is not None:
            base = live.ghost_t if live.ghost_t is not None else live.prev_t
            if base + step >= row[0]:
                break
            live.heartbeat(step)
            drained.extend(live.drain_trades())
            live = pickle.loads(pickle.dumps(live))
        live.process_tick(*row)
    drained.extend(live.drain_trades())
    assert drained == batch.trades
