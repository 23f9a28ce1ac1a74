"""Cold-start recovery for the LIVE trading sessions (round-10 item 1;
reference: Cold-Start Recovery #355 + algo_state_store.py Category B +
autotrader_warmup_preparator.py — reconstruct the session at startup from a
durable snapshot instead of replaying the feed).

The contract under test: ``bootstrap_live_sessions`` over history + a live
run over ONLY the tail (fresh checkpoint — the Spark checkpoint is LOST)
produces the uninterrupted run's tail trades trade-for-trade, with trade
ids continuing from the history count; and a later restart of the SAME
query from its (new) checkpoint must not re-apply the seed (create-only
ledger + file-source dedup, the reconcile protocol).
"""

from __future__ import annotations

import math
import pickle

import pandas as pd
import pytest

from finiextestingide_spark.streaming.live_replay import (
    _trade_rows,
    bootstrap_account_sessions,
    bootstrap_live_sessions,
    live_backtest,
    live_backtest_account,
)

TICK_DDL = "symbol string, timestamp timestamp, time_msc long, bid double, ask double"
T0 = 1_700_000_000_000

PARAMS = {
    "strategy": "sma_cross",
    "fast": 2,
    "slow": 3,
    "bar_ms": 1000,
    "lots": 2.0,
    "fee_per_side": 0.1,
    "sl_dist": 0.004,
    "tp_dist": 0.006,
}
LAT = dict(latency_seed=7, latency_min_ms=5, latency_max_ms=60)


def _ticks(symbol: str, n: int, *, phase: float = 0.0) -> list[tuple]:
    rows = []
    for i in range(n):
        t = T0 + i * 250
        mid = 1.10 + 0.01 * math.sin(2 * math.pi * i / 28.0 + phase)
        rows.append(
            (
                symbol,
                pd.Timestamp(t, unit="ms").to_pydatetime(),
                t,
                mid - 0.0001,
                mid + 0.0001,
            )
        )
    return rows


def _normalize(row) -> tuple:
    out = []
    for v in row:
        if isinstance(v, float):
            out.append(round(v, 9))
        elif v is None or (isinstance(v, float) and pd.isna(v)):
            out.append(None)
        else:
            out.append(pd.Timestamp(v) if hasattr(v, "timetuple") else v)
    return tuple(out)


def _collected(spark, out_dir: str) -> list[tuple]:
    rows = spark.read.parquet(out_dir).collect()
    rows.sort(key=lambda r: (r["symbol"], r["trade_id"]))
    return [_normalize(tuple(r)) for r in rows]


def _oracle_session(ticks: list[tuple]):
    """Drive the shared batch/live state machine directly — the
    uninterrupted-session reference (no finish(): live never END-closes)."""
    from finiextestingide_spark.operators.replay import ReplaySession

    scen = {
        "scenario_id": 0,
        "parameters": {**{k: str(v) for k, v in PARAMS.items()},
                       "equity_sample_every": "0"},
        "tick_processing_budget_ms": None,
        "max_ticks": None,
        "latency_seed": LAT["latency_seed"],
        "latency_min_ms": LAT["latency_min_ms"],
        "latency_max_ms": LAT["latency_max_ms"],
    }
    sess = ReplaySession(scen)
    for _sym, _ts, t, b, a in ticks:
        sess.process_tick(t, t, b, a)
    return sess


def test_generic_restart_without_checkpoint_parity(spark, tmp_path):
    """snapshot(history) + live(tail, fresh checkpoint) == uninterrupted
    run, trade-for-trade, ids continuing — across TWO tail micro-batch
    rounds (the second restarts from the new checkpoint with the same
    bootstrap args, proving the seed folds exactly once)."""
    sym = "EURUSD"
    all_ticks = _ticks(sym, 240)

    # pick a cut that STRADDLES live state (open position / in-flight
    # latency action / resting order), or the test proves nothing
    hist_sess, cut = None, None
    for cand in range(100, 160, 2):
        s = _oracle_session(all_ticks[:cand])
        if s.positions or s.pending or s.resting:
            hist_sess, cut = s, cand
            break
    assert cut is not None, "no cut straddles live state — retune the feed"
    hist, tail1, tail2 = all_ticks[:cut], all_ticks[cut:180], all_ticks[180:]

    # uninterrupted oracle: full feed through ONE session
    full_sess = _oracle_session(all_ticks)
    trades_all = full_sess.drain_trades()
    n_hist = len(hist_sess.drain_trades())
    assert n_hist >= 2, "history must close trades for the test to bite"
    assert len(trades_all) > n_hist, "tail must close trades too"
    expected_tail = [
        _normalize(r) for r in _trade_rows(sym, trades_all[n_hist:])
    ]

    snap = bootstrap_live_sessions(
        spark.createDataFrame(hist, TICK_DDL), PARAMS, **LAT
    )
    srow = snap.collect()[0]
    assert srow["n_trades"] == n_hist
    assert srow["saved_at"] == pd.Timestamp(hist[-1][2], unit="ms")
    # the snapshot session IS the uninterrupted session at the cut
    sess = pickle.loads(bytes(srow["blob"]))[1][sym]
    assert len(sess.positions) == len(hist_sess.positions)
    assert sess.trades == []  # drained: history trades are the batch output

    ticks_dir = str(tmp_path / "ticks")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    ledger = str(tmp_path / "ledger")

    def run_once():
        stream = spark.readStream.schema(TICK_DDL).parquet(ticks_dir)
        res = live_backtest(
            stream, PARAMS, **LAT, bootstrap=snap, bootstrap_dir=ledger
        )
        q = (
            res.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(tail1, TICK_DDL).write.mode("append").parquet(ticks_dir)
    run_once()
    spark.createDataFrame(tail2, TICK_DDL).write.mode("append").parquet(ticks_dir)
    run_once()  # restart from checkpoint, same bootstrap args: seed once

    got = _collected(spark, out_dir)
    assert got == expected_tail
    # trade ids CONTINUE from the history count
    assert got[0][1] == n_hist


def test_account_restart_without_checkpoint_parity(spark, tmp_path):
    """Account scope: the snapshot carries (AccountState, all sub-books);
    margin coupling across symbols survives the restart. Uninterrupted
    reference = one-shot live_backtest_account over the full feed."""
    params = {**PARAMS, "start_balance": 10_000.0, "margin_per_lot": 3_000.0}
    a = _ticks("EURUSD", 240)
    b = _ticks("GBPUSD", 240, phase=1.3)
    full = sorted(a + b, key=lambda r: (r[2], r[0]))
    cut_ms = T0 + 120 * 250
    hist = [r for r in full if r[2] < cut_ms]
    tail = [r for r in full if r[2] >= cut_ms]

    def drive(ticks_rows, out, ck, ticks_dir, **kw):
        spark.createDataFrame(ticks_rows, TICK_DDL).write.mode("append").parquet(
            ticks_dir
        )
        stream = spark.readStream.schema(TICK_DDL).parquet(ticks_dir)
        res = live_backtest_account(stream, params, **LAT, **kw)
        q = (
            res.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # uninterrupted reference over the FULL feed
    drive(full, str(tmp_path / "o_full"), str(tmp_path / "c_full"),
          str(tmp_path / "t_full"))
    full_rows = _collected(spark, str(tmp_path / "o_full"))

    # history-only live run: identifies which trades history closed
    drive(hist, str(tmp_path / "o_hist"), str(tmp_path / "c_hist"),
          str(tmp_path / "t_hist"))
    hist_rows = _collected(spark, str(tmp_path / "o_hist"))
    hist_ids = {(r[0], r[1]) for r in hist_rows}
    expected_tail = [r for r in full_rows if (r[0], r[1]) not in hist_ids]
    assert hist_rows and expected_tail, "both segments must close trades"

    snap = bootstrap_account_sessions(
        spark.createDataFrame(hist, TICK_DDL), params, **LAT
    )
    srow = snap.collect()[0]
    assert srow["account"] == "ACCOUNT"
    assert srow["n_trades"] == len(hist_rows)
    acct, books = pickle.loads(bytes(srow["blob"]))
    assert set(books) == {"EURUSD", "GBPUSD"}

    drive(
        tail, str(tmp_path / "o_boot"), str(tmp_path / "c_boot"),
        str(tmp_path / "t_boot"),
        bootstrap=snap, bootstrap_dir=str(tmp_path / "ledger"),
    )
    got = _collected(spark, str(tmp_path / "o_boot"))
    assert got == expected_tail


def test_signal_follow_bootstrap_parity(spark, tmp_path):
    """W7 across the cut: the snapshot carries the as-of signal state and
    per-position signal stamps, so a signal_follow session seeded from
    history + signal/tick tails equals the uninterrupted run — including
    entry_sig_ts/entry_sig_score on tail trades whose DECISION signal
    arrived in history."""
    sym = "EURUSD"
    params = {
        "strategy": "signal_follow",
        "bar_ms": 1000,
        "lots": 1.0,
        "fee_per_side": 0.05,
        "signal_threshold": 0.2,
    }
    all_ticks = _ticks(sym, 200)
    # deterministic signal wave: flips every ~8 bars, offset from bar edges
    sigs = [
        (sym, pd.Timestamp(T0 + 350 + k * 2_000, unit="ms").to_pydatetime(),
         0.9 if (k // 4) % 2 == 0 else -0.9)
        for k in range(25)
    ]
    SIG_DDL = "symbol string, sig_ts timestamp, score double"

    def oracle(ticks_rows, sig_rows):
        from finiextestingide_spark.operators.replay import ReplaySession

        scen = {
            "scenario_id": 0,
            "parameters": {**{k: str(v) for k, v in params.items()},
                           "equity_sample_every": "0"},
            "tick_processing_budget_ms": None,
            "max_ticks": None,
            "latency_seed": LAT["latency_seed"],
            "latency_min_ms": LAT["latency_min_ms"],
            "latency_max_ms": LAT["latency_max_ms"],
        }
        sess = ReplaySession(scen)
        events = [("t", r[2], r[3], r[4]) for r in ticks_rows] + [
            ("s", int(r[1].timestamp() * 1000), r[2], None) for r in sig_rows
        ]
        # signal-first at equal event time (the as-of at-or-before contract)
        events.sort(key=lambda e: (e[1], 0 if e[0] == "s" else 1))
        for kind, t, a, b in events:
            if kind == "s":
                sess.process_signal(t, a)
            else:
                sess.process_tick(t, t, a, b)
        return sess

    cut_ms = T0 + 101 * 250
    hist_t = [r for r in all_ticks if r[2] < cut_ms]
    tail_t = [r for r in all_ticks if r[2] >= cut_ms]
    hist_s = [r for r in sigs if r[1].timestamp() * 1000 < cut_ms]
    tail_s = [r for r in sigs if r[1].timestamp() * 1000 >= cut_ms]

    full_trades = oracle(all_ticks, sigs).drain_trades()
    n_hist = len(oracle(hist_t, hist_s).drain_trades())
    assert n_hist >= 1 and len(full_trades) > n_hist
    expected_tail = [
        _normalize(r) for r in _trade_rows(sym, full_trades[n_hist:])
    ]
    # the test must bite: at least one tail trade stamped with a signal
    assert any(r[-2] is not None for r in expected_tail)

    snap = bootstrap_live_sessions(
        spark.createDataFrame(hist_t, TICK_DDL), params, **LAT,
        signals=spark.createDataFrame(hist_s, SIG_DDL),
    )
    t_dir, s_dir = str(tmp_path / "t"), str(tmp_path / "s")
    spark.createDataFrame(tail_t, TICK_DDL).write.parquet(t_dir)
    spark.createDataFrame(tail_s, SIG_DDL).write.parquet(s_dir)
    res = live_backtest(
        spark.readStream.schema(TICK_DDL).parquet(t_dir),
        params, **LAT,
        signals=spark.readStream.schema(SIG_DDL).parquet(s_dir),
        bootstrap=snap, bootstrap_dir=str(tmp_path / "ledger"),
    )
    out_dir = str(tmp_path / "out")
    q = (
        res.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert _collected(spark, out_dir) == expected_tail


def test_bootstrap_staleness_gate(spark, tmp_path):
    """A stale snapshot (trading-day aware) errors before seeding under
    on_stale='error' and proceeds under 'warn' — the shared protocol from
    streaming/bootstrap.py wired into the live path."""
    sym = "EURUSD"
    hist = _ticks(sym, 60)
    snap = bootstrap_live_sessions(
        spark.createDataFrame(hist, TICK_DDL), PARAMS, **LAT
    )
    ticks_dir = str(tmp_path / "ticks")
    spark.createDataFrame(_ticks(sym, 4), TICK_DDL).write.parquet(ticks_dir)
    stream = spark.readStream.schema(TICK_DDL).parquet(ticks_dir)
    late = pd.Timestamp(T0, unit="ms") + pd.Timedelta(days=30)
    with pytest.raises(ValueError, match="trading day"):
        live_backtest(
            stream, PARAMS, **LAT,
            bootstrap=snap, bootstrap_dir=str(tmp_path / "l1"),
            max_age_trading_days=2, restore_now=late, on_stale="error",
        )
    with pytest.warns(UserWarning, match="trading day"):
        live_backtest(
            stream, PARAMS, **LAT,
            bootstrap=snap, bootstrap_dir=str(tmp_path / "l2"),
            max_age_trading_days=2, restore_now=late, on_stale="warn",
        )


def test_spot_mode_per_symbol_parity(spark, tmp_path):
    """spot_mode through ``live_backtest``: each per-symbol book holds its
    session and no shared account, so the session keeps its own
    dual-balance (quote/base) walk. Live trades equal the batch replay's
    non-END trades, and a snapshot of history + the tail continues them.
    The fixture's balances are small enough that the walk rejects orders,
    so the walk, not the strategy alone, decides which orders fill.
    (``live_backtest_account`` rejects spot_mode: one shared margin
    account cannot carry per-pair asset balances.)"""
    from finiextestingide_spark.operators.replay import run_backtest, trades_table
    from tests.test_live_socket import _TRADE_FIELDS

    sym = "EURUSD"
    params = {
        "strategy": "sma_cross", "fast": "2", "slow": "3", "bar_ms": "1000",
        "lots": "2.0", "fee_per_side": "0.1", "spot_mode": "1",
        "start_balance": "2.6", "base_start": "2.5",
    }
    feed = _ticks(sym, 240)
    scen = spark.createDataFrame(
        [(1, "spot", sym, None, None, LAT["latency_seed"],
          LAT["latency_min_ms"], LAT["latency_max_ms"], params)],
        "scenario_id int, name string, symbol string, max_ticks int, "
        "tick_processing_budget_ms double, latency_seed int, "
        "latency_min_ms int, latency_max_ms int, "
        "parameters map<string,string>",
    )
    res = run_backtest(spark.createDataFrame(feed, TICK_DDL), scen)
    assert res.collect()[0]["orders_rejected"] > 0, "the walk must gate fills"
    batch = sorted(
        trades_table(res).where("exit_reason != 'END'").collect(),
        key=lambda r: r["trade_id"],
    )
    assert {r["direction"] for r in batch} == {"LONG", "SHORT"}

    def live(rows, tag, **kw):
        ticks_dir, out = str(tmp_path / f"t_{tag}"), str(tmp_path / f"o_{tag}")
        spark.createDataFrame(rows, TICK_DDL).write.parquet(ticks_dir)
        stream = spark.readStream.schema(TICK_DDL).parquet(ticks_dir)
        q = (
            live_backtest(stream, params, **LAT, **kw)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"c_{tag}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(spark.read.parquet(out).collect(), key=lambda r: r["trade_id"])

    def fields(rows):
        return [(r["trade_id"], *(r[c] for c in _TRADE_FIELDS)) for r in rows]

    assert fields(live(feed, "full")) == fields(batch)

    snap = bootstrap_live_sessions(
        spark.createDataFrame(feed[:120], TICK_DDL), params, **LAT
    )
    n_hist = snap.collect()[0]["n_trades"]
    assert 0 < n_hist < len(batch), "both segments must close trades"
    tail = live(
        feed[120:], "tail", bootstrap=snap, bootstrap_dir=str(tmp_path / "ledger")
    )
    assert fields(tail) == fields(batch[n_hist:])
