"""Property-based cross-checks against INDEPENDENT pandas oracles.

The gate queries already oracle against DuckDB; these tests use a third
engine (pandas resample / merge_asof / cummax) on randomized inputs, so a
shared misunderstanding encoded in both the Spark code and a hand-written
SQL oracle would still be caught. Randomness is seeded through hypothesis
for reproducible shrinking.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
import pyspark.sql.functions as F
import pytest

# randomized property sweeps against pandas/duckdb mirrors — ~4 min
pytestmark = pytest.mark.slow
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from finiextestingide_spark.operators.asof import asof_join
from finiextestingide_spark.operators.bars import ohlcv_bars
from finiextestingide_spark.operators.equity import with_drawdown

T0 = datetime(2026, 1, 5)

_prices = st.lists(
    st.floats(min_value=1.0, max_value=1000.0, allow_nan=False, width=32),
    min_size=1,
    max_size=80,
)
_offsets = st.lists(
    st.integers(min_value=0, max_value=3600), min_size=1, max_size=80
)


@st.composite
def tick_series(draw):
    prices = draw(_prices)
    offs = sorted(draw(st.lists(
        st.integers(min_value=0, max_value=3600),
        min_size=len(prices), max_size=len(prices), unique=True,
    )))
    return [(T0 + timedelta(seconds=o), p) for o, p in zip(offs, prices)]


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(series=tick_series())
def test_ohlcv_matches_pandas_resample(spark, series):
    df = spark.createDataFrame(
        [("X", t, i, p) for i, (t, p) in enumerate(series)],
        "symbol string, ts timestamp, seq long, price double",
    )
    got = {
        r["bar_ts"]: r
        for r in ohlcv_bars(
            df, "M5", ts="ts", key="symbol", price="price", tiebreak="seq"
        ).collect()
    }

    pdf = pd.DataFrame(series, columns=["ts", "price"]).set_index("ts")
    res = pdf["price"].resample("5min").agg(["first", "max", "min", "last", "count"])
    res = res[res["count"] > 0]
    assert set(got) == set(res.index.to_pydatetime())
    for bar_ts, row in res.iterrows():
        g = got[bar_ts.to_pydatetime()]
        assert g["open"] == pytest.approx(row["first"])
        assert g["high"] == pytest.approx(row["max"])
        assert g["low"] == pytest.approx(row["min"])
        assert g["close"] == pytest.approx(row["last"])
        assert g["tick_count"] == row["count"]


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left_offs=st.lists(st.integers(0, 500), min_size=1, max_size=40, unique=True),
    right_offs=st.lists(st.integers(0, 500), min_size=1, max_size=20, unique=True),
)
def test_asof_join_matches_merge_asof(spark, left_offs, right_offs):
    lrows = [("X", T0 + timedelta(seconds=o)) for o in sorted(left_offs)]
    rrows = [
        ("X", T0 + timedelta(seconds=o), float(o)) for o in sorted(right_offs)
    ]
    left = spark.createDataFrame(lrows, "symbol string, ts timestamp")
    right = spark.createDataFrame(rrows, "symbol string, sig_ts timestamp, val double")

    out = asof_join(
        left, right, on=["symbol"], left_ts="ts", right_ts="sig_ts", how="left"
    ).collect()
    got = {r["ts"]: r["val"] for r in out}

    exp = pd.merge_asof(
        pd.DataFrame(lrows, columns=["symbol", "ts"]),
        pd.DataFrame(rrows, columns=["symbol", "sig_ts", "val"]),
        left_on="ts",
        right_on="sig_ts",
        by="symbol",
    )
    for _, row in exp.iterrows():
        g = got[row["ts"].to_pydatetime()]
        if pd.isna(row["val"]):
            assert g is None
        else:
            assert g == pytest.approx(row["val"])


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(equities=st.lists(
    st.floats(min_value=0.0, max_value=1e6, allow_nan=False, width=32),
    min_size=1, max_size=60,
))
def test_drawdown_matches_pandas_cummax(spark, equities):
    rows = [("X", T0 + timedelta(seconds=i), float(e)) for i, e in enumerate(equities)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, equity double")
    out = (
        with_drawdown(df, key="k", ts="ts", equity="equity")
        .orderBy("ts")
        .collect()
    )
    s = pd.Series(equities, dtype="float64")
    peak = s.cummax()
    dd = peak - s
    for i, r in enumerate(out):
        assert r["peak_equity"] == pytest.approx(peak.iloc[i])
        assert r["drawdown"] == pytest.approx(dd.iloc[i])
        assert r["max_drawdown"] == pytest.approx(dd.iloc[: i + 1].max())


# --- replay (zero latency, sma_cross) vs an independent python simulator ---

_qprices = st.lists(
    st.integers(min_value=4, max_value=4000),  # price = n/4: exact binary fractions
    min_size=8,
    max_size=120,
)


def _reference_sma_trades(ticks_ms, bids, asks, fast, slow, bar_ms):
    """Independent re-derivation of the zero-latency sma_cross replay:
    closed-bar closes -> fresh-sum SMAs -> flip ticks -> trades with
    MAE/MFE windows [entry, next_flip) / [entry, end]. No shared code with
    operators.replay (fresh sums instead of running sums; list scans
    instead of a state machine)."""
    n = len(ticks_ms)
    mids = [(b + a) / 2.0 for b, a in zip(bids, asks)]
    buckets = [ms // bar_ms for ms in ticks_ms]
    closes, decision_idx = [], []
    for i in range(1, n):
        if buckets[i] != buckets[i - 1]:
            closes.append(mids[i - 1])
            decision_idx.append(i)
    targets, flips = [], []
    prev = 0
    for m, i in enumerate(decision_idx, start=1):
        if m < slow:
            t = 0
        else:
            f_avg = sum(closes[m - fast : m]) / fast
            s_avg = sum(closes[m - slow : m]) / slow
            t = 1 if f_avg > s_avg else -1
        if t != prev:
            flips.append((i, t))
        prev = t
    trades = []
    for k, (entry_i, d) in enumerate(flips):
        exit_i = flips[k + 1][0] if k + 1 < len(flips) else n - 1
        win_end = flips[k + 1][0] - 1 if k + 1 < len(flips) else n - 1
        entry = asks[entry_i] if d > 0 else bids[entry_i]
        exit_p = bids[exit_i] if d > 0 else asks[exit_i]
        pnls = [
            d * ((bids[j] if d > 0 else asks[j]) - entry)
            for j in range(entry_i, win_end + 1)
        ]
        trades.append(
            {
                "direction": "LONG" if d > 0 else "SHORT",
                "entry_ms": ticks_ms[entry_i],
                "entry_price": entry,
                "exit_ms": ticks_ms[exit_i],
                "exit_price": exit_p,
                "gross_pnl": d * (exit_p - entry),
                "mae_pnl": min(0.0, min(pnls)),
                "mfe_pnl": max(0.0, max(pnls)),
                "exit_reason": "SIGNAL" if k + 1 < len(flips) else "END",
            }
        )
    return trades


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(qp=_qprices)
def test_replay_sma_matches_independent_simulator(spark, qp):
    from finiextestingide_spark.operators.replay import run_backtest

    prices = [q / 4.0 for q in qp]
    t0_ms = 1_767_225_600_000
    rows, ms_list, bids, asks = [], [], [], []
    for i, p in enumerate(prices):
        ms = t0_ms + i * 20_000  # 3 ticks per 60s bar
        b, a = p - 0.25, p + 0.25  # quarter-grid spread keeps FP exact
        rows.append(("X", datetime.utcfromtimestamp(ms / 1000.0), ms, ms, b, a))
        ms_list.append(ms)
        bids.append(b)
        asks.append(a)
    ticks = spark.createDataFrame(
        rows,
        "symbol string, timestamp timestamp, time_msc long, collected_msc long, "
        "bid double, ask double",
    )
    scen = spark.createDataFrame(
        [(1, "s", "X", None, None, 1, 0, 0,
          {"strategy": "sma_cross", "fast": "2", "slow": "4", "bar_ms": "60000",
           "equity_sample_every": "0"})],
        "scenario_id int, name string, symbol string, max_ticks int, "
        "tick_processing_budget_ms double, latency_seed int, latency_min_ms int, "
        "latency_max_ms int, parameters map<string,string>",
    )
    got = sorted(
        run_backtest(ticks, scen).collect()[0]["trades"], key=lambda t: t["trade_id"]
    )
    want = _reference_sma_trades(ms_list, bids, asks, 2, 4, 60_000)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["direction"] == w["direction"]
        assert int(g["entry_ts"].timestamp() * 1000) == w["entry_ms"]
        assert int(g["exit_ts"].timestamp() * 1000) == w["exit_ms"]
        assert g["entry_price"] == w["entry_price"]
        assert g["exit_price"] == w["exit_price"]
        assert g["gross_pnl"] == pytest.approx(w["gross_pnl"], abs=1e-12)
        assert g["mae_pnl"] == pytest.approx(w["mae_pnl"], abs=1e-12)
        assert g["mfe_pnl"] == pytest.approx(w["mfe_pnl"], abs=1e-12)
        assert g["exit_reason"] == w["exit_reason"]


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    qp=_qprices,
    seed=st.integers(min_value=0, max_value=2**16),
    lat=st.sampled_from([(0, 0), (1, 50_000), (1000, 300_000)]),
    strat=st.sampled_from(["sma_cross", "rsi_reversion", "macd_cross"]),
)
def test_fast_path_equals_loop_on_random_walks(spark, qp, seed, lat, strat):
    """The vectorized replay must be BIT-identical to the reference loop on
    its whole domain: random walks, random latency windows, all
    decision strategies."""
    from finiextestingide_spark.operators.replay import run_backtest

    prices = [q / 4.0 for q in qp]
    t0_ms = 1_767_225_600_000
    rows = []
    for i, p in enumerate(prices):
        ms = t0_ms + i * 20_000
        rows.append(("X", datetime.utcfromtimestamp(ms / 1000.0), ms, ms,
                     p - 0.25, p + 0.25))
    ticks = spark.createDataFrame(
        rows,
        "symbol string, timestamp timestamp, time_msc long, collected_msc long, "
        "bid double, ask double",
    )
    params = {"strategy": strat, "fast": "2", "slow": "4", "signal": "2",
              "period": "3", "bar_ms": "60000", "equity_sample_every": "0",
              "fee_per_side": "0.25"}
    cols = ("scenario_id int, name string, symbol string, max_ticks int, "
            "tick_processing_budget_ms double, latency_seed int, latency_min_ms int, "
            "latency_max_ms int, parameters map<string,string>")
    fast = run_backtest(
        ticks,
        spark.createDataFrame([(1, "f", "X", None, None, seed, lat[0], lat[1], params)], cols),
    ).collect()[0]
    slow = run_backtest(
        ticks,
        spark.createDataFrame(
            [(1, "s", "X", None, None, seed, lat[0], lat[1], {**params, "force_slow": "1"})],
            cols,
        ),
    ).collect()[0]
    assert fast["trades"] == slow["trades"]
    for k in ("bars_closed", "trades_count", "wins", "losses", "net_pnl",
              "final_equity", "max_drawdown", "gross_profit", "gross_loss", "fees"):
        assert fast[k] == slow[k], k


# ---------------------------------------------------------------------------
# Round-4 invariants over the multi-position/partial-close/spot core,
# property-tested directly against _replay_core (pandas-level, no Spark):
# fast iteration over many random walks.
# ---------------------------------------------------------------------------


def _walk_ticks(seed: int, n: int = 3000) -> pd.DataFrame:
    import numpy as np

    rng = np.random.default_rng(seed)
    mid = 100.0 + np.cumsum(rng.normal(0.01, 0.35, n))
    ms = 1_767_225_600_000 + np.arange(n) * 30_000
    return pd.DataFrame(
        {
            "time_msc": ms,
            "collected_msc": ms,
            "timestamp": pd.to_datetime(ms, unit="ms"),
            "bid": mid - 0.01,
            "ask": mid + 0.01,
        }
    )


def _core(seed: int, params: dict, lat=(0, 0), lat_seed=1):
    from finiextestingide_spark.operators.replay import _replay_core

    scen = {
        "scenario_id": 1,
        "parameters": {k: str(v) for k, v in params.items()},
        "tick_processing_budget_ms": None,
        "latency_seed": lat_seed,
        "latency_min_ms": lat[0],
        "latency_max_ms": lat[1],
        "max_ticks": None,
    }
    return _core_row(_walk_ticks(seed), scen)


def _core_row(pdf, scen):
    from finiextestingide_spark.operators.replay import _replay_core

    return _replay_core(pdf, scen).iloc[0]


@given(st.integers(0, 10_000))
@settings(max_examples=25, deadline=None)
def test_multiposition_lot_conservation_and_balance(seed):
    """Every position's trade records sum to its opened lots; margin-mode
    balance walk: final_equity == start + sum(gross - fees) once flat."""
    params = {
        "strategy": "pyramid",
        "fast": "2",
        "slow": "5",
        "max_positions": "3",
        "bar_ms": "300000",
        "equity_sample_every": "0",
        "fee_per_side": "0.05",
        "lots": "2.0",
    }
    r = _core(seed, params)
    per_pos: dict = {}
    for t in r.trades:
        per_pos.setdefault(t["position_id"], []).append(t)
    for pid, recs in per_pos.items():
        assert sum(x["lots"] for x in recs) == pytest.approx(2.0)
        # exactly one terminal FULL record per position, and it is last
        fulls = [x for x in recs if x["close_type"] == "FULL"]
        assert len(fulls) == 1
        assert max(recs, key=lambda x: x["trade_id"]) is fulls[0]
    expected = 10_000.0 + sum(t["gross_pnl"] - t["fees"] for t in r.trades)
    assert r.final_equity == pytest.approx(expected)


@given(st.integers(0, 10_000))
@settings(max_examples=25, deadline=None)
def test_partial_close_proportionality(seed):
    """scale_out: PARTIAL + FULL records of one position share the entry
    price and split lots by the configured fraction; per-record gross is
    proportional to its lots."""
    params = {
        "strategy": "scale_out",
        "fast": "2",
        "slow": "5",
        "fraction": "0.5",
        "hold_bars": "3",
        "bar_ms": "300000",
        "equity_sample_every": "0",
    }
    r = _core(seed, params)
    per_pos: dict = {}
    for t in r.trades:
        per_pos.setdefault(t["position_id"], []).append(t)
    for recs in per_pos.values():
        if len(recs) == 1:
            assert recs[0]["close_type"] == "FULL"
            continue
        part, full = sorted(recs, key=lambda x: x["trade_id"])
        assert part["close_type"] == "PARTIAL" and full["close_type"] == "FULL"
        assert part["entry_price"] == full["entry_price"]
        assert part["lots"] == pytest.approx(0.5)
        assert full["lots"] == pytest.approx(0.5)
        assert part["gross_pnl"] == pytest.approx(
            (part["exit_price"] - part["entry_price"]) * 0.5
        )


@given(st.integers(0, 10_000))
@settings(max_examples=25, deadline=None)
def test_spot_base_balance_conservation(seed):
    """Spot mode: after the END close the base balance is back at
    base_start, so final_equity == quote_walk + base_start * last_mid."""
    params = {
        "strategy": "sma_cross",
        "fast": "2",
        "slow": "5",
        "bar_ms": "300000",
        "equity_sample_every": "0",
        "spot_mode": "1",
        "start_balance": "100000",
        "base_start": "7.0",
        "lots": "3.0",
        "fee_per_side": "0.1",
    }
    r = _core(seed, params)
    quote = 100_000.0
    for t in r.trades:
        fee = 0.1 * t["lots"]
        if t["direction"] == "LONG":
            quote += -(t["lots"] * t["entry_price"] + fee) + (
                t["lots"] * t["exit_price"] - fee
            )
        else:
            quote += (t["lots"] * t["entry_price"] - fee) - (
                t["lots"] * t["exit_price"] + fee
            )
    ticks = _walk_ticks(seed)
    last_mid = (ticks["bid"].iloc[-1] + ticks["ask"].iloc[-1]) / 2.0
    assert r.final_equity == pytest.approx(quote + 7.0 * last_mid)


@given(st.integers(0, 10_000), st.sampled_from(["pyramid", "scale_out", "trend_channel"]))
@settings(max_examples=15, deadline=None)
def test_action_strategies_deterministic_under_latency(seed, strat):
    """Same walk + same latency seed => identical trade sequence for every
    action-based strategy (the reference's latency-determinism contract)."""
    params = {
        "strategy": strat,
        "fast": "2",
        "slow": "5",
        "max_positions": "2",
        "bar_ms": "300000",
        "boll_period": "8",
        "gate_every_bars": "2",
        "gate_ma_period": "5",
        "equity_sample_every": "0",
    }
    a = _core(seed, params, lat=(10, 4000), lat_seed=9)
    b = _core(seed, params, lat=(10, 4000), lat_seed=9)
    assert a.trades == b.trades
    assert a.final_equity == b.final_equity


@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # doc_id (deduped below)
            st.sampled_from(["en", "de", "fr"]),
            st.integers(min_value=0, max_value=120),      # n_tokens
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        ),
        min_size=1,
        max_size=25,
    ),
    budget=st.integers(min_value=0, max_value=300),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_greedy_budget_invariants(spark, docs, budget):
    """token_budget_sample_greedy vs an independent per-group walk: the
    kept set is exactly the greedy skip-and-continue solution, kept token
    sums never exceed the budget, and kept_tokens is the running kept-sum."""
    from finiextestingide_spark.operators.sampling import token_budget_sample_greedy

    seen = set()
    rows = []
    for i, (d, lang, n, q) in enumerate(docs):
        if d in seen:
            continue
        seen.add(d)
        rows.append((d, lang, n, round(q, 6)))
    df = spark.createDataFrame(rows, "doc_id int, lang string, n_tokens int, quality double")
    got = {
        (r["lang"], r["doc_id"]): (r["selected"], r["kept_tokens"])
        for r in token_budget_sample_greedy(df, budget).collect()
    }
    # independent reference walk
    by_lang: dict = {}
    for d, lang, n, q in rows:
        by_lang.setdefault(lang, []).append((d, n, q))
    for lang, items in by_lang.items():
        items.sort(key=lambda x: (-x[2], x[0]))
        kept_sum = 0
        for d, n, _q in items:
            sel = kept_sum + n <= budget
            if sel:
                kept_sum += n
            assert got[(lang, d)] == (sel, kept_sum), (lang, d)
        assert kept_sum <= budget


@given(
    payloads=st.lists(st.binary(min_size=0, max_size=700), min_size=1, max_size=6),
    chunk=st.integers(min_value=1, max_value=300),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_chunk_hashes_partition_invariants(spark, payloads, chunk):
    """chunk_hashes is an exact partition of the payload: per-id chunk
    count == ceil(len/chunk), lengths sum to the payload length, every
    chunk but the last is full-size, and hashes match hashlib."""
    import hashlib
    import math

    from finiextestingide_spark.operators.multimodal import chunk_hashes

    rows = [(i, p) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(rows, "doc_id int, media binary")
    out: dict = {}
    for r in chunk_hashes(df, chunk_bytes=chunk).collect():
        out.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r
    for i, p in rows:
        chunks = out.get(i, {})
        n_expected = math.ceil(len(p) / chunk)
        assert len(chunks) == n_expected
        assert sorted(chunks) == list(range(n_expected))
        assert sum(c["chunk_len"] for c in chunks.values()) == len(p)
        for idx, c in chunks.items():
            piece = p[idx * chunk:(idx + 1) * chunk]
            assert c["chunk_len"] == len(piece)
            assert c["chunk_md5"] == hashlib.md5(piece).hexdigest()


@given(
    h=st.integers(min_value=1, max_value=9),
    w=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_image_codec_roundtrip_property(h, w, seed):
    """Any (H, W, 3) uint8 image round-trips bit-exactly through both real
    codecs — BMP (including the per-row padding every W % 4 != 0 width
    exercises, BGR order, bottom-up rows) and PPM — and decode_media
    dispatches to the right one by magic. Pure-Python property (no Spark):
    the codec is the per-row kernel the mapInPandas operators batch."""
    import numpy as np

    from finiextestingide_spark.operators.multimodal import (
        decode_bmp,
        decode_media,
        decode_ppm,
        encode_bmp,
        encode_ppm,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    bmp, ppm = encode_bmp(img), encode_ppm(img)
    assert np.array_equal(decode_bmp(bmp), img)
    assert np.array_equal(decode_ppm(ppm), img)
    assert np.array_equal(decode_media(bmp), img)
    assert np.array_equal(decode_media(ppm), img)
    # truncation is detected, never silently misdecoded
    import pytest

    with pytest.raises(ValueError):
        decode_bmp(bmp[:-1])
    with pytest.raises(ValueError):
        decode_ppm(ppm[:-1])


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pairs=st.lists(
        st.tuples(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_modified_kn_matches_direct_evaluation(spark, pairs):
    """Property cross-check of the whole modified-KN plan (transition
    stream, four model aggregates, count-of-counts, clamped discounts,
    joins, rounding) against an INDEPENDENT direct Python evaluation over
    random corpora of single-transition docs — plus the textbook
    proper-distribution identity: per context, observed mass + gamma *
    (unseen continuation mass) == 1 exactly, which holds for ANY clamped
    discounts because gamma redistributes exactly what was discounted."""
    import math
    from collections import Counter

    from finiextestingide_spark.operators.text import ngram_mkn_logprob_scores

    docs = spark.createDataFrame(
        [(i, f"{a} {b}") for i, (a, b) in enumerate(pairs)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.avg_logprob
        for r in ngram_mkn_logprob_scores(docs, order=2).collect()
    }

    # direct evaluation, mirroring the engine's exact float ops
    bi = Counter(pairs)
    c1 = Counter(); nn = {}
    for (w1, w2), c in bi.items():
        c1[w1] += c
        d = nn.setdefault(w1, [0, 0, 0])
        d[0 if c == 1 else 1 if c == 2 else 2] += 1
    n1b = Counter(w2 for (_, w2) in bi)
    nt = float(len(bi))
    cc = Counter(bi.values())
    n1, n2 = float(cc.get(1, 0)), float(cc.get(2, 0))
    n3, n4 = float(cc.get(3, 0)), float(cc.get(4, 0))
    y = n1 / (n1 + 2.0 * n2) if n1 + 2.0 * n2 > 0 else 0.0
    d1 = max(1.0 - ((2.0 * y) * n2) / n1, 0.0) if n1 > 0 else 0.0
    d2 = max(2.0 - ((3.0 * y) * n3) / n2, 0.0) if n2 > 0 else 0.0
    d3 = max(3.0 - ((4.0 * y) * n4) / n3, 0.0) if n3 > 0 else 0.0

    def p_of(w1, w2):
        c = bi[(w1, w2)]
        d_c = d1 if c == 1 else d2 if c == 2 else d3
        g = ((d1 * nn[w1][0]) + (d2 * nn[w1][1]) + (d3 * nn[w1][2])) / float(
            c1[w1]
        )
        return (float(c) - d_c) / float(c1[w1]) + g * (n1b[w2] / nt)

    for i, (a, b) in enumerate(pairs):
        want = math.floor(round(math.log(p_of(a, b)), 6) * 1e6 + 0.5) / 1e6
        assert got[i] == want, (a, b, got[i], want)

    # proper-distribution identity per context
    for w1 in c1:
        followers = [w2 for (x, w2) in bi if x == w1]
        observed = sum(p_of(w1, w2) for w2 in followers)
        g = ((d1 * nn[w1][0]) + (d2 * nn[w1][1]) + (d3 * nn[w1][2])) / float(
            c1[w1]
        )
        unseen_cont = 1.0 - sum(n1b[w2] / nt for w2 in followers)
        assert abs(observed + g * unseen_cont - 1.0) < 1e-9


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.data(),
    n_vecs=st.integers(min_value=4, max_value=24),
    n_cells=st.integers(min_value=1, max_value=3),
    nprobe=st.integers(min_value=1, max_value=3),
)
def test_pq_lake_parity_random_corpora(spark, tmp_path_factory, data, n_vecs,
                                       n_cells, nprobe):
    """Property guard for the codes-lake contract: for RANDOM corpora,
    centroids, codebooks, and nprobe, the partition-pruned lake query must
    rank identically to the self-contained `ivfpq_topk` (the equality the
    gate pins on one corpus — here randomized, including tie-heavy integer
    vectors and cells that may end up empty)."""
    from finiextestingide_spark.operators import similarity as sim

    ints = st.integers(min_value=-3, max_value=3)
    vec = st.tuples(ints, ints, ints, ints)
    vecs_rows = [
        (i, [float(x) for x in data.draw(vec)]) for i in range(n_vecs)
    ]
    crows = []
    for c in range(n_cells):
        v = [float(x) for x in data.draw(vec)]
        if all(x == 0.0 for x in v):
            v[c % 4] = 1.0  # keep the coarse quantizer probe-able
        crows.append((c, v))
    books = [
        [[float(x)] for x in data.draw(
            st.lists(ints, min_size=2, max_size=4))]
        for _ in range(4)
    ]
    q = [float(x) for x in data.draw(vec)]
    if all(x == 0.0 for x in q):
        q[0] = 1.0

    vecs = spark.createDataFrame(
        vecs_rows, "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        crows, "centroid_id long, embedding array<double>"
    )
    assigned = sim.assign_centroids(vecs, cents)
    lake = str(tmp_path_factory.mktemp("pqprop") / "lake")
    sim.write_pq_lake(assigned, books, lake)
    a = sim.ivfpq_lake_topk(
        spark, lake, books, crows, q, 5, nprobe=nprobe
    ).collect()
    b = sim.ivfpq_topk(assigned, books, cents, q, 5, nprobe=nprobe).collect()
    assert [(r.vec_id, r.adc_dist, r.rank) for r in a] == [
        (r.vec_id, r.adc_dist, r.rank) for r in b
    ]


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    trips=st.lists(
        st.tuples(
            st.sampled_from(["aa", "bb", "cc", "dd"]),
            st.sampled_from(["aa", "bb", "cc", "dd"]),
            st.sampled_from(["aa", "bb", "cc", "dd"]),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_trigram_mkn_matches_direct_evaluation(spark, trips):
    """Two-layer property cross-check of the trigram MKN plan — trigram
    counts, CONTINUATION counts, both layers' clamped discounts, the five
    model joins — against an independent direct Python evaluation over
    random corpora of single-trigram docs."""
    import math
    from collections import Counter

    from finiextestingide_spark.operators.text import ngram_mkn_logprob_scores

    docs = spark.createDataFrame(
        [(i, f"{a} {b} {c}") for i, (a, b, c) in enumerate(trips)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.avg_logprob
        for r in ngram_mkn_logprob_scores(docs, order=3).collect()
    }

    tri = Counter(trips)
    h = Counter(); hn = {}
    for (w1, w2, w3), c in tri.items():
        h[(w1, w2)] += c
        d = hn.setdefault((w1, w2), [0, 0, 0])
        d[0 if c == 1 else 1 if c == 2 else 2] += 1
    cc2 = Counter((w2, w3) for (w1, w2, w3) in tri)  # distinct w1 per (w2,w3)
    t2 = Counter(); wn = {}
    for (w2, w3), c in cc2.items():
        t2[w2] += c
        d = wn.setdefault(w2, [0, 0, 0])
        d[0 if c == 1 else 1 if c == 2 else 2] += 1
    ctx1 = Counter(w3 for (w2, w3) in cc2)
    nt2 = float(len(cc2))

    def discounts(counter):
        cc = Counter(counter.values())
        n1, n2 = float(cc.get(1, 0)), float(cc.get(2, 0))
        n3, n4 = float(cc.get(3, 0)), float(cc.get(4, 0))
        y = n1 / (n1 + 2.0 * n2) if n1 + 2.0 * n2 > 0 else 0.0
        da = max(1.0 - ((2.0 * y) * n2) / n1, 0.0) if n1 > 0 else 0.0
        db = max(2.0 - ((3.0 * y) * n3) / n2, 0.0) if n2 > 0 else 0.0
        dc = max(3.0 - ((4.0 * y) * n4) / n3, 0.0) if n3 > 0 else 0.0
        return da, db, dc

    a1, a2, a3 = discounts(tri)
    b1, b2, b3 = discounts(cc2)

    for i, (w1, w2, w3) in enumerate(trips):
        c3 = tri[(w1, w2, w3)]
        da = a1 if c3 == 1 else a2 if c3 == 2 else a3
        hh = float(h[(w1, w2)])
        g3 = ((a1 * hn[(w1, w2)][0]) + (a2 * hn[(w1, w2)][1])
              + (a3 * hn[(w1, w2)][2])) / hh
        cc = cc2[(w2, w3)]
        db = b1 if cc == 1 else b2 if cc == 2 else b3
        tt = float(t2[w2])
        g2 = ((b1 * wn[w2][0]) + (b2 * wn[w2][1]) + (b3 * wn[w2][2])) / tt
        p1 = ctx1[w3] / nt2
        p2 = (float(cc) - db) / tt + g2 * p1
        p = (float(c3) - da) / hh + g3 * p2
        want = math.floor(round(math.log(p), 6) * 1e6 + 0.5) / 1e6
        assert got[i] == want, (trips[i], got[i], want)


def _ref_ngram_mkn(doc_words, order, min_wc=None):
    """Independent direct evaluation of the order-N modified-KN recurrence
    (continuation counts at every backoff level, per-level clamped
    discounts, <unk> vocabulary pruning, decimal-exact per-doc fold)."""
    import math
    from collections import Counter

    toks = dict(doc_words)
    if min_wc and min_wc > 1:
        wcnt = Counter(w for ws in toks.values() for w in ws)
        toks = {
            i: ["<unk>" if wcnt[w] < min_wc else w for w in ws]
            for i, ws in toks.items()
        }
    grams = {
        i: [tuple(ws[j:j + order]) for j in range(len(ws) - order + 1)]
        for i, ws in toks.items()
        if len(ws) >= order
    }
    lvl = {order: Counter(g for gs in grams.values() for g in gs)}
    for k in range(order - 1, 1, -1):
        lvl[k] = Counter(g[-k:] for g in lvl[k + 1])
    ctx1 = Counter(g[-1] for g in lvl[2])
    nt2 = float(len(lvl[2]))
    ctxs = {}
    for k in range(2, order + 1):
        t, nk = Counter(), {}
        for g, c in lvl[k].items():
            t[g[:-1]] += c
            d = nk.setdefault(g[:-1], [0, 0, 0])
            d[0 if c == 1 else 1 if c == 2 else 2] += 1
        ctxs[k] = (t, nk)

    def discounts(counter):
        cc = Counter(counter.values())
        n1, n2 = float(cc.get(1, 0)), float(cc.get(2, 0))
        n3, n4 = float(cc.get(3, 0)), float(cc.get(4, 0))
        y = n1 / (n1 + 2.0 * n2) if n1 + 2.0 * n2 > 0 else 0.0
        da = max(1.0 - ((2.0 * y) * n2) / n1, 0.0) if n1 > 0 else 0.0
        db = max(2.0 - ((3.0 * y) * n3) / n2, 0.0) if n2 > 0 else 0.0
        dc = max(3.0 - ((4.0 * y) * n4) / n3, 0.0) if n3 > 0 else 0.0
        return da, db, dc

    dk = {k: discounts(lvl[k]) for k in range(2, order + 1)}
    out = {}
    for i in doc_words:
        gs = grams.get(i, [])
        if not gs:
            out[i] = (0, None, None)
            continue
        lp_micro = 0
        for g in gs:
            p = ctx1[g[-1]] / nt2
            for k in range(2, order + 1):
                sub = g[-k:]
                c = lvl[k][sub]
                d1, d2, d3 = dk[k]
                d = d1 if c == 1 else d2 if c == 2 else d3
                t, nk = ctxs[k]
                tt = float(t[sub[:-1]])
                nn = nk[sub[:-1]]
                gk = ((d1 * nn[0]) + (d2 * nn[1]) + (d3 * nn[2])) / tt
                p = (float(c) - d) / tt + gk * p
            # nearest-int, not truncation: the float product can land at
            # x.999999... for an exactly-representable 6-dp decimal
            lp_micro += round(round(math.log(p), 6) * 1e6)
        n = len(gs)
        avg = math.floor(lp_micro / 1e6 / n * 1e6 + 0.5) / 1e6
        ppl = math.floor(math.exp(-avg) * 1e6 + 0.5) / 1e6
        out[i] = (n, avg, ppl)
    return out


@pytest.mark.parametrize("order", [2, 3, 4, 5])
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
            min_size=5,
            max_size=14,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_ngram_mkn_order5_pruned_matches_direct_evaluation(spark, order, docs):
    """The order-N recurrence at orders 2-5 (up to four continuation
    levels and four discount sets) WITH <unk> vocabulary pruning, against
    the independent direct evaluation — multi-transition docs exercise the
    decimal-exact sum + floor-form mean too."""
    from finiextestingide_spark.operators.text import ngram_mkn_logprob_scores

    dw = {i: ws for i, ws in enumerate(docs)}
    sdf = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in dw.items()], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_transitions, r.avg_logprob, r.pseudo_ppl)
        for r in ngram_mkn_logprob_scores(
            sdf, order=order, min_word_count=2
        ).collect()
    }
    want = _ref_ngram_mkn(dw, order, min_wc=2)
    assert got == want
