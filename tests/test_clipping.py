"""#197 live clipping telemetry (reference live_clipping_monitor.py).

The fold is deterministic by design (every entry point takes its clock
reading as an argument), so these tests drive it with synthesized
processing delays — the reference's own integration test strategy — and
check the live wiring perturbs nothing.
"""

from __future__ import annotations

import pandas as pd
import pytest

from finiextestingide_spark.operators.clipping import ClippingMonitor


def test_monitor_fold_matches_reference_arithmetic():
    """Synthesized (processing_ns, delta_ms) pairs vs a hand mirror:
    clipped iff delta > 0 and processing_ms > delta; staleness = overshoot;
    avg staleness over clipped ticks only."""
    cases = [
        (5_000_000, 10.0),   # 5ms vs 10ms gap: fine
        (12_000_000, 10.0),  # 12ms vs 10ms: clipped, stale 2
        (30_000_000, 10.0),  # clipped, stale 20
        (8_000_000, 0.0),    # first-tick convention: delta 0 never clips
        (9_999_999, 10.0),   # just under: fine
        (10_000_001, 10.0),  # just over: clipped, stale 1e-6
    ]
    m = ClippingMonitor()
    for ns, d in cases:
        m.record_tick(ns, d)
    m.record_queue_depth(3)
    m.record_queue_depth(1)
    s = m.session_summary()
    assert s["total_ticks"] == 6
    assert s["ticks_clipped"] == 3
    assert s["clipping_ratio"] == 0.5
    assert s["max_stale_ms"] == 20.0
    assert s["avg_stale_ms"] == pytest.approx((2.0 + 20.0 + 1e-6) / 3)
    assert s["max_processing_ms"] == 30.0
    assert s["avg_processing_ms"] == pytest.approx(
        sum(ns for ns, _ in cases) / 1e6 / 6
    )
    assert s["max_queue_depth"] == 3
    assert len(s["processing_times_ms"]) == 6


def test_monitor_periodic_report_interval_and_reset():
    """Phase 4: a report emits only once the interval elapses on the
    CALLER's clock, carries interval-local stats, and resets them."""
    m = ClippingMonitor(report_interval_s=60.0, start_s=100.0)
    m.record_tick(12_000_000, 10.0)
    assert m.get_periodic_report(150.0) is None  # interval not elapsed
    r = m.get_periodic_report(161.0)
    assert r == {
        "interval_ticks": 1,
        "interval_clipped": 1,
        "interval_max_stale_ms": 2.0,
        "interval_avg_stale_ms": 2.0,
        "interval_max_processing_ms": 12.0,
        "interval_avg_processing_ms": 12.0,
        "interval_max_queue_depth": 0,
    }
    # interval reset; session totals remain
    assert m.get_periodic_report(400.0) is None  # no ticks this interval
    assert m.session_summary()["total_ticks"] == 1


def test_monitor_times_list_is_bounded():
    """Unlike the reference's unbounded list, the per-tick time buffer is
    a bounded deque — months-lived state must not grow."""
    m = ClippingMonitor(keep_times=10)
    for _ in range(25):
        m.record_tick(1_000_000, 5.0)
    s = m.session_summary()
    assert s["total_ticks"] == 25
    assert len(s["processing_times_ms"]) == 10


def test_monitor_rejects_unknown_strategy():
    with pytest.raises(ValueError, match="strategy"):
        ClippingMonitor(strategy="panic")


class _StubSession:
    """Records process calls; carries the monitor like a live session."""

    def __init__(self, monitor):
        self.clipping_monitor = monitor
        self.ticks = []

    def process_tick(self, t, c, b, a):
        self.ticks.append(t)

    def process_signal(self, t, score):  # pragma: no cover - not driven here
        raise AssertionError("no signal rows in this test")


def test_drive_rows_wires_monitor_with_synthetic_clock():
    """The live wiring: _drive_session_rows wraps each process_tick in a
    clock_ns measurement and folds it against the collected_msc arrival
    delta. Synthetic clock => deterministic clipped count."""
    from finiextestingide_spark.streaming.live_replay import _drive_session_rows

    # arrivals 10ms apart; scripted per-tick processing: 5, 15, 5, 25 ms
    pdf = pd.DataFrame(
        {
            "time_msc": [1000, 1010, 1020, 1030],
            "collected_msc": [1000, 1010, 1020, 1030],
            "bid": [1.0, 1.0, 1.0, 1.0],
            "ask": [1.1, 1.1, 1.1, 1.1],
        }
    )
    script = [5, 15, 5, 25]  # ms per tick
    state = {"i": 0, "now": 0}

    def clock_ns():
        # called twice per tick: entry, then exit advanced by the script
        half = state["i"] // 2
        if state["i"] % 2 == 1:
            state["now"] += script[half] * 1_000_000
        state["i"] += 1
        return state["now"]

    mon = ClippingMonitor()
    sess = _StubSession(mon)
    _drive_session_rows(pdf, lambda _s: sess, monitor=True, clock_ns=clock_ns)
    assert sess.ticks == [1000, 1010, 1020, 1030]
    s = mon.session_summary()
    assert s["total_ticks"] == 4
    # first tick has no delta anchor (never clips); 15ms and 25ms clip
    assert s["ticks_clipped"] == 2
    assert s["max_stale_ms"] == 15.0
    assert s["avg_stale_ms"] == pytest.approx(10.0)


def test_monitor_fold_matches_mirror_hypothesis():
    """Hypothesis sweep: the fold equals a plain-python mirror on arbitrary
    (processing_ns, delta_ms) sequences — totals, clipped counts, max/avg
    staleness and processing (the reference Phase-3 arithmetic)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        seq=st.lists(
            st.tuples(
                st.integers(0, 50_000_000),
                st.sampled_from([0.0, 0.5, 1.0, 5.0, 10.0, 25.0]),
            ),
            max_size=40,
        )
    )
    def run(seq):
        m = ClippingMonitor()
        stales, procs = [], []
        for ns, d in seq:
            m.record_tick(ns, d)
            p = ns / 1e6
            procs.append(p)
            if d > 0 and p > d:
                stales.append(p - d)
        s = m.session_summary()
        assert s["total_ticks"] == len(procs)
        assert s["ticks_clipped"] == len(stales)
        assert s["max_stale_ms"] == (max(stales) if stales else 0.0)
        assert s["avg_stale_ms"] == pytest.approx(
            sum(stales) / len(stales) if stales else 0.0
        )
        assert s["max_processing_ms"] == (max(procs) if procs else 0.0)
        assert s["avg_processing_ms"] == pytest.approx(
            sum(procs) / len(procs) if procs else 0.0
        )

    run()


def test_account_clipping_does_not_perturb_trades(spark, tmp_path):
    """Account scope: one shared monitor across sub-books is pure telemetry
    too — the account trade stream is bit-identical with and without it."""
    from tests.test_live_bootstrap import PARAMS, LAT, TICK_DDL, _ticks
    from finiextestingide_spark.streaming.live_replay import live_backtest_account

    params = {**PARAMS, "start_balance": 10_000.0, "margin_per_lot": 3_000.0}
    feed = sorted(
        _ticks("EURUSD", 100) + _ticks("GBPUSD", 100, phase=1.3),
        key=lambda r: (r[2], r[0]),
    )

    def run(tag, **kw):
        ticks_dir = str(tmp_path / f"t_{tag}")
        out = str(tmp_path / f"o_{tag}")
        spark.createDataFrame(feed, TICK_DDL).write.parquet(ticks_dir)
        stream = spark.readStream.schema(TICK_DDL).parquet(ticks_dir)
        q = (
            live_backtest_account(stream, params, **LAT, **kw)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"c_{tag}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(tuple(r) for r in spark.read.parquet(out).collect())

    base = run("plain")
    with_clip = run("clip", clipping=True, clipping_report_interval_s=0.0)
    assert base and base == with_clip


def test_live_clipping_does_not_perturb_trades(spark, tmp_path):
    """clipping=True is pure telemetry: the trade stream is bit-identical
    with and without it."""
    from tests.test_live_bootstrap import PARAMS, LAT, TICK_DDL, _ticks
    from finiextestingide_spark.streaming.live_replay import live_backtest

    feed = _ticks("EURUSD", 120)

    def run(tag, **kw):
        ticks_dir = str(tmp_path / f"t_{tag}")
        out = str(tmp_path / f"o_{tag}")
        spark.createDataFrame(feed, TICK_DDL).write.parquet(ticks_dir)
        stream = spark.readStream.schema(TICK_DDL).parquet(ticks_dir)
        q = (
            live_backtest(stream, PARAMS, **LAT, **kw)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"c_{tag}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.read.parquet(out).collect()
        return sorted(tuple(r) for r in rows)

    base = run("plain")
    with_clip = run("clip", clipping=True, clipping_report_interval_s=0.0)
    assert base and base == with_clip


def test_monitor_reanchors_monotonic_after_cross_host_unpickle():
    """ADVICE r10: monotonic origins are not comparable across hosts or
    boots — state restored on a DIFFERENT machine (migrated executor /
    restart from checkpoint) must re-anchor the report cadence to the
    first observed clock, not compare a foreign monotonic origin (which
    could suppress reports forever or fire spuriously). Simulated by
    swapping the module's clock token between dump and load."""
    import pickle

    import finiextestingide_spark.operators.clipping as clip_mod

    m = ClippingMonitor(report_interval_s=10.0, start_s=1_000_000.0)
    m.record_tick(5_000_000, 100.0)
    blob = pickle.dumps(m)
    saved = clip_mod._CLOCK_TOKEN
    clip_mod._CLOCK_TOKEN = "other-host:deadbeef"
    try:
        m2 = pickle.loads(blob)
    finally:
        clip_mod._CLOCK_TOKEN = saved
    # counters survive the round trip; the foreign monotonic anchor does not
    assert m2.total_ticks == 1 and m2.last_report_s is None
    # first call on the new clock anchors (no report), even though the
    # OLD origin would have made now - last_report_s hugely negative
    assert m2.get_periodic_report(5.0) is None
    assert m2.last_report_s == 5.0
    m2.record_tick(5_000_000, 100.0)
    rep = m2.get_periodic_report(5.0 + 10.0)
    # interval COUNTERS survive the round trip (only the clock anchor is
    # dropped), so the pre-pickle tick is still in this interval
    assert rep is not None and rep["interval_ticks"] == 2


def test_monitor_same_host_pickle_keeps_cadence():
    """ADVICE r11 (high): the live paths pickle session state at the END
    of every micro-batch and call get_periodic_report exactly once per
    batch. A same-host round trip must KEEP the monotonic anchor (all
    processes on a host share CLOCK_MONOTONIC's origin) — with the old
    null-on-every-pickle behavior the single per-batch call always hit
    the re-anchor branch and a periodic report could never fire after
    the first micro-batch, at any interval."""
    import pickle

    m = ClippingMonitor(report_interval_s=10.0, start_s=0.0)
    reports = []
    clock = 0.0
    for _batch in range(4):
        clock += 6.0  # batches arrive every 6s; interval is 10s
        m.record_tick(2_000_000, 1.0)
        rep = m.get_periodic_report(clock)  # once per batch, like live
        if rep is not None:
            reports.append((clock, rep))
        m = pickle.loads(pickle.dumps(m))  # end-of-batch state round trip
    # anchor survives same-process pickles: reports at t=12 and t=24
    assert [t for t, _ in reports] == [12.0, 24.0]
    assert reports[0][1]["interval_ticks"] == 2
    assert reports[1][1]["interval_ticks"] == 2
    # legacy tokenless state (pre-fix checkpoint) still re-anchors safely
    state = m.__getstate__()
    state.pop("_clock_token")
    m3 = ClippingMonitor.__new__(ClippingMonitor)
    m3.__setstate__(state)
    assert m3.last_report_s is None


def test_drop_stale_strategy_warns_loud():
    """VERDICT r10: the engine records drop_stale but never enacts it —
    a migrated reference config must hear that loudly, not silently get
    queue_all behavior."""
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        ClippingMonitor(strategy="drop_stale")
    assert any("never drops ticks" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        ClippingMonitor(strategy="queue_all")
    assert not w


def test_checkpoint_blob_stays_bounded_with_keep_times():
    """VERDICT r10 #7 measurement: the state-rider monitor's pickle size
    is flat in session length once the times deque saturates — the live
    paths construct with keep_times=256, so a months-lived key re-pickles
    ~2 KB of telemetry per micro-batch, not ~80 KB."""
    import pickle

    m = ClippingMonitor(keep_times=256)
    for i in range(512):
        m.record_tick(1_000_000 + i, 1.0)
    at_512 = len(pickle.dumps(m))
    for i in range(50_000):
        m.record_tick(1_000_000 + i, 1.0)
    at_50k = len(pickle.dumps(m))
    assert m.total_ticks == 50_512  # totals keep counting
    assert at_50k <= at_512 + 64  # blob flat once the deque saturates
    assert at_50k < 4096


def test_telemetry_ledger_rows_match_periodic_reports(spark, tmp_path):
    """VERDICT r10 #4: interval reports written through write_report_row
    read back as rows EQUAL to what get_periodic_report produced on a
    synthetic clock — #197 becomes queryable, not just greppable."""
    from finiextestingide_spark.operators.clipping import (
        read_clipping_telemetry,
        write_report_row,
    )

    tdir = str(tmp_path / "ledger")
    m = ClippingMonitor(report_interval_s=10.0, start_s=0.0)
    expected = []
    clock = 0.0
    for burst in range(3):
        for i in range(4):
            m.record_tick((2 + burst) * 1_000_000, 1.5 if i % 2 else 4.0)
        clock += 10.0
        rep = m.get_periodic_report(clock)
        assert rep is not None
        write_report_row(tdir, "EURUSD", rep)
        expected.append(rep)

    got = read_clipping_telemetry(spark, tdir).collect()
    assert len(got) == 3
    assert all(r["key"] == "EURUSD" for r in got)
    got_sorted = sorted(
        [tuple(r[k] for k in expected[0]) for r in got]
    )
    exp_sorted = sorted(tuple(e.values()) for e in expected)
    assert got_sorted == exp_sorted


def test_live_telemetry_dir_writes_queryable_rows(spark, tmp_path):
    """End-to-end: a live session with clipping + telemetry_dir leaves a
    ledger whose rows read back with the report schema and account for
    every processed tick."""
    from tests.test_live_bootstrap import PARAMS, LAT, TICK_DDL, _ticks
    from finiextestingide_spark.operators.clipping import read_clipping_telemetry
    from finiextestingide_spark.streaming.live_replay import live_backtest

    feed = _ticks("EURUSD", 120)
    ticks_dir = str(tmp_path / "t")
    out = str(tmp_path / "o")
    tdir = str(tmp_path / "ledger")
    spark.createDataFrame(feed, TICK_DDL).write.parquet(ticks_dir)
    stream = spark.readStream.schema(TICK_DDL).parquet(ticks_dir)
    q = (
        live_backtest(
            stream, PARAMS, **LAT,
            clipping=True, clipping_report_interval_s=0.0,
            telemetry_dir=tdir,
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "c"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = read_clipping_telemetry(spark, tdir).collect()
    assert rows, "interval_s=0 must emit at least one report row"
    assert all(r["key"] == "EURUSD" and r["interval_ticks"] > 0 for r in rows)


def test_live_telemetry_fires_across_micro_batches(spark, tmp_path):
    """ADVICE r11 (high) regression, live form: periodic reports must keep
    firing AFTER the first micro-batch. The feed is split into three files
    driven one per micro-batch (maxFilesPerTrigger=1), so the monitor's
    state is pickled/unpickled between report opportunities; with the old
    null-anchor-on-every-pickle behavior only batch 1 could ever report."""
    from tests.test_live_bootstrap import PARAMS, LAT, TICK_DDL, _ticks
    from finiextestingide_spark.operators.clipping import read_clipping_telemetry
    from finiextestingide_spark.streaming.live_replay import live_backtest

    feed = _ticks("EURUSD", 150)
    ticks_dir = str(tmp_path / "t")
    tdir = str(tmp_path / "ledger")
    for lo, hi in ((0, 50), (50, 100), (100, 150)):  # chronological slices
        spark.createDataFrame(feed[lo:hi], TICK_DDL).repartition(1).write.mode(
            "append"
        ).parquet(ticks_dir)
    stream = (
        spark.readStream.schema(TICK_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(ticks_dir)
    )
    q = (
        live_backtest(
            stream, PARAMS, **LAT,
            clipping=True, clipping_report_interval_s=0.0,
            telemetry_dir=tdir,
        )
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "o"))
        .option("checkpointLocation", str(tmp_path / "c"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = read_clipping_telemetry(spark, tdir).collect()
    # one report per micro-batch that saw ticks; a worker-process change
    # legitimately re-anchors (suppressing at most that batch), so >= 2
    # proves cadence survived at least one same-process pickle round trip
    assert len(rows) >= 2, f"expected reports from multiple batches, got {rows}"
    assert sum(r["interval_ticks"] for r in rows) <= 150
    assert all(r["key"] == "EURUSD" for r in rows)
