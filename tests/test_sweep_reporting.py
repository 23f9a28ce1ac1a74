"""End-to-end sweep + ledger + reporting tests (SURVEY §3.3 lifecycle):
grid expansion -> one distributed replay pass -> ledger -> ranking /
sensitivity / rollups."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from finiextestingide_spark.operators.reporting import (
    per_group_trade_analytics,
    per_scenario_totals,
    portfolio_rollup,
    profiling_aggregate,
    robustness_stats,
    walk_forward_efficiency,
)
from finiextestingide_spark.operators.replay import run_backtest, trades_table
from finiextestingide_spark.operators.sweep import (
    append_ledger,
    expand_grid,
    ledger_rows,
    parameter_sensitivity,
    rank_runs,
    read_ledger,
    run_sweep,
    sweep_summary,
)
from tests.test_replay import BASE, PRICES, make_scenarios, make_ticks


def test_expand_grid_order():
    grid = {"b": ["1", "2"], "a": ["x"]}
    combos = expand_grid(grid)
    assert combos == [{"a": "x", "b": "1"}, {"a": "x", "b": "2"}]


@pytest.fixture(scope="module")
def sweep_results(spark):
    ticks = make_ticks(spark, PRICES)
    scenarios = make_scenarios(
        spark,
        [
            (1, "a", "X", None, None, 1, 0, 0, BASE),
            (2, "b", "X", None, None, 2, 0, 0, BASE),
        ],
    )
    grid = {"fast": ["2", "3"], "slow": ["4", "6"]}
    return run_sweep(spark, ticks, scenarios, grid, sweep_id="sw1").cache()


def test_sweep_runs_every_combo(spark, sweep_results):
    rows = sweep_results.collect()
    assert len(rows) == 2 * 4  # 2 scenarios x 2x2 grid
    assert len({r["run_id"] for r in rows}) == 8
    assert all(r["sweep_id"] == "sw1" for r in rows)
    # overrides applied: each combo's parameters carry its grid levels
    params = {(r["base_scenario_id"], r["combo_id"]): r["parameters"] for r in rows}
    assert params[(1, 0)]["fast"] == "2" and params[(1, 0)]["slow"] == "4"
    assert params[(1, 3)]["fast"] == "3" and params[(1, 3)]["slow"] == "6"


def test_ledger_roundtrip_and_ranking(spark, sweep_results, tmp_path):
    path = str(tmp_path / "ledger")
    append_ledger(ledger_rows(sweep_results), path)
    append_ledger(ledger_rows(sweep_results.withColumn("sweep_id", F.lit("sw2")).withColumn(
        "run_id", F.concat(F.lit("sw2-"), F.col("run_id")))), path)
    ledger = read_ledger(spark, path)
    assert ledger.count() == 16
    summary = {r["sweep_id"]: r for r in sweep_summary(ledger).collect()}
    assert summary["sw1"]["runs"] == 8 and summary["sw1"]["errors"] == 0
    ranked = rank_runs(ledger.where(F.col("sweep_id") == "sw1")).collect()
    objs = [r["objective"] for r in ranked]
    assert objs == sorted(objs, reverse=True)
    # deterministic tiebreak: equal objectives ordered by run_id asc
    for a, b in zip(ranked, ranked[1:]):
        if a["objective"] == b["objective"]:
            assert a["run_id"] < b["run_id"]


def test_parameter_sensitivity_levels(spark, sweep_results):
    sens = parameter_sensitivity(ledger_rows(sweep_results), ["fast", "slow"]).collect()
    by_param = {}
    for r in sens:
        by_param.setdefault(r["param"], []).append(r)
    assert set(by_param) == {"fast", "slow"}
    assert {r["level"] for r in by_param["fast"]} == {"2", "3"}
    for r in sens:
        assert r["runs"] == 4  # each level appears in 4 runs
        assert r["influence"] >= 0


def test_portfolio_rollup_ratios_from_sums(spark, sweep_results):
    roll = portfolio_rollup(sweep_results).collect()[0]
    assert roll["runs"] == 8
    if roll["trades"] > 0 and roll["win_rate"] is not None:
        assert roll["win_rate"] == pytest.approx(roll["wins"] / roll["trades"])
    if roll["gross_loss"] != 0:
        assert roll["profit_factor"] == pytest.approx(
            roll["gross_profit"] / -roll["gross_loss"]
        )


def test_trade_analytics_and_totals(spark):
    ticks = make_ticks(spark, PRICES)
    scenarios = make_scenarios(spark, [(1, "a", "X", None, None, 1, 0, 0, BASE)])
    trades = trades_table(run_backtest(ticks, scenarios)).cache()
    g = per_group_trade_analytics(trades, "direction").collect()
    assert {r["direction"] for r in g} <= {"LONG", "SHORT"}
    for r in g:
        assert r["trades"] == r["wins"] + r["losses"] or r["trades"] >= r["wins"] + r["losses"]
    tot = per_scenario_totals(trades).collect()[0]
    assert tot["trades"] == trades.count()


def test_robustness_and_wfe(spark):
    rows = [
        (1, "IS", 10.0), (2, "IS", 20.0), (3, "IS", 30.0),
        (4, "OOS", 5.0), (5, "OOS", 15.0),
    ]
    df = spark.createDataFrame(rows, "scenario_id int, role string, net_pnl double")
    stats = {r["role"]: r for r in robustness_stats(df).collect()}
    assert stats["IS"]["mean_obj"] == pytest.approx(20.0)
    assert stats["IS"]["median_obj"] == pytest.approx(20.0)
    assert stats["IS"]["best_scenario"] == 3 and stats["IS"]["worst_scenario"] == 1
    assert stats["OOS"]["pct_profitable"] == pytest.approx(1.0)
    wfe = walk_forward_efficiency(df).collect()[0]
    assert wfe["wfe"] == pytest.approx(10.0 / 20.0)


def test_profiling_aggregate(spark):
    rows = [(i, float(100 + i), "workerA" if i < 7 else "workerB") for i in range(10)]
    df = spark.createDataFrame(rows, "scenario_id int, avg_tick_us double, bottleneck string")
    out = profiling_aggregate(df).collect()[0]
    assert out["modal_bottleneck"] == "workerA" and out["modal_bottleneck_freq"] == 7
    assert out["suggested_budget_us"] == pytest.approx(out["p95_avg_tick_us"] * 1.1)


def test_report_sinks_roundtrip(spark, tmp_path):
    from finiextestingide_spark.operators.reporting import read_report, write_report

    df = spark.createDataFrame(
        [("EUR", 12, 345.5), ("USD", 7, -12.25)], "currency string, trades int, net double"
    )
    for fmt in ("csv", "json"):
        p = str(tmp_path / f"report_{fmt}")
        write_report(df, p, fmt=fmt)
        back = read_report(spark, p, fmt=fmt)
        got = sorted((r["currency"], int(r["trades"]), float(r["net"])) for r in back.collect())
        assert got == [("EUR", 12, 345.5), ("USD", 7, -12.25)]


def test_sweep_warm_mount_no_rescan(spark, tmp_path):
    """SURVEY §3.3 mount reuse (#418/#419): the reference builds the data
    mount once and re-executes each sweep combination against it; the
    engine's analogue is .persist() on the base tick DataFrame. Proof of
    zero re-scan on the warm path is physical: after the first combination
    materializes the mount, the SOURCE FILES ARE DELETED — the second
    combination can only succeed if it reads the cached mount and never
    touches the scan. A control assertion shows a fresh (cold) read of the
    deleted source fails, so the deletion is load-bearing."""
    import shutil
    from datetime import datetime, timedelta

    import pytest
    import pyspark.sql.functions as F

    from finiextestingide_spark.operators.replay import run_backtest

    src = str(tmp_path / "ticks")
    rows = [
        (
            "W",
            datetime(2026, 1, 1) + timedelta(seconds=i),
            1_767_225_600_000 + i * 1000,
            1_767_225_600_000 + i * 1000,
            100.0 + (i % 50) * 0.01,
            100.02 + (i % 50) * 0.01,
        )
        for i in range(600)
    ]
    spark.createDataFrame(
        rows,
        "symbol string, timestamp timestamp, time_msc long, collected_msc long, "
        "bid double, ask double",
    ).coalesce(2).write.parquet(src)

    def scen(sid, fast, slow):
        return (
            sid, f"combo_{sid}", "W", None, None, 1, 0, 0,
            {"strategy": "sma_cross", "bar_ms": "10000", "fast": fast, "slow": slow},
        )

    scen_ddl = (
        "scenario_id int, name string, symbol string, max_ticks int, "
        "tick_processing_budget_ms double, latency_seed int, latency_min_ms int, "
        "latency_max_ms int, parameters map<string,string>"
    )

    # expected combo-2 result computed while the source still exists
    combo2 = spark.createDataFrame([scen(2, "3", "7")], scen_ddl)
    expected = run_backtest(spark.read.parquet(src), combo2).collect()

    # build the mount ONCE: persist + full materialization
    mount = spark.read.parquet(src).persist()
    assert mount.count() == 600  # every partition cached

    r1 = run_backtest(mount, spark.createDataFrame([scen(1, "2", "5")], scen_ddl)).collect()
    assert r1[0]["ticks_processed"] == 600

    shutil.rmtree(src)  # the mount is now the ONLY copy

    # control: a cold path MUST fail — proves deletion breaks any re-scan
    with pytest.raises(Exception):
        spark.read.parquet(src).count()

    # warm path: second combination re-executes against the shared mount
    r2 = run_backtest(mount, combo2).collect()
    assert r2[0]["ticks_processed"] == 600
    got = {k: r2[0][k] for k in ("trades_count", "net_pnl", "final_equity")}
    want = {k: expected[0][k] for k in ("trades_count", "net_pnl", "final_equity")}
    assert got == want
    mount.unpersist()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_backtest_result_materialized_once(spark, tmp_path):
    """run_backtest checkpoints its result: the replay state machine runs on
    the first action only. Its executed plan is a scan of the stored rows
    (no FlatMapGroupsInPandas, so no later action can re-enter the Python
    stage), while the lazy _replay_plan still carries it. A parquet write,
    an ordered collect and a count on the one result agree row for row,
    and match the lazy plan's rows."""
    from finiextestingide_spark.operators.replay import _replay_plan

    ticks = make_ticks(spark, PRICES)
    scenarios = make_scenarios(
        spark, [(i, f"s{i}", "X", None, None, i, 0, 0, BASE) for i in range(1, 5)]
    )
    res = run_backtest(ticks, scenarios)
    assert "FlatMapGroupsInPandas" not in _executed_plan(res)
    lazy = _replay_plan(ticks, scenarios)
    assert "FlatMapGroupsInPandas" in _executed_plan(lazy)

    path = str(tmp_path / "results")
    res.write.parquet(path)
    collected = res.orderBy("scenario_id").collect()
    assert res.count() == len(collected) == 4
    assert spark.read.parquet(path).orderBy("scenario_id").collect() == collected
    assert lazy.orderBy("scenario_id").collect() == collected


def test_sweep_ledger_materialized_once(spark, tmp_path):
    """The sweep op's three actions — ledger write, ranking, count — read one
    materialized replay result: the ranking's executed plan holds no
    FlatMapGroupsInPandas, and the written ledger, the ranking and the count
    agree row for row."""
    ticks = make_ticks(spark, PRICES)
    scenarios = make_scenarios(
        spark,
        [(1, "a", "X", None, None, 1, 0, 0, BASE), (2, "b", "X", None, None, 2, 0, 0, BASE)],
    )
    rows = ledger_rows(run_sweep(spark, ticks, scenarios, {"fast": ["2", "3"]}, sweep_id="m1"))
    assert "FlatMapGroupsInPandas" not in _executed_plan(rank_runs(rows))

    path = str(tmp_path / "ledger")
    append_ledger(rows, path)
    ranked = rank_runs(rows).collect()
    assert rows.count() == len(ranked) == 4
    assert rank_runs(read_ledger(spark, path)).collect() == ranked


def test_sweep_leaves_nothing_materialized(spark):
    """run_sweep gives what it materializes an owner: after three sweeps are
    collected and dropped, a driver GC leaves no CacheManager entry, and the
    ContextCleaner frees every checkpoint the sweeps stored."""
    import gc
    import time

    spark.catalog.clearCache()  # earlier tests' caches are not this test's subject
    cache = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc

    def stored_rdds() -> int:  # RDDInfo holds no reference that would pin an RDD
        return len(jsc.sc().getRDDStorageInfo())

    baseline = stored_rdds()
    ticks = make_ticks(spark, PRICES)
    scenarios = make_scenarios(
        spark,
        [(1, "a", "X", None, None, 1, 0, 0, BASE), (2, "b", "X", None, None, 2, 0, 0, BASE)],
    )
    for i in range(3):
        rows = run_sweep(spark, ticks, scenarios, {"fast": ["2", "3"]}, sweep_id=f"g{i}")
        assert len(rows.collect()) == 4
    del rows
    gc.collect()
    assert cache.isEmpty()
    deadline = time.monotonic() + 60
    while stored_rdds() > baseline and time.monotonic() < deadline:
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
    assert stored_rdds() <= baseline
