"""Parameter sweep + run ledger (SURVEY.md §3.3, §2.4 A10-A11, §2.1 S13).

The reference expands a Cartesian grid driver-side, re-executes the batch per
combination against a shared data mount, and appends one immutable KPI
fragment per run to a Parquet ledger (reference:
python/framework/optimization/optimization_runner.py:31-113,
grid_expander.py:15-28, run_results_ledger.py:1-37).

Spark-first: the grid is a tiny DataFrame crossJoined onto scenarios — the
whole sweep becomes ONE ``run_backtest`` call over (scenario x combo) groups;
at cluster scale a 10k-combo sweep is 10k independent tasks, not 10k
re-executions of a driver loop. Mount reuse is the caller's: ``.persist()``
the tick frame once and every sweep reads it without a re-scan
(tests/test_sweep_reporting.py ``test_sweep_warm_mount_no_rescan``).

``run_sweep`` caches the expanded SCENARIO frame, not the ticks. That frame
is read three times per sweep — ``run_backtest``'s driver-side collect of the
scenario table, the scenario attach, and the identity join back onto the
results — and without the cache each read re-runs the grid crossJoin and its
``map_filter``/``map_concat`` rewrite of ``parameters``. On the perfbench
``sweep`` workload (4 vCPUs, seeds 6-9) dropping it took a sweep op from
4.32-5.33 s to 7.21-9.39 s. The replay result itself is materialized once
inside ``run_backtest``, so the ledger write and the ranking after it do not
re-run the replay."""

from __future__ import annotations

import itertools
from collections.abc import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .replay import run_backtest


def expand_grid(grid: Mapping[str, Sequence[str]]) -> list[dict[str, str]]:
    """Cartesian product; sorted param names, value order preserved
    (grid_expander.py:15-28)."""
    names = sorted(grid)
    return [dict(zip(names, combo)) for combo in itertools.product(*(grid[n] for n in names))]


def sweep_scenarios(
    spark: SparkSession,
    scenarios: DataFrame,
    grid: Mapping[str, Sequence[str]],
    *,
    sweep_id: str = "sweep",
) -> DataFrame:
    """scenarios x grid -> one scenario row per (scenario, combo), with
    overridden `parameters` and a unique scenario_id / run_id."""
    combos = expand_grid(grid)
    combos_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(combos)], "combo_id int, overrides map<string,string>"
    )
    n = len(combos)
    return (
        scenarios.crossJoin(F.broadcast(combos_df))
        .withColumn("base_scenario_id", F.col("scenario_id"))
        .withColumn("scenario_id", F.col("scenario_id") * n + F.col("combo_id"))
        .withColumn(
            "parameters",
            F.map_concat(  # overrides win on duplicate keys
                F.map_filter(
                    F.coalesce(F.col("parameters"), F.expr("map()")),
                    lambda k, _: ~F.array_contains(F.map_keys(F.col("overrides")), k),
                ),
                F.col("overrides"),
            ),
        )
        .withColumn("sweep_id", F.lit(sweep_id))
        .withColumn(
            "run_id",
            F.concat_ws("-", F.lit(sweep_id), F.col("base_scenario_id"), F.col("combo_id")),
        )
        .drop("overrides")
    )


def run_sweep(
    spark: SparkSession,
    ticks: DataFrame,
    scenarios: DataFrame,
    grid: Mapping[str, Sequence[str]],
    *,
    sweep_id: str = "sweep",
) -> DataFrame:
    """One distributed pass over every (scenario, combo); returns replay
    results joined back to sweep identity columns."""
    sc = sweep_scenarios(spark, scenarios, grid, sweep_id=sweep_id).cache()
    results = run_backtest(ticks, sc)
    identity = sc.select(
        "scenario_id", "base_scenario_id", "combo_id", "sweep_id", "run_id", "parameters",
        *(["role"] if "role" in sc.columns else []),
    )
    return results.join(F.broadcast(identity), "scenario_id")


def ledger_rows(sweep_results: DataFrame) -> DataFrame:
    """Project sweep results onto the append-only ledger shape (S13):
    identity as columns, never paths (run_results_ledger.py:8-10)."""
    return sweep_results.select(
        "run_id",
        "sweep_id",
        "scenario_id",
        "parameters",
        F.lit("completed").alias("status"),
        F.col("ticks_processed"),
        F.col("trades_count").alias("trades"),
        "wins",
        "losses",
        "gross_profit",
        "gross_loss",
        "net_pnl",
        "fees",
        "max_drawdown",
        "final_equity",
        F.col("net_pnl").alias("objective"),
    )


def append_ledger(rows: DataFrame, path: str) -> None:
    """S13 sink — one immutable fragment per append."""
    rows.write.mode("append").parquet(path)


def read_ledger(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def sweep_summary(ledger: DataFrame) -> DataFrame:
    """A10 — per-sweep roll-up (optimization_analysis.py:43-79)."""
    return ledger.groupBy("sweep_id").agg(
        F.countDistinct("run_id").alias("runs"),
        F.sum((F.col("status") != "completed").cast("int")).alias("errors"),
        F.avg("objective").alias("mean_objective"),
        F.max("objective").alias("best_objective"),
    )


def rank_runs(ledger: DataFrame) -> DataFrame:
    """O2 — deterministic ranking: objective desc, run_id asc tiebreak
    (optimization_analysis.py:82-107)."""
    return ledger.orderBy(F.desc("objective"), F.asc("run_id"))


def parameter_sensitivity(ledger: DataFrame, swept_params: Sequence[str]) -> DataFrame:
    """A11 — OFAT influence: per swept param, mean objective per level;
    influence = max(level mean) - min(level mean)
    (optimization_analysis.py:110-146)."""
    exploded = ledger.select(
        "run_id", "objective", F.explode("parameters").alias("param", "level")
    ).where(F.col("param").isin(list(swept_params)))
    per_level = exploded.groupBy("param", "level").agg(
        F.avg("objective").alias("mean_objective"), F.count(F.lit(1)).alias("runs")
    )
    influence = per_level.groupBy("param").agg(
        (F.max("mean_objective") - F.min("mean_objective")).alias("influence")
    )
    return per_level.join(influence, "param")
