"""The benchmark workloads.

Each workload generates its inputs from the run's seed in ``setup()``, then
runs ops. ``op(op_id)`` times one unit of user work through the program's
public functions, with a tracer span around every layer call, and checks the
op's outputs outside the timed part. An op whose check fails is a failed op.
Sizes are module constants so every seed carries the same load; DESIGN.md
lists them with the reasons.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from finiextestingide_spark.operators.replay import run_backtest, trades_table
from finiextestingide_spark.operators.sweep import (
    append_ledger,
    ledger_rows,
    parameter_sensitivity,
    rank_runs,
    read_ledger,
    run_sweep,
    sweep_summary,
)
from finiextestingide_spark.streaming.live_replay import live_backtest

from . import gen
from .trace import PY_INIT, PY_RUN, PY_SENT, PY_START, EventLog, Tracer, layer_stages, layer_table

SCENARIO_COLS = (
    "scenario_id int, name string, symbol string, max_ticks int, "
    "tick_processing_budget_ms double, latency_seed int, latency_min_ms int, "
    "latency_max_ms int, parameters map<string,string>"
)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""
    layers: list[str] = []
    warm_ops: int

    def __init__(self, spark, tracer: Tracer, tmp: str, rng: np.random.Generator):
        self.spark = spark
        self.tracer = tracer
        self.tmp = tmp
        self.rng = rng

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, op_id: str) -> dict:
        """Run one op. Returns {"ok", "wall_s", "ticks", ...}."""
        raise NotImplementedError

    def finish(self, ops: list[dict]) -> None:
        """Whole-run checks that can still fail ops (default: none)."""

    def diagnostics(self, ops: list[dict]) -> dict:
        return {}

    def layer_metrics(self, log: EventLog, timed: set[str]) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass

    def _layers(self, log: EventLog, timed: set[str], query: str | None = None) -> dict:
        out: dict[str, float] = {}
        for layer in self.layers:
            out.update(layer_table(self.tracer, log, layer, timed, query))
        return out

    def _stages(self, log: EventLog, layers, timed: set[str], query: str | None = None):
        return sorted({s for l in layers for s in layer_stages(self.tracer, log, l, timed, query)})

    @staticmethod
    def _replay_metrics(
        log: EventLog, stages: list[int], n_ops: int, one_crossing_bytes: float
    ) -> dict[str, float]:
        """Arrow-boundary numbers of the replay state machine: Python
        stages per op, bytes sent to Python workers per op over the bytes
        of one crossing of the replay input, summed worker start / init /
        run time (the accumulators are milliseconds), and task skew."""
        py = [s for s in stages if log.stages[s][PY_INIT] + log.stages[s][PY_RUN] > 0]
        runs = [r for s in py for r in log.stage_task_runs[s]]
        med = _median(runs)
        return {
            "operators.replay.passes": len(py) / n_ops,
            "operators.replay.python_bytes_ratio": (
                log.total(py, PY_SENT) / n_ops / one_crossing_bytes if one_crossing_bytes else 0.0
            ),
            "operators.replay.python_start_s": log.total(py, PY_START) / 1e3 / n_ops,
            "operators.replay.python_init_s": log.total(py, PY_INIT) / 1e3 / n_ops,
            "operators.replay.python_run_s": log.total(py, PY_RUN) / 1e3 / n_ops,
            "operators.replay.task_skew": max(runs) / med if med else 0.0,
        }


# ---------------------------------------------------------------------------
# sweep: parameter grid sweep over a seeded random-walk tick lake
# ---------------------------------------------------------------------------

SWEEP_TICKS_PER_SYMBOL = 25_000
SWEEP_GRID = {"fast": ["5", "8"]}
SWEEP_BASE = [
    ("sma_cross", {"slow": "21"}),
    ("rsi_reversion", {"period": "9", "buy_below": "35", "sell_above": "65"}),
    ("macd_cross", {"slow": "21", "signal": "9"}),
    ("sma_cross", {"slow": "34", "lots": "0.5"}),
]


class Sweep(Workload):
    name = "sweep"
    layers = ["operators.sweep", "operators.sweep.ledger", "operators.reporting"]
    warm_ops = 2

    def setup(self) -> None:
        ticks = gen.TickWalk(self.rng).next(SWEEP_TICKS_PER_SYMBOL)
        path = os.path.join(self.tmp, "ticks")
        os.makedirs(path)
        for sym, part in ticks.groupby("symbol"):
            gen.write_ticks_parquet(part, os.path.join(path, f"{sym}.parquet"))
        self.ticks = self.spark.read.parquet(path)
        rows = []
        for i, (sym, (strategy, extra)) in enumerate(zip(gen.SYMBOLS, SWEEP_BASE)):
            params = {"strategy": strategy, "bar_ms": "60000", "equity_sample_every": "0", **extra}
            seed = int(self.rng.integers(1, 2**31 - 1))
            rows.append((i + 1, f"{strategy}-{sym}", sym, None, None, seed, 0, 250, params))
        self.scenarios = self.spark.createDataFrame(rows, SCENARIO_COLS)
        self.n_runs = len(rows) * int(np.prod([len(v) for v in SWEEP_GRID.values()]))
        self.expected_ticks = self.n_runs * SWEEP_TICKS_PER_SYMBOL
        # replay input once per scenario: (__part, timestamp, time_msc,
        # collected_msc, bid, ask) = 4 + 5 * 8 bytes per scenario-tick
        self.one_crossing_bytes = float(self.expected_ticks * 44)
        self.reference_ranking = None
        self._n = 0

    def op(self, op_id: str) -> dict:
        tr = self.tracer
        path = os.path.join(self.tmp, "ledger", f"op{self._n}")
        self._n += 1
        t0 = time.perf_counter()
        with tr.span("operators.sweep", op_id):
            results = run_sweep(self.spark, self.ticks, self.scenarios, SWEEP_GRID,
                                sweep_id="perfbench")
        rows = ledger_rows(results)
        with tr.span("operators.sweep.ledger", op_id):
            append_ledger(rows, path)
        with tr.span("operators.reporting", op_id):
            ranked = rank_runs(rows).select("run_id", "objective", "ticks_processed").collect()
            ledger = read_ledger(self.spark, path)
            summary = sweep_summary(ledger).collect()
            sensitivity = parameter_sensitivity(ledger, sorted(SWEEP_GRID)).collect()
        wall = time.perf_counter() - t0

        ranking = [(r["run_id"], r["objective"]) for r in ranked]
        if self.reference_ranking is None:
            self.reference_ranking = ranking
        ok = (
            sum(r["ticks_processed"] for r in ranked) == self.expected_ticks
            and len(ranked) == self.n_runs
            and ranking == self.reference_ranking
            and len(summary) == 1
            and summary[0]["runs"] == self.n_runs
            and summary[0]["errors"] == 0
            and {r["param"] for r in sensitivity} == set(SWEEP_GRID)
        )
        return {"ok": ok, "wall_s": wall, "ticks": self.expected_ticks}

    def layer_metrics(self, log: EventLog, timed: set[str]) -> dict[str, float]:
        out = self._layers(log, timed)
        stages = self._stages(log, self.layers, timed)
        out.update(self._replay_metrics(log, stages, len(timed), self.one_crossing_bytes))
        for name, span in (("plan_s", "operators.sweep"), ("ledger_write_s", "operators.sweep.ledger")):
            out[f"operators.sweep.{name}"] = _median(self.tracer.walls(span, timed))
        out["operators.reporting.rank_s"] = _median(self.tracer.walls("operators.reporting", timed))
        return out


# ---------------------------------------------------------------------------
# live: closed-loop file-stream feed into the stateful live replay
# ---------------------------------------------------------------------------

LIVE_TICKS_PER_FILE = 5_000
LIVE_PARAMS = {"strategy": "sma_cross", "fast": "3", "slow": "8", "bar_ms": "60000"}
STREAM_PHASES = ("addBatch", "walCommit", "commitOffsets", "queryPlanning", "getBatch",
                 "latestOffset")


class Live(Workload):
    name = "live"
    layers = ["streaming"]
    warm_ops = 10

    def setup(self) -> None:
        self.walk = gen.TickWalk(self.rng)
        self.chunks: list = []
        self.feed = os.path.join(self.tmp, "feed")
        self.staging = os.path.join(self.tmp, "staging")
        os.makedirs(self.feed)
        os.makedirs(self.staging)
        stream = (
            self.spark.readStream.schema(gen.TICK_SPARK_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.feed)
        )
        self.sink = "perfbench_live_trades"
        self.query = (
            live_backtest(stream.drop("collected_msc"), LIVE_PARAMS)
            .writeStream.format("memory")
            .queryName(self.sink)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(self.tmp, "checkpoint"))
            .start()
        )
        self.query_id = str(self.query.id)
        self.dropped = 0
        self.emitted = 0
        self.seen_batches: set[int] = set()
        self.ops: list[dict] = []

    def op(self, op_id: str) -> dict:
        k = self.dropped
        chunk = self.walk.next(LIVE_TICKS_PER_FILE // len(gen.SYMBOLS))
        self.chunks.append(chunk)
        name = f"ticks-{k:05d}.parquet"
        gen.write_ticks_parquet(chunk, os.path.join(self.staging, name))
        t0 = time.perf_counter()
        with self.tracer.span("streaming", op_id):
            os.rename(os.path.join(self.staging, name), os.path.join(self.feed, name))
            self.query.processAllAvailable()
        wall = time.perf_counter() - t0
        self.dropped += 1
        new = [
            p for p in self.query.recentProgress
            if p["numInputRows"] > 0 and p["batchId"] not in self.seen_batches
        ]
        self.seen_batches.update(p["batchId"] for p in new)
        self.emitted += sum(p["sink"]["numOutputRows"] for p in new)
        return {
            "ok": len(new) == 1 and new[0]["numInputRows"] == len(chunk),
            "wall_s": wall,
            "ticks": len(chunk),
            "chunk": k,
            "emitted": self.emitted,
            "batch": new[0] if len(new) == 1 else None,
        }

    def finish(self, ops: list[dict]) -> None:
        """Live/batch parity: the committed trades must equal run_backtest's
        non-END trades on the same ticks, and after each drop the sink must
        hold exactly the batch trades whose exit tick was in a dropped file."""
        self.ops = ops
        got = self.spark.table(self.sink).collect()
        dropped = pd.concat(self.chunks, ignore_index=True)
        scen = [
            (i + 1, f"live-{s}", s, None, None, 0, 0, 0, LIVE_PARAMS)
            for i, s in enumerate(gen.SYMBOLS)
        ]
        batch = self.spark.read.parquet(self.feed)
        trades = trades_table(
            run_backtest(batch, self.spark.createDataFrame(scen, SCENARIO_COLS))
        ).where(F.col("exit_reason") != "END").collect()
        sym = {i + 1: s for i, s in enumerate(gen.SYMBOLS)}
        cols = ("trade_id", "direction", "lots", "entry_ts", "entry_price", "exit_ts",
                "exit_price", "gross_pnl", "fees", "net_pnl", "mae_pnl", "mfe_pnl",
                "exit_reason")
        want = sorted((sym[r["scenario_id"]], *(r[c] for c in cols)) for r in trades)
        have = sorted((r["symbol"], *(r[c] for c in cols)) for r in got)
        parity = want == have
        # file index of each batch trade's exit tick
        chunk_of = dict(
            zip(zip(dropped["symbol"], dropped["time_msc"]),
                np.arange(len(dropped)) // LIVE_TICKS_PER_FILE)
        )
        exits = np.array(
            sorted(chunk_of[(sym[r["scenario_id"]], int(r["exit_ts"].timestamp() * 1000))]
                   for r in trades)
        )
        for o in ops:
            expected = int(np.searchsorted(exits, o["chunk"], side="right"))
            o["ok"] = o["ok"] and parity and o["emitted"] == expected

    def diagnostics(self, ops: list[dict]) -> dict:
        walls_ms = sorted(o["wall_s"] * 1000 for o in ops)
        q = statistics.quantiles(walls_ms, n=10)  # run.py times at least 3 ops
        return {
            "batch_p50_ms": _median(walls_ms),
            "batch_p90_ms": q[8],
            "batch_samples": len(walls_ms),
            "batch_p90_samples_beyond": sum(w > q[8] for w in walls_ms),
            "trades_committed": self.emitted,
        }

    def layer_metrics(self, log: EventLog, timed: set[str]) -> dict[str, float]:
        qid = self.query_id
        batches = [o["batch"] for o in self.ops if o["op"] in timed and o["batch"]]
        out = self._layers(log, timed, qid)
        for ph in STREAM_PHASES:
            out[f"streaming.{ph}_ms"] = _median([float(b["durationMs"].get(ph, 0)) for b in batches])
        state = [b["stateOperators"][0] for b in batches if b.get("stateOperators")]
        for key, name in (("numRowsTotal", "rows_total"), ("memoryUsedBytes", "memory_bytes"),
                          ("commitTimeMs", "commit_ms"), ("allUpdatesTimeMs", "update_ms"),
                          ("numStateStoreInstances", "instances")):
            out[f"streaming.state.{name}"] = _median([float(s.get(key, 0)) for s in state])
        stages = self._stages(log, self.layers, timed, qid)
        out["streaming.tasks_per_batch"] = log.total(stages, "tasks") / max(len(batches), 1)
        # Spark counts no bytes sent by applyInPandasWithState, so the
        # bytes ratio reads 0 here
        out.update(self._replay_metrics(log, stages, len(timed), one_crossing_bytes=0.0))
        return out

    def close(self) -> None:
        query = getattr(self, "query", None)
        if query is not None:
            query.stop()


WORKLOADS = {w.name: w for w in (Sweep, Live)}
