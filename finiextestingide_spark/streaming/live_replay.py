"""The live autotrader loop as ONE stateful streaming operator.

The reference's second entry point runs the SAME tick pipeline live that
the backtest runs batch: WebSocket -> queue -> bars -> workers -> decision
-> trade executor (reference: python/framework/autotrader/
autotrader_tick_loop.py:201+, shared core tick_pipeline_core.py:1-16), and
its parity suite pins that the two pipelines produce identical trade
records on the same input (tests/parity/test_trade_records_parity.py).

Engine mapping: ``live_backtest`` (keyed by symbol) and
``live_backtest_account`` (keyed by account) run ONE
``applyInPandasWithState`` fold, ``_live_fold``, whose per-key state is
the pickled BOOK ``(AccountState | None, {symbol: ReplaySession})`` — one
``operators.replay.ReplaySession`` (the per-tick state machine the batch
replay drives) per symbol. A per-symbol key's book holds one session and
no account (the session keeps its own balance and spot accounting); an
account key's sub-books share one ``AccountState``. The snapshot
producers (``bootstrap_live_sessions``/``bootstrap_account_sessions``)
build the same book in ``_snapshot_books``, and every path folds events
through ``_drive_session_rows``, so batch/live parity holds by
construction: there is no second implementation of the tick loop to
drift. A trade record is emitted the moment its position closes; final
open positions never close (a live session has no END), which is
precisely the difference the parity tests must allow for.

Wire contract: ticks carry ``(symbol, timestamp, time_msc, bid, ask)``
with ``time_msc`` = epoch-milliseconds event time — the engine CLOCK,
exactly as in the batch core (bar bucketing, latency deadlines and trade
timestamps all run on it). Optional ``tick_seq`` (ingest sequence) and
``collected_msc`` (arrival clock) columns join the sort key. Ticks are
totally ordered per key with the batch core's exact precedence —
``(time_msc, tick_seq, timestamp, collected_msc, symbol, bid, ask)`` over
whichever columns are present — so intra-millisecond ties resolve
identically in both pipelines and the live-vs-oracle hash gate is not
data-dependent (reference bug #385 is tick-order instability).

Signals (W7 live, the reference's llm_sentiment worker running inside the
live loop — core/llm_sentiment_worker.py:73-107): pass ``signals`` (a
stream of ``symbol, sig_ts, score``) and the operator unions it into the
keyed stream; each micro-batch merges in event-time order with
signal-first at equal time (the as-of at-or-before contract, same as
streaming/asof_stream). The session tracks the latest signal
(``ReplaySession.process_signal``); ``signal_follow`` decides from it
with staleness gating, and every trade record stamps the signal that
drove its entry decision (``entry_sig_ts``/``entry_sig_score``) so the
resolution is directly checkable against the batch as-of join.
Arrival-order contract: state only moves forward — a signal arriving
after a later-stamped tick was already processed applies from the next
tick on, exactly like the reference's queue-fed loop.

Restart contract: the per-key state schema is one ``blob`` column holding
the pickled book, and a snapshot's ``blob`` holds the same book. A
checkpoint or bootstrap ledger resumes only under that layout. Per-symbol
checkpoints and ``bootstrap_live_sessions`` ledgers written while the
per-symbol state was a bare pickled ``ReplaySession`` (or any other
per-symbol schema) must be restarted cold or re-seeded from a fresh
snapshot.
"""

from __future__ import annotations

import logging
import pickle
import time
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.clipping import ClippingMonitor, write_report_row
from ..operators.replay import AccountState, ReplaySession, merge_signal_rows
from .bootstrap import check_staleness, persist_ledger

TRADE_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("trade_id", IntegerType()),
        StructField("direction", StringType()),
        StructField("lots", DoubleType()),
        StructField("entry_ts", TimestampType()),
        StructField("entry_price", DoubleType()),
        StructField("exit_ts", TimestampType()),
        StructField("exit_price", DoubleType()),
        StructField("gross_pnl", DoubleType()),
        StructField("fees", DoubleType()),
        StructField("net_pnl", DoubleType()),
        StructField("mae_pnl", DoubleType()),
        StructField("mfe_pnl", DoubleType()),
        StructField("mae_price", DoubleType()),
        StructField("mfe_price", DoubleType()),
        StructField("exit_reason", StringType()),
        # the as-of signal that drove the ENTRY decision (signal_follow
        # only; null otherwise) — checkable against the batch as-of join
        StructField("entry_sig_ts", TimestampType()),
        StructField("entry_sig_score", DoubleType()),
    ]
)

# #197 periodic clipping reports land here on the EXECUTOR (operational
# telemetry, the reference's [CLIPPING] log channel)
_CLIP_LOG = logging.getLogger("finiextestingide_spark.clipping")


# --- live sessions: ANY strategy, the WHOLE batch surface --------------------

_BLOB_STATE_SCHEMA = StructType([StructField("blob", BinaryType())])


def _sorted_wire(pdf: pd.DataFrame) -> pd.DataFrame:
    """The batch core's total event order (#385 key precedence, symbol as
    the stable tiebreak after it — constant within a per-symbol key), with
    signal rows first at equal event time — the one sort every session
    drive shares."""
    keys = [
        c
        for c in ("time_msc", "tick_seq", "timestamp", "collected_msc",
                  "symbol", "bid", "ask")
        if c in pdf.columns
    ]
    if "__is_sig" in pdf.columns:
        # seed rows enter the union without __is_sig (null) — normalize
        pdf = pdf.assign(__is_sig=pdf["__is_sig"].fillna(0).astype("int64"))
        pdf = pdf.assign(__tick_after_sig=1 - pdf["__is_sig"])
        keys.insert(1, "__tick_after_sig")
    if "__is_seed" in pdf.columns:
        # snapshot seeds sort FIRST, before any tail event of the batch
        pdf = pdf.assign(
            __seed_after=1 - pdf["__is_seed"].fillna(0).astype("int64")
        )
        keys.insert(0, "__seed_after")
    return pdf.sort_values(keys, kind="mergesort")


def _wire(ticks: DataFrame, signals: DataFrame | None) -> DataFrame:
    return ticks if signals is None else merge_signal_rows(ticks, signals)


def _account_wire(
    ticks: DataFrame, params: dict, signals: DataFrame | None, account_col: str | None
) -> tuple[DataFrame, float]:
    """The account forms' shared input checks, their wire keyed by
    ``__account`` (``account_col``, or one "ACCOUNT") and their shared
    starting balance."""
    if params.get("spot_mode") == "1":
        raise ValueError(
            "live_backtest_account is a margin-account surface; spot_mode "
            "carries per-pair asset balances, not one shared margin account"
        )
    if signals is not None and account_col is not None:
        raise ValueError(
            "signals ride the single-account form: the (symbol, sig_ts, "
            "score) wire carries no account column to key a multi-account "
            "stream by"
        )
    src = _wire(ticks, signals)
    src = (
        src.withColumn("__account", F.lit("ACCOUNT"))
        if account_col is None
        else src.withColumnRenamed(account_col, "__account")
    )
    return src, float(params.get("start_balance", 10_000.0))


def _scenario_base(
    params: dict, latency_seed: int, latency_min_ms: int, latency_max_ms: int
) -> dict:
    """A sub-book's scenario without its ``scenario_id``;
    ``equity_sample_every`` is forced to 0 (a live session emits trades,
    and an unbounded sample buffer must not grow in state)."""
    return {
        "parameters": {**params, "equity_sample_every": "0"},
        "tick_processing_budget_ms": None,
        "max_ticks": None,
        "latency_seed": latency_seed,
        "latency_min_ms": latency_min_ms,
        "latency_max_ms": latency_max_ms,
    }


def _new_book(start_balance: float | None) -> tuple:
    """An empty book; ``start_balance=None`` (a per-symbol key): no account."""
    return None if start_balance is None else AccountState(start_balance), {}


def _book_session(book: tuple, scen_base: dict, sym) -> ReplaySession:
    """``sym``'s sub-book, opened on first sight with the next scenario id
    (0 in a one-symbol book) and the book's account."""
    acct, books = book
    sess = books.get(sym)
    if sess is None:
        sess = books[sym] = ReplaySession(
            {"scenario_id": len(books), **scen_base}, account=acct
        )
    return sess


def _propagate_clock(pdf: pd.DataFrame, books: dict) -> None:
    """R8 cross-symbol clock propagation: a key's single event-time queue
    IS the clock, so a sub-book whose symbol went quiet heartbeats toward
    the latest TICK of the batch — its in-gap latency fills resolve at
    (deadline, its last quote), exactly what its own next tick would
    resolve retroactively (ReplaySession.heartbeat gates on
    heartbeat_ms/suppress). Seed rows (stamped with the snapshot's own
    time) and signal rows do not move the clock, so a one-symbol book,
    whose session saw every tick, never heartbeats here."""
    is_tick = pd.Series(True, index=pdf.index)
    for flag in ("__is_seed", "__is_sig"):
        if flag in pdf.columns:
            is_tick &= pdf[flag].fillna(0) == 0
    if not is_tick.any():
        return
    batch_max_t = int(pdf["time_msc"][is_tick].max())
    for sess in books.values():
        base = sess.ghost_t if sess.ghost_t is not None else sess.prev_t
        if base is not None and base < batch_max_t:
            sess.heartbeat(batch_max_t - base)


def _key_monitor(books: dict, interval_s: float) -> ClippingMonitor:
    """#197: ONE ``ClippingMonitor`` per key (the reference's monitor is
    per tick LOOP, and a key's feed is one loop), riding on every sub-book
    so it checkpoints with the book (pickle's memo keeps the sharing);
    recovered from any sub-book that already carries it."""
    mons = [getattr(s, "clipping_monitor", None) for s in books.values()]
    mon = next((m for m in mons if m is not None), None)
    if mon is None:
        mon = ClippingMonitor(
            interval_s, keep_times=256,
            start_s=time.monotonic(),  # wall-clock-ok: #197 clipping report cadence (observational telemetry)
        )
    for s in books.values():
        s.clipping_monitor = mon
    return mon


def _drive_session_rows(
    pdf: pd.DataFrame, session_for, on_seed=None, monitor=None, clock_ns=None
) -> None:
    """Feed sorted wire rows into sessions (``session_for(symbol)`` maps a
    row to its session — a book lookup; ``on_seed(blob)`` receives
    snapshot seed rows). Shared by the batch snapshot producer and the
    streaming fold, so the event fold is ONE piece of code in both
    pipelines.

    ``monitor=True`` (#197): every session carries a ``clipping_monitor``
    attribute (an ``operators.clipping.ClippingMonitor``), and every
    ``process_tick`` is wrapped in a ``clock_ns`` measurement
    (``time.perf_counter_ns`` in the live paths; tests inject a synthetic
    clock) folded against the tick's arrival stamp (the ``collected_msc``
    ingest clock, the reference's tick_delta source)."""
    tsl = pdf["time_msc"].astype("int64").tolist()
    cl = (
        pdf["collected_msc"].astype("int64").tolist()
        if "collected_msc" in pdf.columns
        else tsl
    )
    bl = pdf["bid"].tolist()
    al = pdf["ask"].tolist()
    sym_l = pdf["symbol"].tolist() if "symbol" in pdf.columns else None
    sig_l = pdf["__is_sig"].tolist() if "__is_sig" in pdf.columns else None
    score_l = pdf["__score"].tolist() if "__score" in pdf.columns else None
    seed_l = pdf["__is_seed"].tolist() if "__is_seed" in pdf.columns else None
    blob_l = pdf["__blob"].tolist() if seed_l is not None else None
    for i in range(len(tsl)):
        if seed_l is not None and seed_l[i]:
            if on_seed is not None:
                on_seed(blob_l[i])
            continue
        sess = session_for(sym_l[i] if sym_l is not None else None)
        if sig_l is not None and sig_l[i]:
            sess.process_signal(tsl[i], score_l[i])
        elif monitor:
            t0 = clock_ns()
            sess.process_tick(tsl[i], cl[i], bl[i], al[i])
            sess.clipping_monitor.record_arrival(cl[i], clock_ns() - t0)
        else:
            sess.process_tick(tsl[i], cl[i], bl[i], al[i])


def _snapshot_books(
    src: DataFrame,
    key_col: str,
    out_key: str,
    scen_base: dict,
    start_balance: float | None,
) -> DataFrame:
    """The one snapshot producer: each ``key_col`` group of the BATCH wire
    driven through a fresh book in the key's event order, one row
    ``(out_key, blob, n_trades, saved_at)`` per key."""

    def snap(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[key_col].iloc[0]
        pdf = _sorted_wire(pdf)
        book = _new_book(start_balance)
        _drive_session_rows(pdf, lambda sym: _book_session(book, scen_base, sym))
        # the same clock propagation as the live fold's per-batch pass, so
        # the snapshot equals the uninterrupted session
        _propagate_clock(pdf, book[1])
        n = sum(len(s.drain_trades()) for s in book[1].values())
        saved_at = pd.Timestamp(int(pdf["time_msc"].max()), unit="ms")
        return pd.DataFrame(
            [(key, pickle.dumps(book), n, saved_at)],
            columns=[out_key, "blob", "n_trades", "saved_at"],
        )

    schema = StructType(
        [
            StructField(out_key, StringType()),
            StructField("blob", BinaryType()),
            StructField("n_trades", LongType()),
            StructField("saved_at", TimestampType()),
        ]
    )
    return src.groupBy(key_col).applyInPandas(snap, schema)


def bootstrap_live_sessions(
    ticks: DataFrame,
    params: dict,
    *,
    latency_seed: int = 42,
    latency_min_ms: int = 0,
    latency_max_ms: int = 0,
    signals: DataFrame | None = None,
) -> DataFrame:
    """BATCH per-symbol ``ReplaySession`` snapshot from a history ledger —
    the bulk half of the live loop's cold-start protocol (reference:
    Cold-Start Recovery #355 + algo_state_store.py Category B, and the
    warmup path autotrader_warmup_preparator.py: reconstruct the session
    at startup instead of replaying the feed).

    ticks(symbol, timestamp, time_msc, bid, ask[, tick_seq,
    collected_msc]) BATCH (+ optional signals BATCH) -> one row per
    symbol: ``(symbol, blob, n_trades, saved_at)`` where ``blob`` is the
    pickled end-of-history book ``(None, {symbol: session})`` — the
    session's positions, balance, forming bar, close window, resting
    book, latency FIFO, rng state, trade counter — EXACTLY the state an
    uninterrupted live run would hold after the same events (no
    ``finish()``: a live session never END-closes), ``n_trades``
    is how many trades history closed (the tail's trade_ids continue from
    it), and ``saved_at`` stamps the snapshot's EVENT time (max time_msc)
    for the trading-day staleness check at restore.

    Runs as ONE ``applyInPandas`` pass per symbol — history replays at
    batch-scan speed with no streaming state machinery, no checkpoint and
    no per-micro-batch overhead; the history's trade records themselves
    are the batch path's output (``run_backtest`` / this same drive), so
    they are drained and only counted here. Pass the result to
    ``live_backtest(bootstrap=..., bootstrap_dir=...)``."""
    return _snapshot_books(
        _wire(ticks, signals), "symbol", "symbol",
        _scenario_base(params, latency_seed, latency_min_ms, latency_max_ms),
        None,
    )


def bootstrap_account_sessions(
    ticks: DataFrame,
    params: dict,
    *,
    account_col: str | None = None,
    latency_seed: int = 42,
    latency_min_ms: int = 0,
    latency_max_ms: int = 0,
    signals: DataFrame | None = None,
) -> DataFrame:
    """``bootstrap_live_sessions`` at ACCOUNT scope: one row per account,
    ``blob`` = pickled ``(AccountState, {symbol: ReplaySession})`` — the
    exact state tuple ``live_backtest_account`` holds, driven over history
    in the same global event-time order (symbol as the stable tiebreak).
    ``account_col=None`` treats the whole ledger as one account (key
    "ACCOUNT", matching the live operator)."""
    src, start_balance = _account_wire(ticks, params, signals, account_col)
    return _snapshot_books(
        src, "__account", "account",
        _scenario_base(params, latency_seed, latency_min_ms, latency_max_ms),
        start_balance,
    )


def _seed_union(
    src: DataFrame,
    bootstrap: DataFrame,
    bootstrap_dir: str,
    *,
    key_src: str,
    key_dst: str,
) -> DataFrame:
    """Union a session-snapshot ledger into a live wire stream as seed
    rows (``__is_seed=1`` carrying ``__blob``), persisted create-only to
    ``bootstrap_dir`` and replayed as a one-shot file-source stream — the
    reconcile bootstrap protocol (streaming/bootstrap.py) with a pickled
    book instead of a commutative merge row. Seed rows sort FIRST within
    a key's micro-batch (before any tail event), and a key whose state
    already exists ignores its seed — checkpoint state outranks the
    ledger, so a restart-from-checkpoint is unaffected."""
    seed_cols = [
        F.col(key_src).alias(key_dst),
        F.col("saved_at").alias("timestamp"),
        F.unix_millis("saved_at").alias("time_msc"),
        F.lit(None).cast("double").alias("bid"),
        F.lit(None).cast("double").alias("ask"),
        F.lit(1).alias("__is_seed"),
        F.col("blob").alias("__blob"),
    ]
    if "collected_msc" in src.columns:
        seed_cols.append(F.unix_millis("saved_at").alias("collected_msc"))
    seed_wire = bootstrap.select(*seed_cols)
    persist_ledger(seed_wire, bootstrap_dir)
    seed_src = (
        src.sparkSession.readStream.schema(seed_wire.schema).parquet(bootstrap_dir)
    )
    src = src.withColumn("__is_seed", F.lit(0)).withColumn(
        "__blob", F.lit(None).cast("binary")
    )
    return src.unionByName(seed_src, allowMissingColumns=True)


def _trade_rows(symbol: str, trades: list) -> list[tuple]:
    """Session trade dicts -> TRADE_SCHEMA tuples. Signal-driven
    strategies carry the decision-time as-of signal on each position
    (ReplaySession._dec_sig), which lands in entry_sig_ts/entry_sig_score;
    every other strategy leaves both null."""
    return [
        (
            symbol, tr["trade_id"], tr["direction"], tr["lots"],
            tr["entry_ts"], tr["entry_price"], tr["exit_ts"],
            tr["exit_price"], tr["gross_pnl"], tr["fees"],
            tr["net_pnl"], tr["mae_pnl"], tr["mfe_pnl"],
            tr["mae_price"], tr["mfe_price"], tr["exit_reason"],
            (
                pd.Timestamp(tr["entry_sig_ms"], unit="ms")
                if tr.get("entry_sig_ms") is not None
                else None
            ),
            tr.get("entry_sig_score"),
        )
        for tr in trades
    ]


def _live_fold(
    src: DataFrame,
    key_col: str,
    scen_base: dict,
    start_balance: float | None,
    *,
    bootstrap: DataFrame | None,
    bootstrap_dir: str | None,
    bootstrap_key: str,
    staleness: dict,
    timeout_ms: int,
    clipping: bool,
    clipping_report_interval_s: float,
    telemetry_dir: str | None,
) -> DataFrame:
    """The one live operator behind ``live_backtest`` and
    ``live_backtest_account``: the wire ``src`` grouped by ``key_col``,
    each key's state the pickled book ``(account, {symbol: session})``
    (``start_balance=None``: no shared account); ``bootstrap`` seeds are
    unioned in keyed by the snapshot's ``bootstrap_key`` column. The
    public docstrings state the semantics."""
    if bootstrap is not None:
        check_staleness(bootstrap, **staleness)
        src = _seed_union(
            src, bootstrap, bootstrap_dir, key_src=bootstrap_key, key_dst=key_col
        )

    def emit(state: GroupState, book: tuple):
        books = book[1]
        rows = [
            r for sym in sorted(books)
            for r in _trade_rows(sym, books[sym].drain_trades())
        ]
        state.update((pickle.dumps(book),))
        if timeout_ms > 0:
            state.setTimeoutDuration(timeout_ms)
        if rows:
            yield pd.DataFrame(rows, columns=TRADE_SCHEMA.fieldNames())

    def run(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        book = pickle.loads(bytes(state.get[0])) if state.exists else None
        if state.hasTimedOut:
            # R8 ghost pass: the feed is quiet — every sub-book heartbeats
            # against its own last tick (per-symbol gap anchors) and
            # resolves the latency fills whose deadline the gap has passed
            # (see ReplaySession.heartbeat for the batch-parity model),
            # emitting trades NOW instead of at the next real tick.
            if book is not None:
                for sym in sorted(book[1]):
                    book[1][sym].heartbeat(timeout_ms)
                yield from emit(state, book)
            return
        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        pdf = _sorted_wire(pdf)

        # lazy book holder: a seed may install the snapshot book, and
        # checkpoint state outranks the ledger (a seed arriving for an
        # existing key is a no-op)
        holder = [book]

        def session_for(sym):
            if holder[0] is None:
                holder[0] = _new_book(start_balance)
            sess = _book_session(holder[0], scen_base, sym)
            if clipping and getattr(sess, "clipping_monitor", None) is None:
                _key_monitor(holder[0][1], clipping_report_interval_s)
            return sess

        def on_seed(blob):
            if holder[0] is None:
                holder[0] = pickle.loads(bytes(blob))

        _drive_session_rows(
            pdf, session_for, on_seed,
            monitor=clipping, clock_ns=time.perf_counter_ns,  # wall-clock-ok: #197 real processing-time measurement
        )
        book = holder[0]
        if book is None:
            return
        if clipping and book[1]:
            mon = _key_monitor(book[1], clipping_report_interval_s)
            # Phase 5 analogue: the micro-batch backlog IS this engine's
            # queue depth — rows waiting in the batch when the key's turn
            # came (the reference polls queue.Queue.qsize())
            mon.record_queue_depth(len(pdf))
            report = mon.get_periodic_report(
                time.monotonic()  # wall-clock-ok: #197 report cadence
            )
            if report is not None:
                _CLIP_LOG.info("[CLIPPING] %s %s", key[0], report)
                if telemetry_dir is not None:
                    write_report_row(telemetry_dir, key[0], report)
        _propagate_clock(pdf, book[1])
        yield from emit(state, book)

    return src.groupBy(key_col).applyInPandasWithState(
        run,
        outputStructType=TRADE_SCHEMA,
        stateStructType=_BLOB_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_ms > 0
            else GroupStateTimeout.NoTimeout
        ),
    )


def live_backtest(
    ticks: DataFrame,
    params: dict,
    *,
    latency_seed: int = 42,
    latency_min_ms: int = 0,
    latency_max_ms: int = 0,
    timeout_ms: int = 0,
    signals: DataFrame | None = None,
    bootstrap: DataFrame | None = None,
    bootstrap_dir: str | None = None,
    max_age_trading_days: int = 0,
    weekend_aware: bool = True,
    restore_now=None,
    on_stale: str = "warn",
    clipping: bool = False,
    clipping_report_interval_s: float = 60.0,
    telemetry_dir: str | None = None,
) -> DataFrame:
    """ticks(symbol, timestamp, time_msc, bid, ask[, tick_seq,
    collected_msc]) STREAM -> trade-record stream, one row per closed
    trade. ``params`` is the scenario's parameters map, read exactly as
    ``run_backtest`` reads it (strategy and its knobs, bar_ms, lots,
    fees, entry_type/offsets, modify/cancel lifecycle, SL/TP, ...).

    Per-symbol state is the pickled book ``(None, {symbol: session})``
    (module docstring): one ``operators.replay.ReplaySession`` and no
    shared account, the same state-machine object the batch loop drives
    tick by tick, so every strategy (target- and action-model, ctx
    strategies with per-tick management, scale_out ladders, entry-point
    plugins whose modules are importable on executors) and the whole
    order surface (resting limit/stop/stop_limit entries, #318
    modify/cancel, broker SL/TP, maker/taker fees, spot accounting, margin
    gates, swap accrual, stress rejection, stale windows) run live with
    batch parity by construction. The pickle is the checkpoint form of the reference's
    one in-memory live session. ``equity_sample_every`` is forced to 0 —
    a live session emits trades, and an unbounded sample buffer must not
    grow in state. A live session never END-closes (finish() is batch
    only); swap, if configured, joins net_pnl exactly as batch.

    Seeded latency (R2): with ``latency_max_ms > 0`` the session draws
    each decision's delay from random.Random(latency_seed) — the batch
    core's exact call sequence. The generator rides inside the pickled
    session (its Mersenne state pickles at a fixed size), so restoring
    it per micro-batch is O(1) in the session's lifetime draw count.

    ``signals``: optional (symbol, sig_ts, score) stream unioned into the
    keyed session (see the module docstring for the merge/arrival
    contract) — signal rows advance the session's as-of state
    (``ReplaySession.process_signal``) for any ``on_bar_sig`` strategy
    (SignalFollow or a plugin), batch-identically.

    ``timeout_ms > 0`` arms a ProcessingTimeTimeout ghost pass (R8): when
    the feed goes quiet for ``timeout_ms``, the session heartbeats (see
    ``ReplaySession.heartbeat`` — the batch-parity model lives there),
    resolving latency fills whose deadline fell inside the gap at the
    last known quote and emitting the resulting trades in REAL time —
    the reference's inter-tick ghost pass (process_tick_loop.py:52-107).
    Requires ``heartbeat_ms`` in params (the batch gap contract).

    ``bootstrap`` (+ ``bootstrap_dir``) arms COLD-START RECOVERY
    (reference #355 + algo_state_store.py Category B): a
    ``bootstrap_live_sessions`` snapshot of history is persisted
    create-only to ``bootstrap_dir`` (the durable ledger) and unioned in
    as one-shot seed rows; a key's seed installs the pickled book
    BEFORE any tail event of its first micro-batch, so a live bot that
    lost its Spark checkpoint resumes from the snapshot — open positions,
    balance, forming bar, resting orders, rng state, trade counter —
    without replaying its feed (tail trades match the uninterrupted run
    trade-for-trade; pinned by the restart-without-checkpoint parity
    pytest). A key whose state ALREADY exists ignores its seed: checkpoint
    state outranks the ledger, so restarting WITH the checkpoint intact is
    unaffected and seeds never double-apply.
    ``max_age_trading_days``/``weekend_aware``/``restore_now``/
    ``on_stale`` gate the restore on snapshot staleness exactly as in
    ``reconcile_stream`` (trading-day aware; explicit clock).

    ``clipping=True`` arms LIVE CLIPPING TELEMETRY (#197, reference
    live_clipping_monitor.py:1-25): each session carries an
    ``operators.clipping.ClippingMonitor`` in its streaming state; every
    ``process_tick`` is wrapped in a real ``perf_counter_ns`` measurement
    and folded against the tick's ``collected_msc`` arrival delta — a tick
    whose processing outlasts the gap to the next arrival is CLIPPED, the
    "engine can't keep up with the feed" signal a live operator checks
    first. Interval reports (every ``clipping_report_interval_s`` on the
    worker's monotonic clock) are logged to the
    ``finiextestingide_spark.clipping`` logger on the executor AND — when
    ``telemetry_dir`` is set — appended as ROWS to a telemetry ledger
    (one JSON file per report, tmp-then-rename; read back with
    ``operators.clipping.read_clipping_telemetry``), so the fleet can
    QUERY #197 instead of grepping executor logs (VERDICT r10 #4; the
    reference's Phase 4 surfaces these rows to its monitoring consumer).
    The running session summary rides in the state blob
    (``pickle.loads(blob)[1][symbol].clipping_monitor.session_summary()``),
    and fleet-wide per-tick roll-ups come from
    ``operators.clipping.clipping_report`` over a per-tick ledger. The
    in-state monitor keeps only the last 256 per-tick times (the batch
    report path never reads them from state; an unbounded raw-times list
    would re-pickle ~80 KB per key per micro-batch — VERDICT r10 #7)."""
    if (bootstrap is None) != (bootstrap_dir is None):
        raise ValueError("bootstrap and bootstrap_dir must be passed together")
    return _live_fold(
        _wire(ticks, signals), "symbol",
        _scenario_base(params, latency_seed, latency_min_ms, latency_max_ms),
        None,
        bootstrap=bootstrap, bootstrap_dir=bootstrap_dir, bootstrap_key="symbol",
        staleness=dict(
            max_age_trading_days=max_age_trading_days,
            weekend_aware=weekend_aware, restore_now=restore_now,
            on_stale=on_stale, name="live_backtest.bootstrap",
        ),
        timeout_ms=timeout_ms, clipping=clipping,
        clipping_report_interval_s=clipping_report_interval_s,
        telemetry_dir=telemetry_dir,
    )


# --- account-global live portfolio state ------------------------------------

def live_backtest_account(
    ticks: DataFrame,
    params: dict,
    *,
    account_col: str | None = None,
    latency_seed: int = 42,
    latency_min_ms: int = 0,
    latency_max_ms: int = 0,
    timeout_ms: int = 0,
    signals: DataFrame | None = None,
    bootstrap: DataFrame | None = None,
    bootstrap_dir: str | None = None,
    max_age_trading_days: int = 0,
    weekend_aware: bool = True,
    restore_now=None,
    on_stale: str = "warn",
    clipping: bool = False,
    clipping_report_interval_s: float = 60.0,
    telemetry_dir: str | None = None,
) -> DataFrame:
    """The live loop re-keyed by ACCOUNT: one stateful session spanning all
    of the account's symbols, so margin and balance gate opens at the
    ACCOUNT level — the reference's live portfolio_manager holds one
    account-global balance/equity and checks required margin against it
    across every open position regardless of symbol
    (portfolio_manager.py:1080-1139). Per-symbol sessions cannot express
    "symbol B's open is rejected because symbol A's position consumed the
    margin"; this operator can, because state is one shared
    ``AccountState`` plus one ``ReplaySession`` sub-book PER SYMBOL — the
    same state machine the batch loop drives, so every symbol's mechanics
    (any strategy, resting orders, modify/cancel, SL/TP, partial closes,
    seeded latency) carry full batch parity, with only the balance/margin
    reads routed through the account.

    The tick stream is processed in GLOBAL event-time order across symbols
    (the batch core's key precedence, symbol as the stable tiebreak after
    it), exactly like the reference's single queue-fed loop interleaving
    all subscribed feeds. Account layer semantics:

    - ``start_balance``: one shared account balance (default 10000);
      closes realize gross - fees into it, swap accrual debits it.
    - ``margin_per_lot``: an open is REJECTED when
      balance < margin_per_lot * (open lots across ALL symbols + new lots)
      — the batch can_open arithmetic at account scope. Rejections are
      consumed (the order never fills; the strategy's on_open_dropped
      reclaims its slot).
    - each sub-book seeds its own rng from ``latency_seed`` — identical to
      a batch scenario with that seed, so per-symbol batch parity holds
      even under latency.

    State is (AccountState, {symbol: ReplaySession}) pickled into one
    binary column; pickle's memo preserves the shared-account reference,
    and each session's Mersenne state rides inside it (O(1) per batch).
    ``equity_sample_every`` is forced to 0 (live sessions emit trades, not
    sample buffers); ``spot_mode`` is rejected (spot accounts are
    per-asset-pair balances, not one margin account).

    Keying: pass ``account_col`` naming an account column, or leave None
    to treat the whole stream as one account. Scale posture: one state
    row per ACCOUNT (thousands of accounts shard across executors); a
    single account's feed is sequential by construction — the same bound
    as the reference's one-process live loop.

    ``signals``: optional (symbol, sig_ts, score) stream unioned into the
    account loop exactly as in ``live_backtest`` — each signal row
    advances ITS symbol's sub-book as-of state (single-account form only:
    the signal wire carries no account column).

    R8 at account scope, two mechanisms: (1) cross-symbol clock
    propagation — the account's single event-time queue is the clock, so
    each batch heartbeats every lagging sub-book toward the latest event
    seen, resolving a quiet symbol's in-gap fills while its siblings
    tick; (2) ``timeout_ms > 0`` arms a ProcessingTimeTimeout ghost pass
    for the FULLY idle account (see ``ReplaySession.heartbeat``).

    ``bootstrap``/``bootstrap_dir``: cold-start recovery from a
    ``bootstrap_account_sessions`` snapshot — blob is the pickled
    ``(AccountState, {symbol: ReplaySession})`` tuple, seeded per account
    exactly as in ``live_backtest`` (seed rows sort first;
    checkpoint state outranks the ledger; staleness gated the same way).
    The snapshot's ``account`` column must match the live stream's
    ``account_col`` values ("ACCOUNT" for the single-account form, which
    ``bootstrap_account_sessions(account_col=None)`` emits).

    ``clipping=True``: #197 telemetry at account scope — ONE
    ``ClippingMonitor`` per account (the reference's monitor is per tick
    LOOP, and the account's interleaved feed is one loop), shared by every
    sub-book (pickle's memo keeps the sharing inside the state blob);
    semantics as in ``live_backtest``.
    """
    if (bootstrap is None) != (bootstrap_dir is None):
        raise ValueError("bootstrap and bootstrap_dir must be passed together")
    src, start_balance = _account_wire(ticks, params, signals, account_col)
    return _live_fold(
        src, "__account",
        _scenario_base(params, latency_seed, latency_min_ms, latency_max_ms),
        start_balance,
        bootstrap=bootstrap, bootstrap_dir=bootstrap_dir, bootstrap_key="account",
        staleness=dict(
            max_age_trading_days=max_age_trading_days,
            weekend_aware=weekend_aware, restore_now=restore_now,
            on_stale=on_stale, name="live_backtest_account.bootstrap",
        ),
        timeout_ms=timeout_ms, clipping=clipping,
        clipping_report_interval_s=clipping_report_interval_s,
        telemetry_dir=telemetry_dir,
    )
