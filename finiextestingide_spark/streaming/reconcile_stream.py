"""Streaming order <-> execution reconciliation (SURVEY §2.3 J6, live form).

The reference's live trade executor pairs broker execution reports with the
orders that produced them CONTINUOUSLY (live_trade_executor.py;
abstract_adapter.py Tier-3 truth-pull), not as an end-of-day audit: an
execution can arrive before its order is known (ORPHAN until the order
shows up), fills dribble in over time (UNDER_EXECUTED until the quantity
completes), and the pairing state must survive restarts. This operator is
that layer Spark-first: two unbounded streams union into one keyed
stateful pairing (``applyInPandasWithState``), per-key state holds the
expected amount and the exact running executed total, and every state
change emits a REVISION row — the latest revision per key is the current
reconciliation verdict, and once the feeds drain it equals the batch
``operators.reconcile.reconcile_orders`` classification row for row (the
gate hash-checks exactly that).

Two exactness decisions:
- the executed total accumulates as ``decimal.Decimal`` carried in state as
  a string: decimal addition is exact and associative, so ANY arrival order
  (micro-batch slicing, late fills, cross-stream races) produces the same
  final total the batch decimal sum produces — float accumulation would
  make the final hash depend on arrival order;
- revisions are emitted in append mode (a memory/Kafka sink never needs
  update support) and consumers take max(revision) per key; the monotone
  revision also gives an audit trail of every reclassification
  (ORPHAN -> UNDER_EXECUTED -> MATCHED as the order and its fills land).

Scale posture: keys hash into a fixed ``_STATE_BUCKETS`` buckets and each
bucket keeps ONE pickled book of its keys' pairing state, so the stateful
boundary pays Python's per-group framing cost once per bucket, not once per
key; no driver participation. The bucket count is a module constant, never
derived from the session: Spark freezes the state partitioning in the
checkpoint, and a count that followed ``spark.sql.shuffle.partitions`` would
re-hash keys into other buckets on a restart under a different partition
count, silently starting their books over.

Cold-start recovery (round-9 item 2; reference: Cold-Start Recovery #355,
python/framework/persistence/algo_state_store.py:1-22 reconstructs broker/
algo state at startup instead of replaying history): a restarted stream
that lost its checkpoint no longer needs to replay months of order flow at
the ~80 us/key per-key-invocation cost of ``applyInPandasWithState``
(SCALE.md §7 measured 112.9 s at sf1 where the batch join covers sf10 in
5.1 s). Instead, the BULK history goes through ``bootstrap_state`` — one
JVM-side batch aggregation, decimal-exact, shaped like the batch
reconcile join — and the stream is seeded from that snapshot via the
``bootstrap=`` argument: the snapshot is persisted to ``bootstrap_dir``
(the durable ledger, exactly the reference's state-store file) and folded
into the pairing state through a one-shot file-source stream unioned with
the live feeds. Seeding is a commutative decimal MERGE, so a live event
racing ahead of its seed row is handled identically to any out-of-order
arrival. (``transformWithStateInPandas`` + initialState is the native API
for this, but its Python driver worker needs protobuf, absent in this
environment; the union protocol is engine-equivalent and keeps the whole
path on the proven operator.)
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator
from decimal import Decimal

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

def _fold_events(has_order, exp, executed, n_exec, events):
    """The REFERENCE per-key pairing fold, module-level so the Hypothesis
    sweep in tests/test_reconcile_stream.py can fuzz arrival orders and
    batch slicings against the batch oracle without a live stream. Events
    are (kind, expected, qty_text, seed_n, seed_has) wire tuples: kind 0 =
    execution, 1 = order, 2 = snapshot seed (commutative merge — see
    reconcile_stream's bootstrap contract). The executed total accumulates
    as decimal.Decimal: exact and associative, so ANY arrival order
    produces the same final total. The live stream runs the packed-wire
    form ``_fold_payloads`` (r15) — property-pinned equal to this fold."""
    for kind, e_amt, q, sn, sh in events:
        if kind == 1:  # order
            has_order = 1
            exp = float(e_amt)
        elif kind == 0:  # execution
            executed += Decimal(q)
            n_exec += 1
        else:  # snapshot seed: commutative merge (order-safe)
            has_order = max(has_order, int(sh))
            if exp is None and e_amt is not None and not pd.isna(e_amt):
                exp = float(e_amt)
            executed += Decimal(q)
            n_exec += int(sn)
    return has_order, exp, executed, n_exec


def _fold_payloads(has_order, exp, executed, n_exec, payloads):
    """The packed-wire form of ``_fold_events`` (r15, guide §4.1 "pass only
    the columns the function needs" applied to the state wire): the
    per-key Python invocation cost of applyInPandasWithState scales with
    the number of WIRE COLUMNS (each is sliced and converted per key), so
    the five payload columns are packed into ONE string the JVM builds
    with concat: ``"1" + expected`` (order), ``"0" + qty_text``
    (execution), ``"2|expected|qty_text|n|has"`` (snapshot seed — empty
    expected field = unknown). Numeric fidelity is exact: doubles cross as
    Java's shortest round-trip repr (float() restores the same IEEE754
    double), quantities as exact decimal text (same cast the unpacked wire
    used). Equivalence with ``_fold_events`` is property-pinned by
    tests/test_reconcile_stream.py::test_payload_fold_matches_tuple_fold."""
    for p in payloads:
        c = p[0]
        if c == "1":  # order
            has_order = 1
            exp = float(p[1:])
        elif c == "0":  # execution
            executed += Decimal(p[1:])
            n_exec += 1
        else:  # snapshot seed: commutative merge (order-safe)
            _, e_s, q_s, n_s, h_s = p.split("|")
            has_order = max(has_order, int(h_s))
            if exp is None and e_s:
                exp = float(e_s)
            executed += Decimal(q_s)
            n_exec += int(n_s)
    return has_order, exp, executed, n_exec


def _classify(has_order, exp, executed, n_exec, tolerance):
    """State -> (status, expected_out, executed_out): the batch
    ``reconcile_orders`` classification contract evaluated on state."""
    if not has_order:
        return "ORPHAN", None, float(executed)
    if n_exec == 0:
        return "MISSING", exp, None
    x = float(executed)
    diff = x - exp
    if abs(diff) <= tolerance:
        status = "MATCHED"
    elif diff < 0:
        status = "UNDER_EXECUTED"
    else:
        status = "OVER_EXECUTED"
    return status, exp, x


#: Hash buckets of the pairing state: one pickled book per bucket. A
#: constant, because the checkpoint freezes which bucket holds a key (see
#: the module docstring); 64 buckets ran the reconcile gates as fast as 8x
#: the shuffle partitions did at both 4 and 32 partitions.
_STATE_BUCKETS = 64

_BOOK_SCHEMA = StructType([StructField("book", BinaryType())])


def _state_bucket(key_col: str):
    """The bucket a key's pairing state lives in."""
    return F.pmod(F.xxhash64(key_col), F.lit(_STATE_BUCKETS))


def _bucket_step(pdfs, state: GroupState, *, state_ttl_ms, tolerance, columns):
    """One bucket's micro-batch, the stream's whole stateful step. The
    state is one pickled book ``{key: (has_order, expected, executed_text,
    n_exec, revision, last_event_ms)}``; every key with events folds them
    in arrival order through ``_fold_payloads`` and emits one revision row.

    TTL (``state_ttl_ms > 0``): a touched bucket first drops every key idle
    for at least the TTL, so a late fill re-creates its key as a fresh
    ORPHAN; a new key seeds its revision from the processing-time clock so
    revisions stay monotone across expiry. Every touched bucket re-arms a
    timeout of the TTL, so a bucket that times out has had no event for the
    TTL, and neither has any key in it: its whole book goes."""
    if state.hasTimedOut:
        state.remove()
        return
    book = pickle.loads(state.get[0]) if state.exists else {}
    now = state.getCurrentProcessingTimeMs()
    if state_ttl_ms > 0:
        for k in [k for k, v in book.items() if now - v[5] >= state_ttl_ms]:
            del book[k]
    events: dict = {}
    for pdf in pdfs:
        for k, p in zip(pdf["__key"].tolist(), pdf["__ev"].tolist()):
            events.setdefault(k, []).append(p)
    # one preallocated object frame per bucket (r15, guide §4.2: the
    # list-of-tuples constructor pays pandas type inference)
    rows = np.empty((len(events), 6), dtype=object)
    for i, (k, payloads) in enumerate(events.items()):
        prev = book.get(k)
        if prev is None:
            has_order, exp, executed, n_exec = 0, None, Decimal(0), 0
            revision = now if state_ttl_ms > 0 else 0
        else:
            has_order, exp, executed_s, n_exec, revision, _ = prev
            executed = Decimal(executed_s)
        has_order, exp, executed, n_exec = _fold_payloads(
            has_order, exp, executed, n_exec, payloads
        )
        revision += 1
        book[k] = (has_order, exp, str(executed), n_exec, revision, now)
        status, e_out, x_out = _classify(has_order, exp, executed, n_exec, tolerance)
        rows[i] = (k, e_out, x_out, n_exec, status, revision)
    state.update((pickle.dumps(book, protocol=4),))
    if state_ttl_ms > 0:
        state.setTimeoutDuration(state_ttl_ms)
    yield pd.DataFrame(rows, columns=columns)


def bootstrap_state(
    orders: DataFrame,
    executions: DataFrame,
    *,
    order_key: str,
    expected: str = "expected_amount",
    qty: str = "qty",
    event_ts: str | None = None,
) -> DataFrame:
    """BATCH per-key pairing snapshot from history ledgers — the bulk half
    of the batch-bootstrap/stream-tail protocol (one JVM decimal
    aggregation + full-outer join; no Python state machinery, so backfill
    runs at batch-join speed, not per-key-invocation speed).

    Returns (order_key, has_order int, expected double, executed string,
    n_exec long) — exactly the stream's per-key state, with the executed
    total rendered as exact decimal text. Duplicate order rows per key:
    the snapshot takes MAX(expected) deterministically, while the stream
    keeps the LAST arrival — order ids are unique in every real feed (the
    reference's broker_ref contract), so keep order feeds deduplicated
    upstream if yours are not. For bit-exact parity with the
    stream's Decimal accumulation, pass a decimal-typed ``qty`` (the same
    guidance the stream itself carries); double inputs are widened to
    DECIMAL(38,10), exact for values on any practical price/lot grid.

    ``event_ts`` (a timestamp column present on BOTH ledgers) stamps the
    snapshot with its EVENT time — max(event_ts) over orders+executions, a
    constant ``saved_at`` column — so a later restore can measure staleness
    in trading days (the reference stamps its state files the same way,
    algo_state_store.py saved_at; see ``reconcile_stream``'s
    max_age_trading_days)."""
    qcol = F.col(qty)
    qdec = qcol if _is_decimal(executions, qty) else qcol.cast("decimal(38,10)")
    e = executions.groupBy(F.col(order_key).alias("__key")).agg(
        F.sum(qdec).cast("string").alias("__exec"),
        F.count(F.lit(1)).alias("__n"),
    )
    o = orders.groupBy(F.col(order_key).alias("__key")).agg(
        F.max(F.col(expected).cast("double")).alias("__expected")
    )
    snap = (
        o.withColumn("__has_order", F.lit(1))
        .join(e, "__key", "full_outer")
        .select(
            F.col("__key").alias(order_key),
            F.coalesce("__has_order", F.lit(0)).alias("has_order"),
            F.col("__expected").alias("expected"),
            F.coalesce("__exec", F.lit("0")).alias("executed"),
            F.coalesce("__n", F.lit(0)).cast("long").alias("n_exec"),
        )
    )
    if event_ts is not None:
        stamp = (
            orders.select(F.col(event_ts).alias("__t"))
            .unionByName(executions.select(F.col(event_ts).alias("__t")))
            .agg(F.max("__t"))
            .collect()[0][0]  # planning scalar: one timestamp
        )
        snap = snap.withColumn("saved_at", F.lit(stamp).cast("timestamp"))
    return snap


def _is_decimal(df: DataFrame, col: str) -> bool:
    from pyspark.sql.types import DecimalType

    return isinstance(df.schema[col].dataType, DecimalType)


def reconcile_stream(
    orders: DataFrame,
    executions: DataFrame,
    *,
    order_key: str,
    expected: str = "expected_amount",
    qty: str = "qty",
    tolerance: float = 1e-6,
    state_ttl_ms: int = 0,
    bootstrap: DataFrame | None = None,
    bootstrap_dir: str | None = None,
    max_age_trading_days: int = 0,
    weekend_aware: bool = True,
    restore_now=None,
    on_stale: str = "warn",
) -> DataFrame:
    """orders(order_key, expected_amount) STREAM x executions(order_key,
    qty) STREAM -> revision stream (order_key, expected_amount,
    executed_amount, n_executions, status, revision).

    Status classes are the batch ``reconcile_orders`` contract evaluated on
    the state seen SO FAR: ORPHAN (executions, no order yet), MISSING
    (order, no executions yet), MATCHED / UNDER_EXECUTED / OVER_EXECUTED by
    ``|executed - expected| <=> tolerance``. Late and out-of-order arrivals
    are held in per-key state and re-emit a higher revision; the latest
    revision per key converges to the batch full-outer-join row once both
    feeds drain. ``qty`` may be a decimal column — exactness of the
    accumulated total is preserved end-to-end.

    State lives in ``_STATE_BUCKETS`` hash buckets of the key, one pickled
    book per bucket (``_bucket_step``), so the stateful boundary pays
    Python's per-group framing cost per bucket instead of per key. The
    fold, the per-key revision counters and the emitted rows are those of
    a per-key layout.

    ``state_ttl_ms > 0`` arms per-key state expiry (the 100 TB posture:
    order flow is unbounded, so a months-lived stream must not hold every
    key it ever saw): a key idle for the TTL drops out of its bucket's
    book when the bucket is next touched, and a bucket idle for the TTL
    drops its whole book — the key's latest revision already carries the
    verdict. A fill arriving AFTER expiry re-creates the key as a fresh
    ORPHAN revision (visible, never silently merged), which is exactly the
    honest signal for a fill later than the retention horizon. Revisions
    stay MONOTONE across expiry: with the TTL armed, a freshly-created key
    seeds its revision counter from the batch's processing-time clock
    (globally increasing across micro-batches), so the post-expiry ORPHAN
    outranks every pre-expiry revision and ``latest_revisions`` surfaces
    it as the current verdict (ADVICE r8: a counter restarted at 1 would
    lose to the stale pre-expiry row in the max-revision view). Default 0
    = keep state forever (bounded audits, the gate's availableNow drives)
    with plain deterministic 1,2,3... counters — state never expires
    there, so plain counters are already monotone and the gate hash is
    unaffected.

    Restart contract: a restart from a checkpoint finds every key in the
    bucket that wrote it, under any ``spark.sql.shuffle.partitions``.
    Checkpoints written by earlier versions of this operator (per-key TTL
    state, or a bucket count other than ``_STATE_BUCKETS``) do not carry
    over: restart them cold, or re-seed the book through ``bootstrap=``.

    ``bootstrap`` (with ``bootstrap_dir``) arms cold-start recovery: a
    ``bootstrap_state`` snapshot (or any DataFrame with its schema) is
    persisted to ``bootstrap_dir`` as parquet — the durable ledger — and
    folded into the pairing state exactly once via a one-shot file-source
    stream unioned with the feeds. Each seed row MERGES commutatively
    (decimal add of the executed total, max of has_order, expected fills
    only if unknown), so live tail events racing ahead of their seed row
    are just another out-of-order arrival; once the seed lands the key
    emits a revision carrying the snapshot verdict, so the latest-revision
    view is complete immediately after restart without replaying history.
    The ledger write is CREATE-ONLY: if ``bootstrap_dir`` already holds a
    committed ledger, it is reused verbatim, so restarting the SAME query
    from its checkpoint re-reads byte-identical files the file source's
    checkpoint dedupes — seeds fold exactly once across restarts (ADVICE
    r9: an overwrite would mint new part paths the source treats as new
    data, doubling every executed total). A DIFFERENT snapshot needs a
    fresh bootstrap_dir and a fresh checkpoint.

    ``max_age_trading_days > 0`` arms the trading-day staleness check
    (round-9 item 6; reference algo_state_store.py:19-22 — a Friday-night
    snapshot is NOT 3 days old on Monday) on a ``bootstrap`` that carries a
    ``saved_at`` stamp (see ``bootstrap_state(event_ts=...)``): staleness
    is measured from ``saved_at`` to ``restore_now``, which the CALLER must
    supply (the tail's first event time, or their scheduler's clock) — the
    engine bans ambient wall-clock reads in operator surfaces
    (tests/test_replay.py wall-clock ban), and an explicit instant keeps
    the check reproducible. ``on_stale="warn"`` logs the advisory and
    proceeds (the reference's warn policy); ``"error"`` raises before any
    state is seeded (the discard policy — the caller decides whether to
    re-derive a fresh snapshot)."""
    if (bootstrap is None) != (bootstrap_dir is None):
        raise ValueError("bootstrap and bootstrap_dir must be passed together")
    if on_stale not in ("warn", "error"):
        raise ValueError(f"on_stale must be 'warn' or 'error', got {on_stale!r}")
    if bootstrap is not None:
        from .bootstrap import check_staleness

        check_staleness(
            bootstrap,
            max_age_trading_days=max_age_trading_days,
            weekend_aware=weekend_aware,
            restore_now=restore_now,
            on_stale=on_stale,
            name="reconcile_stream.bootstrap",
        )
    key_type = orders.schema[order_key].dataType
    out_schema = StructType(
        [
            StructField(order_key, key_type),
            StructField("expected_amount", DoubleType()),
            StructField("executed_amount", DoubleType()),
            StructField("n_executions", LongType()),
            StructField("status", StringType()),
            StructField("revision", LongType()),
        ]
    )

    # Packed wire (r15, guide §4.1): ONE payload string per event instead
    # of five typed columns — applyInPandasWithState slices and converts
    # every wire column per group on the Python side, so column count is a
    # direct per-group cost (measured ~25%% of the stateful drive). First
    # char = kind: 0 execution, 1 order, 2 snapshot seed. Doubles travel
    # as Java's shortest round-trip repr (float() restores the identical
    # IEEE754 bits); quantities as the same exact decimal text the
    # unpacked wire carried. See _fold_payloads.
    o = orders.select(
        F.col(order_key).alias("__key"),
        F.concat(
            F.lit("1"),
            F.coalesce(
                F.col(expected).cast("double").cast("string"), F.lit("nan")
            ),
        ).alias("__ev"),
    )
    e = executions.select(
        F.col(order_key).alias("__key"),
        # exact decimal transport, same cast as the unpacked wire's __qty
        F.concat(F.lit("0"), F.col(qty).cast("string")).alias("__ev"),
    )
    src = o.unionByName(e)
    if bootstrap is not None:
        seed_wire = bootstrap.select(
            F.col(order_key).alias("__key"),
            F.concat_ws(
                "|",
                F.lit("2"),
                # empty field = unknown expected (seed merge fills only
                # a known value; "" keeps the field count stable where
                # concat_ws would silently drop a NULL)
                F.coalesce(
                    F.col("expected").cast("double").cast("string"),
                    F.lit(""),
                ),
                F.col("executed").cast("string"),
                F.col("n_exec").cast("long").cast("string"),
                F.col("has_order").cast("int").cast("string"),
            ).alias("__ev"),
        )
        # persist the snapshot (the durable ledger), then replay it as a
        # one-shot stream so it can union with the live feeds — a batch
        # DataFrame cannot union into a streaming plan directly. The write
        # is CREATE-ONLY (ADVICE r9): see streaming/bootstrap.py — on a
        # restart-from-checkpoint an overwrite would mint fresh part paths
        # the file source ingests as new data, folding every seed twice.
        from .bootstrap import persist_ledger

        persist_ledger(seed_wire, bootstrap_dir)
        seed_src = (
            orders.sparkSession.readStream.schema(seed_wire.schema)
            .parquet(bootstrap_dir)
        )
        src = src.unionByName(seed_src)

    # r16 BUCKETED STATE (guide §4.1 taken to the operator level): the
    # per-KEY Python invocation cost of applyInPandasWithState (~1-2.4
    # ms/key/batch of group framing on both sides of the Arrow boundary —
    # measured r15, and nothing inside the API shaves it) is the reconcile
    # family's floor. Grouping by a HASH BUCKET of the key instead turns
    # that per-key framing into a per-bucket cost: one Python invocation
    # folds every key in the bucket with plain dict operations and emits
    # all of the bucket's revision rows as ONE frame (``_bucket_step``).
    # Trade-off: a touched bucket rewrites its whole book each batch; the
    # TTL keeps long-lived books bounded.
    columns = [f.name for f in out_schema.fields]

    def run(_bucket: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        return _bucket_step(
            pdfs, state, state_ttl_ms=state_ttl_ms, tolerance=tolerance,
            columns=columns,
        )

    return (
        src.select(_state_bucket("__key").alias("__bucket"), "__key", "__ev")
        .groupBy("__bucket")
        .applyInPandasWithState(
            run,
            outputStructType=out_schema,
            stateStructType=_BOOK_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if state_ttl_ms > 0
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def merged_reconcile_view(
    snapshot: DataFrame,
    revisions: DataFrame,
    *,
    order_key: str,
    tolerance: float = 1e-6,
) -> DataFrame:
    """SINK-MERGE form of the reconcile backfill (the cost-model lesson the
    sf1 drive of the tail gate taught, mirroring ``merged_dedup_view``):
    seeding a months-old book through the stream pays the ~80 us per-key
    Python invocation on EVERY seeded key — a one-time restart cost that
    is fine for a bounded open-order book, but for a ledger-wide audit
    (1.35M keys at sf1 = ~170 s of pure seed folding) history should not
    enter the state machinery at all. This view takes the
    ``bootstrap_state`` snapshot plus a FRESH-state tail stream's emitted
    revisions and merges commutatively at read time (sum of executed
    totals and counts, max of has_order, coalesce of expected), then
    applies the batch classification — equal to ``reconcile_orders`` over
    history+tail. Fidelity note: the revision wire carries executed as
    double (15-16 significant digits); the merge adds one double to the
    snapshot's exact decimal, so totals are exact to double precision —
    pass the seed-union ``bootstrap=`` path instead if a bit-exact decimal
    audit trail across the cut is required and the key count affordable."""
    lat = latest_revisions(revisions, order_key)
    s = snapshot.select(
        F.col(order_key).alias("__k"),
        F.col("has_order").alias("__s_has"),
        F.col("expected").alias("__s_exp"),
        F.col("executed").cast("double").alias("__s_exec"),
        F.col("n_exec").alias("__s_n"),
    )
    t = lat.select(
        F.col(order_key).alias("__k"),
        F.col("expected_amount").alias("__t_exp"),
        F.col("executed_amount").alias("__t_exec"),
        F.col("n_executions").alias("__t_n"),
        # the stream saw the order iff its latest verdict is not ORPHAN
        (F.col("status") != "ORPHAN").cast("int").alias("__t_has"),
    )
    j = s.join(t, "__k", "full_outer")
    has_order = (
        F.coalesce("__s_has", F.lit(0)) + F.coalesce("__t_has", F.lit(0)) > 0
    )
    expected = F.coalesce("__t_exp", "__s_exp")
    n = F.coalesce("__s_n", F.lit(0)) + F.coalesce("__t_n", F.lit(0))
    executed = F.coalesce("__s_exec", F.lit(0.0)) + F.coalesce(
        "__t_exec", F.lit(0.0)
    )
    diff = executed - expected
    status = (
        F.when(~has_order, F.lit("ORPHAN"))
        .when(n == 0, F.lit("MISSING"))
        .when(F.abs(diff) <= tolerance, F.lit("MATCHED"))
        .when(diff < 0, F.lit("UNDER_EXECUTED"))
        .otherwise(F.lit("OVER_EXECUTED"))
    )
    return j.select(
        F.col("__k").alias(order_key),
        F.when(has_order, expected).alias("expected_amount"),
        F.when(n > 0, executed).alias("executed_amount"),
        n.cast("long").alias("n_executions"),
        status.alias("status"),
    )


def latest_revisions(revisions: DataFrame, order_key: str) -> DataFrame:
    """Collapse a (bounded) revision table to the current verdict per key —
    what a dashboard or the gate's batch comparison reads."""
    from pyspark.sql import Window

    w = Window.partitionBy(order_key).orderBy(F.col("revision").desc())
    return (
        revisions.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "revision")
    )
