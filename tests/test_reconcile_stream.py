"""Streaming order<->execution reconciliation (J6 live, round-8 item 4).

The reference's live executor pairs broker execution reports with orders
continuously (live_trade_executor.py; abstract_adapter.py truth-pull);
here the pairing is a keyed stateful stream fed by TWO real sockets —
an order feed and a fills feed — with deliberate out-of-order arrival:
fills for one order land seconds before the order itself, so the operator
must hold them in state as ORPHAN and reclassify when the order shows up.
The final snapshot must equal the batch reconcile_orders classification.
"""

from __future__ import annotations

import json
import threading
import time
import uuid

import pytest
import pyspark.sql.functions as F

from finiextestingide_spark.streaming.live_source import (
    TickFeedServer,
    parse_tick_lines,
    read_socket_lines,
)
from finiextestingide_spark.streaming.reconcile_stream import (
    latest_revisions,
    reconcile_stream,
)

ORDER_WIRE_DDL = "order_id long, ts_us long, expected double"
FILL_WIRE_DDL = "order_id long, ts_us long, qty double"


def _line(**kv) -> str:
    return json.dumps(kv, separators=(",", ":"))


# quarter-grid quantities: binary-exact, so decimal-exact streaming state
# and the batch float sum agree bit-for-bit
ORDERS = {1: 10.0, 2: 8.5, 3: 12.25, 4: 3.0, 5: 20.0, 6: 7.75, 7: 5.0, 8: 9.5}
FILLS = {
    1: [4.0, 6.0],          # MATCHED across two fills
    2: [8.5],               # MATCHED single fill
    3: [6.0, 6.0],          # UNDER_EXECUTED (11.75 short of 12.25... 12.0)
    4: [3.25],              # OVER_EXECUTED
    5: [10.0, 10.0],        # MATCHED — but the ORDER arrives after the fills
    6: [7.75],              # MATCHED
    # 7: no fills           # MISSING
    8: [2.0, 3.0, 4.5],     # MATCHED across three fills
    9: [1.5],               # ORPHAN — no order ever arrives
}


def test_two_socket_reconciliation_out_of_order(spark):
    t0 = 1_767_225_600_000_000
    # orders wire: order 5 is withheld until its fills are OBSERVED in the
    # sink as an ORPHAN revision (event-gated line) — a fixed sleep raced
    # the first micro-batch, which on a cold session can take longer than
    # any reasonable pause and land the order in the same batch as its
    # fills (first revision MATCHED, not ORPHAN)
    release_late = threading.Event()
    early_orders = [
        _line(order_id=k, ts_us=t0 + k, expected=v)
        for k, v in ORDERS.items()
        if k != 5
    ]
    late_order = [
        (release_late, _line(order_id=5, ts_us=t0 + 500, expected=ORDERS[5]))
    ]
    fills = [
        _line(order_id=k, ts_us=t0 + 1000 + i, qty=q)
        for k, qs in FILLS.items()
        for i, q in enumerate(qs)
    ]

    name = f"recon_{uuid.uuid4().hex[:8]}"
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        with TickFeedServer(early_orders + late_order) as o_srv, TickFeedServer(
            fills
        ) as f_srv:
            orders = parse_tick_lines(
                read_socket_lines(spark, "127.0.0.1", o_srv.port),
                wire_ddl=ORDER_WIRE_DDL,
            ).select("order_id", F.col("expected").alias("expected_amount"))
            execs = parse_tick_lines(
                read_socket_lines(spark, "127.0.0.1", f_srv.port),
                wire_ddl=FILL_WIRE_DDL,
            ).select("order_id", "qty")
            rev = reconcile_stream(
                orders, execs, order_key="order_id",
                expected="expected_amount", qty="qty", tolerance=0.01,
            )
            q = (
                rev.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .start()
            )
            try:
                deadline = time.time() + 120.0
                while time.time() < deadline:
                    rows = spark.table(name).collect()
                    by_key = {}
                    for r in sorted(rows, key=lambda r: r["revision"]):
                        by_key.setdefault(r["order_id"], []).append(r)
                    # key 5's fills are in state as ORPHAN — NOW let the
                    # late order onto the wire (deterministic out-of-order)
                    if not release_late.is_set() and any(
                        r["status"] == "ORPHAN" for r in by_key.get(5, [])
                    ):
                        release_late.set()
                    done = (
                        set(by_key) == set(range(1, 10))
                        and by_key[5][-1]["status"] == "MATCHED"
                        and by_key[7]
                        and by_key[9]
                    )
                    if done:
                        break
                    time.sleep(0.5)
                else:
                    raise AssertionError(
                        f"reconciliation did not converge: "
                        f"{ {k: [r['status'] for r in v] for k, v in by_key.items()} }"
                    )
            finally:
                q.stop()
                q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)

    # out-of-order contract: order 5's fills arrived first, so its history
    # STARTS as ORPHAN (held in state) and reclassifies once the order lands
    hist5 = [r["status"] for r in by_key[5]]
    assert hist5[0] == "ORPHAN", hist5
    assert hist5[-1] == "MATCHED"
    assert len(hist5) >= 2

    # final snapshot == batch reconcile_orders on the same data
    from finiextestingide_spark.operators.reconcile import reconcile_orders

    o_df = spark.createDataFrame(
        [(k, v) for k, v in ORDERS.items()], "order_id long, expected double"
    )
    e_df = spark.createDataFrame(
        [(k, q) for k, qs in FILLS.items() for q in qs], "order_id long, qty double"
    )
    batch = {
        r["order_id"]: r
        for r in reconcile_orders(
            o_df, e_df, order_key="order_id",
            expected=F.col("expected"), executed=F.sum("qty"), tolerance=0.01,
        ).collect()
    }
    final = {k: v[-1] for k, v in by_key.items()}
    assert set(final) == set(batch)
    for k, br in batch.items():
        lr = final[k]
        for c in ("expected_amount", "executed_amount", "n_executions", "status"):
            assert lr[c] == br[c], (k, c, lr[c], br[c])
    # the fixture exercises every class
    assert {r["status"] for r in batch.values()} == {
        "MATCHED", "UNDER_EXECUTED", "OVER_EXECUTED", "MISSING", "ORPHAN"
    }


def test_latest_revisions_collapses_to_current_verdict(spark):
    rows = [
        (1, None, 4.0, 1, "ORPHAN", 1),
        (1, 10.0, 4.0, 1, "UNDER_EXECUTED", 2),
        (1, 10.0, 10.0, 2, "MATCHED", 3),
        (2, 5.0, None, 0, "MISSING", 1),
    ]
    df = spark.createDataFrame(
        rows,
        "order_id long, expected_amount double, executed_amount double, "
        "n_executions long, status string, revision long",
    )
    got = {r["order_id"]: r for r in latest_revisions(df, "order_id").collect()}
    assert got[1]["status"] == "MATCHED" and got[1]["n_executions"] == 2
    assert got[2]["status"] == "MISSING"


def test_state_ttl_expires_and_late_fill_resurfaces_as_orphan(spark):
    """``state_ttl_ms``: a key idle past the TTL drops its pairing state
    (bounded state for an unbounded order flow); a fill arriving after
    expiry re-creates the key as a FRESH ORPHAN revision — the visible
    signal for beyond-horizon lateness, never a silent merge. The fresh
    revision must OUTRANK every pre-expiry revision (monotone across
    expiry, ADVICE r8) so latest_revisions surfaces the ORPHAN, not the
    stale pre-expiry MATCHED verdict."""
    t0 = 1_767_225_600_000_000
    order = [_line(order_id=1, ts_us=t0, expected=10.0)]
    fill1 = [_line(order_id=1, ts_us=t0 + 1, qty=10.0)]
    # the late fill is event-gated: released only once the MATCHED verdict
    # is OBSERVED in the sink and the TTL has had 4x its duration to fire —
    # a fixed pause after fill1's SEND raced the first micro-batch (a cold
    # or loaded session can take longer than the pause to even ingest
    # fill1, landing both fills in one batch as a silent merge)
    release_fill = threading.Event()
    late_fill = [(release_fill, _line(order_id=1, ts_us=t0 + 2, qty=0.5))]

    name = f"recon_ttl_{uuid.uuid4().hex[:8]}"
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        # feed: order+fill immediately, then a long idle (keepalive-free
        # sockets stay open), then the late fill after the TTL expired
        with TickFeedServer(order) as o_srv, TickFeedServer(
            fill1 + late_fill
        ) as f_srv:
            orders = parse_tick_lines(
                read_socket_lines(spark, "127.0.0.1", o_srv.port),
                wire_ddl=ORDER_WIRE_DDL,
            ).select("order_id", F.col("expected").alias("expected_amount"))
            execs = parse_tick_lines(
                read_socket_lines(spark, "127.0.0.1", f_srv.port),
                wire_ddl=FILL_WIRE_DDL,
            ).select("order_id", "qty")
            rev = reconcile_stream(
                orders, execs, order_key="order_id",
                expected="expected_amount", qty="qty", tolerance=0.01,
                state_ttl_ms=1_500,
            )
            q = (
                rev.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .start()
            )
            try:
                deadline = time.time() + 120.0
                rows = []
                matched_at = None
                while time.time() < deadline:
                    rows = sorted(
                        spark.table(name).collect(),
                        key=lambda r: (r["revision"], r["n_executions"]),
                    )
                    if matched_at is None and any(
                        r["status"] == "MATCHED" for r in rows
                    ):
                        matched_at = time.time()
                    if (
                        matched_at is not None
                        and not release_fill.is_set()
                        and time.time() - matched_at > 6.0  # 4x the 1.5s TTL
                    ):
                        release_fill.set()
                    if any(
                        r["status"] == "ORPHAN" and r["n_executions"] == 1
                        and r["executed_amount"] == 0.5
                        for r in rows
                    ):
                        break
                    time.sleep(0.5)
                else:
                    raise AssertionError(
                        f"late fill never resurfaced: "
                        f"{[(r['status'], r['n_executions'], r['revision']) for r in rows]}"
                    )
            finally:
                q.stop()
                q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)

    statuses = [(r["status"], r["n_executions"], r["revision"]) for r in rows]
    # before expiry the key reached MATCHED with the full quantity
    assert any(s == "MATCHED" and n == 1 for s, n, _rv in statuses), statuses
    # after expiry the late fill shows as a fresh ORPHAN with executed=0.5
    # and n_executions=1 (proof the old state was dropped, not merged) ...
    orphan_revs = [rv for s, n, rv in statuses if s == "ORPHAN" and n == 1]
    matched_revs = [rv for s, n, rv in statuses if s == "MATCHED"]
    assert orphan_revs, statuses
    # ... and its revision OUTRANKS every pre-expiry revision, so the
    # max-revision view returns the post-expiry verdict, never the stale
    # pre-expiry MATCHED (ADVICE r8 monotonicity contract)
    assert min(orphan_revs) > max(matched_revs), statuses
    rev_df = spark.createDataFrame(
        rows,
        "order_id long, expected_amount double, executed_amount double, "
        "n_executions long, status string, revision long",
    )
    current = latest_revisions(rev_df, "order_id").collect()
    assert len(current) == 1 and current[0]["status"] == "ORPHAN", current


def test_bootstrap_state_snapshot_exactness(spark):
    """bootstrap_state: a JVM-side batch snapshot with the stream's exact
    state shape — decimal-exact executed text, has_order/n_exec per key."""
    from finiextestingide_spark.streaming.reconcile_stream import bootstrap_state

    o_df = spark.createDataFrame(
        [(1, 10.0), (7, 5.0)], "order_id long, expected double"
    )
    e_df = spark.createDataFrame(
        [(1, 4.25), (1, 5.75), (9, 1.5)], "order_id long, qty double"
    )
    snap = {r["order_id"]: r for r in bootstrap_state(
        o_df, e_df, order_key="order_id", expected="expected", qty="qty"
    ).collect()}
    assert snap[1]["has_order"] == 1 and snap[1]["n_exec"] == 2
    from decimal import Decimal

    assert Decimal(snap[1]["executed"]) == Decimal("10")
    assert snap[7]["has_order"] == 1 and snap[7]["n_exec"] == 0
    assert Decimal(snap[7]["executed"]) == 0
    assert snap[9]["has_order"] == 0 and snap[9]["n_exec"] == 1
    assert Decimal(snap[9]["executed"]) == Decimal("1.5")


def test_bootstrap_restart_parity(spark, tmp_path):
    """Cold-start recovery (round-9 item 2; reference Cold-Start Recovery
    #355 / algo_state_store.py): a stream seeded from a batch snapshot of
    the HISTORY plus a live TAIL must converge to the same verdicts as the
    batch reconciliation of the FULL ledger — keys completed in history
    surface their verdict immediately from the seed, keys spanning the cut
    merge seed+tail decimal-exactly, and history-only fills whose order
    arrives in the tail reclassify from the seeded ORPHAN."""
    from finiextestingide_spark.operators.reconcile import reconcile_orders
    from finiextestingide_spark.streaming.reconcile_stream import bootstrap_state

    # history: everything except — order 1's second fill, order 3's ORDER,
    # order 4's fill, and orphan 9's fill arrive in the live tail
    hist_orders = [(k, v) for k, v in ORDERS.items() if k != 3]
    hist_fills = (
        [(1, FILLS[1][0])]
        + [(2, q) for q in FILLS[2]]
        + [(3, q) for q in FILLS[3]]
        + [(5, q) for q in FILLS[5]]
        + [(6, q) for q in FILLS[6]]
        + [(8, q) for q in FILLS[8]]
    )
    tail_orders = [_line(order_id=3, ts_us=1, expected=ORDERS[3])]
    tail_fills = [
        _line(order_id=1, ts_us=2, qty=FILLS[1][1]),
        _line(order_id=4, ts_us=3, qty=FILLS[4][0]),
        _line(order_id=9, ts_us=4, qty=FILLS[9][0]),
    ]
    snap = bootstrap_state(
        spark.createDataFrame(hist_orders, "order_id long, expected_amount double"),
        spark.createDataFrame(hist_fills, "order_id long, qty double"),
        order_key="order_id",
    )

    name = f"recon_boot_{uuid.uuid4().hex[:8]}"
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        with TickFeedServer(tail_orders) as o_srv, TickFeedServer(tail_fills) as f_srv:
            orders = parse_tick_lines(
                read_socket_lines(spark, "127.0.0.1", o_srv.port),
                wire_ddl=ORDER_WIRE_DDL,
            ).select("order_id", F.col("expected").alias("expected_amount"))
            execs = parse_tick_lines(
                read_socket_lines(spark, "127.0.0.1", f_srv.port),
                wire_ddl=FILL_WIRE_DDL,
            ).select("order_id", "qty")
            rev = reconcile_stream(
                orders, execs, order_key="order_id",
                expected="expected_amount", qty="qty", tolerance=0.01,
                bootstrap=snap, bootstrap_dir=str(tmp_path / "ledger"),
            )
            q = (
                rev.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .start()
            )
            try:
                deadline = time.time() + 120.0
                while time.time() < deadline:
                    rows = spark.table(name).collect()
                    by_key = {}
                    for r in sorted(rows, key=lambda r: r["revision"]):
                        by_key.setdefault(r["order_id"], []).append(r)
                    # done when all 9 keys present and the cross-cut keys
                    # reached their tail-inclusive state
                    if (
                        set(by_key) == set(range(1, 10))
                        and by_key[1][-1]["n_executions"] == 2
                        and by_key[3][-1]["status"] != "ORPHAN"
                        and by_key[4][-1]["n_executions"] == 1
                        and by_key[9][-1]["n_executions"] == 1
                    ):
                        break
                    time.sleep(0.5)
                else:
                    raise AssertionError(
                        f"bootstrap run did not converge: "
                        f"{ {k: [r['status'] for r in v] for k, v in by_key.items()} }"
                    )
            finally:
                q.stop()
                q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)

    # keys complete in history carry their verdict from the SEED alone
    assert by_key[2][0]["status"] == "MATCHED"
    assert by_key[7][0]["status"] == "MISSING"
    # history fills + tail order: seeded ORPHAN reclassifies
    assert by_key[3][0]["status"] == "ORPHAN"
    assert by_key[3][-1]["status"] == "UNDER_EXECUTED"

    # final snapshot == batch reconcile_orders over the FULL ledger
    o_df = spark.createDataFrame(
        [(k, v) for k, v in ORDERS.items()], "order_id long, expected double"
    )
    e_df = spark.createDataFrame(
        [(k, q) for k, qs in FILLS.items() for q in qs], "order_id long, qty double"
    )
    batch = {
        r["order_id"]: r
        for r in reconcile_orders(
            o_df, e_df, order_key="order_id",
            expected=F.col("expected"), executed=F.sum("qty"), tolerance=0.01,
        ).collect()
    }
    final = {k: v[-1] for k, v in by_key.items()}
    assert set(final) == set(batch)
    for k, br in batch.items():
        lr = final[k]
        for c in ("expected_amount", "executed_amount", "n_executions", "status"):
            assert lr[c] == br[c], (k, c, lr[c], br[c])


def test_bootstrap_restart_from_checkpoint_folds_seed_once(spark, tmp_path):
    """ADVICE r9 (medium): restarting the SAME bootstrapped query from its
    checkpoint must NOT fold the seed a second time. The ledger write is
    create-only, so the restart re-reads byte-identical files the file
    source's checkpoint dedupes — order 1's executed total stays
    seed(10.0) + tail(5.0) = 15.0, not 25.0 (a rewritten ledger would mint
    new part paths the source ingests as fresh data)."""
    from finiextestingide_spark.streaming.reconcile_stream import bootstrap_state

    orders_dir = str(tmp_path / "orders")
    fills_dir = str(tmp_path / "fills")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ledger = str(tmp_path / "ledger")

    # initial live feed contents: order 2 and its exact fill
    spark.createDataFrame(
        [(2, 3.0)], "order_id long, expected_amount double"
    ).write.mode("append").parquet(orders_dir)
    spark.createDataFrame([(2, 3.0)], "order_id long, qty double").write.mode(
        "append"
    ).parquet(fills_dir)

    # history: order 1 fully matched (2 fills, 10.0 total)
    snap = bootstrap_state(
        spark.createDataFrame([(1, 10.0)], "order_id long, expected_amount double"),
        spark.createDataFrame(
            [(1, 4.0), (1, 6.0)], "order_id long, qty double"
        ),
        order_key="order_id",
    )

    def run_once():
        orders = spark.readStream.schema(
            "order_id long, expected_amount double"
        ).parquet(orders_dir)
        fills = spark.readStream.schema("order_id long, qty double").parquet(
            fills_dir
        )
        rev = reconcile_stream(
            orders, fills, order_key="order_id", tolerance=0.01,
            bootstrap=snap, bootstrap_dir=ledger,
        )
        q = (
            rev.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # a tail fill for order 1 lands while the query is down
    spark.createDataFrame([(1, 5.0)], "order_id long, qty double").write.mode(
        "append"
    ).parquet(fills_dir)
    run_once()  # restart: same bootstrap args, same checkpoint

    final = {
        r["order_id"]: r
        for r in latest_revisions(
            spark.read.parquet(out_dir), "order_id"
        ).collect()
    }
    assert final[1]["executed_amount"] == 15.0, final[1]  # NOT 25.0
    assert final[1]["n_executions"] == 3
    assert final[1]["status"] == "OVER_EXECUTED"
    assert final[2]["status"] == "MATCHED"


def test_sink_merge_equals_batch_reconcile(spark, tmp_path):
    """merged_reconcile_view (round-10): batch snapshot of history + a
    FRESH-state tail stream, merged at read time == reconcile_orders over
    the FULL ledger — the backfill path for ledger-wide audits where
    seeding every key through the stream would pay the per-key Python
    cost on the whole book. Covers every cross-cut class: seed-only keys,
    tail-only keys, fills split across the cut, a seeded ORPHAN whose
    order arrives in the tail, and a seeded MISSING order filled in the
    tail."""
    from finiextestingide_spark.operators.reconcile import reconcile_orders
    from finiextestingide_spark.streaming.reconcile_stream import (
        bootstrap_state,
        merged_reconcile_view,
    )

    hist_orders = [(k, v) for k, v in ORDERS.items() if k not in (3, 4)]
    hist_fills = (
        [(1, FILLS[1][0])]
        + [(2, q) for q in FILLS[2]]
        + [(3, q) for q in FILLS[3]]       # ORPHAN in history...
        + [(5, q) for q in FILLS[5]]
        + [(6, q) for q in FILLS[6]]
        + [(8, q) for q in FILLS[8][:2]]
    )
    tail_orders = [(3, ORDERS[3]), (4, ORDERS[4])]  # ...order 3 lands late
    tail_fills = [
        (1, FILLS[1][1]),
        (4, FILLS[4][0]),
        (8, FILLS[8][2]),
        (9, FILLS[9][0]),
    ]
    snap = bootstrap_state(
        spark.createDataFrame(hist_orders, "order_id long, expected_amount double"),
        spark.createDataFrame(hist_fills, "order_id long, qty double"),
        order_key="order_id",
    )

    o_dir, f_dir = str(tmp_path / "o"), str(tmp_path / "f")
    spark.createDataFrame(
        tail_orders, "order_id long, expected_amount double"
    ).write.parquet(o_dir)
    spark.createDataFrame(tail_fills, "order_id long, qty double").write.parquet(
        f_dir
    )
    rev = reconcile_stream(
        spark.readStream.schema("order_id long, expected_amount double").parquet(
            o_dir
        ),
        spark.readStream.schema("order_id long, qty double").parquet(f_dir),
        order_key="order_id",
        tolerance=0.01,
    )
    out_dir = str(tmp_path / "out")
    q = (
        rev.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    merged = {
        r["order_id"]: r
        for r in merged_reconcile_view(
            snap, spark.read.parquet(out_dir), order_key="order_id",
            tolerance=0.01,
        ).collect()
    }
    batch = {
        r["order_id"]: r
        for r in reconcile_orders(
            spark.createDataFrame(
                [(k, v) for k, v in ORDERS.items()], "order_id long, expected double"
            ),
            spark.createDataFrame(
                [(k, q) for k, qs in FILLS.items() for q in qs],
                "order_id long, qty double",
            ),
            order_key="order_id",
            expected=F.col("expected"),
            executed=F.sum("qty"),
            tolerance=0.01,
        ).collect()
    }
    assert set(merged) == set(batch)
    for k, br in batch.items():
        mr = merged[k]
        for c in ("expected_amount", "n_executions", "status"):
            assert mr[c] == br[c], (k, c, mr[c], br[c])
        if br["executed_amount"] is None:
            assert mr["executed_amount"] is None, k
        else:
            assert mr["executed_amount"] == pytest.approx(
                br["executed_amount"], abs=1e-9
            ), k


# --- Hypothesis sweep: arrival-order / slicing invariance (round-9 item 8) --

from decimal import Decimal

from hypothesis import given, settings
from hypothesis import strategies as st

from finiextestingide_spark.streaming.reconcile_stream import (
    _classify,
    _fold_events,
)

# quantities on a 0.01 grid as decimal TEXT (the wire transport): decimal
# addition is exact, so any grouping/order must produce the same total
_qty = st.integers(min_value=-500, max_value=10_000).map(
    lambda c: str(Decimal(c) / 100)
)


@st.composite
def _key_history(draw):
    """One key's full event multiset + a random interleaving + a random
    slicing into micro-batches + an optional history cut for the seed."""
    has_order = draw(st.booleans())
    fills = draw(st.lists(_qty, min_size=0, max_size=12))
    expected = str(Decimal(draw(st.integers(0, 10_000))) / 100)
    events = [(0, None, q, None, None) for q in fills]
    if has_order:
        events.append((1, float(expected), None, None, None))
    events = draw(st.permutations(events))
    # slice into micro-batches: cut points over the interleaved sequence
    cuts = sorted(draw(st.sets(st.integers(0, max(len(events), 1)), max_size=4)))
    return events, cuts


def _drive(events, cuts):
    """Fold the interleaving batch-by-batch (exactly what the stream's run()
    does per micro-batch), returning every emitted classification."""
    state = (0, None, Decimal(0), 0)
    out = []
    lo = 0
    for hi in [*cuts, len(events)]:
        batch = events[lo:hi]
        lo = hi
        if not batch:
            continue
        state = _fold_events(*state, batch)
        out.append(_classify(*state, tolerance=1e-9))
    return state, out


@settings(max_examples=200, deadline=None)
@given(_key_history())
def test_arrival_order_and_slicing_invariance(history):
    """The decimal-exactness claim, fuzzed: ANY interleaving and ANY
    micro-batch slicing of one key's order/fill multiset converges to the
    batch classification — same status, bit-identical executed total."""
    events, cuts = history
    state, emitted = _drive(events, cuts)
    has_order, exp, executed, n_exec = state

    # batch oracle: classify the multiset directly
    fills = [Decimal(q) for k, _, q, _, _ in events if k == 0]
    order = [e for k, e, _, _, _ in events if k == 1]
    total = sum(fills, Decimal(0))
    assert executed == total  # decimal-exact regardless of order/slicing
    assert n_exec == len(fills)
    status, e_out, x_out = _classify(*state, tolerance=1e-9)
    if not order:
        assert status == "ORPHAN"
    elif not fills:
        assert status == "MISSING"
    else:
        diff = float(total) - order[0]
        if abs(diff) <= 1e-9:
            assert status == "MATCHED"
        elif diff < 0:
            assert status == "UNDER_EXECUTED"
        else:
            assert status == "OVER_EXECUTED"
    # the final emitted revision IS the converged verdict
    if emitted:
        assert emitted[-1] == (status, e_out, x_out)


@settings(max_examples=200, deadline=None)
@given(_key_history(), st.integers(0, 20))
def test_bootstrap_cut_invariance(history, cut_seed):
    """Cold-start equivalence, fuzzed: splitting one key's history at ANY
    point into (batch-aggregated seed) + (streamed tail) reaches the same
    final state as streaming everything — the seed merge is exactly the
    fold of the history prefix."""
    events, _ = history
    cut = cut_seed % (len(events) + 1)
    hist, tail = events[:cut], events[cut:]

    # all-stream run
    full_state = _fold_events(0, None, Decimal(0), 0, events)

    # seed = batch aggregate of the history (what bootstrap_state computes)
    h_has, h_exp, h_exec, h_n = _fold_events(0, None, Decimal(0), 0, hist)
    seed = (2, h_exp, str(h_exec), h_n, h_has)
    # the seed may land anywhere relative to the tail (a live event racing
    # ahead of its seed row) — put it in the middle of the tail
    mid = len(tail) // 2
    seeded_state = _fold_events(
        0, None, Decimal(0), 0, [*tail[:mid], seed, *tail[mid:]]
    )
    assert seeded_state[0] == full_state[0]  # has_order
    assert seeded_state[1] == full_state[1]  # expected
    assert seeded_state[2] == full_state[2]  # executed, bit-exact decimal
    assert seeded_state[3] == full_state[3]  # n_executions
    assert _classify(*seeded_state, tolerance=1e-9) == _classify(
        *full_state, tolerance=1e-9
    )


@settings(max_examples=200, deadline=None)
@given(_key_history(), st.integers(0, 20))
def test_payload_fold_matches_tuple_fold(history, cut_seed):
    """r15 packed-wire equivalence: the live stream folds ONE concatenated
    payload string per event (_fold_payloads — wire columns are a per-key
    Python cost in applyInPandasWithState); encoding any event multiset,
    including a bootstrap seed with known/unknown expected, and folding
    the strings must reproduce _fold_events bit-for-bit (decimal-exact
    executed total, identical expected/has/count)."""
    from finiextestingide_spark.streaming.reconcile_stream import _fold_payloads

    events, _ = history
    cut = cut_seed % (len(events) + 1)
    hist, tail = events[:cut], events[cut:]
    h_has, h_exp, h_exec, h_n = _fold_events(0, None, Decimal(0), 0, hist)
    seed = (2, h_exp, str(h_exec), h_n, h_has)
    mixed = [*tail[: len(tail) // 2], seed, *tail[len(tail) // 2:]]

    def encode(ev):
        kind, e_amt, q, sn, sh = ev
        if kind == 1:
            return "1" + (repr(float(e_amt)) if e_amt is not None else "nan")
        if kind == 0:
            return "0" + q
        exp_s = "" if e_amt is None else repr(float(e_amt))
        return f"2|{exp_s}|{q}|{int(sn)}|{int(sh)}"

    tup = _fold_events(0, None, Decimal(0), 0, mixed)
    packed = _fold_payloads(0, None, Decimal(0), 0, [encode(e) for e in mixed])
    assert packed[0] == tup[0]
    assert packed[1] == tup[1]
    assert packed[2] == tup[2]  # bit-exact decimal
    assert packed[3] == tup[3]
    assert _classify(*packed, tolerance=1e-9) == _classify(*tup, tolerance=1e-9)


def test_bootstrap_staleness_policy(spark, tmp_path):
    """Trading-day staleness on restore (round-9 item 6): a snapshot
    stamped with its event time via bootstrap_state(event_ts=...) is
    checked at reconcile_stream construction — Friday-night state restored
    Monday passes max_age=1; a week-old snapshot raises under the 'error'
    policy and warns (then proceeds) under 'warn'."""
    from datetime import datetime

    from finiextestingide_spark.streaming.reconcile_stream import bootstrap_state

    o_hist = spark.createDataFrame(
        [(1, 10.0, datetime(2026, 8, 14, 21, 0))],
        "order_id long, expected_amount double, ts timestamp",
    )
    e_hist = spark.createDataFrame(
        [(1, 10.0, datetime(2026, 8, 14, 22, 0))],  # Friday night last fill
        "order_id long, qty double, ts timestamp",
    )
    snap = bootstrap_state(
        o_hist, e_hist, order_key="order_id", event_ts="ts"
    )
    assert snap.columns[-1] == "saved_at"
    assert snap.collect()[0]["saved_at"] == datetime(2026, 8, 14, 22, 0)

    # bounded dummy streams (rate source, never started) — construction is
    # where the staleness gate runs
    import pyspark.sql.functions as F

    def _streams():
        src = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        orders = src.select(
            F.col("value").alias("order_id"),
            F.lit(1.0).alias("expected_amount"),
        )
        execs = src.select(
            F.col("value").alias("order_id"), F.lit(1.0).alias("qty")
        )
        return orders, execs

    # Friday -> Monday, max_age 1 trading day: NOT stale, constructs fine
    orders, execs = _streams()
    reconcile_stream(
        orders, execs, order_key="order_id",
        bootstrap=snap, bootstrap_dir=str(tmp_path / "fresh"),
        max_age_trading_days=1,
        restore_now=datetime(2026, 8, 17, 8, 0), on_stale="error",
    )

    # a week later: stale -> 'error' policy raises BEFORE seeding state
    orders, execs = _streams()
    with pytest.raises(ValueError, match="trading day"):
        reconcile_stream(
            orders, execs, order_key="order_id",
            bootstrap=snap, bootstrap_dir=str(tmp_path / "stale"),
            max_age_trading_days=1,
            restore_now=datetime(2026, 8, 24, 8, 0), on_stale="error",
        )

    # 'warn' policy surfaces the advisory and proceeds
    import warnings as _warnings

    orders, execs = _streams()
    with _warnings.catch_warnings(record=True) as got:
        _warnings.simplefilter("always")
        reconcile_stream(
            orders, execs, order_key="order_id",
            bootstrap=snap, bootstrap_dir=str(tmp_path / "warned"),
            max_age_trading_days=1,
            restore_now=datetime(2026, 8, 24, 8, 0), on_stale="warn",
        )
    assert any("trading day" in str(w.message) for w in got)


def test_bucketed_state_multibatch_parity(spark, tmp_path):
    """r16 bucketed-state layout (the stream groups by a hash BUCKET of the
    key, one pickled book per bucket): per-key semantics must be unchanged
    — one revision per key per batch-with-events, monotone counters
    starting at 1, and finals equal to the batch reconcile — even when
    keys share a bucket (asserted below: keys 3 and 8 do under the
    constant bucket count); two availableNow drives against one
    checkpoint force a deterministic 2-batch slicing so cross-batch state
    (the pickled book) is exercised, not just the single-batch fold."""
    from finiextestingide_spark.operators.reconcile import reconcile_orders
    from finiextestingide_spark.streaming.reconcile_stream import _state_bucket

    keys = sorted(set(ORDERS) | set(FILLS))
    buckets = [
        r[0]
        for r in spark.createDataFrame([(k,) for k in keys], "order_id long")
        .select(_state_bucket("order_id"))
        .collect()
    ]
    assert len(set(buckets)) < len(keys), buckets  # some keys share a book

    in_dir = tmp_path / "feed"
    ckpt = str(tmp_path / "ckpt")
    o_dir, e_dir = str(in_dir / "orders"), str(in_dir / "fills")

    batch1_orders = [(k, v) for k, v in ORDERS.items() if k != 5]
    batch1_fills = [(1, FILLS[1][0]), (3, FILLS[3][0]), (5, FILLS[5][0]),
                    (8, FILLS[8][0]), (9, FILLS[9][0])]
    batch2_orders = [(5, ORDERS[5])]
    batch2_fills = [(1, FILLS[1][1]), (2, FILLS[2][0]), (3, FILLS[3][1]),
                    (4, FILLS[4][0]), (5, FILLS[5][1]), (6, FILLS[6][0]),
                    (8, FILLS[8][1]), (8, FILLS[8][2])]

    out_dir = str(tmp_path / "out")

    def _drive_batch(orders_rows, fills_rows):
        spark.createDataFrame(
            orders_rows, "order_id long, expected_amount double"
        ).coalesce(1).write.mode("append").parquet(o_dir)
        spark.createDataFrame(
            fills_rows, "order_id long, qty double"
        ).coalesce(1).write.mode("append").parquet(e_dir)
        o = spark.readStream.schema("order_id long, expected_amount double").parquet(o_dir)
        e = spark.readStream.schema("order_id long, qty double").parquet(e_dir)
        rev = reconcile_stream(
            o, e, order_key="order_id", expected="expected_amount",
            qty="qty", tolerance=0.01,
        )
        # file sink: the one append sink that supports checkpoint recovery,
        # which the two-drive slicing here depends on (memory does not)
        q = (
            rev.writeStream.format("parquet").option("path", out_dir)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir).collect()

    _drive_batch(batch1_orders, batch1_fills)
    all_rows = _drive_batch(batch2_orders, batch2_fills)
    rows1 = [r for r in all_rows if r["revision"] == 1]
    rows2 = [r for r in all_rows if r["revision"] == 2]

    # batch 1: every key with events emits revision 1 exactly once
    assert sorted(r["order_id"] for r in rows1) == sorted(
        set(k for k, _ in batch1_orders) | set(k for k, _ in batch1_fills)
    )
    assert all(r["revision"] == 1 for r in rows1)
    # key 5's fill precedes its order: ORPHAN in batch 1
    assert {r["order_id"]: r["status"] for r in rows1}[5] == "ORPHAN"

    # batch 2: one revision-2 row per key with batch-2 events (key 5's
    # counter survived the pickled book across the restart)
    assert sorted(r["order_id"] for r in rows2) == sorted(
        set(k for k, _ in batch2_orders) | set(k for k, _ in batch2_fills)
    )
    assert all(r["revision"] == 2 for r in rows2)

    # finals (latest revision per key) == batch reconcile of the union
    o_df = spark.createDataFrame(
        [(k, v) for k, v in ORDERS.items()], "order_id long, expected double"
    )
    e_df = spark.createDataFrame(
        [(k, q) for k, qs in FILLS.items() for q in qs], "order_id long, qty double"
    )
    batch = {
        r["order_id"]: r
        for r in reconcile_orders(
            o_df, e_df, order_key="order_id",
            expected=F.col("expected"), executed=F.sum("qty"), tolerance=0.01,
        ).collect()
    }
    final = {r["order_id"]: r for r in rows1}
    final.update({r["order_id"]: r for r in rows2})
    assert set(final) == set(batch)
    for k, br in batch.items():
        lr = final[k]
        for c in ("expected_amount", "executed_amount", "n_executions", "status"):
            assert lr[c] == br[c], (k, c, lr[c], br[c])


def test_restart_under_other_shuffle_partitions_keeps_books(spark, tmp_path):
    """The bucket a key's state lives in must not depend on the session:
    Spark freezes the state partitioning in the checkpoint, so a restart
    under a different ``spark.sql.shuffle.partitions`` (a checkpoint moved
    to another box) must find every key's book. A bucket count derived
    from the session re-hashed keys into other buckets there, and their
    books silently started over (ORPHAN at the tail fill alone)."""
    from finiextestingide_spark.operators.reconcile import reconcile_orders

    keys = range(1, 41)
    o_dir, e_dir = str(tmp_path / "orders"), str(tmp_path / "fills")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drive(partitions, orders_rows, fills_rows):
        if orders_rows:
            spark.createDataFrame(
                orders_rows, "order_id long, expected_amount double"
            ).write.mode("append").parquet(o_dir)
        spark.createDataFrame(fills_rows, "order_id long, qty double").write.mode(
            "append"
        ).parquet(e_dir)
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
        try:
            rev = reconcile_stream(
                spark.readStream.schema(
                    "order_id long, expected_amount double"
                ).parquet(o_dir),
                spark.readStream.schema("order_id long, qty double").parquet(e_dir),
                order_key="order_id", tolerance=0.01,
            )
            q = (
                rev.writeStream.format("parquet").option("path", out_dir)
                .option("checkpointLocation", ckpt).outputMode("append")
                .trigger(availableNow=True).start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)

    orders = [(k, 10.0) for k in keys]
    first, tail = [(k, 4.0) for k in keys], [(k, 6.0) for k in keys]
    drive("2", orders, first)
    drive("4", [], tail)

    final = {
        r["order_id"]: r
        for r in latest_revisions(spark.read.parquet(out_dir), "order_id").collect()
    }
    batch = {
        r["order_id"]: r
        for r in reconcile_orders(
            spark.createDataFrame(orders, "order_id long, expected double"),
            spark.createDataFrame(first + tail, "order_id long, qty double"),
            order_key="order_id",
            expected=F.col("expected"),
            executed=F.sum("qty"),
            tolerance=0.01,
        ).collect()
    }
    assert set(final) == set(batch)
    wrong = {
        k: (final[k]["status"], final[k]["executed_amount"])
        for k, br in batch.items()
        if any(
            final[k][c] != br[c]
            for c in ("expected_amount", "executed_amount", "n_executions", "status")
        )
    }
    assert not wrong, wrong


# --- the per-bucket step, driven without Spark ------------------------------

import pandas as pd
from pyspark.sql import Row
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from finiextestingide_spark.streaming.reconcile_stream import (
    _BOOK_SCHEMA,
    _bucket_step,
)

_COLS = [
    "order_id", "expected_amount", "executed_amount", "n_executions",
    "status", "revision",
]


def _step(state, now_ms, events, *, ttl_ms, timed_out=False):
    """Run ``_bucket_step`` once the way applyInPandasWithState would: a
    GroupState carrying the previous call's book (None = no state) at
    processing time ``now_ms``. Returns the new state and the emitted rows
    by key."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if ttl_ms
        else GroupStateTimeout.NoTimeout
    )
    gs = GroupState(
        optionalValue=Row(*state.get) if state is not None and state.exists else None,
        batchProcessingTimeMs=now_ms,
        eventTimeWatermarkMs=GroupState.NO_TIMESTAMP,
        timeoutConf=timeout,
        hasTimedOut=timed_out,
        watermarkPresent=False,
        defined=state is not None and state.exists,
        updated=False,
        removed=False,
        timeoutTimestamp=GroupState.NO_TIMESTAMP,
        keyAsUnsafe=b"",
        valueSchema=_BOOK_SCHEMA,
    )
    pdf = pd.DataFrame(
        {"__key": [k for k, _ in events], "__ev": [p for _, p in events]}
    )
    frames = list(
        _bucket_step(
            iter([pdf]), gs, state_ttl_ms=ttl_ms, tolerance=0.01, columns=_COLS
        )
    )
    rows = {}
    for f in frames:
        rows.update({r["order_id"]: r for r in f.to_dict("records")})
    return gs, rows


def test_bucket_step_expires_idle_key_in_busy_bucket():
    """TTL inside one book: key A idles past the TTL while key B in the
    same bucket keeps receiving events, so the bucket never times out. A's
    next fill must drop A's old state (a fresh ORPHAN, n_executions 1) at a
    revision above every pre-expiry one, and B must carry on untouched."""
    ttl = 1_000
    st, r1 = _step(None, 10_000, [(1, "110.0"), (1, "010.0"), (2, "01.5")], ttl_ms=ttl)
    assert r1[1]["status"] == "MATCHED" and r1[2]["status"] == "ORPHAN"
    st, r2 = _step(st, 10_600, [(2, "02.5")], ttl_ms=ttl)
    assert set(r2) == {2}
    st, r3 = _step(st, 11_000, [(1, "00.5"), (2, "01.0")], ttl_ms=ttl)

    a = r3[1]
    assert (a["status"], a["n_executions"], a["executed_amount"]) == (
        "ORPHAN", 1, 0.5,
    )
    assert a["expected_amount"] is None
    assert a["revision"] > r1[1]["revision"]
    b = r3[2]
    assert (b["status"], b["n_executions"], b["executed_amount"]) == (
        "ORPHAN", 3, 5.0,
    )
    assert b["revision"] == r2[2]["revision"] + 1 == r1[2]["revision"] + 2
    # every touched bucket re-arms its timeout for the TTL
    assert st._timeout_timestamp == 11_000 + ttl


def test_bucket_step_timed_out_bucket_clears_state():
    """A bucket that times out has seen no event for the TTL, so neither
    has any key in it: the whole book goes and nothing is emitted."""
    st, _ = _step(None, 10_000, [(1, "110.0"), (2, "03.0")], ttl_ms=1_000)
    assert st.exists
    st, rows = _step(st, 11_500, [], ttl_ms=1_000, timed_out=True)
    assert not st.exists and not rows


def test_bucket_step_without_ttl_never_expires():
    """``state_ttl_ms == 0``: plain 1,2,3... revision counters and no
    expiry however long a key idles."""
    st, r1 = _step(None, 10_000, [(1, "110.0"), (1, "04.0")], ttl_ms=0)
    assert r1[1]["revision"] == 1
    st, r2 = _step(st, 10_000 + 10**9, [(1, "06.0")], ttl_ms=0)
    assert (r2[1]["status"], r2[1]["n_executions"], r2[1]["revision"]) == (
        "MATCHED", 2, 2,
    )
