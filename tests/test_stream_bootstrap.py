"""Batch-bootstrap/stream-tail for the remaining streaming surfaces
(round-10 item 3): exact dedup and the incremental bar renderer pay
per-key-invocation overhead when history is DRIVEN through the stream
(SCALE.md §7: 23 s / 21 s at sf1 vs sub-second batch shapes); the
designated backfill path is a batch snapshot + tail streaming, the same
ledger protocol as the reconcile and live-session bootstraps.
"""

from __future__ import annotations

import pandas as pd
import pytest

# full seed+tail parity drives of the streaming bootstrap protocol (~4 min)
pytestmark = pytest.mark.slow

from finiextestingide_spark.streaming.bars_stream import run_to_memory
from finiextestingide_spark.streaming.dedup_stream import (
    bootstrap_dedup_state,
    streaming_exact_dedup,
)
from finiextestingide_spark.streaming.incremental_bars import (
    bootstrap_bar_state,
    incremental_bars,
)

DOC_DDL = "doc_id long, text string"
TICK_DDL = (
    "symbol string, timestamp timestamp, time_msc long, mid double, volume double"
)
T0 = 1_700_000_000_000_000  # us


def test_dedup_seed_plus_tail_equals_batch(spark, tmp_path):
    """Seed(history) + tail stream == batch dedup of the FULL corpus: group
    sizes span the cut (weighted commutative merge), canonical ids are the
    all-time min even when it lives in history, and tail-only hashes start
    fresh."""
    hist = [
        (1, "alpha beta"),
        (2, "alpha beta"),      # dup within history
        (3, "gamma"),
        (4, "delta"),
    ]
    tail = [
        (5, "alpha beta"),      # continues a history group (3-way)
        (6, "gamma"),           # continues another
        (7, "epsilon"),         # tail-only group
        (8, "epsilon"),
    ]
    snap = bootstrap_dedup_state(spark.createDataFrame(hist, DOC_DDL))

    tail_dir = str(tmp_path / "docs")
    spark.createDataFrame(tail, DOC_DDL).write.parquet(tail_dir)
    stream = spark.readStream.schema(DOC_DDL).parquet(tail_dir)
    out = streaming_exact_dedup(
        stream, heartbeat_ms=1_500,
        bootstrap=snap, bootstrap_dir=str(tmp_path / "ledger"),
    )
    name = "t_dedup_boot"
    run_to_memory(out, name, timeout_ms=1_500)
    rows = spark.table(name).collect()
    # emitted rows are cumulative; the LATEST (largest n) per hash stands
    got = {}
    for r in rows:
        prev = got.get(r["content_hash"])
        if prev is None or r["group_size"] > prev[1]:
            got[r["content_hash"]] = (r["canonical_id"], r["group_size"])

    batch = {
        r["content_hash"]: (r["min_id"], r["n"])
        for r in bootstrap_dedup_state(
            spark.createDataFrame(hist + tail, DOC_DDL)
        ).collect()
    }
    assert got == batch
    assert len(batch) == 4  # alpha-beta x3, gamma x2, delta x1, epsilon x2


def test_dedup_sink_merge_equals_batch(spark, tmp_path):
    """The 100 TB protocol: tail-only stream with FRESH state + batch
    snapshot, merged at read time — exact batch dedup of history+tail
    without any history (or seed) row entering the state machinery."""
    from finiextestingide_spark.streaming.dedup_stream import merged_dedup_view

    hist = [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma"), (4, "delta")]
    tail = [(5, "alpha beta"), (6, "gamma"), (7, "epsilon"), (8, "epsilon")]
    snap = bootstrap_dedup_state(spark.createDataFrame(hist, DOC_DDL))

    tail_dir = str(tmp_path / "docs")
    spark.createDataFrame(tail, DOC_DDL).write.parquet(tail_dir)
    stream = spark.readStream.schema(DOC_DDL).parquet(tail_dir)
    out = streaming_exact_dedup(stream, heartbeat_ms=1_500)  # fresh state
    name = "t_dedup_sinkmerge"
    run_to_memory(out, name, timeout_ms=1_500)

    merged = {
        r["content_hash"]: (r["min_id"], r["n"])
        for r in merged_dedup_view(snap, spark.table(name)).collect()
    }
    batch = {
        r["content_hash"]: (r["min_id"], r["n"])
        for r in bootstrap_dedup_state(
            spark.createDataFrame(hist + tail, DOC_DDL)
        ).collect()
    }
    assert merged == batch


def _bar_ticks(symbol: str, n: int, *, start_us: int = T0) -> list[tuple]:
    rows = []
    for i in range(n):
        t_us = start_us + i * 200_000  # 0.2 s apart -> 5/s, bar = 1 s
        price = 100.0 + ((i * 7) % 13) - 6 + (0.01 if symbol == "B" else 0.0)
        rows.append(
            (
                symbol,
                pd.Timestamp(t_us, unit="us").to_pydatetime(),
                i,
                price,
                1.0 + (i % 3) * 0.25,
            )
        )
    return rows


def test_bars_seed_plus_tail_equals_uninterrupted(spark, tmp_path):
    """The forming-bar seed installs before any tail tick, so the bar
    STRADDLING the cut aggregates history+tail ticks exactly as an
    uninterrupted renderer would (open from history, close from tail,
    volume folded in tick order); later tail bars are untouched."""
    feed = sorted(
        _bar_ticks("A", 40) + _bar_ticks("B", 40), key=lambda r: (r[1], r[0])
    )
    cut_us = T0 + 13 * 200_000  # mid-bucket: bucket 2 straddles the cut
    hist = [r for r in feed if r[1] < pd.Timestamp(cut_us, unit="us")]
    tail = [r for r in feed if r[1] >= pd.Timestamp(cut_us, unit="us")]

    def run(rows, tag, **kw):
        d = str(tmp_path / f"t_{tag}")
        spark.createDataFrame(rows, TICK_DDL).write.parquet(d)
        stream = spark.readStream.schema(TICK_DDL).parquet(d)
        bars = incremental_bars(stream, 1_000, heartbeat_ms=3_600_000_000, **kw)
        name = f"t_bars_{tag}"
        run_to_memory(bars, name)
        return {
            (r["symbol"], r["bar_ts"]): (
                r["open"], r["high"], r["low"], r["close"],
                r["volume"], r["tick_count"],
            )
            for r in spark.table(name).collect()
        }

    # uninterrupted reference: the whole feed through one stream
    full = run(feed, "full")
    snap = bootstrap_bar_state(spark.createDataFrame(hist, TICK_DDL), 1_000)
    seeded = run(
        tail, "boot", bootstrap=snap, bootstrap_dir=str(tmp_path / "ledger")
    )

    # the tail stream emits exactly the uninterrupted bars whose bucket is
    # >= the seed bucket (earlier bars are history, the batch path's output)
    seed_buckets = {
        r["symbol"]: r["bucket_us"] for r in snap.collect()
    }
    expected = {
        k: v
        for k, v in full.items()
        if int(k[1].timestamp() * 1_000_000) >= seed_buckets[k[0]]
    }
    assert seeded == expected
    # the straddling bar is really in there (the test bites)
    straddle = [
        k for k in seeded
        if int(k[1].timestamp() * 1_000_000) == seed_buckets[k[0]]
    ]
    assert len(straddle) == 2


def test_bars_seed_tie_order_with_tick_seq(spark, tmp_path):
    """ADVICE r10: ticks TIED on (timestamp, time_msc) reorder under the
    snapshot's struct sort unless a monotone tick_seq rides the wire. With
    tick_seq, the seeded straddling bar is bit-identical to the
    uninterrupted render even when ties carry different prices/volumes in
    arrival order."""
    ddl = (
        "symbol string, timestamp timestamp, time_msc long, "
        "tick_seq long, mid double, volume double"
    )
    rows = []
    seq = 0
    for i in range(12):
        t_us = T0 + (i // 3) * 400_000  # THREE ticks per identical stamp
        # prices deliberately NON-monotone within a tie group so a
        # (mid, volume) reorder would change open/close/volume-fold order
        for j, price in enumerate([101.0 - i, 99.5 + i, 100.25]):
            rows.append(
                (
                    "A",
                    pd.Timestamp(t_us, unit="us").to_pydatetime(),
                    7,  # SAME time_msc everywhere: worst-case ties
                    seq,
                    price,
                    1.0 + j * 0.5,
                )
            )
            seq += 1

    def run(data, tag, **kw):
        d = str(tmp_path / f"t_{tag}")
        spark.createDataFrame(data, ddl).write.parquet(d)
        stream = spark.readStream.schema(ddl).parquet(d)
        bars = incremental_bars(stream, 1_000, heartbeat_ms=3_600_000_000, **kw)
        name = f"tie_bars_{tag}"
        run_to_memory(bars, name)
        return {
            (r["symbol"], r["bar_ts"]): (
                r["open"], r["high"], r["low"], r["close"],
                r["volume"], r["tick_count"],
            )
            for r in spark.table(name).collect()
        }

    cut = pd.Timestamp(T0 + 5 * 400_000, unit="us")
    hist = [r for r in rows if r[1] < cut]
    tail = [r for r in rows if r[1] >= cut]
    full = run(rows, "full")
    snap = bootstrap_bar_state(spark.createDataFrame(hist, ddl), 1_000)
    seeded = run(
        tail, "boot", bootstrap=snap, bootstrap_dir=str(tmp_path / "ledger2")
    )
    seed_buckets = {r["symbol"]: r["bucket_us"] for r in snap.collect()}
    expected = {
        k: v
        for k, v in full.items()
        if int(k[1].timestamp() * 1_000_000) >= seed_buckets[k[0]]
    }
    assert seeded == expected


# --- streaming MinHash-LSH near-dup (round 11) -------------------------------


def _lsh_docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "pack my box with five dozen liquor jugs",
        "sphinx of black quartz judge my vow",
        "how vexingly quick daft zebras jump",
    ]
    rows = []
    for i in range(40):
        body = base[i % len(base)]
        if i % 7 == 0:
            body = body + " extra token"  # near-dup variants
        rows.append((i, body))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_band_stream_mirrors_batch_signatures(spark):
    """The Python signature in lsh_band_stream must be bit-identical to
    the batch construction (normalized_text -> _mh_slice minima -> md5
    band hash) — the parity everything downstream rests on."""
    import pyspark.sql.functions as F

    from finiextestingide_spark.operators import dedup as dd
    from finiextestingide_spark.streaming.dedup_stream import lsh_band_stream

    docs = _lsh_docs(spark)
    k, bands = 8, 4
    rpb = k // bands
    sigs = dd.minhash_signatures(dd.shingle_stream(docs, 3), k)
    batch = sigs.select(
        "doc_id",
        *[
            F.concat(
                F.lit(f"{b}|"),
                F.md5(F.concat_ws(
                    "|", *[F.col(f"mh_{b * rpb + r}") for r in range(rpb)]
                )),
            ).alias(f"b{b}")
            for b in range(bands)
        ],
    )
    exp = set()
    for r in batch.collect():
        for b in range(bands):
            exp.add((r[f"b{b}"], r["doc_id"]))
    got = {
        (r["bucket"], r["doc_id"])
        for r in lsh_band_stream(docs, shingle_n=3, num_hashes=k, bands=bands).collect()
    }
    assert got == exp


def test_streaming_lsh_candidates_equal_batch_pairs(spark, tmp_path):
    """Once the feed drains, the DISTINCT emitted pair set equals the
    batch lsh_candidate_pairs over the same corpus — regardless of how
    the source slices micro-batches (two files force at least two)."""
    from finiextestingide_spark.operators import dedup as dd
    from finiextestingide_spark.streaming.dedup_stream import streaming_lsh_candidates

    docs = _lsh_docs(spark)
    k, bands = 8, 4
    d = tmp_path / "docs"
    docs.where("doc_id % 2 = 0").coalesce(1).write.parquet(str(d / "p1"))
    docs.where("doc_id % 2 = 1").coalesce(1).write.parquet(str(d / "p2"))
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(d / "p*")
    )
    pairs = streaming_lsh_candidates(stream, shingle_n=3, num_hashes=k, bands=bands)
    run_to_memory(pairs, "lsh_cand_stream")
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.table("lsh_cand_stream").collect()
    }
    sigs = dd.minhash_signatures(dd.shingle_stream(docs, 3), k)
    exp = {
        (r["id_a"], r["id_b"])
        for r in dd.lsh_candidate_pairs(sigs, k, bands).collect()
    }
    assert got == exp and exp  # the fixture must actually produce pairs


def test_streaming_lsh_bootstrap_restart_parity(spark, tmp_path):
    """#355 discipline for the LSH stream (VERDICT r11 #1): split the
    corpus at ANY cut — batch band-bucket snapshot of the head seeds the
    stream, only the tail flows through the per-doc Python map — and the
    merged view (batch pairs over the head ∪ drained stream pairs) equals
    the batch band join over the FULL corpus. The stream itself emits
    ONLY pairs with at least one tail member (history×history is the
    batch join's job)."""
    from finiextestingide_spark.operators import dedup as dd
    from finiextestingide_spark.streaming.dedup_stream import (
        bootstrap_lsh_state,
        merged_lsh_view,
        streaming_lsh_candidates,
    )

    docs = _lsh_docs(spark)
    k, bands = 8, 4
    full_sigs = dd.minhash_signatures(dd.shingle_stream(docs, 3), k)
    full = {
        (r["id_a"], r["id_b"])
        for r in dd.lsh_candidate_pairs(full_sigs, k, bands).collect()
    }
    assert full
    for cut in (5, 13):
        head = docs.where(f"doc_id < {cut}")
        tail = docs.where(f"doc_id >= {cut}")
        d = str(tmp_path / f"tail_{cut}")
        tail.coalesce(1).write.parquet(d)
        stream = spark.readStream.schema("doc_id long, text string").parquet(d)
        pairs = streaming_lsh_candidates(
            stream, shingle_n=3, num_hashes=k, bands=bands,
            bootstrap=bootstrap_lsh_state(head, shingle_n=3, num_hashes=k, bands=bands),
            bootstrap_dir=str(tmp_path / f"seed_{cut}"),
        )
        name = f"lsh_boot_{cut}"
        run_to_memory(pairs, name)
        got = {(r["id_a"], r["id_b"]) for r in spark.table(name).collect()}
        # the stream never re-derives history×history pairs...
        assert all(b >= cut for _, b in got)
        # ...and the merged view is exactly the full-corpus band join
        head_sigs = dd.minhash_signatures(dd.shingle_stream(head, 3), k)
        merged = {
            (r["id_a"], r["id_b"])
            for r in merged_lsh_view(
                dd.lsh_candidate_pairs(head_sigs, k, bands),
                spark.createDataFrame(
                    sorted(got) or [(None, None)], "id_a long, id_b long"
                ).where("id_a is not null"),
            ).collect()
        }
        assert merged == full


def test_bootstrap_lsh_state_matches_stream_buckets(spark):
    """The JVM-side snapshot must mint bucket keys bit-identical to the
    stream's Python construction — otherwise seeds land in orphan buckets
    and cross pairs silently vanish."""
    from finiextestingide_spark.streaming.dedup_stream import (
        bootstrap_lsh_state,
        lsh_band_stream,
    )

    docs = _lsh_docs(spark)
    k, bands = 8, 4
    batch = {
        (r["bucket"], r["doc_id"])
        for r in bootstrap_lsh_state(docs, shingle_n=3, num_hashes=k, bands=bands).collect()
    }
    stream_rows = {
        (r["bucket"], r["doc_id"])
        for r in lsh_band_stream(docs, shingle_n=3, num_hashes=k, bands=bands).collect()
    }
    assert batch == stream_rows and batch


def test_streaming_lsh_bucket_cap_bounds_pairs(spark, tmp_path):
    """The member cap is the streaming pairs budget: a degenerate bucket
    (every doc identical) stops pairing at the cap instead of emitting
    quadratically forever; capped members are counted, not errored (a
    stream cannot fail loud mid-flight)."""
    from finiextestingide_spark.streaming.dedup_stream import streaming_lsh_candidates

    rows = [(i, "all documents carry this identical body text") for i in range(12)]
    d = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(d)
    stream = spark.readStream.schema("doc_id long, text string").parquet(d)
    pairs = streaming_lsh_candidates(
        stream, shingle_n=3, num_hashes=8, bands=4, max_bucket_members=5
    )
    run_to_memory(pairs, "lsh_capped")
    got = {
        (r["id_a"], r["id_b"]) for r in spark.table("lsh_capped").collect()
    }
    # 5 members -> C(5,2) = 10 distinct pairs, in every one of the 4 bands
    assert got == {(a, b) for a in range(5) for b in range(a + 1, 5)}
