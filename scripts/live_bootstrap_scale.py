#!/usr/bin/env python
"""sf1 -> sf10 scaling rows for the LIVE cold-start bootstrap (VERDICT r10
item 8): does the one-pass batch snapshot stay scan-bound at 10x events /
10x symbols, and does the seeded-tail restart's seed cost stay
one-row-per-key?

Drives `bootstrap_live_sessions` over the /tmp synth events replayed as
ticks with SALTED symbols (event_type x event_id%%K -> 50 keys at sf1,
500 at sf10 — the "100x symbols" axis vs the 5-symbol gate), then a
seeded-tail `live_backtest` restart over the last slice of the
feed. Record results in SCALE.md §7. Run on an idle box, one at a time.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from finiextestingide_spark.session import build_session  # noqa: E402
from finiextestingide_spark.sources.tables import load_table  # noqa: E402

PARAMS = {"strategy": "sma_cross", "fast": "3", "slow": "8", "bar_ms": "3600000"}


def ticks_of(spark, sf_dir: str, n_salt: int):
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.concat(
            F.col("event_type"), F.lit("-"), (F.col("event_id") % n_salt).cast("string")
        ).alias("symbol"),
        F.col("ts").alias("timestamp"),
        F.unix_millis("ts").alias("time_msc"),
        F.unix_millis("ts").alias("collected_msc"),
        (F.col("value") - 0.005).alias("bid"),
        (F.col("value") + 0.005).alias("ask"),
    )


def measure(spark, sf_dir: str, n_salt: int, runs: int = 3) -> dict:
    from finiextestingide_spark.streaming.live_replay import (
        bootstrap_live_sessions,
        live_backtest,
    )

    ticks = ticks_of(spark, sf_dir, n_salt)
    cut = ticks.agg(
        F.expr("percentile_approx(time_msc, 0.98)")
    ).collect()[0][0]  # planning scalar: the restart cut (last ~2% is tail)
    hist = ticks.where(F.col("time_msc") < cut)
    n_events = ticks.count()
    n_keys = ticks.select("symbol").distinct().count()

    # 1) snapshot wall: ONE applyInPandas pass over history
    snap_secs = []
    for _ in range(runs):
        t0 = time.perf_counter()
        bootstrap_live_sessions(hist, PARAMS).write.mode("overwrite").format(
            "noop"
        ).save()
        snap_secs.append(time.perf_counter() - t0)

    # 2) seeded-tail restart wall: snapshot rows seed the stream, the
    # stream processes only the tail slice
    snap = bootstrap_live_sessions(hist, PARAMS)
    tail_dir = tempfile.mkdtemp(prefix="lbs_tail_")
    ticks.where(F.col("time_msc") >= cut).write.mode("overwrite").parquet(tail_dir)
    tail_schema = spark.read.parquet(tail_dir).schema
    t0 = time.perf_counter()
    stream = spark.readStream.schema(tail_schema).parquet(tail_dir)
    out = live_backtest(
        stream,
        PARAMS,
        bootstrap=snap,
        bootstrap_dir=tempfile.mkdtemp(prefix="lbs_ledger_"),
    )
    q = (
        out.writeStream.format("noop")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="lbs_ck_"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    restart_secs = time.perf_counter() - t0

    return {
        "events": n_events,
        "keys": n_keys,
        "snapshot_min_s": round(min(snap_secs), 2),
        "seeded_tail_restart_s": round(restart_secs, 2),
    }


def main() -> int:
    spark = build_session("live-bootstrap-scale")
    spark.sparkContext.setLogLevel("ERROR")
    for sf_dir, n_salt in (("/tmp/sf1_synth", 10), ("/tmp/sf10_synth", 100)):
        r = measure(spark, sf_dir, n_salt)
        print(f"RESULT {sf_dir} salt={n_salt} {r}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
