"""Seeded input generators for the benchmark workloads.

Every generator draws from a ``numpy.random.Generator`` built from the run's
``--seed``; the same seed gives byte-identical inputs. Sizes are fixed per
workload and never depend on the seed, so seeds change values, not load.
Generation is vectorized (numpy columns) so it stays a small, steady part of
set-up time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# 2026-01-05 00:00:00 UTC, a Monday.
T0_MS = 1_767_571_200_000
SYMBOLS = ("EURUSD", "GBPUSD", "USDJPY", "XAUUSD")
_BASE = {"EURUSD": 1.10, "GBPUSD": 1.27, "USDJPY": 150.0, "XAUUSD": 2000.0}
_DIGITS = {"EURUSD": 5, "GBPUSD": 5, "USDJPY": 3, "XAUUSD": 2}

TICK_ARROW_SCHEMA = pa.schema(
    [
        ("symbol", pa.string()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("time_msc", pa.int64()),
        ("collected_msc", pa.int64()),
        ("bid", pa.float64()),
        ("ask", pa.float64()),
    ]
)
TICK_SPARK_SCHEMA = (
    "symbol string, timestamp timestamp, time_msc long, collected_msc long, "
    "bid double, ask double"
)


class TickWalk:
    """Per-symbol geometric random walks with 0.2-2 s inter-arrival gaps,
    strictly increasing ``time_msc`` per symbol and ask > bid. ``next(n)``
    continues every walk by ``n`` ticks, so a feed can be generated chunk
    by chunk; the same seed and chunk sizes give the same chunks."""

    def __init__(self, rng: np.random.Generator):
        self._rng = rng
        self._t = {s: T0_MS for s in SYMBOLS}
        self._log_mid = {s: np.log(_BASE[s]) for s in SYMBOLS}

    def next(self, n_per_symbol: int) -> pd.DataFrame:
        """The next ``n_per_symbol`` ticks of every symbol, sorted by
        (time_msc, symbol)."""
        rng, n, parts = self._rng, n_per_symbol, []
        for sym in SYMBOLS:
            d, base = _DIGITS[sym], _BASE[sym]
            t = self._t[sym] + np.cumsum(rng.integers(200, 2000, n, dtype=np.int64))
            log_mid = self._log_mid[sym] + np.cumsum(rng.standard_normal(n) * 1.5e-4)
            self._t[sym], self._log_mid[sym] = int(t[-1]), float(log_mid[-1])
            mid = np.exp(log_mid)
            half = np.maximum(base * 5e-5 * (1.0 + rng.random(n)), 10.0**-d)
            bid = np.round(mid - half, d)
            ask = np.round(np.maximum(mid + half, bid + 10.0**-d), d)
            parts.append(
                pd.DataFrame(
                    {
                        "symbol": sym,
                        "timestamp": pd.to_datetime(t, unit="ms", utc=True),
                        "time_msc": t,
                        "collected_msc": t,
                        "bid": bid,
                        "ask": ask,
                    }
                )
            )
        return (
            pd.concat(parts, ignore_index=True)
            .sort_values(["time_msc", "symbol"], kind="mergesort")
            .reset_index(drop=True)
        )


def write_ticks_parquet(ticks: pd.DataFrame, path: str) -> None:
    pq.write_table(
        pa.Table.from_pandas(ticks, schema=TICK_ARROW_SCHEMA, preserve_index=False), path
    )
