#!/usr/bin/env python
"""Local mirror of the driver's correctness gate: run every gate query on
Spark AND its DuckDB oracle, canonicalize both frames, and require exact
equality (what an order-insensitive value-hash needs).

Usage: python scripts/check_gate.py [--sf DIR] [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

import duckdb

# The repo root, resolved from this file so the script runs from any working
# directory: this process imports the package from it, and the vanilla session
# ships it to the Python workers.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

from finiextestingide_spark.gate import all_queries  # noqa: E402
from finiextestingide_spark.sources.tables import TABLES  # noqa: E402
from finiextestingide_spark.testing import compare_frames  # noqa: E402


def vanilla_session() -> SparkSession:
    """A session like the DRIVER's — deliberately NOT build_session, so the
    gate mirror catches any query that silently depends on our own session
    flags (round-1 lesson: 21 queries failed only under the harness session).
    The one addition is the package location for the Python workers, so the
    mirror runs from any working directory."""
    return (
        SparkSession.builder.appName("check-gate")
        .master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", REPO)
        .getOrCreate()
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    qs = all_queries()
    names = args.queries or list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    spark = vanilla_session()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')")

    failures = 0
    for name in names:
        q = qs[name]
        t0 = time.time()
        try:
            spark_pdf = q.fn(spark, args.sf).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            failures += 1
            continue
        if q.sql is None:
            print(f"ok    {name}: rows-only ({len(spark_pdf)} rows, {time.time()-t0:.1f}s) [no oracle]")
            continue
        try:
            oracle_pdf = con.execute(q.sql).df()
        except Exception:
            print(f"FAIL  {name}: oracle error\n{traceback.format_exc()}")
            failures += 1
            continue
        issues = compare_frames(spark_pdf, oracle_pdf)
        if issues:
            failures += 1
            print(f"FAIL  {name} ({len(spark_pdf)} vs {len(oracle_pdf)} rows):")
            for i in issues:
                print(f"      {i}")
        else:
            print(f"PASS  {name}: {len(spark_pdf)} rows, {time.time()-t0:.1f}s")
    print(f"\n{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
