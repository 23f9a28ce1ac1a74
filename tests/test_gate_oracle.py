"""Mirror of the driver's correctness gate at sf0.001: every registered gate
query must hash-match its DuckDB oracle (exact equality after
canonicalization); oracle-less queries must at least run and keep a stable
schema.

The full mirror takes ~15 min, so every gate is ``slow`` except the
fixed ``DEFAULT_ORACLE_SLICE`` of oracle-backed gates, which runs in the
default tier so that every run compares the operator families it covers
against DuckDB (scripts/check_gate.py is the interactive mirror)."""

from __future__ import annotations

import duckdb
import pytest

from finiextestingide_spark.gate import all_queries
from finiextestingide_spark.sources.tables import TABLES
from finiextestingide_spark.testing import compare_frames

QUERIES = all_queries()

#: the live trading family (per-symbol ReplaySession over a stream):
#: ~19 s together at sf0.001 on local[4]; the order-2 and order-3
#: modified-KN gates, whose hand-written oracles check the order-N
#: scorer's level loop independently: ~+15 s (this module's default run
#: went 33.0 -> 54.6 s on 4 vCPUs, 6.5 s of it the FutureWarning test);
#: the bucketed reconcile stream and its bootstrap-seed path: 2.8 s and
#: 6.7 s at sf0.001 on local[4]; both stop rules of
#: ``bars_stream.run_to_memory``, the emit-on-timeout dedup stream and the
#: stateless quality stream: 13.7 s and 1.6 s at sf0.001 on local[4]; the
#: replay family's batch spot accounting (the per-symbol live book keeps
#: it): 3.5 s at sf0.001 on local[4] (9.3 s when it is the first query
#: of the session)
DEFAULT_ORACLE_SLICE = (
    "streaming_live_replay",
    "streaming_live_limit",
    "streaming_live_signal",
    "replay_spot_oracle",
    "modified_kn_perplexity",
    "trigram_mkn_perplexity",
    "streaming_reconciliation",
    "streaming_reconcile_tail",
    "streaming_dedup_exact",
    "streaming_gopher_quality",
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=() if n in DEFAULT_ORACLE_SLICE else pytest.mark.slow)
        for n in sorted(QUERIES)
    ],
)
def test_gate_query_matches_oracle(name, spark, sf_dir, duck):
    q = QUERIES[name]
    spark_pdf = q.fn(spark, sf_dir).toPandas()
    if q.sql is None:
        # rows-only contract: runs, has columns, deterministic row count
        assert len(spark_pdf.columns) > 0
        again = q.fn(spark, sf_dir).toPandas()
        assert len(again) == len(spark_pdf)
        assert list(again.columns) == list(spark_pdf.columns)
        return
    oracle_pdf = duck.execute(q.sql).fetchdf()
    issues = compare_frames(spark_pdf, oracle_pdf)
    assert not issues, f"{name}: {issues}"


def test_default_oracle_slice_is_oracle_backed():
    """A slice name that drifts out of the registry (or loses its oracle)
    would silently drop the default tier's DuckDB comparison."""
    assert all(QUERIES[n].sql is not None for n in DEFAULT_ORACLE_SLICE)


def test_driver_window_is_curated():
    """The driver snapshots only the first 50 registry entries; the curated
    order must (a) resolve every name, (b) contain no rows-only entries in
    the window (they'd burn a verification slot on a weaker check), and
    (c) keep the full registry intact below the cutoff."""
    from finiextestingide_spark.gate import CURATED_ORDER

    names = list(QUERIES)
    assert names[: len(CURATED_ORDER)] == list(CURATED_ORDER)
    # entries past 50 are the explicit promotion queue should the driver
    # widen its window (round-5 VERDICT #8); the WINDOW itself is the
    # first 50 and every windowed slot must carry an oracle
    assert len(CURATED_ORDER) >= 50
    assert len(set(CURATED_ORDER)) == len(CURATED_ORDER)
    window_no_oracle = [n for n in CURATED_ORDER[:50] if QUERIES[n].sql is None]
    assert window_no_oracle == []


def test_live_gate_workers_raise_no_future_warning(spark, sf_dir, duck):
    """The live gate runs with FutureWarning turned into an error in its
    Python workers: PySpark's applyInPandasWithState output concat used to
    print a pandas deprecation per worker (see streaming/__init__.py), and
    the rows still match the oracle."""
    q = QUERIES["streaming_live_replay"]
    env = spark.sparkContext.environment
    env["PYTHONWARNINGS"] = "error::FutureWarning"
    try:
        got = q.fn(spark, sf_dir).toPandas()
    finally:
        del env["PYTHONWARNINGS"]
    assert not compare_frames(got, duck.execute(q.sql).fetchdf())


@pytest.mark.parametrize(
    "name", ["streaming_reconcile_tail", "streaming_reconcile_restart"]
)
def test_reconcile_gate_removes_its_seed_ledger(
    name, spark, sf_dir, tmp_path, monkeypatch
):
    """The bootstrap-seed reconcile gates write their ledger under the
    system temp dir; once the stream is drained the ledger must be gone,
    or every gate call leaves a directory behind."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert QUERIES[name].fn(spark, sf_dir).count() > 0
    assert list(tmp_path.iterdir()) == []
