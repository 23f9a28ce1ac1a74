"""Bucketed-layout tests: co-located joins must be shuffle-free."""

from __future__ import annotations

import uuid

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark):
    from finiextestingide_spark.sources.lake import colocated_join, write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    left = spark.range(0, 10_000).selectExpr("id AS doc_id", "id % 97 AS f")
    right = spark.range(0, 10_000).selectExpr("id AS doc_id", "id % 31 AS g")
    suffix = uuid.uuid4().hex[:8]
    lt, rt = f"lake_l_{suffix}", f"lake_r_{suffix}"
    try:
        write_bucketed(left, lt, bucket_by="doc_id", n_buckets=8)
        write_bucketed(right, rt, bucket_by="doc_id", n_buckets=8)
        joined = colocated_join(spark, lt, rt, "doc_id")
        assert joined.count() == 10_000
        plan = _plan(joined)
        assert "Exchange" not in plan, plan  # co-located: zero shuffles
        # the same join over plain (unbucketed) frames DOES shuffle
        plain = left.join(right, "doc_id")
        assert "Exchange" in _plan(plain)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
        spark.sql(f"DROP TABLE IF EXISTS {rt}")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_bucketed_tick_lake_backtest_single_exchange(spark, sf_dir):
    """The 100 TB replay layout (SCALE.md): ticks persisted as a bucketed
    lake table (write_bucketed on symbol) feed run_backtest with ZERO
    Exchange before the explicit per-scenario repartition — the scenario
    attach broadcasts the scenario slice onto the bucketed scan in place,
    so the ONLY shuffle in the whole pre-replay plan is the one
    deliberately placed repartition(n, __part) — the collision-free
    scenario-placement salt (round 8) — that spreads the
    Python-CPU-bound replay across cores. At 1000 executors that means the
    100 TB tick scan is never moved; only the (already-sliced) per-scenario
    rows travel once. The plan is pinned structurally: exactly one
    Exchange node, and it is the scenario repartition; the scan is the
    bucketed table. The pin reads ``_replay_plan``, the lazy frame that
    run_backtest checkpoints (the checkpointed result's own plan is a scan
    of the stored rows)."""
    import pyspark.sql.functions as F

    from finiextestingide_spark.operators.replay import _replay_plan
    from finiextestingide_spark.sources.lake import write_bucketed
    from finiextestingide_spark.sources.tables import load_table

    ticks = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("timestamp"),
        F.unix_millis("ts").alias("time_msc"),
        F.unix_millis("ts").alias("collected_msc"),
        (F.col("value") - 0.005).alias("bid"),
        (F.col("value") + 0.005).alias("ask"),
    )
    table = f"lake_ticks_{uuid.uuid4().hex[:8]}"
    try:
        write_bucketed(ticks, table, bucket_by="symbol", n_buckets=4)
        lake_ticks = spark.table(table)
        scenarios = spark.createDataFrame(
            [(i + 1, f"lake-{s}", s, None, None, i + 1, 0, 0,
              {"strategy": "buy_hold", "bar_ms": "3600000",
               "equity_sample_every": "0"})
             for i, s in enumerate(["click", "view", "purchase"])],
            "scenario_id int, name string, symbol string, max_ticks int, "
            "tick_processing_budget_ms double, latency_seed int, "
            "latency_min_ms int, latency_max_ms int, parameters map<string,string>",
        )
        res = _replay_plan(lake_ticks, scenarios)
        plan = _plan(res)
        # exactly ONE shuffle Exchange in the whole plan, and it is the
        # explicit scenario repartition (hashpartitioning on __part, the
        # round-8 collision-free placement salt). A BroadcastExchange of
        # the tiny scenario slice is allowed — that IS the design (the
        # 100 TB side never moves; the config does).
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Exchange rangepartitioning" not in plan, plan
        assert "Exchange SinglePartition" not in plan, plan
        first_exchange_arg = plan.split("Exchange hashpartitioning(", 1)[1]
        assert first_exchange_arg.startswith("__part"), plan
        # the scan really is the bucketed lake table
        assert "Bucketed: true" in plan, plan
        # and the composition actually runs: one result row per scenario
        assert res.count() == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_pq_codes_lake_partition_pruned_probe(spark, tmp_path):
    """The IVF-PQ production layout (VERDICT r13 #1): `write_pq_lake`
    encodes ONCE at ingest and persists ONLY (id, code columns) partitioned
    by coarse cell; `ivfpq_lake_topk` must then (a) prune the scan to the
    probed cells via PartitionFilters built from driver-side literal probe
    ids, (b) read a schema with NO vector column (raw vectors never load —
    they are not even in the lake), (c) contain zero re-encode work
    (no element_at subspace arithmetic — scoring is the LUT CASE-chain
    over code columns), and (d) rank identically to the self-contained
    `ivfpq_topk` over the same corpus/books (they share one gate oracle)."""
    import pyspark.sql.functions as F

    from finiextestingide_spark.operators import similarity as sim

    rows = [
        (i, [float(i % 7 + 1), float(i % 3), float((i * i) % 5), float(i % 2)])
        for i in range(1, 41)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    crows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 1.0]),
    ]
    cents = spark.createDataFrame(
        crows, "centroid_id long, embedding array<double>"
    )
    assigned = sim.assign_centroids(vecs, cents)
    books = [
        [[1.0], [3.0], [6.0]],
        [[0.0], [1.0], [2.0]],
        [[0.0], [2.0], [4.0]],
        [[0.0], [1.0]],
    ]
    lake = str(tmp_path / "pq_lake")
    sim.write_pq_lake(assigned, books, lake)
    # the lake IS the partitioned-by-cell codes layout, nothing else
    import os

    cells = sorted(d for d in os.listdir(lake) if d.startswith("centroid_id="))
    assert cells == ["centroid_id=0", "centroid_id=1", "centroid_id=2"]
    lake_schema = spark.read.parquet(lake).schema.fieldNames()
    assert "embedding" not in lake_schema
    assert {"vec_id", "pq0", "pq1", "pq2", "pq3"} <= set(lake_schema)

    q = [2.0, 1.0, 1.0, 0.0]
    out = sim.ivfpq_lake_topk(spark, lake, books, crows, q, 5, nprobe=1)
    res = [(r.vec_id, r.adc_dist, r.rank) for r in out.collect()]
    plan = _plan(out)
    # (a) directory pruning on the literal probed cell
    assert "PartitionFilters: [isnotnull(centroid_id" in plan, plan
    assert "(centroid_id" in plan and "= 0)" in plan, plan
    # (b) raw vectors never load
    assert "embedding" not in plan, plan
    # (c) zero re-encode in the query plan
    assert "element_at" not in plan, plan
    # (d) identical ranking to the self-contained operator
    inplace = sim.ivfpq_topk(assigned, books, cents, q, 5, nprobe=1)
    assert res == [(r.vec_id, r.adc_dist, r.rank) for r in inplace.collect()]

    # nprobe=2 probes exactly the two nearest cells, still pruned
    out2 = sim.ivfpq_lake_topk(spark, lake, books, crows, q, 5, nprobe=2)
    plan2 = _plan(out2)
    assert "centroid_id" in plan2.split("PartitionFilters", 1)[1][:200]
    inplace2 = sim.ivfpq_topk(assigned, books, cents, q, 5, nprobe=2)
    assert [(r.vec_id, r.adc_dist, r.rank) for r in out2.collect()] == [
        (r.vec_id, r.adc_dist, r.rank) for r in inplace2.collect()
    ]

    # degenerate query fails loud at probe selection (shared guard)
    with pytest.raises(ValueError, match="no probeable centroid"):
        sim.ivfpq_lake_topk(spark, lake, books, crows, [0.0] * 4, 5)


def test_residual_codes_lake_per_cell_pruned(spark, tmp_path):
    """Residual IVFADC served from the lake: residual codes persisted
    partitionBy(cell) (`write_pq_lake(..., vec_col="residual")`), queried
    by `ivfpq_residual_lake_topk` — each probed cell is its own
    partition-pruned codes-only scan (per-cell LUT), no residual or
    embedding column in the plan, ranking identical to the self-contained
    `ivfpq_residual_topk` (they share one gate oracle)."""
    from finiextestingide_spark.operators import similarity as sim

    crows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    cents = spark.createDataFrame(
        crows, "centroid_id long, embedding array<double>"
    )
    rows = [
        (1, [10.0, 1.0]), (2, [8.0, 0.0]),   # cell 0
        (3, [1.0, 12.0]), (4, [0.0, 9.0]),   # cell 1
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned = sim.assign_centroids(vecs, cents)
    resid = sim.residual_vectors(assigned, cents)
    books = [
        [[9.0], [7.0], [1.0], [0.0]],
        [[1.0], [0.0], [11.0], [8.0]],
    ]
    lake = str(tmp_path / "rlake")
    sim.write_pq_lake(resid, books, lake, vec_col="residual")
    lake_schema = set(spark.read.parquet(lake).schema.fieldNames())
    assert "residual" not in lake_schema and "embedding" not in lake_schema

    q = [10.0, 1.0]
    for nprobe in (1, 2):
        got_df = sim.ivfpq_residual_lake_topk(
            spark, lake, books, crows, q, 3, nprobe=nprobe, exclude_id=1
        )
        want = sim.ivfpq_residual_topk(
            assigned, books, crows, q, 3, nprobe=nprobe, exclude_id=1
        ).collect()
        got = got_df.collect()
        assert [(r.vec_id, r.adc_dist, r.rank) for r in got] == [
            (r.vec_id, r.adc_dist, r.rank) for r in want
        ]
    plan = _plan(got_df)
    assert "PartitionFilters: [isnotnull(centroid_id" in plan, plan
    # codes-only scan: no residual/embedding COLUMN anywhere in the plan
    # (bare substring would match the tmp dir name in the scan location)
    assert "residual#" not in plan and "embedding#" not in plan
    assert "ReadSchema: struct<vec_id:bigint,pq0:int,pq1:int>" in plan
    assert "element_at" not in plan and "zip_with" not in plan


def test_compact_pq_lake_folds_tail_into_history(spark, tmp_path):
    """The codebook-rebuild-boundary maintenance step: history + streamed
    tail (with one replayed duplicate) compact into ONE partitioned lake;
    queries against the compacted lake rank identically to the multi-root
    read, and the duplicate id appears once."""
    from finiextestingide_spark.operators import similarity as sim

    crows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    books = [[[0.0], [2.0], [9.0]], [[0.0], [1.0], [8.0]]]
    cents = spark.createDataFrame(
        crows, "centroid_id long, embedding array<double>"
    )
    hist = spark.createDataFrame(
        [(1, [9.0, 1.0]), (2, [2.0, 0.5])], "vec_id long, embedding array<double>"
    )
    # tail REPLAYS id 2 (at-least-once recovery) and adds id 3
    tail = spark.createDataFrame(
        [(2, [2.0, 0.5]), (3, [0.5, 8.0])], "vec_id long, embedding array<double>"
    )
    hl, tl, cl = (str(tmp_path / d) for d in ("hist", "tail", "compact"))
    sim.write_pq_lake(sim.assign_centroids(hist, cents), books, hl)
    sim.write_pq_lake(sim.assign_centroids(tail, cents), books, tl)

    with pytest.raises(ValueError, match="no source lakes"):
        sim.compact_pq_lake(spark, [], cl)
    with pytest.raises(ValueError, match="must not be a source"):
        sim.compact_pq_lake(spark, [hl, tl], tl)

    sim.compact_pq_lake(spark, [hl, tl], cl)
    rows = spark.read.parquet(cl).collect()
    assert sorted(r.vec_id for r in rows) == [1, 2, 3]  # duplicate folded
    import os

    assert sorted(d for d in os.listdir(cl) if d.startswith("centroid_id="))

    q = [9.0, 0.5]
    a = sim.ivfpq_lake_topk(spark, cl, books, crows, q, 3, nprobe=2)
    # ranking equals an all-batch lake over the DISTINCT vector set (the
    # multi-root pre-compaction read would surface the replayed id twice —
    # exactly the small-files + dup debt compaction retires)
    al = str(tmp_path / "all")
    allv = hist.unionByName(tail).dropDuplicates(["vec_id"])
    sim.write_pq_lake(sim.assign_centroids(allv, cents), books, al)
    want = sim.ivfpq_lake_topk(spark, al, books, crows, q, 3, nprobe=2)
    assert [(r.vec_id, r.adc_dist, r.rank) for r in a.collect()] == [
        (r.vec_id, r.adc_dist, r.rank) for r in want.collect()
    ]


def test_compact_guard_normalizes_paths(spark, tmp_path):
    """ADVICE r14: the read-own-output guard must compare NORMALIZED
    paths — a trailing slash, a dot segment, or a symlink of a source
    lake would otherwise slip past string equality and overwrite mode
    would clobber the source mid-read."""
    import os

    from finiextestingide_spark.operators import similarity as sim

    crows = [(0, [1.0, 0.0])]
    books = [[[0.0]], [[0.0]]]
    cents = spark.createDataFrame(
        crows, "centroid_id long, embedding array<double>"
    )
    vecs = spark.createDataFrame(
        [(1, [0.5, 0.1])], "vec_id long, embedding array<double>"
    )
    src = str(tmp_path / "lake")
    sim.write_pq_lake(sim.assign_centroids(vecs, cents), books, src)

    link = str(tmp_path / "lake_link")
    os.symlink(src, link)
    for alias in (
        src + os.sep,                                   # trailing slash
        str(tmp_path / "." / "lake"),                   # dot segment
        link,                                           # symlink
    ):
        with pytest.raises(ValueError, match="must not be a source"):
            sim.compact_pq_lake(spark, [src], alias)
        with pytest.raises(ValueError, match="must not be a source"):
            sim.compact_pq_lake(spark, [alias], src)


def test_codebook_version_stamp_fails_loud(spark, tmp_path):
    """VERDICT r14 #4: the lake carries its codebook fingerprint as a
    sidecar manifest; querying or compacting with the WRONG books raises
    instead of silently NULL-sinking every row (query) or merging
    incompatible code spaces (compaction)."""
    from finiextestingide_spark.operators import similarity as sim

    crows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    books_a = [[[0.0], [2.0]], [[0.0], [1.0]]]
    books_b = [[[0.5], [2.5]], [[0.5], [1.5]]]
    cents = spark.createDataFrame(
        crows, "centroid_id long, embedding array<double>"
    )
    vecs = spark.createDataFrame(
        [(1, [1.9, 0.2]), (2, [0.1, 0.9])], "vec_id long, embedding array<double>"
    )
    assigned = sim.assign_centroids(vecs, cents)
    la, lb, lc = (str(tmp_path / d) for d in ("lake_a", "lake_b", "compact"))
    sim.write_pq_lake(assigned, books_a, la)

    # manifest exists, fingerprints differ -> loud error on every reader
    m = sim.read_lake_manifest(spark, la)
    assert m and m["fingerprint"] == sim.codebook_fingerprint(books_a)
    with pytest.raises(ValueError, match="codebook version"):
        sim.ivfpq_lake_topk(spark, la, books_b, crows, [1.0, 0.1], 2)
    with pytest.raises(ValueError, match="codebook version"):
        sim.ivfpq_residual_lake_topk(spark, la, books_b, crows, [1.0, 0.1], 2)
    q = spark.createDataFrame(
        [(0, [1.0, 0.1])], "query_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="codebook version"):
        sim.ivfpq_lake_batch_topk(spark, la, books_b, crows, q, 2)
    # appending with different books would mix code spaces
    with pytest.raises(ValueError, match="codebook version"):
        sim.write_pq_lake(assigned, books_b, la, mode="append")
    # the RIGHT books still read
    assert sim.ivfpq_lake_topk(spark, la, books_a, crows, [1.0, 0.1], 2).count() > 0

    # compaction: mixed stamps refuse; matched stamps propagate
    sim.write_pq_lake(assigned, books_b, lb)
    with pytest.raises(ValueError, match="DIFFERENT codebook"):
        sim.compact_pq_lake(spark, [la, lb], lc)
    with pytest.raises(ValueError, match="codebook version"):
        sim.compact_pq_lake(spark, [la], lc, sub_centroids=books_b)
    sim.compact_pq_lake(spark, [la], lc, sub_centroids=books_a)
    mc = sim.read_lake_manifest(spark, lc)
    assert mc and mc["fingerprint"] == sim.codebook_fingerprint(books_a)


def test_rotated_lake_rotation_stamp_fails_loud(spark, tmp_path):
    """r15 OPQ-lake composition: a rotate-at-ingest lake stamps BOTH
    fingerprints; querying it without the rotation (or with a different
    one), querying an UNROTATED lake with a rotation, and compacting a
    rotated lake with an unrotated one all raise."""
    from finiextestingide_spark.operators import similarity as sim

    crows = [(0, [1.0, 0.0])]
    books = [[[0.0], [2.0]], [[0.0], [1.0]]]
    cents = spark.createDataFrame(
        crows, "centroid_id long, embedding array<double>"
    )
    vecs = spark.createDataFrame(
        [(1, [0.5, 0.1]), (2, [1.5, 0.9])], "vec_id long, embedding array<double>"
    )
    rot = sim.deterministic_rotation(2)
    assigned = sim.assign_centroids(vecs, cents)
    lr, lu, lc = (str(tmp_path / d) for d in ("rot", "unrot", "compact"))
    sim.write_pq_lake(assigned, books, lr, rotation=rot)
    sim.write_pq_lake(assigned, books, lu)
    m = sim.read_lake_manifest(spark, lr)
    assert m["rotation"] == sim.rotation_fingerprint(rot)

    q = [1.0, 0.2]
    with pytest.raises(ValueError, match="OPQ rotation"):
        sim.ivfpq_lake_topk(spark, lr, books, crows, q, 2)  # rotation omitted
    other = sim.deterministic_rotation(2, n_givens=7)
    with pytest.raises(ValueError, match="OPQ rotation"):
        sim.ivfpq_lake_topk(spark, lr, books, crows, q, 2, rotation=other)
    with pytest.raises(ValueError, match="OPQ rotation"):
        sim.ivfpq_lake_topk(spark, lu, books, crows, q, 2, rotation=rot)
    with pytest.raises(ValueError, match="DIFFERENT codebook"):
        sim.compact_pq_lake(spark, [lr, lu], lc)
    # the matched pair reads, and compaction propagates the rotation
    assert sim.ivfpq_lake_topk(
        spark, lr, books, crows, q, 2, rotation=rot
    ).count() == 2
    sim.compact_pq_lake(spark, [lr], lc, sub_centroids=books, rotation=rot)
    assert sim.read_lake_manifest(spark, lc)["rotation"] == m["rotation"]
