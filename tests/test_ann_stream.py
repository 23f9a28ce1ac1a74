"""Streaming IVF ingest (streaming/ann_stream.py): row-local assignment
parity with the batch broadcast form, tie-rule pin, and the stateless
restart/backfill properties the module docstring claims."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from finiextestingide_spark.operators import similarity as sim
from finiextestingide_spark.streaming.ann_stream import (
    merged_ivf_index,
    streaming_ivf_assign,
    streaming_pq_lake_ingest,
)
from finiextestingide_spark.streaming.bars_stream import run_to_memory


def _vectors(spark, n=24, dim=4):
    rows = [
        (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _centroids(spark, vectors, k=3):
    c = vectors.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    rows = [(int(r["centroid_id"]), list(r["embedding"])) for r in c.collect()]
    return c, rows


def test_rowlocal_matches_batch_assign(spark):
    vectors = _vectors(spark)
    centroids, rows = _centroids(spark, vectors)
    batch = {
        r.vec_id: r.centroid_id
        for r in sim.assign_centroids(vectors, centroids).collect()
    }
    local = {
        r.vec_id: r.centroid_id
        for r in sim.assign_centroids_rowlocal(vectors, rows).collect()
    }
    assert local == batch and len(batch) == 24


def test_rowlocal_tie_rule_lowest_centroid_wins(spark):
    # two identical centroids -> exact cosine tie -> lowest id must win,
    # matching assign_centroids' max_by((cos, -id)) rule
    vectors = spark.createDataFrame(
        [(10, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    rows = [(5, [1.0, 2.0, 3.0]), (2, [1.0, 2.0, 3.0]), (7, [-1.0, 0.0, 0.0])]
    (r,) = sim.assign_centroids_rowlocal(vectors, rows).collect()
    assert r.centroid_id == 2


def test_rowlocal_zero_vector_matches_batch(spark):
    # a zero vector has null cosine against every centroid. All three
    # assignment forms agree on LOWEST centroid id: batch max_by's ordering
    # struct is never null (only its cosine field is) so nothing is
    # skipped and the tie falls through to -id; the row-local array_max
    # compares the all-null structs equal on cosine and falls through the
    # same way; DuckDB's argmax oracle ranks the all-null group by
    # centroid_id. Pins the r12-advisory question empirically: no
    # batch/stream divergence for degenerate vectors in a merged index.
    vectors = spark.createDataFrame(
        [(10, [0.0, 0.0, 0.0]), (11, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    centroids = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [0.0, 1.0, 0.0])],
        "centroid_id long, embedding array<double>",
    )
    rows = [(1, [1.0, 2.0, 3.0]), (2, [0.0, 1.0, 0.0])]
    batch = {
        r.vec_id: r.centroid_id
        for r in sim.assign_centroids(vectors, centroids).collect()
    }
    local = {
        r.vec_id: r.centroid_id
        for r in sim.assign_centroids_rowlocal(vectors, rows).collect()
    }
    assert batch[10] == 1 and local == batch


def test_rowlocal_requires_centroids(spark):
    with pytest.raises(ValueError, match="no centroids"):
        sim.assign_centroids_rowlocal(_vectors(spark), [])


def test_streaming_assign_parity_and_merge(spark, tmp_path):
    vectors = _vectors(spark)
    centroids, rows = _centroids(spark, vectors)
    pq = str(tmp_path / "emb")
    vectors.write.parquet(pq)

    schema = vectors.schema
    tail = (
        spark.readStream.schema(schema).parquet(pq).where(F.col("vec_id") % 2 == 1)
    )
    out = streaming_ivf_assign(tail, rows).select("vec_id", "centroid_id")
    run_to_memory(out, "t_ann_stream")

    hist = sim.assign_centroids(
        vectors.where(F.col("vec_id") % 2 == 0), centroids
    ).select("vec_id", F.col("centroid_id").cast("long").alias("centroid_id"))
    merged = {
        r.vec_id: r.centroid_id
        for r in merged_ivf_index(hist, spark.table("t_ann_stream")).collect()
    }
    full = {
        r.vec_id: r.centroid_id
        for r in sim.assign_centroids(vectors, centroids).collect()
    }
    assert merged == full


def test_streaming_assign_rejects_batch_frame(spark):
    vectors = _vectors(spark)
    _, rows = _centroids(spark, vectors)
    with pytest.raises(ValueError, match="streaming"):
        streaming_ivf_assign(vectors, rows)


def test_pq_encode_and_adc(spark):
    from finiextestingide_spark.operators.similarity import pq_adc_topk, pq_encode

    # 2 subspaces x 2 dims, 2 codes each
    books = [
        [[0.0, 0.0], [10.0, 10.0]],
        [[1.0, 1.0], [-1.0, -1.0]],
    ]
    rows = [
        (1, [0.1, 0.1, 1.0, 1.0]),     # codes (0, 0)
        (2, [9.5, 9.5, -1.2, -0.8]),   # codes (1, 1)
        (3, [10.0, 10.0, 1.0, 1.0]),   # codes (1, 0) — exact centroids
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes = pq_encode(vecs, books)
    got = {r.vec_id: (r.pq0, r.pq1) for r in codes.collect()}
    assert got == {1: (0, 0), 2: (1, 1), 3: (1, 0)}

    # ADC with a query equal to doc 3's reconstruction -> its dist is 0
    out = pq_adc_topk(codes, books, [10.0, 10.0, 1.0, 1.0], 3).collect()
    assert out[0].vec_id == 3 and out[0].adc_dist == 0.0 and out[0].rank == 1
    # doc 1 reconstructs to (0,0,1,1): dist = 100+100+0+0 = 200
    d = {r.vec_id: r.adc_dist for r in out}
    assert d[1] == 200.0


def test_pq_adc_unknown_code_sorts_last(spark):
    from finiextestingide_spark.operators.similarity import pq_adc_topk

    # a code value outside the supplied codebook (codes and codebooks are
    # independent caller inputs, so a mismatch is reachable) produces a
    # NULL lookup total — it must sink to the BOTTOM of the ranking, never
    # silently occupy the top of the top-k (r12 advisory: Spark's default
    # asc sort is nulls-first).
    books = [[[0.0], [10.0]]]
    codes = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 7)], "vec_id long, pq0 int"  # 7 not in codebook
    )
    out = pq_adc_topk(codes, books, [0.0], 3).collect()
    assert [r.vec_id for r in out] == [1, 2, 3]
    assert out[0].adc_dist == 0.0 and out[1].adc_dist == 100.0
    assert out[2].adc_dist is None and out[2].rank == 3


def test_pq_encode_tie_lowest_code(spark):
    from finiextestingide_spark.operators.similarity import pq_encode

    books = [[[1.0], [1.0]]]  # identical codes -> exact tie
    vecs = spark.createDataFrame([(1, [5.0])], "vec_id long, embedding array<double>")
    (r,) = pq_encode(vecs, books).collect()
    assert r.pq0 == 0


def test_pq_recall_exact_when_codebook_spans_corpus(spark):
    from finiextestingide_spark.operators.similarity import pq_encode, pq_recall

    # vectors sit exactly on codebook reconstructions -> ADC == exact L2
    # -> recall@k is 1.0 for every query
    books = [
        [[0.0, 0.0], [4.0, 4.0]],
        [[0.0, 0.0], [7.0, 7.0]],
    ]
    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [4.0, 4.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 7.0, 7.0]),
        (3, [4.0, 4.0, 7.0, 7.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes = pq_encode(vecs, books)
    queries = vecs.selectExpr("vec_id as query_id", "embedding")
    out = pq_recall(vecs, codes, books, queries, 2).collect()
    assert len(out) == 4
    assert all(r.recall == 1.0 and r.n_hits == 2 for r in out)


def test_pq_train_codebooks_converges_to_point_masses(spark):
    from finiextestingide_spark.operators.similarity import (
        collect_codebooks,
        pq_encode,
        pq_train_codebooks,
    )

    # 2 subspaces x 2 dims; each subspace has exactly two point masses —
    # Lloyd with k=2 must converge to them, and encoding must then
    # reconstruct every vector exactly (code -> its point mass).
    rows = [
        (0, [0.0, 0.0, 5.0, 5.0]),
        (1, [9.0, 9.0, 5.0, 5.0]),
        (2, [0.0, 0.0, -5.0, -5.0]),
        (3, [9.0, 9.0, -5.0, -5.0]),
        (4, [0.0, 0.0, 5.0, 5.0]),
        (5, [9.0, 9.0, -5.0, -5.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_train_codebooks(vecs, m=2, k_codes=2, iters=2)
    books = collect_codebooks(cb)
    assert sorted(books[0]) == [[0.0, 0.0], [9.0, 9.0]]
    assert sorted(books[1]) == [[-5.0, -5.0], [5.0, 5.0]]
    got = {r.vec_id: (r.pq0, r.pq1) for r in pq_encode(vecs, books).collect()}
    # same-subvector rows share a code; reconstruction is exact per subspace
    assert got[0][0] == got[2][0] == got[4][0]
    assert got[1][0] == got[3][0] == got[5][0]
    assert got[0][1] == got[1][1] == got[4][1]
    assert got[2][1] == got[3][1] == got[5][1]


def test_pq_train_codebooks_validates_shape(spark):
    import pytest as _pytest

    from finiextestingide_spark.operators.similarity import pq_train_codebooks

    vecs = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="not divisible"):
        pq_train_codebooks(vecs, m=2, k_codes=2)


def test_streaming_pq_encode_parity_and_merge(spark, tmp_path):
    from finiextestingide_spark.operators.similarity import pq_encode
    from finiextestingide_spark.streaming.ann_stream import (
        merged_pq_codes,
        streaming_pq_encode,
    )

    vectors = _vectors(spark)
    books = [
        [[0.0, 0.0], [4.0, 4.0]],
        [[-2.0, -2.0], [2.0, 2.0]],
    ]
    pq = str(tmp_path / "emb")
    vectors.write.parquet(pq)
    tail = (
        spark.readStream.schema(vectors.schema)
        .parquet(pq)
        .where(F.col("vec_id") % 2 == 1)
    )
    out = streaming_pq_encode(tail, books).select("vec_id", "pq0", "pq1")
    run_to_memory(out, "t_pq_stream")
    hist = pq_encode(vectors.where(F.col("vec_id") % 2 == 0), books).select(
        "vec_id", "pq0", "pq1"
    )
    merged = {
        r.vec_id: (r.pq0, r.pq1)
        for r in merged_pq_codes(hist, spark.table("t_pq_stream")).collect()
    }
    full = {
        r.vec_id: (r.pq0, r.pq1) for r in pq_encode(vectors, books).collect()
    }
    assert merged == full and len(full) == 24


def test_streaming_pq_encode_rejects_batch_frame(spark):
    from finiextestingide_spark.streaming.ann_stream import streaming_pq_encode

    with pytest.raises(ValueError, match="streaming"):
        streaming_pq_encode(_vectors(spark), [[[0.0]]])


def test_residual_vectors_arithmetic(spark):
    vectors = spark.createDataFrame(
        [(1, [3.0, 4.0], 0), (2, [1.0, -1.0], 1)],
        "vec_id long, embedding array<double>, centroid_id int",
    )
    centroids = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [2.0, 0.0])],
        "centroid_id int, embedding array<double>",
    )
    out = {
        r.vec_id: list(r.residual)
        for r in sim.residual_vectors(vectors, centroids).collect()
    }
    assert out == {1: [2.0, 3.0], 2: [-1.0, -1.0]}


def test_ivfpq_residual_exact_when_books_span_residuals(spark):
    # Two cells separated by ANGLE (the coarse metric is cosine); within
    # each cell, vectors sit exactly on centroid + residual-codebook
    # reconstructions -> per-cell residual ADC equals exact ||q - v||^2.
    centroids = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    cent_df = spark.createDataFrame(
        centroids, "centroid_id long, embedding array<double>"
    )
    rows = [
        (1, [10.0, 1.0]),   # cell 0, residual (9, 1)
        (2, [8.0, 0.0]),    # cell 0, residual (7, 0)
        (3, [1.0, 12.0]),   # cell 1, residual (1, 11)
        (4, [0.0, 9.0]),    # cell 1, residual (0, 8)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned = sim.assign_centroids(vecs, cent_df)
    books = [
        [[9.0], [7.0], [1.0], [0.0]],
        [[1.0], [0.0], [11.0], [8.0]],
    ]  # span every residual component in both cells
    cent_rows = [(c, v) for c, v in centroids]
    out = sim.ivfpq_residual_topk(
        assigned, books, cent_rows, [10.0, 1.0], 2, nprobe=1, exclude_id=1
    ).collect()
    # query = vec 1 (excluded); probe -> cell 0; only vec 2 remains there
    assert [r.vec_id for r in out] == [2]
    # exact: ||(10,1)-(8,0)||^2 = 4 + 1 = 5
    assert out[0].adc_dist == 5.0 and out[0].rank == 1
    # nprobe=2 reaches the other cell too; distances stay exact L2
    out2 = sim.ivfpq_residual_topk(
        assigned, books, cent_rows, [10.0, 1.0], 3, nprobe=2, exclude_id=1
    ).collect()
    d = {r.vec_id: r.adc_dist for r in out2}
    assert set(d) == {2, 3, 4}
    assert d[2] == 5.0
    assert d[3] == (10.0 - 1.0) ** 2 + (1.0 - 12.0) ** 2
    assert d[4] == (10.0 - 0.0) ** 2 + (1.0 - 9.0) ** 2


def test_ivfpq_residual_zero_query_fails_loud(spark):
    # ADVICE r13: a zero query vector makes every coarse cosine undefined;
    # the operator must raise a named error, not IndexError on plans[0].
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    cent_df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "centroid_id long, embedding array<double>"
    )
    assigned = sim.assign_centroids(vecs, cent_df)
    with pytest.raises(ValueError, match="no probeable centroid"):
        sim.ivfpq_residual_topk(
            assigned, [[[0.0], [1.0]], [[0.0], [1.0]]],
            [(0, [1.0, 0.0])], [0.0, 0.0], 2,
        )
    with pytest.raises(ValueError, match="no centroids"):
        sim.ivfpq_residual_topk(
            assigned, [[[0.0]]], [], [1.0, 0.0], 2,
        )


def test_streaming_pq_lake_ingest_merges_with_batch_lake(spark, tmp_path):
    """The growing-index layout: batch history via write_pq_lake + a
    streamed tail via streaming_pq_lake_ingest (stateless assign+encode,
    exactly-once file sink, partitionBy(cell)) must (a) land the tail in
    the SAME codes-only partitioned layout, and (b) rank identically to
    the all-batch lake over history+tail through the multi-root
    ivfpq_lake_topk — with partition pruning still in the plan."""
    crows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    cents = spark.createDataFrame(
        crows, "centroid_id long, embedding array<double>"
    )
    books = [[[0.0], [2.0], [9.0]], [[0.0], [1.0], [8.0]]]
    hist_rows = [(1, [9.0, 1.0]), (2, [2.0, 0.5]), (3, [0.5, 8.0])]
    tail_rows = [(4, [8.0, 0.0]), (5, [1.0, 9.0]), (6, [2.0, 1.0])]
    hist = spark.createDataFrame(hist_rows, "vec_id long, embedding array<double>")
    tail = spark.createDataFrame(tail_rows, "vec_id long, embedding array<double>")

    hist_lake = str(tmp_path / "hist")
    sim.write_pq_lake(sim.assign_centroids(hist, cents), books, hist_lake)

    staged = str(tmp_path / "staged")
    tail.write.parquet(staged)
    stream = spark.readStream.schema(tail.schema).parquet(staged)
    tail_lake = str(tmp_path / "tail")
    q = streaming_pq_lake_ingest(
        stream, crows, books, tail_lake, str(tmp_path / "ckpt")
    )
    q.awaitTermination(60)

    # (a) same layout: cell directories, codes-only schema
    import os

    cells = sorted(d for d in os.listdir(tail_lake) if d.startswith("centroid_id="))
    assert cells and all(c.startswith("centroid_id=") for c in cells)
    tail_schema = set(spark.read.parquet(tail_lake).schema.fieldNames())
    assert "embedding" not in tail_schema
    assert {"vec_id", "pq0", "pq1"} <= tail_schema

    # (b) merged ranking == all-batch ranking, pruning intact
    query_vec = [9.0, 0.5]
    merged = sim.ivfpq_lake_topk(
        spark, [hist_lake, tail_lake], books, crows, query_vec, 4, nprobe=1
    )
    all_lake = str(tmp_path / "all")
    sim.write_pq_lake(
        sim.assign_centroids(hist.unionByName(tail), cents), books, all_lake
    )
    want = sim.ivfpq_lake_topk(
        spark, all_lake, books, crows, query_vec, 4, nprobe=1
    )
    got = [(r.vec_id, r.adc_dist, r.rank) for r in merged.collect()]
    assert got == [(r.vec_id, r.adc_dist, r.rank) for r in want.collect()]
    assert len(got) == 4  # cell 0 holds vecs 1, 2, 4, 6
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(centroid_id" in plan
    assert "embedding" not in plan and "element_at" not in plan


def test_refine_topk_repairs_adc_misordering(spark):
    """The refine stage's reason to exist: ADC only has to get the true
    neighbor INTO the shortlist — refine re-ranks by exact L2. Books are
    chosen so ADC inverts the true order (v1 reconstructs nearer the query
    than v2 does, but v2 is truly nearer); k=1 through ADC alone returns
    v1, shortlist-2 + refine returns v2."""
    books = [[[0.0], [5.0]]]
    vecs = spark.createDataFrame(
        [(1, [4.0]), (2, [2.4])], "vec_id long, embedding array<double>"
    )
    codes = sim.pq_encode(vecs, books)
    got = {r.vec_id: r.pq0 for r in codes.collect()}
    assert got == {1: 1, 2: 0}
    q = [3.0]
    adc = sim.pq_adc_topk(codes, books, q, 2)
    assert [r.vec_id for r in adc.collect()] == [1, 2]  # ADC order: wrong
    refined = sim.refine_topk(adc, vecs, q, 1).collect()
    assert [(r.vec_id, r.l2_dist, r.rank) for r in refined] == [(2, 0.36, 1)]


def test_batched_lake_topk_matches_single_query(spark, tmp_path):
    """Per-query parity pin for the batched throughput path: for every
    query in the batch, ivfpq_lake_batch_topk's rows equal the
    single-query ivfpq_lake_topk over the same lake/books/nprobe — and an
    unknown code value NULLs the whole distance and sinks (the
    pq_adc_topk posture), never understates it."""
    rows = [
        (i, [float(i % 7 + 1), float(i % 3), float((i * i) % 5), float(i % 2)])
        for i in range(1, 31)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    crows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.5, 0.0]),
             (2, [0.0, 0.0, 1.0, 1.0])]
    cents = spark.createDataFrame(
        crows, "centroid_id long, embedding array<double>"
    )
    books = [
        [[1.0], [3.0], [6.0]],
        [[0.0], [1.0], [2.0]],
        [[0.0], [2.0], [4.0]],
        [[0.0], [1.0]],
    ]
    lake = str(tmp_path / "lake")
    sim.write_pq_lake(sim.assign_centroids(vecs, cents), books, lake)
    queries = vecs.where(F.col("vec_id") <= 6).selectExpr(
        "vec_id AS query_id", "embedding"
    )
    for nprobe in (1, 2):
        batch = sim.ivfpq_lake_batch_topk(
            spark, lake, books, crows, queries, 4,
            nprobe=nprobe, exclude_self=True,
        ).collect()
        by_q = {}
        for r in batch:
            by_q.setdefault(r.query_id, []).append(
                (r.vec_id, r.adc_dist, r.rank)
            )
        for qr in queries.collect():
            single = sim.ivfpq_lake_topk(
                spark, lake, books, crows, [float(x) for x in qr.embedding],
                4, nprobe=nprobe, exclude_id=qr.query_id,
            ).collect()
            assert by_q.get(qr.query_id, []) == [
                (r.vec_id, r.adc_dist, r.rank) for r in single
            ], qr.query_id

    # unknown-code sinking: corrupt one vector's pq0 beyond the codebook
    bad_lake = str(tmp_path / "bad")
    codes = spark.read.parquet(lake)
    codes.withColumn(
        "pq0", F.when(F.col("vec_id") == 1, F.lit(99)).otherwise(F.col("pq0"))
    ).write.partitionBy("centroid_id").parquet(bad_lake)
    q1 = vecs.where(F.col("vec_id") == 1).selectExpr(
        "vec_id AS query_id", "embedding"
    )
    out = sim.ivfpq_lake_batch_topk(
        spark, bad_lake, books, crows, q1, 50, nprobe=3
    ).collect()
    d = {r.vec_id: r.adc_dist for r in out}
    assert d[1] is None
    assert out[-1].vec_id == 1  # nulls sink to the bottom, never top


def test_batched_refine_matches_single_query(spark, tmp_path):
    """Per-query parity for the batched refine: batch shortlist ->
    refine_batch_topk equals the single-query refine_topk chain for every
    query in the batch (shared candidates fetched once, per-query exact
    rerank)."""
    rows = [
        (i, [float(i % 7 + 1), float(i % 3), float((i * i) % 5), float(i % 2)])
        for i in range(1, 31)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    crows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.5, 0.0]),
             (2, [0.0, 0.0, 1.0, 1.0])]
    cents = spark.createDataFrame(
        crows, "centroid_id long, embedding array<double>"
    )
    books = [
        [[1.0], [3.0], [6.0]],
        [[0.0], [1.0], [2.0]],
        [[0.0], [2.0], [4.0]],
        [[0.0], [1.0]],
    ]
    lake = str(tmp_path / "lake")
    sim.write_pq_lake(sim.assign_centroids(vecs, cents), books, lake)
    queries = vecs.where(F.col("vec_id") <= 5).selectExpr(
        "vec_id AS query_id", "embedding"
    )
    short = sim.ivfpq_lake_batch_topk(
        spark, lake, books, crows, queries, 8, nprobe=2, exclude_self=True
    )
    refined = sim.refine_batch_topk(short, vecs, queries, 3)
    by_q = {}
    for r in refined.collect():
        by_q.setdefault(r.query_id, []).append((r.vec_id, r.l2_dist, r.rank))
    for qr in queries.collect():
        qv = [float(x) for x in qr.embedding]
        s1 = sim.ivfpq_lake_topk(
            spark, lake, books, crows, qv, 8, nprobe=2, exclude_id=qr.query_id
        )
        want = sim.refine_topk(s1, vecs, qv, 3).collect()
        assert by_q.get(qr.query_id, []) == [
            (r.vec_id, r.l2_dist, r.rank) for r in want
        ], qr.query_id


def test_refine_missing_raw_vector_fails_loud(spark):
    """ADVICE r14: a shortlisted id with no raw vector (lake/vector drift
    after compaction, a partial backfill) must raise naming the id — not
    silently return fewer than k repaired rows. Both serving shapes."""
    vecs = spark.createDataFrame(
        [(1, [4.0]), (2, [2.4])], "vec_id long, embedding array<double>"
    )
    short = spark.createDataFrame(
        [(1, 0.1), (2, 0.2), (7, 0.3)], "vec_id long, adc_dist double"
    )
    with pytest.raises(Exception, match="absent from the raw-vector table"):
        sim.refine_topk(short, vecs, [3.0], 3).collect()

    bshort = short.withColumn("query_id", F.lit(0))
    queries = spark.createDataFrame(
        [(0, [3.0])], "query_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="absent from the raw-vector table"):
        sim.refine_batch_topk(bshort, vecs, queries, 3).collect()

    # complete shortlists still refine (the guard is inert when coverage
    # holds)
    ok = sim.refine_topk(short.where(F.col("vec_id") != 7), vecs, [3.0], 2)
    assert [r.vec_id for r in ok.collect()] == [2, 1]


def test_batched_lut_budget_fails_loud(spark):
    """VERDICT r14 #5: the batched serving path's driver-built LUT is
    budget-guarded at planning time — an oversized batch raises naming
    the knob instead of OOMing the driver mid-build."""
    books = [[[0.0], [5.0]]]
    crows = [(0, [0.0])]
    q = spark.createDataFrame(
        [(i, [float(i)]) for i in range(4)],
        "query_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="max_lut_rows"):
        sim.ivfpq_lake_batch_topk(
            spark, "/nonexistent", books, crows, q, 2, max_lut_rows=7
        )


def test_opq_rotate_roundtrip_and_query_mirror(spark):
    """opq_rotate by R then by R^T recovers the input (orthogonality in
    the plan); rotate_query is the bit-exact driver-side mirror of the
    Spark fold for the same literal matrix."""
    import math

    d = 8
    rot = sim.deterministic_rotation(d)
    # orthogonality of the config-grade matrix itself
    for i in range(d):
        for j in range(d):
            dotv = sum(rot[i][t] * rot[j][t] for t in range(d))
            assert abs(dotv - (1.0 if i == j else 0.0)) < 1e-12
    vec = [float(v) for v in range(1, d + 1)]
    vecs = spark.createDataFrame(
        [(1, vec)], "vec_id long, embedding array<double>"
    )
    rotated = sim.opq_rotate(vecs, rot)
    (r,) = rotated.collect()
    assert r.embedding == sim.rotate_query(rot, vec)  # bit-exact mirror
    back = sim.opq_rotate(
        rotated, [list(col) for col in zip(*rot)]
    ).collect()[0]
    assert all(abs(a - b) < 1e-9 for a, b in zip(back.embedding, vec))


@pytest.mark.slow  # heavyweight parity/convergence drive; the rest of
# this file keeps the surface's default coverage (VERDICT r15 #2 window)
def test_opq_train_rotation_learns(spark):
    """The alternating Procrustes loop returns an ORTHOGONAL rotation that
    REDUCES total quantization error vs identity on an anisotropic
    corpus whose energy is mixed across subspace boundaries — the regime
    OPQ exists for (SCALE.md section 9 measures the recall lift)."""
    import numpy as np

    rng = np.random.RandomState(0)
    n, d = 300, 8
    x = rng.randn(n, d) * np.linspace(3, 0.2, d)
    q, _ = np.linalg.qr(rng.randn(d, d))
    x = x @ q.T
    vecs = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )

    def qerr(rot, books):
        y = x @ np.array(rot).T
        width = d // len(books)
        return sum(
            float(
                ((y[:, j * width:(j + 1) * width][:, None, :]
                  - np.array(b)[None]) ** 2).sum(-1).min(1).sum()
            )
            for j, b in enumerate(books)
        )

    ident = [[1.0 if i == j else 0.0 for j in range(d)] for i in range(d)]
    books0 = sim.collect_codebooks(
        sim.pq_train_codebooks(vecs, m=2, k_codes=4, iters=2)
    )
    rot, books = sim.opq_train_rotation(vecs, m=2, k_codes=4, iters=3)
    r = np.array(rot)
    assert float(np.abs(r @ r.T - np.eye(d)).max()) < 1e-9
    assert qerr(rot, books) < qerr(ident, books0)


def test_streaming_lake_serving_parity_across_batch_splits(spark, tmp_path):
    """VERDICT r14 #6: a micro-batch query stream driving the batched
    serving path (foreachBatch: one pruned scan + one-plan refine per
    trigger) yields per-query results IDENTICAL to the batch form at a
    cut point — forced across TWO micro-batches via maxFilesPerTrigger."""
    from finiextestingide_spark.streaming.ann_stream import (
        streaming_lake_serving,
    )

    rows = [
        (i, [float(i % 7 + 1), float(i % 3), float((i * i) % 5), float(i % 2)])
        for i in range(1, 31)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    crows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.5, 0.0]),
             (2, [0.0, 0.0, 1.0, 1.0])]
    cents = spark.createDataFrame(
        crows, "centroid_id long, embedding array<double>"
    )
    books = [
        [[1.0], [3.0], [6.0]],
        [[0.0], [1.0], [2.0]],
        [[0.0], [2.0], [4.0]],
        [[0.0], [1.0]],
    ]
    lake = str(tmp_path / "lake")
    sim.write_pq_lake(sim.assign_centroids(vecs, cents), books, lake)

    queries = vecs.where(F.col("vec_id") <= 6).selectExpr(
        "vec_id AS query_id", "embedding"
    )
    # two files -> two triggers with maxFilesPerTrigger=1
    qdir = str(tmp_path / "queries")
    queries.where(F.col("query_id") <= 3).coalesce(1).write.parquet(qdir)
    queries.where(F.col("query_id") > 3).coalesce(1).write.mode(
        "append"
    ).parquet(qdir)

    schema = spark.read.parquet(qdir).schema
    qstream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
    )
    out_dir, ckpt = str(tmp_path / "served"), str(tmp_path / "ckpt")
    q = streaming_lake_serving(
        qstream, lake, books, crows, out_dir, ckpt, 3,
        nprobe=2, refine_vectors=vecs, exclude_self=True,
    )
    q.awaitTermination(120)

    served = {
        (r.query_id, r.rank): (r.vec_id, r.l2_dist)
        for r in spark.read.parquet(out_dir).collect()
    }
    short = sim.ivfpq_lake_batch_topk(
        spark, lake, books, crows, queries, 12, nprobe=2, exclude_self=True
    )
    want = {
        (r.query_id, r.rank): (r.vec_id, r.l2_dist)
        for r in sim.refine_batch_topk(short, vecs, queries, 3).collect()
    }
    assert served == want and len(served) == 6 * 3
    # two triggers actually ran (the split was real)
    assert q.lastProgress is not None
