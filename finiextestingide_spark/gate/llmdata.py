"""LLM-training-data-pipeline gate queries over `documents` / `embeddings`:
dedup (exact, n-gram Jaccard, MinHash+LSH, SimHash), similarity search
(brute-force cosine top-k, IVF bucket path), text analysis (tokens, quality,
language ID, fingerprints) and multimodal-column metadata plumbing.

MinHash determinism note: permutations are md5(i || '|' || shingle) compared
as hex STRINGS — a valid uniform permutation min that reproduces exactly in
any engine with md5 (our oracle), unlike engine-specific hash() builtins.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import dedup as dd
from ..operators import similarity as sim
from ..operators import text as tx
from ..operators import winnow as wn
from ._util import Query, t

# Shared DuckDB CTE: distinct word 3-shingles per doc (mirror of
# operators.dedup.word_shingles over operators.text.normalized_text).
_SHINGLES_CTE = """
w AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
  FROM w, UNNEST(generate_series(1, len(words) - 2)) AS t(i)
  WHERE len(words) >= 3
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # The testdata documents file is a single row group -> one scan
    # partition, which serializes the regex/md5-dense maps downstream (text
    # stats, language ID, shingling). Fan out unconditionally: the gate
    # tables are small by construction, and the previous conditional probe
    # (`docs.rdd.getNumPartitions()`) compiled the plan to an RDD on every
    # call — ~0.5 s of driver overhead per documents query and the main
    # bench-variance amplifier under driver GC pressure. Production callers
    # use the operators directly on scans that already arrive wide.
    cores = spark.sparkContext.defaultParallelism
    return docs.repartition(cores, F.col("doc_id"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "embeddings")


# --- exact dedup ---


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dd.exact_dedup(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "content_hash", "canonical_id", F.col("group_size").cast("long").alias("group_size"), "is_duplicate"
    )


DEDUP_EXACT_SQL = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS content_hash,
       min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS canonical_id,
       CAST(count(*) OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS BIGINT) AS group_size,
       doc_id <> min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS is_duplicate
FROM documents
"""


# --- exact dedup, quality keep-policy (curation variant) ---

_QUALITY_EXPR_SQL = """
round(least(CAST((CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS DOUBLE) / 100.0, 1.0)
 * (1.0 - (CASE WHEN len(text) > 0
                THEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / len(text)
                ELSE 0.0 END))
 * (1.0 - least(CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) > 0
                     THEN CAST(len(regexp_extract_all(lower(text), '{stop}')) AS DOUBLE)
                          / (CASE WHEN trim(text) = '' THEN 0
                             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)
                     ELSE 0.0 END, 1.0)), 6)
""".replace("{stop}", r"\b(" + "|".join(tx.STOPWORDS) + r")\b")


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rank on the ROUNDED score (the oracle does too): a sub-1e-6 quality
    # difference should not decide which duplicate survives
    out = dd.exact_dedup_keep_best(
        _docs(spark, sf_dir), F.round(tx.quality_score(F.col("text")), 6)
    )
    return out.select(
        "doc_id",
        "content_hash",
        F.round("score", 6).alias("score"),
        "keep_id",
        F.col("group_size").cast("long").alias("group_size"),
        "is_dropped",
    )


DEDUP_KEEP_BEST_SQL = f"""
WITH q AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS content_hash,
         {_QUALITY_EXPR_SQL} AS score
  FROM documents
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY content_hash ORDER BY score DESC, doc_id ASC) AS rk,
         count(*) OVER (PARTITION BY content_hash) AS gs
  FROM q
),
k AS (SELECT content_hash, doc_id AS keep_id FROM r WHERE rk = 1)
SELECT r.doc_id, r.content_hash, r.score, k.keep_id,
       CAST(r.gs AS BIGINT) AS group_size,
       r.doc_id <> k.keep_id AS is_dropped
FROM r JOIN k USING (content_hash)
"""


# --- streaming exact dedup (§2.9 x dedup): the live-ingest dedup path,
#     stateful applyInPandasWithState keyed by content hash, emitted on
#     feed-idle timeout; oracle = the plain batch GROUP BY ---


def streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.dedup_stream import streaming_exact_dedup
    from ..streaming.bars_stream import run_to_memory

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    # glob keeps the parent dir as the stream's basePath (single-file quirk)
    docs = spark.readStream.schema(schema).parquet(f"{sf_dir}/documents.parque*")
    heartbeat_ms = 2_000
    out = streaming_exact_dedup(docs, heartbeat_ms=heartbeat_ms)
    name = "gate_streaming_dedup_exact"
    run_to_memory(out, name, timeout_ms=heartbeat_ms)
    return spark.table(name)


STREAMING_DEDUP_EXACT_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS canonical_id,
       CAST(count(*) AS BIGINT) AS group_size
FROM documents
GROUP BY 1
"""


def merged_dedup_view_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup SINK-MERGE (VERDICT r10 #3): the designated backfill shape for
    an OPEN-ENDED corpus — distinct hashes grow with document count, so
    seeding them through the stream would pay per-KEY Python invocation on
    every history hash. Instead: batch ``bootstrap_dedup_state`` over
    history (one JVM aggregation), FRESH-state stream over only the tail
    slice (doc_id %%10 == 3), and ``merged_dedup_view`` combines them at
    read time — must hash-match the plain batch GROUP BY over the full
    corpus."""
    from ..streaming.dedup_stream import (
        bootstrap_dedup_state,
        merged_dedup_view,
        streaming_exact_dedup,
    )
    from ..streaming.bars_stream import run_to_memory

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    hist = _docs(spark, sf_dir).where(F.col("doc_id") % 10 != 3)
    snap = bootstrap_dedup_state(hist)

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    tail = (
        spark.readStream.schema(schema)
        .parquet(f"{sf_dir}/documents.parque*")
        .where(F.col("doc_id") % 10 == 3)
    )
    heartbeat_ms = 2_000
    out = streaming_exact_dedup(tail, heartbeat_ms=heartbeat_ms)
    name = "gate_merged_dedup_view"
    run_to_memory(out, name, timeout_ms=heartbeat_ms)
    merged = merged_dedup_view(snap, spark.table(name))
    return merged.select(
        "content_hash",
        F.col("min_id").cast("long").alias("min_id"),
        F.col("n").cast("long").alias("n"),
    )


MERGED_DEDUP_VIEW_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS min_id,
       CAST(count(*) AS BIGINT) AS n
FROM documents
GROUP BY 1
"""


# --- n-gram Jaccard pairs ---

_J_MIN_INTER = 2
_J_MIN_JACCARD = 0.05


def jaccard_pairs_3gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = dd.word_shingles(_docs(spark, sf_dir), 3)
    out = dd.jaccard_pairs(sh, _J_MIN_INTER, _J_MIN_JACCARD)
    return out.select(
        "id_a", "id_b", "intersection", F.round("jaccard", 6).alias("jaccard")
    )


JACCARD_PAIRS_3GRAM_SQL = f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {_J_MIN_INTER}
)
SELECT id_a, id_b, CAST(inter AS BIGINT) AS intersection,
       round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= {_J_MIN_JACCARD}
"""


# --- df-capped Jaccard: the posting-list-bomb guard. Shingles in more than
#     _J_MAX_DF documents are excluded from the whole computation (sizes AND
#     intersections), making the result the exact Jaccard on the capped
#     shingle universe. The cap bites at every SF here (max df 9/7/25). ---

_J_MAX_DF = 5


def jaccard_pairs_dfcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = dd.word_shingles(_docs(spark, sf_dir), 3)
    out = dd.jaccard_pairs(sh, _J_MIN_INTER, _J_MIN_JACCARD, max_doc_freq=_J_MAX_DF)
    return out.select(
        "id_a", "id_b", "intersection", F.round("jaccard", 6).alias("jaccard")
    )


JACCARD_PAIRS_DFCAP_SQL = f"""
WITH {_SHINGLES_CTE},
capped AS (
  SELECT * FROM sh
  WHERE shingle NOT IN (
    SELECT shingle FROM sh GROUP BY 1 HAVING count(DISTINCT doc_id) > {_J_MAX_DF}
  )
),
sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {_J_MIN_INTER}
)
SELECT id_a, id_b, CAST(inter AS BIGINT) AS intersection,
       round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= {_J_MIN_JACCARD}
"""


# --- train/eval n-gram contamination audit: every 20th document plays the
#     benchmark; contamination = fraction of its distinct 3-grams found
#     anywhere in the remaining (train) corpus ---


def contamination_3gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    train = docs.where(F.col("doc_id") % 20 != 0)
    ev = docs.where(F.col("doc_id") % 20 == 0)
    out = tx.ngram_contamination(
        dd.word_shingles(train, 3), dd.word_shingles(ev, 3)
    )
    return out.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        F.round("contamination", 6).alias("contamination"),
    )


CONTAMINATION_3GRAM_SQL = f"""
WITH {_SHINGLES_CTE},
train AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 <> 0),
ev AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 = 0),
hits AS (
  SELECT e.doc_id, count(*) AS n_contaminated
  FROM ev e JOIN train t ON t.shingle = e.shingle
  GROUP BY 1
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM ev GROUP BY 1)
SELECT s.doc_id,
       CAST(s.n_shingles AS BIGINT) AS n_shingles,
       CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       round(CAST(coalesce(h.n_contaminated, 0) AS DOUBLE) / s.n_shingles, 6)
         AS contamination
FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
"""


# --- MinHash + LSH candidate pairs with exact-Jaccard verification ---

_MH_K = 8
_MH_BANDS = 4


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dd.minhash_lsh_dedup(
        _docs(spark, sf_dir), shingle_n=3, num_hashes=_MH_K, bands=_MH_BANDS, min_jaccard=0.0
    )
    return out.select("id_a", "id_b", "intersection", F.round("jaccard", 6).alias("jaccard"))


def _mh_cols() -> str:
    # permutation i = 8-hex slice of a salted md5(shingle) (operators.dedup
    # _mh_slice: digest i//4, offset (i%4)*8)
    return ",\n".join(
        f"    min(substr(md5('{i // 4}|' || shingle), {(i % 4) * 8 + 1}, 8)) AS mh_{i}"
        for i in range(_MH_K)
    )


def _band_rows() -> str:
    rows_per_band = _MH_K // _MH_BANDS
    parts = []
    for b in range(_MH_BANDS):
        cols = " || '|' || ".join(f"mh_{b * rows_per_band + r}" for r in range(rows_per_band))
        parts.append(f"  SELECT doc_id, {b} AS band_id, md5({cols}) AS band_hash FROM sigs")
    return "\n  UNION ALL\n".join(parts)


MINHASH_LSH_PAIRS_SQL = f"""
WITH {_SHINGLES_CTE},
sigs AS (
  SELECT doc_id,
{_mh_cols()}
  FROM sh GROUP BY 1
),
buckets AS (
{_band_rows()}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a
  JOIN buckets b ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT cands.id_a, cands.id_b, CAST(i.c AS BIGINT) AS intersection,
       round(CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c), 6) AS jaccard
FROM cands
JOIN inter i ON i.id_a = cands.id_a AND i.id_b = cands.id_b
JOIN sizes sa ON sa.doc_id = cands.id_a
JOIN sizes sb ON sb.doc_id = cands.id_b
"""


def streaming_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup (round 11; §2.9 x dedup): documents arrive as an
    unbounded stream, ``streaming_lsh_candidates`` surfaces LSH candidate
    pairs AS THEY ARRIVE (row-local Python-mirrored signatures -> one
    keyed bucket state), and once the feed drains the distinct pair set
    equals the batch band bucket-join — verified here by running the
    exact-Jaccard verify over the streamed candidates and hash-matching
    the SAME oracle as the batch ``minhash_lsh_pairs`` gate."""
    from ..streaming.dedup_stream import streaming_lsh_candidates
    from ..streaming.bars_stream import run_to_memory

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = spark.readStream.schema(schema).parquet(f"{sf_dir}/documents.parque*")
    pairs = streaming_lsh_candidates(
        stream, shingle_n=3, num_hashes=_MH_K, bands=_MH_BANDS
    )
    name = "gate_streaming_minhash_lsh"
    run_to_memory(pairs, name)
    cands = spark.table(name).distinct()
    sh = dd.word_shingles(_docs(spark, sf_dir), 3)
    sets = dd.shingle_set_table(sh)
    out = dd.verify_candidate_pairs(cands, sets, 0.0)
    return out.select(
        "id_a", "id_b", "intersection", F.round("jaccard", 6).alias("jaccard")
    )


STREAMING_MINHASH_LSH_SQL = MINHASH_LSH_PAIRS_SQL


def streaming_lsh_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH cold-start/backfill protocol (VERDICT r11 #1; #355 discipline):
    history (doc_id % 5 != 2, ~80% — the existing lake) is snapshotted
    as JVM-side band-bucket rows (``bootstrap_lsh_state``) and seeded
    through the create-only ledger; ONLY the tail slice flows through the
    stream's per-doc Python MinHash map, pairing against the seeded lake.
    ``merged_lsh_view`` (batch band join over history ∪ drained stream
    pairs) must — after the exact-Jaccard verify — hash-match the SAME
    full-corpus oracle as the batch ``minhash_lsh_pairs`` gate: the
    protocol loses no pair, mints no extra pair, at any cut."""
    import shutil
    import tempfile

    from ..streaming.dedup_stream import (
        bootstrap_lsh_state,
        merged_lsh_view,
        streaming_lsh_candidates,
    )
    from ..streaming.bars_stream import run_to_memory

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    hist = _docs(spark, sf_dir).where(F.col("doc_id") % 5 != 2)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    tail = (
        spark.readStream.schema(schema)
        .parquet(f"{sf_dir}/documents.parque*")
        .where(F.col("doc_id") % 5 == 2)
    )
    seed_dir = tempfile.mkdtemp(prefix="lsh_seed_")
    try:
        pairs = streaming_lsh_candidates(
            tail, shingle_n=3, num_hashes=_MH_K, bands=_MH_BANDS,
            bootstrap=bootstrap_lsh_state(
                hist, shingle_n=3, num_hashes=_MH_K, bands=_MH_BANDS
            ),
            bootstrap_dir=seed_dir,
        )
        name = "gate_streaming_lsh_backfill"
        run_to_memory(pairs, name)
        hist_sigs = dd.minhash_signatures(dd.shingle_stream(hist, 3), _MH_K)
        merged = merged_lsh_view(
            dd.lsh_candidate_pairs(hist_sigs, _MH_K, _MH_BANDS),
            spark.table(name),
        )
        sh = dd.word_shingles(_docs(spark, sf_dir), 3)
        sets = dd.shingle_set_table(sh)
        out = dd.verify_candidate_pairs(merged, sets, 0.0).select(
            "id_a", "id_b", "intersection", F.round("jaccard", 6).alias("jaccard")
        )
        # materialize before removing the seed ledger the plan reads from
        res = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(seed_dir, ignore_errors=True)
    return res


STREAMING_LSH_BACKFILL_SQL = MINHASH_LSH_PAIRS_SQL


# --- near-dup clusters: MinHash pairs -> connected components (the one
#     ITERATIVE operator; oracle = recursive-CTE transitive closure) ---


def neardup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dd.neardup_clusters(
        _docs(spark, sf_dir), shingle_n=3, num_hashes=_MH_K, bands=_MH_BANDS, min_jaccard=0.0
    )
    return out.select(
        "doc_id", "cluster_id", F.col("cluster_size").cast("long").alias("cluster_size")
    )


NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
{MINHASH_LSH_PAIRS_SQL}
),
edges AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
labels AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
sizes AS (SELECT cluster_id, count(*) AS n FROM labels GROUP BY 1)
SELECT l.doc_id, l.cluster_id, CAST(s.n AS BIGINT) AS cluster_size
FROM labels l JOIN sizes s USING (cluster_id)
"""


# --- cluster-level keep-best: near-dup clusters + per-cluster quality
#     argmax — the dedup decision a curation pipeline actually ships.
#     Singletons keep themselves. Oracle = the recursive-CTE clustering
#     full-outer-joined to all documents with the shared quality expression. ---


def neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dd.neardup_dedup_keep_best(
        _docs(spark, sf_dir),
        F.round(tx.quality_score(F.col("text")), 6),
        shingle_n=3,
        num_hashes=_MH_K,
        bands=_MH_BANDS,
        min_jaccard=0.0,
    )
    return out.select(
        "doc_id",
        "cluster_id",
        F.round("score", 6).alias("score"),
        "keep_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "is_dropped",
    )


NEARDUP_KEEP_BEST_SQL = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
{MINHASH_LSH_PAIRS_SQL}
),
edges AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
labels AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
scored AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
         {_QUALITY_EXPR_SQL} AS score
  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, doc_id ASC) AS rk,
         count(*) OVER (PARTITION BY cluster_id) AS cs
  FROM scored
),
keepers AS (SELECT cluster_id, doc_id AS keep_id FROM ranked WHERE rk = 1)
SELECT r.doc_id, r.cluster_id, r.score, k.keep_id,
       CAST(r.cs AS BIGINT) AS cluster_size,
       r.doc_id <> k.keep_id AS is_dropped
FROM ranked r JOIN keepers k USING (cluster_id)
"""


# --- SimHash signatures ---


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = dd.word_shingles(_docs(spark, sf_dir), 3)
    return dd.simhash_signatures(sh)


SIMHASH_DOCS_SQL = f"""
WITH {_SHINGLES_CTE},
pos AS (
  SELECT doc_id, p,
         CASE WHEN ascii(substr(h, p + 1, 1)) >= 97 THEN ascii(substr(h, p + 1, 1)) - 87
              ELSE ascii(substr(h, p + 1, 1)) - 48 END AS v
  FROM (SELECT doc_id, md5(shingle) AS h FROM sh), UNNEST(generate_series(0, 15)) AS t(p)
),
votes AS (
  SELECT doc_id, p,
         sum(CASE WHEN (v >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS s0,
         sum(CASE WHEN (v >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS s1,
         sum(CASE WHEN (v >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS s2,
         sum(CASE WHEN v & 1 = 1 THEN 1 ELSE -1 END) AS s3
  FROM pos GROUP BY 1, 2
),
digits AS (
  SELECT doc_id, p,
         (CASE WHEN s0 > 0 THEN 8 ELSE 0 END) + (CASE WHEN s1 > 0 THEN 4 ELSE 0 END)
         + (CASE WHEN s2 > 0 THEN 2 ELSE 0 END) + (CASE WHEN s3 > 0 THEN 1 ELSE 0 END) AS d
  FROM votes
)
SELECT doc_id, string_agg(substr('0123456789abcdef', d + 1, 1), '' ORDER BY p) AS simhash
FROM digits GROUP BY doc_id
"""


# --- brute-force cosine top-k ---

_COS_ORACLE_DOT = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)
_COS_ORACLE_NORM = (
    "sqrt(list_reduce(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_COS_ORACLE_DOT.format(a=a, b=b)} / "
        f"({_COS_ORACLE_NORM.format(a=a)} * {_COS_ORACLE_NORM.format(a=b)})"
    )


def cosine_topk_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    query = emb.where(F.col("vec_id") == 0).select("embedding")
    vectors = emb.where(F.col("vec_id") != 0)
    out = sim.cosine_topk(vectors, query, 10)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"), "rank")


COSINE_TOPK_10_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id, {_cos_sql('e.embedding', 'q.qv')} AS cos
  FROM embeddings e, q
  WHERE e.vec_id <> 0
)
SELECT vec_id, round(cos, 6) AS cosine, rank
FROM (SELECT vec_id, cos, row_number() OVER (ORDER BY cos DESC, vec_id) AS rank FROM s)
WHERE rank <= 10
"""


# --- IVF (coarse-quantized) ANN: assign to nearest of 8 centroid vectors,
#     probe only the query's bucket ---

_IVF_NCENTROIDS = 8
_IVF_K = 5


def ivf_topk_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    centroids = emb.where(F.col("vec_id") < _IVF_NCENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = sim.assign_centroids(emb, centroids)
    query = emb.where(F.col("vec_id") == 0).select("embedding")
    out = sim.ivf_topk(assigned, centroids, query, k=_IVF_K, nprobe=1)
    return out.where(F.col("vec_id") != 0).select(
        "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


IVF_TOPK_5_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cents AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < {_IVF_NCENTROIDS}),
scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         {_cos_sql('e.embedding', 'c.cvec')} AS ccos
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, embedding, centroid_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS r FROM scored)
  WHERE r = 1
),
probe AS (
  SELECT centroid_id
  FROM (SELECT c.centroid_id, {_cos_sql('c.cvec', 'q.qv')} AS pcos FROM cents c, q
        ORDER BY pcos DESC, centroid_id LIMIT 1)
),
bucket AS (SELECT a.* FROM assigned a JOIN probe p ON a.centroid_id = p.centroid_id),
s AS (
  SELECT b.vec_id, {_cos_sql('b.embedding', 'q.qv')} AS cos
  FROM bucket b, q
)
SELECT vec_id, round(cos, 6) AS cosine, rank
FROM (SELECT vec_id, cos, row_number() OVER (ORDER BY cos DESC, vec_id) AS rank FROM s)
WHERE rank <= {_IVF_K} AND vec_id <> 0
"""


# --- streaming IVF ingest: arrivals assigned row-locally against the
#     driver-collected quantizer, history assigned by the batch broadcast
#     form, merged index == DuckDB argmax over the full corpus. Proves the
#     two assignment forms share one tie rule (§2.9 x ANN). ---


def streaming_ivf_assign_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ann_stream import merged_ivf_index, streaming_ivf_assign
    from ..streaming.bars_stream import run_to_memory

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    emb = _emb(spark, sf_dir)
    centroids = emb.where(F.col("vec_id") < _IVF_NCENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    # the trained quantizer is k rows by construction — the one bounded
    # driver collect of this path (same posture as the batch broadcast)
    centroid_rows = [
        (int(r["centroid_id"]), list(r["embedding"])) for r in centroids.collect()
    ]
    hist = sim.assign_centroids(
        emb.where(F.col("vec_id") % 10 != 3), centroids
    ).select("vec_id", F.col("centroid_id").cast("long").alias("centroid_id"))

    schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    tail = (
        spark.readStream.schema(schema)
        .parquet(f"{sf_dir}/embeddings.parque*")
        .where(F.col("vec_id") % 10 == 3)
    )
    out = streaming_ivf_assign(tail, centroid_rows).select("vec_id", "centroid_id")
    name = "gate_streaming_ivf_assign"
    run_to_memory(out, name)
    return merged_ivf_index(hist, spark.table(name))


STREAMING_IVF_ASSIGN_SQL = f"""
WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
               WHERE vec_id < {_IVF_NCENTROIDS}),
scored AS (
  SELECT e.vec_id, c.centroid_id,
         {_cos_sql('e.embedding', 'c.cvec')} AS ccos
  FROM embeddings e CROSS JOIN cents c
)
SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
        ORDER BY ccos DESC, centroid_id) AS r FROM scored)
WHERE r = 1
"""


_RECALL_K = 10
_RECALL_NPROBE = 2
_RECALL_NQUERIES = 20


def ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF bucketed path vs brute-force ground truth
    (round-6: the determinism gates prove the ANN is reproducible, this
    measures whether it is GOOD). Per query point: recall = |IVF top-k ∩
    exact top-k| / k, nprobe=2 of 8 buckets. Oracle: DuckDB recomputes
    both ranked sets and the intersection. Measured recall/probe curve is
    documented on operators.similarity.ivf_recall."""
    emb = _emb(spark, sf_dir)
    centroids = emb.where(F.col("vec_id") < _IVF_NCENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = sim.assign_centroids(emb, centroids)
    queries = emb.where(F.col("vec_id") < _RECALL_NQUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ivf_recall(
        assigned, centroids, queries, k=_RECALL_K, nprobe=_RECALL_NPROBE
    )


IVF_RECALL_AUDIT_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {_RECALL_NQUERIES}),
cents AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
          WHERE vec_id < {_IVF_NCENTROIDS}),
truth AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_cos_sql('e.embedding', 'q.qv')} DESC, e.vec_id) AS r
    FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
  WHERE r <= {_RECALL_K}
),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_cos_sql('e.embedding', 'c.cvec')} DESC, c.centroid_id) AS r
    FROM embeddings e CROSS JOIN cents c)
  WHERE r = 1
),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_cos_sql('c.cvec', 'q.qv')} DESC, c.centroid_id) AS r
    FROM cents c CROSS JOIN q)
  WHERE r <= {_RECALL_NPROBE}
),
ivf AS (
  SELECT query_id, vec_id FROM (
    SELECT p.query_id, a.vec_id,
           row_number() OVER (PARTITION BY p.query_id
             ORDER BY {_cos_sql('a.embedding', 'q.qv')} DESC, a.vec_id) AS r
    FROM assigned a
    JOIN probes p ON a.centroid_id = p.centroid_id
    JOIN q ON q.query_id = p.query_id
    WHERE a.vec_id <> p.query_id)
  WHERE r <= {_RECALL_K}
),
hits AS (
  SELECT i.query_id, CAST(COUNT(*) AS BIGINT) AS hits
  FROM ivf i JOIN truth t ON t.query_id = i.query_id AND t.vec_id = i.vec_id
  GROUP BY i.query_id
)
SELECT q.query_id,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       round(COALESCE(h.hits, 0) / {_RECALL_K}.0, 6) AS recall
FROM q LEFT JOIN hits h ON q.query_id = h.query_id
"""


# --- random-hyperplane LSH ANN (bucketed scale path, single probe) ---

_LSH_NBITS = 4
_LSH_K = 5
_LSH_DIM = 64
_LSH_PLANES = sim.random_hyperplanes(_LSH_NBITS, _LSH_DIM, seed=0)


def lsh_ann_topk_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    query = emb.where(F.col("vec_id") == 0).select("embedding")
    out = sim.lsh_ann_topk(
        emb.where(F.col("vec_id") != 0), query, _LSH_PLANES, _LSH_K
    )
    return out.select("vec_id", "bucket", F.round("cosine", 6).alias("cosine"), "rank")


def _lsh_plane_dot(v: str, row: list[float]) -> str:
    lit = "[" + ", ".join(repr(x) for x in row) + "]"
    return (
        f"list_reduce(list_transform(generate_series(1, {_LSH_DIM}), "
        f"i -> CAST({v}[i] AS DOUBLE) * ({lit})[i]), (x, y) -> x + y)"
    )


def _lsh_bucket_sql(v: str) -> str:
    bits = [
        f"CASE WHEN {_lsh_plane_dot(v, row)} >= 0 THEN '1' ELSE '0' END"
        for row in _LSH_PLANES
    ]
    return "(" + " || ".join(bits) + ")"


LSH_ANN_TOPK_5_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qb AS (SELECT {_lsh_bucket_sql('qv')} AS qbucket FROM q),
sig AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
  FROM embeddings WHERE vec_id <> 0
),
b AS (SELECT s.vec_id, s.embedding, s.bucket FROM sig s JOIN qb ON s.bucket = qb.qbucket),
s AS (SELECT b.vec_id, b.bucket, {_cos_sql('b.embedding', 'q.qv')} AS cos FROM b, q)
SELECT vec_id, bucket, round(cos, 6) AS cosine, rank
FROM (SELECT vec_id, bucket, cos, row_number() OVER (ORDER BY cos DESC, vec_id) AS rank FROM s)
WHERE rank <= {_LSH_K}
"""


_MP_K = 8


def lsh_ann_multiprobe_8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    query = emb.where(F.col("vec_id") == 0).select("embedding")
    out = sim.lsh_ann_multiprobe(
        emb.where(F.col("vec_id") != 0), query, _LSH_PLANES, _MP_K, radius=1
    )
    return out.select("vec_id", "bucket", F.round("cosine", 6).alias("cosine"), "rank")


def _mp_flip_sql(i: int) -> str:
    return (
        f"substr(qb, 1, {i - 1}) || (CASE WHEN substr(qb, {i}, 1) = '1' THEN '0' ELSE '1' END)"
        f" || substr(qb, {i + 1}, {_LSH_NBITS - i})"
    )


LSH_ANN_MULTIPROBE_8_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qb AS (SELECT {_lsh_bucket_sql('qv')} AS qb FROM q),
probes AS (
  SELECT qb AS bucket FROM qb
  {" ".join(f"UNION ALL SELECT {_mp_flip_sql(i)} FROM qb" for i in range(1, _LSH_NBITS + 1))}
),
sig AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
  FROM embeddings WHERE vec_id <> 0
),
b AS (SELECT s.vec_id, s.embedding, s.bucket FROM sig s JOIN probes p ON s.bucket = p.bucket),
s AS (SELECT b.vec_id, b.bucket, {_cos_sql('b.embedding', 'q.qv')} AS cos FROM b, q)
SELECT vec_id, bucket, round(cos, 6) AS cosine, rank
FROM (SELECT vec_id, bucket, cos, row_number() OVER (ORDER BY cos DESC, vec_id) AS rank FROM s)
WHERE rank <= {_MP_K}
"""


# --- IVF coarse-quantizer training: deterministic quantized Lloyd k-means
#     (k=4, 2 iterations). The per-round 1e-6 quantization of centroid
#     means is what lets two engines walk the same trajectory — see
#     operators.similarity.lloyd_centroids. Output = final centroids
#     exploded to (centroid_id, dim position, value) scalars. ---

_KM_K = 4
_KM_ITERS = 2


def ivf_train_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = sim.lloyd_centroids(_emb(spark, sf_dir), k=_KM_K, iters=_KM_ITERS)
    return cents.select(
        "centroid_id", F.posexplode("embedding").alias("pos", "value")
    ).select("centroid_id", "pos", F.round("value", 6).alias("value"))


def _km_iter_sql(i: int, prev: str) -> str:
    return f"""
a{i} AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         {_cos_sql('e.embedding', 'c.cvec')} AS cos
  FROM embeddings e CROSS JOIN {prev} c
),
b{i} AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, centroid_id ASC) AS rn
    FROM a{i}
  ) WHERE rn = 1
),
m{i} AS (
  SELECT centroid_id, t.pos - 1 AS pos,
         round(avg(CAST(b.embedding[t.pos] AS DOUBLE)), 6) AS m
  FROM b{i} b, UNNEST(generate_series(1, len(b.embedding))) AS t(pos)
  GROUP BY 1, 2
),
c{i} AS (
  SELECT p.centroid_id,
         CASE WHEN count(m.pos) = 0 THEN p.cvec
              ELSE list(m.m ORDER BY m.pos) END AS cvec
  FROM {prev} p LEFT JOIN m{i} m ON m.centroid_id = p.centroid_id
  GROUP BY p.centroid_id, p.cvec
)"""


IVF_TRAIN_CENTROIDS_SQL = (
    f"""
WITH init AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS centroid_id,
         list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6)) AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_KM_K})
),"""
    + ",".join(
        _km_iter_sql(i, "init" if i == 1 else f"c{i - 1}")
        for i in range(1, _KM_ITERS + 1)
    )
    + f"""
SELECT centroid_id, CAST(t.pos - 1 AS INTEGER) AS pos,
       round(CAST(c.cvec[t.pos] AS DOUBLE), 6) AS value
FROM c{_KM_ITERS} c, UNNEST(generate_series(1, len(c.cvec))) AS t(pos)
"""
)


# --- embedding-cosine near-dup pairs (label-blocked) ---

# The synthetic embeddings are near-orthogonal (max in-block cosine ~0.45 at
# sf0.001-0.01, ~0.51 at sf0.1), so a production-style 0.9 threshold made
# this gate vacuously pass on empty sets. 0.35 yields a non-empty, stable
# pair set at every scale factor (14 / 26 / 391 pairs) while still
# exercising the cosine + blocking path; both engines compute the cosine as
# the same left-to-right double fold, so the threshold compare is exact.
_ND_MIN_COS = 0.35


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sim.neardup_pairs_blocked(_emb(spark, sf_dir), "label", _ND_MIN_COS)
    return out.select(
        "id_a", "id_b", F.col("label").cast("int").alias("label"), F.round("cosine", 6).alias("cosine")
    )


EMBEDDING_NEARDUP_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(a.label AS INTEGER) AS label,
       round({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cosine
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {_ND_MIN_COS}
"""


# --- banded-LSH threshold near-dup: the scalable path the exact operator's
#     pairs-budget guard points to (round-9 sf10 finding) ---

_NDL_NBITS, _NDL_BANDS = 16, 4
_NDL_PLANES = sim.random_hyperplanes(_NDL_NBITS, _LSH_DIM, seed=1)


def _ndl_sig_sql(v: str) -> str:
    bits = [
        f"CASE WHEN {_lsh_plane_dot(v, row)} >= 0 THEN '1' ELSE '0' END"
        for row in _NDL_PLANES
    ]
    return "(" + " || ".join(bits) + ")"


def _ndl_band_match_sql(a: str, b: str) -> str:
    r = _NDL_NBITS // _NDL_BANDS
    return " OR ".join(
        f"substr({a}, {bnd * r + 1}, {r}) = substr({b}, {bnd * r + 1}, {r})"
        for bnd in range(_NDL_BANDS)
    )


def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hyperplane LSH near-dup pairs (candidates via band-bucket
    equi-join only, exact-cosine verified): the scalable alternative
    neardup_pairs_blocked's pairs-budget guard names. Emitted pairs are a
    SUBSET of embedding_neardup's exact output by construction; the
    companion recall gate measures how much of it. Oracle: DuckDB
    recomputes the 16-bit sign signature from the same md5-derived planes
    and applies the any-band-agrees candidate rule."""
    out = sim.lsh_neardup_pairs(
        _emb(spark, sf_dir), _NDL_PLANES, _ND_MIN_COS,
        bands=_NDL_BANDS, extra_key="label",
    )
    return out.select(
        "id_a", "id_b", F.col("label").cast("int").alias("label"),
        F.round("cosine", 6).alias("cosine"),
    )


EMBEDDING_NEARDUP_LSH_SQL = f"""
WITH sig AS (
  SELECT vec_id, label, embedding, {_ndl_sig_sql('embedding')} AS s
  FROM embeddings
),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
         a.embedding AS va, b.embedding AS vb
  FROM sig a
  JOIN sig b ON a.label = b.label AND a.vec_id < b.vec_id
   AND ({_ndl_band_match_sql('a.s', 'b.s')})
)
SELECT id_a, id_b, CAST(label AS INTEGER) AS label,
       round({_cos_sql('va', 'vb')}, 6) AS cosine
FROM cand
WHERE {_cos_sql('va', 'vb')} >= {_ND_MIN_COS}
"""


def embedding_neardup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the LSH near-dup path vs the exact blocked
    operator, per label — the audit that turns 'use the ANN surface' from
    advice into a number (the IVF surface has the same shape via
    ivf_recall_audit). recall = |LSH pairs| / |exact pairs| is exact
    because the LSH output is verified and therefore a subset."""
    emb = _emb(spark, sf_dir)
    exact = sim.neardup_pairs_blocked(emb, "label", _ND_MIN_COS)
    lsh = sim.lsh_neardup_pairs(
        emb, _NDL_PLANES, _ND_MIN_COS, bands=_NDL_BANDS, extra_key="label"
    )
    labels = emb.select("label").distinct()
    ne = exact.groupBy("label").agg(F.count(F.lit(1)).alias("n_exact"))
    nl = lsh.groupBy("label").agg(F.count(F.lit(1)).alias("n_lsh"))
    out = (
        labels.join(ne, "label", "left")
        .join(nl, "label", "left")
        .select(
            F.col("label").cast("int").alias("label"),
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            F.coalesce("n_lsh", F.lit(0)).alias("n_lsh"),
        )
    )
    return out.select(
        "label", "n_exact", "n_lsh",
        F.round(
            F.col("n_lsh") / F.greatest(F.col("n_exact"), F.lit(1)), 6
        ).alias("recall"),
    )


EMBEDDING_NEARDUP_LSH_RECALL_SQL = f"""
WITH sig AS (
  SELECT vec_id, label, embedding, {_ndl_sig_sql('embedding')} AS s
  FROM embeddings
),
exact AS (
  SELECT a.label, CAST(count(*) AS BIGINT) AS n_exact
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {_ND_MIN_COS}
  GROUP BY a.label
),
lsh AS (
  SELECT a.label, CAST(count(*) AS BIGINT) AS n_lsh
  FROM sig a
  JOIN sig b ON a.label = b.label AND a.vec_id < b.vec_id
   AND ({_ndl_band_match_sql('a.s', 'b.s')})
  WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {_ND_MIN_COS}
  GROUP BY a.label
)
SELECT CAST(l.label AS INTEGER) AS label,
       CAST(COALESCE(e.n_exact, 0) AS BIGINT) AS n_exact,
       CAST(COALESCE(h.n_lsh, 0) AS BIGINT) AS n_lsh,
       round(COALESCE(h.n_lsh, 0) / GREATEST(COALESCE(e.n_exact, 0), 1), 6)
         AS recall
FROM (SELECT DISTINCT label FROM embeddings) l
LEFT JOIN exact e ON e.label = l.label
LEFT JOIN lsh h ON h.label = l.label
"""


_DECON_MAX = 0.2


def decontaminated_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enforcement side of the contamination audit: per-train-doc overlap
    with the eval split's shingle set + the keep decision."""
    docs = _docs(spark, sf_dir)
    train = docs.where(F.col("doc_id") % 20 != 0)
    ev = docs.where(F.col("doc_id") % 20 == 0)
    out = tx.decontaminate(
        dd.word_shingles(train, 3), dd.word_shingles(ev, 3), _DECON_MAX,
        train_ids=train,
    )
    return out.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        F.round("contamination", 6).alias("contamination"),
        "keep",
    )


DECONTAMINATED_TRAIN_SQL = f"""
WITH {_SHINGLES_CTE},
evset AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0),
hits AS (
  SELECT t.doc_id, count(*) AS n_contaminated
  FROM tr t JOIN evset e ON e.shingle = t.shingle
  GROUP BY 1
),
shc AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY 1),
sizes AS (
  -- full train universe: a doc too short to shingle still gets a row
  SELECT d.doc_id, coalesce(shc.n_shingles, 0) AS n_shingles
  FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
  LEFT JOIN shc USING (doc_id)
)
SELECT s.doc_id,
       CAST(s.n_shingles AS BIGINT) AS n_shingles,
       CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       round(CASE WHEN s.n_shingles > 0
                  THEN CAST(coalesce(h.n_contaminated, 0) AS DOUBLE) / s.n_shingles
                  ELSE 0.0 END, 6) AS contamination,
       (CASE WHEN s.n_shingles > 0
             THEN CAST(coalesce(h.n_contaminated, 0) AS DOUBLE) / s.n_shingles
             ELSE 0.0 END) <= {_DECON_MAX} AS keep
FROM sizes s LEFT JOIN hits h USING (doc_id)
"""


def embedding_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup composition: blocked embedding-cosine pairs ->
    connected components. The clustering the n-gram path gets from
    MinHash edges, here over the embedding edge set — the full semantic
    dedup pipeline a curation job runs on an embedded corpus."""
    pairs = sim.neardup_pairs_blocked(_emb(spark, sf_dir), "label", _ND_MIN_COS)
    cc = dd.connected_components(pairs.select("id_a", "id_b"))
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "cluster_id").select(
        F.col("node").alias("vec_id"),
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


EMBEDDING_NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {_ND_MIN_COS}
),
edges AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
labels AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
sizes AS (SELECT cluster_id, count(*) AS n FROM labels GROUP BY 1)
SELECT l.vec_id, l.cluster_id, CAST(s.n AS BIGINT) AS cluster_size
FROM labels l JOIN sizes s USING (cluster_id)
"""


# --- text statistics / quality scoring ---


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub + audit counts. The synthetic corpus carries no organic
    PII, so every 7th doc gets a deterministic contact-info suffix BUILT IN
    THE QUERY (identically on both engines) — the patterns genuinely fire
    and the scrubbed text is hash-compared via md5."""
    docs = _docs(spark, sf_dir)
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.org or 192.168.1.42 tel +1 415-555-0199"),
            ),
        ).otherwise(F.lit("")),
    )
    counts = tx.pii_counts(aug)
    return docs.select(
        "doc_id",
        F.md5(tx.redact_pii(aug)).alias("redacted_md5"),
        counts["n_emails"].cast("long").alias("n_emails"),
        counts["n_ips"].cast("long").alias("n_ips"),
        counts["n_phones"].cast("long").alias("n_phones"),
    )


# hash-parity depends on BOTH engines running byte-identical patterns:
# interpolate the operator's own constants, never re-declare them
_PII_EMAIL = tx.PII_PATTERNS[0][0]
_PII_IP = tx.PII_PATTERNS[1][0]
_PII_PHONE = tx.PII_PATTERNS[2][0]

PII_REDACTION_SQL = rf"""
WITH aug AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 7 = 0
                      THEN ' contact user' || doc_id ||
                           '@mail.example.org or 192.168.1.42 tel +1 415-555-0199'
                      ELSE '' END AS text
  FROM documents
),
step AS (
  SELECT doc_id, text,
         regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                        '{_PII_IP}', '<IP>', 'g') AS after_ei
  FROM aug
)
SELECT doc_id,
       md5(regexp_replace(after_ei, '{_PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(after_ei, '{_PII_PHONE}')) AS BIGINT) AS n_phones
FROM step
"""


def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    st = tx.repetition_stats(F.col("text"))
    return docs.select(
        "doc_id",
        st["n_words"].alias("n_words"),
        F.round(st["dup_word_frac"], 6).alias("dup_word_frac"),
        st["n_lines"].alias("n_lines"),
        F.round(st["dup_line_frac"], 6).alias("dup_line_frac"),
    )


REPETITION_STATS_SQL = r"""
WITH base AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm,
         list_filter(regexp_split_to_array(text, '\n'), x -> trim(x) <> '') AS lines
  FROM documents
),
w AS (
  SELECT doc_id, lines,
         CASE WHEN norm = '' THEN [] ELSE regexp_split_to_array(norm, ' ') END AS words
  FROM base
)
SELECT doc_id,
       CAST(len(words) AS BIGINT) AS n_words,
       round(CASE WHEN len(words) > 0
                  THEN 1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
                  ELSE 0.0 END, 6) AS dup_word_frac,
       CAST(len(lines) AS BIGINT) AS n_lines,
       round(CASE WHEN len(lines) > 0
                  THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
                  ELSE 0.0 END, 6) AS dup_line_frac
FROM w
"""


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tx.with_text_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.col("n_stopwords").cast("long").alias("n_stopwords"),
        F.round("quality", 6).alias("quality"),
    )


_STOP_PAT = r"\b(" + "|".join(tx.STOPWORDS) + r")\b"

TEXT_STATS_SQL = rf"""
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
         CASE WHEN len(text) > 0
              THEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / len(text)
              ELSE 0.0 END AS punct_ratio,
         len(regexp_extract_all(lower(text), '{_STOP_PAT}')) AS n_stopwords
  FROM documents
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
       round(punct_ratio, 6) AS punct_ratio,
       CAST(n_stopwords AS BIGINT) AS n_stopwords,
       round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
             * (1.0 - punct_ratio)
             * (1.0 - least(CASE WHEN n_tokens > 0 THEN CAST(n_stopwords AS DOUBLE) / n_tokens ELSE 0.0 END, 1.0)), 6) AS quality
FROM base
"""


# --- TF-IDF top terms per document ---

_TFIDF_K = 3


def tfidf_topterms_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tx.tfidf_topterms(_docs(spark, sf_dir), _TFIDF_K)
    return out.select(
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        "tfidf",
        "term_rank",
    )


TFIDF_TOPTERMS_3_SQL = f"""
WITH words AS (
  SELECT doc_id, term
  FROM (
    SELECT doc_id,
           unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS term
    FROM documents
  )
  WHERE term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf, term_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS term_rank
  FROM scored
)
WHERE term_rank <= {_TFIDF_K}
"""


# --- heuristic language ID ---


# --- token-budget data mixing: per language, keep the highest-quality
#     documents until the token budget fills (budget chosen to BITE at
#     every SF); rank on the rounded score like dedup_keep_best ---

_TB_BUDGET = 3000


def token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import token_budget_sample

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        tx.whitespace_token_count(F.col("text")).alias("n_tokens"),
        F.round(tx.quality_score(F.col("text")), 6).alias("quality"),
    )
    out = token_budget_sample(docs, _TB_BUDGET)
    return out.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("quality", 6).alias("quality"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        "selected",
    )


TOKEN_BUDGET_MIX_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
         (CASE WHEN trim(text) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS n_tokens,
         {_QUALITY_EXPR_SQL} AS quality
  FROM documents
),
cum AS (
  SELECT *,
         sum(n_tokens) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens
  FROM scored
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(quality, 6) AS quality,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       cum_tokens <= {_TB_BUDGET} AS selected
FROM cum
"""


# Rank cap applied before the greedy walk on BOTH engines: the walk only
# ever keeps from the top of the ranking, and bounding the candidate set
# keeps the oracle's recursive CTE linear (its per-step re-join made the
# uncapped sf0.1 oracle quadratic in group size: ~9 min for 1250 docs/lang).
# The Spark side doesn't need the cap but applies it to keep the compared
# row sets identical — and a real pipeline prefilters exactly like this
# before any sequential per-group stage.
_TBG_RANK_CAP = 200


def token_budget_mix_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import token_budget_sample_greedy

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        tx.whitespace_token_count(F.col("text")).alias("n_tokens"),
        F.round(tx.quality_score(F.col("text")), 6).alias("quality"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("quality").desc(), F.col("doc_id").asc())
    capped = (
        docs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= _TBG_RANK_CAP)
        .drop("__rn")
    )
    out = token_budget_sample_greedy(capped, _TB_BUDGET)
    return out.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("quality", 6).alias("quality"),
        F.col("kept_tokens").cast("long").alias("kept_tokens"),
        "selected",
    )


# The greedy walk's kept-sum depends on which earlier docs were kept, so the
# oracle is a per-group recursive CTE stepping rank-by-rank — DuckDB has no
# windowed equivalent (this is exactly why the Spark side is applyInPandas).
TOKEN_BUDGET_MIX_GREEDY_SQL = f"""
WITH RECURSIVE scored AS MATERIALIZED (
  SELECT doc_id, lang,
         (CASE WHEN trim(text) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS n_tokens,
         {_QUALITY_EXPR_SQL} AS quality
  FROM documents
),
ranked AS MATERIALIZED (
  SELECT * FROM (
    SELECT doc_id, lang, n_tokens, quality,
           row_number() OVER (PARTITION BY lang
                              ORDER BY quality DESC, doc_id ASC) AS rn
    FROM (SELECT doc_id, lang, n_tokens, round(quality, 6) AS quality FROM scored)
  ) WHERE rn <= {_TBG_RANK_CAP}
),
walk AS (
  SELECT lang, rn, doc_id, n_tokens, quality,
         CASE WHEN n_tokens <= {_TB_BUDGET} THEN n_tokens ELSE 0 END AS kept_tokens,
         (n_tokens <= {_TB_BUDGET}) AS selected
  FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.lang, r.rn, r.doc_id, r.n_tokens, r.quality,
         CASE WHEN w.kept_tokens + r.n_tokens <= {_TB_BUDGET}
              THEN w.kept_tokens + r.n_tokens ELSE w.kept_tokens END,
         (w.kept_tokens + r.n_tokens <= {_TB_BUDGET})
  FROM walk w JOIN ranked r ON r.lang = w.lang AND r.rn = w.rn + 1
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, quality,
       CAST(kept_tokens AS BIGINT) AS kept_tokens, selected
FROM walk
"""


_QF_KEEP = 0.4


def quality_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import quality_quantile_filter

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.round(tx.quality_score(F.col("text")), 6).alias("quality"),
    )
    return quality_quantile_filter(docs, _QF_KEEP)


QUALITY_QUANTILE_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang, round({_QUALITY_EXPR_SQL}, 6) AS quality FROM documents
)
SELECT doc_id, lang, quality,
       round(percent_rank() OVER (PARTITION BY lang ORDER BY quality DESC), 6)
         AS score_pct_rank,
       percent_rank() OVER (PARTITION BY lang ORDER BY quality DESC) <= {_QF_KEEP}
         AS selected
FROM scored
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    out = docs.select("doc_id", "lang", tx.predict_lang(F.col("text")).alias("pred_lang"))
    return out.withColumn("is_match", F.col("pred_lang") == F.col("lang"))


def _marker_sql(lang: str) -> str:
    pat = r"\b(" + "|".join(tx.LANG_MARKERS[lang]) + r")\b"
    return f"len(regexp_extract_all(lower(text), '{pat}'))"


LANG_ID_SQL = f"""
WITH c AS (
  SELECT doc_id, lang,
         {_marker_sql('en')} AS c_en,
         {_marker_sql('de')} AS c_de,
         {_marker_sql('fr')} AS c_fr,
         {_marker_sql('es')} AS c_es
  FROM documents
),
p AS (
  SELECT doc_id, lang,
         CASE WHEN greatest(c_en, c_de, c_fr, c_es) = 0 THEN 'und'
              WHEN c_en = greatest(c_en, c_de, c_fr, c_es) THEN 'en'
              WHEN c_de = greatest(c_en, c_de, c_fr, c_es) THEN 'de'
              WHEN c_fr = greatest(c_en, c_de, c_fr, c_es) THEN 'fr'
              WHEN c_es = greatest(c_en, c_de, c_fr, c_es) THEN 'es'
              ELSE 'und' END AS pred_lang
  FROM c
)
SELECT doc_id, lang, pred_lang, pred_lang = lang AS is_match FROM p
"""


# --- document fingerprints ---


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", tx.fingerprint(F.col("text")).alias("fingerprint"))


DOC_FINGERPRINTS_SQL = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
FROM documents
"""


# --- deterministic sampling (curation primitive: identical row set every
#     run on any engine; generalizes the reference's sampled index stats) ---

_SAMPLE_PCT = 30

_HASH_BUCKET_SQL = """
(((CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) >= 97 THEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 87 ELSE ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 48 END) * 4096
 + (CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) >= 97 THEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 87 ELSE ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 48 END) * 256
 + (CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) >= 97 THEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 87 ELSE ascii(substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 48 END) * 16
 + (CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) >= 97 THEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 87 ELSE ascii(substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 48 END)) % 100)
"""


def sample_deterministic_30(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling as sp

    out = sp.sample_deterministic(_docs(spark, sf_dir), _SAMPLE_PCT)
    return out.select("doc_id", "lang", "sample_bucket")


SAMPLE_DETERMINISTIC_30_SQL = f"""
SELECT doc_id, lang, CAST(b AS INTEGER) AS sample_bucket
FROM (SELECT doc_id, lang, {_HASH_BUCKET_SQL} AS b FROM documents)
WHERE b < {_SAMPLE_PCT}
"""


def stratified_sample_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling as sp

    return sp.stratified_sample_counts(_docs(spark, sf_dir), "lang", _SAMPLE_PCT)


STRATIFIED_SAMPLE_AUDIT_SQL = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN {_HASH_BUCKET_SQL} < {_SAMPLE_PCT} THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM documents
GROUP BY lang
"""


# --- multimodal metadata plumbing (binary columns; decode is stubbed in
#     operators.multimodal — here we gate the schema/byte-level plumbing) ---


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    blob = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(blob).cast("long").alias("n_bytes"),
        F.md5(blob).alias("content_md5"),
    )


MULTIMODAL_META_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
"""


_CHUNK_BYTES = 64


def multimodal_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary chunk fingerprints. The payload is the ASCII-normalized text
    encoded to bytes — normalization guarantees byte==char so DuckDB (which
    cannot slice BLOBs) can mirror the exact chunk boundaries on VARCHAR;
    the Spark operator itself runs on true BINARY."""
    from ..operators.multimodal import chunk_hashes

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.encode(tx.normalized_text(F.col("text")), "UTF-8").alias("media")
    )
    return chunk_hashes(docs, chunk_bytes=_CHUNK_BYTES).select(
        "doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_md5", "chunk_len",
    )


MULTIMODAL_CHUNKS_SQL = f"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS payload
  FROM documents
),
idx AS (
  SELECT doc_id, payload, CAST(i AS BIGINT) AS chunk_idx
  FROM norm, UNNEST(generate_series(0,
         CAST(ceil(len(payload) / {_CHUNK_BYTES}.0) AS BIGINT) - 1)) AS t(i)
  WHERE len(payload) > 0
)
SELECT doc_id, chunk_idx,
       md5(substring(payload, chunk_idx * {_CHUNK_BYTES} + 1, {_CHUNK_BYTES})) AS chunk_md5,
       CAST(len(substring(payload, chunk_idx * {_CHUNK_BYTES} + 1, {_CHUNK_BYTES})) AS BIGINT)
         AS chunk_len
FROM idx
"""


_IMG_H, _IMG_W = 6, 10  # W=10 -> 30-byte rows, 2 pad bytes: exercises padding


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the codec seam (round-6 de-stub): one
    24-bit BMP per document is synthesized DISTRIBUTED (hand-packed DIB
    bytes — deliberately independent of operators.multimodal.encode_bmp, so
    a symmetric encoder/decoder layout bug cannot cancel out), decoded by
    the real decode_bmp via extract_features' mapInPandas seam, and reduced
    to exact-integer pixel stats. Oracle: DuckDB recomputes the same stats
    from the pixel formula p(r,c,ch) = (doc_id*7 + r*31 + c*3 + ch) % 256 —
    any error in BGR order, bottom-up rows, or row padding shifts wsum."""
    import struct

    import numpy as np
    import pandas as pd

    from ..operators.multimodal import extract_features

    docs = _docs(spark, sf_dir).select("doc_id")
    h, w = _IMG_H, _IMG_W
    n_px = h * w * 3

    def synth(batches):
        row_bytes = w * 3
        stride = (row_bytes + 3) // 4 * 4
        hdr_fmt = "<2sIHHIIiiHHIIiiII"
        r, c, ch = np.meshgrid(np.arange(h), np.arange(w), np.arange(3), indexing="ij")
        base = r * 31 + c * 3 + ch
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                img = ((int(did) * 7 + base) % 256).astype(np.uint8)
                bgr = img[::-1, :, ::-1]  # bottom-up rows, BGR channels
                rows = np.zeros((h, stride), dtype=np.uint8)
                rows[:, :row_bytes] = bgr.reshape(h, row_bytes)
                hdr = struct.pack(
                    hdr_fmt, b"BM", 54 + stride * h, 0, 0, 54,
                    40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0,
                )
                payloads.append(hdr + rows.tobytes())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": payloads})

    blobs = docs.mapInPandas(synth, "doc_id long, media binary")
    feats = extract_features(blobs, id_col="doc_id", feature_dim=n_px)
    idx = F.sequence(F.lit(0), F.lit(n_px - 1))
    weighted = F.zip_with(
        F.col("features"), idx, lambda p, i: p * (1 + (i % 97).cast("double"))
    )
    total = F.aggregate("features", F.lit(0.0), lambda acc, x: acc + x)
    wsum = F.aggregate(weighted, F.lit(0.0), lambda acc, x: acc + x)
    return feats.select(
        "doc_id",
        F.col("height").cast("long").alias("height"),
        F.col("width").cast("long").alias("width"),
        total.cast("long").alias("px_sum"),
        wsum.cast("long").alias("wsum"),
    )


MULTIMODAL_DECODE_SQL = f"""
WITH px AS (
  SELECT d.doc_id, t.i,
         (d.doc_id * 7 + ((t.i // 3) // {_IMG_W}) * 31
          + ((t.i // 3) % {_IMG_W}) * 3 + (t.i % 3)) % 256 AS p
  FROM documents d,
       (SELECT unnest(generate_series(0, {_IMG_H * _IMG_W * 3} - 1)) AS i) t
)
SELECT doc_id,
       CAST({_IMG_H} AS BIGINT) AS height,
       CAST({_IMG_W} AS BIGINT) AS width,
       CAST(SUM(p) AS BIGINT) AS px_sum,
       CAST(SUM(p * (1 + i % 97)) AS BIGINT) AS wsum
FROM px
GROUP BY doc_id
"""


def multimodal_decode_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode (round-8 item 3: a compressed codec
    that always runs): one PNG per document is synthesized DISTRIBUTED by
    a hand-rolled reference encoder — chunks packed by hand, per-scanline
    filter type y % 5 computed straight from the spec's filter formulas,
    deliberately independent of operators.multimodal.encode_png (which
    emits only filter 0) so a symmetric codec bug cannot cancel out and
    every defilter branch (None/Sub/Up/Average/Paeth) is exercised on
    every row group. decode_png inflates + defilters via the default
    decode_media seam; the reduce is exact-integer pixel stats. Oracle:
    DuckDB recomputes the stats from the generator formula
    p(r,c,ch) = (doc_id*11 + r*17 + c*5 + ch) % 256."""
    import struct
    import zlib

    import numpy as np
    import pandas as pd

    from ..operators.multimodal import _PNG_SIG, _png_chunk, extract_features

    docs = _docs(spark, sf_dir).select("doc_id")
    h, w = _IMG_H, _IMG_W
    n_px = h * w * 3

    def synth(batches):
        stride = w * 3
        r, c, ch = np.meshgrid(np.arange(h), np.arange(w), np.arange(3), indexing="ij")
        base = r * 17 + c * 5 + ch
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                px = (((int(did) * 11 + base) % 256)
                      .astype(np.int32).reshape(h, stride))
                raw = b""
                prev = np.zeros(stride, dtype=np.int32)
                for y in range(h):
                    ft = y % 5
                    row = px[y]
                    a = np.concatenate([np.zeros(3, np.int32), row[:-3]])
                    b = prev
                    cc = np.concatenate([np.zeros(3, np.int32), prev[:-3]])
                    if ft == 0:
                        pred = np.zeros_like(row)
                    elif ft == 1:
                        pred = a
                    elif ft == 2:
                        pred = b
                    elif ft == 3:
                        pred = (a + b) >> 1
                    else:
                        p = a + b - cc
                        pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - cc)
                        pred = np.where(
                            (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, cc)
                        )
                    raw += bytes([ft]) + ((row - pred) % 256).astype(np.uint8).tobytes()
                    prev = row
                payloads.append(
                    _PNG_SIG + _png_chunk(b"IHDR", ihdr)
                    + _png_chunk(b"IDAT", zlib.compress(raw))
                    + _png_chunk(b"IEND", b"")
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": payloads})

    blobs = docs.mapInPandas(synth, "doc_id long, media binary")
    feats = extract_features(blobs, id_col="doc_id", feature_dim=n_px)
    idx = F.sequence(F.lit(0), F.lit(n_px - 1))
    weighted = F.zip_with(
        F.col("features"), idx, lambda p, i: p * (1 + (i % 97).cast("double"))
    )
    total = F.aggregate("features", F.lit(0.0), lambda acc, x: acc + x)
    wsum = F.aggregate(weighted, F.lit(0.0), lambda acc, x: acc + x)
    return feats.select(
        "doc_id",
        F.col("height").cast("long").alias("height"),
        F.col("width").cast("long").alias("width"),
        total.cast("long").alias("px_sum"),
        wsum.cast("long").alias("wsum"),
    )


MULTIMODAL_DECODE_COMPRESSED_SQL = f"""
WITH px AS (
  SELECT d.doc_id, t.i,
         (d.doc_id * 11 + ((t.i // 3) // {_IMG_W}) * 17
          + ((t.i // 3) % {_IMG_W}) * 5 + (t.i % 3)) % 256 AS p
  FROM documents d,
       (SELECT unnest(generate_series(0, {_IMG_H * _IMG_W * 3} - 1)) AS i) t
)
SELECT doc_id,
       CAST({_IMG_H} AS BIGINT) AS height,
       CAST({_IMG_W} AS BIGINT) AS width,
       CAST(SUM(p) AS BIGINT) AS px_sum,
       CAST(SUM(p * (1 + i % 97)) AS BIGINT) AS wsum
FROM px
GROUP BY doc_id
"""


# --- independent baseline JPEG encoder (gate-side reference; round-9) ------
# Deliberately independent of operators.multimodal.decode_jpeg: the zigzag
# table is the SPEC LITERAL (the decoder derives its own by the diagonal
# rule), the Huffman tables are custom canonical tables no stock encoder
# emits (proving the decoder parses DHT instead of assuming Annex K), and
# the FDCT/bit-writer are written against T.81 directly — a symmetric codec
# bug cannot cancel out.

_JZZ = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)
_JDC_BITS = (0, 0, 0, 0, 12) + (0,) * 11        # DC cats 0..11, 5-bit codes
_JDC_VALS = bytes(range(12))
_JAC_BITS = (0,) * 8 + (255, 1) + (0,) * 6      # AC syms 0..254 @9, 255 @10
_JAC_VALS = bytes(range(256))


def _jhuff_codes(bits, vals):
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return codes


class _JBitWriter:
    def __init__(self):
        self.out, self.acc, self.n = bytearray(), 0, 0

    def write(self, code, length):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte-stuff
                    self.out.append(0)
                self.acc = self.n = 0

    def flush(self):  # pad final byte with 1-bits (T.81 F.1.2.3)
        while self.n:
            self.write(1, 1)


def _jseg(marker, body):
    import struct

    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _jenc_block(bw, zzc, pred, dc_codes, ac_codes):
    """Huffman-encode one block's zigzag coefficients; returns new DC pred."""
    diff = int(zzc[0]) - pred
    s = abs(diff).bit_length()
    bw.write(*dc_codes[s])
    if s:
        bw.write((diff if diff > 0 else diff + (1 << s) - 1) & ((1 << s) - 1), s)
    run = 0
    for k in range(1, 64):
        v = int(zzc[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.write(*ac_codes[0xF0])  # ZRL
            run -= 16
        s = abs(v).bit_length()
        bw.write(*ac_codes[(run << 4) | s])
        bw.write((v if v > 0 else v + (1 << s) - 1) & ((1 << s) - 1), s)
        run = 0
    if run:
        bw.write(*ac_codes[0x00])  # EOB
    return int(zzc[0])


def jpeg_encode_420(yp, cb, cr, *, qy=None, qc=None, dri=1):
    """(H,W) luma + (H/2,W/2) chroma planes -> baseline JFIF bytes: 4:2:0
    sampling, real float FDCT + quantize (default unit tables), custom
    canonical Huffman tables written as DHT, DRI restart markers. A fully
    spec-conformant encoder — any JPEG reader decodes its output."""
    import struct

    import numpy as np

    H, W = yp.shape
    if H % 16 or W % 16:
        raise ValueError("gate encoder requires MCU-aligned (16x16) dims")
    qy = np.ones(64, np.int64) if qy is None else np.asarray(qy, np.int64)
    qc = np.ones(64, np.int64) if qc is None else np.asarray(qc, np.int64)
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16.0)
    m[0] /= np.sqrt(2.0)

    def fdct_q(block, q):
        f = m @ (block.astype(np.float64) - 128.0) @ m.T
        return np.round(f.reshape(64)[list(_JZZ)] / q).astype(np.int64)

    dc_codes = _jhuff_codes(_JDC_BITS, _JDC_VALS)
    ac_codes = _jhuff_codes(_JAC_BITS, _JAC_VALS)
    out = bytearray(b"\xff\xd8")
    out += _jseg(0xDB, bytes([0]) + bytes(int(v) for v in qy))
    out += _jseg(0xDB, bytes([1]) + bytes(int(v) for v in qc))
    out += _jseg(
        0xC0,
        struct.pack(">BHHB", 8, H, W, 3)
        + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    for tc, th in ((0, 0), (0, 1)):
        out += _jseg(0xC4, bytes([tc << 4 | th]) + bytes(_JDC_BITS) + _JDC_VALS)
    for tc, th in ((1, 0), (1, 1)):
        out += _jseg(0xC4, bytes([tc << 4 | th]) + bytes(_JAC_BITS) + _JAC_VALS)
    if dri:
        out += _jseg(0xDD, struct.pack(">H", dri))
    out += _jseg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    mcux, mcuy = W // 16, H // 16
    bw = _JBitWriter()
    pred = {1: 0, 2: 0, 3: 0}
    rst = 0
    for mi in range(mcux * mcuy):
        if dri and mi and mi % dri == 0:
            bw.flush()
            out += bytes(bw.out)
            bw = _JBitWriter()
            out += bytes([0xFF, 0xD0 + rst % 8])
            rst += 1
            pred = {1: 0, 2: 0, 3: 0}
        my, mx = divmod(mi, mcux)
        for by in range(2):
            for bx in range(2):
                blk = yp[
                    my * 16 + by * 8 : my * 16 + by * 8 + 8,
                    mx * 16 + bx * 8 : mx * 16 + bx * 8 + 8,
                ]
                pred[1] = _jenc_block(bw, fdct_q(blk, qy), pred[1], dc_codes, ac_codes)
        pred[2] = _jenc_block(
            bw, fdct_q(cb[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8], qc),
            pred[2], dc_codes, ac_codes,
        )
        pred[3] = _jenc_block(
            bw, fdct_q(cr[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8], qc),
            pred[3], dc_codes, ac_codes,
        )
    bw.flush()
    out += bytes(bw.out) + b"\xff\xd9"
    return bytes(out)


class _JProgEncoder:
    """T.81 Annex G progressive entropy passes (spectral selection,
    successive approximation, cross-block EOB runs with buffered correction
    bits) — the jcphuff.c algorithm re-derived from the spec, INDEPENDENT
    of operators.multimodal's decoder so a symmetric bug cannot cancel.
    Shared by the gate's progressive 4:2:0 encoder and the grayscale
    successive-approximation encoder in tests."""

    def __init__(self):
        self.dc = _jhuff_codes(_JDC_BITS, _JDC_VALS)
        self.ac = _jhuff_codes(_JAC_BITS, _JAC_VALS)

    @staticmethod
    def _vbits(v: int, s: int) -> int:
        return (v if v > 0 else v + (1 << s) - 1) & ((1 << s) - 1)

    def dc_first(self, bw, blocks, order, al):
        pred = 0
        for key in order:
            v = int(blocks[key][0]) >> al  # arithmetic shift (C semantics)
            diff = v - pred
            pred = v
            s = abs(diff).bit_length()
            bw.write(*self.dc[s])
            if s:
                bw.write(self._vbits(diff, s), s)

    def dc_refine(self, bw, blocks, order, al):
        for key in order:
            bw.write((int(blocks[key][0]) >> al) & 1, 1)

    def _flush_eob(self, bw, eobrun, corr):
        if eobrun > 0:
            r = eobrun.bit_length() - 1
            bw.write(*self.ac[r << 4])
            if r:
                bw.write(eobrun - (1 << r), r)
        for bit in corr:
            bw.write(bit, 1)
        return 0, []

    def ac_first(self, bw, blocks, order, ss, se, al):
        eobrun = 0
        for key in order:
            band = [int(blocks[key][k]) for k in range(ss, se + 1)]
            pt = [(1 if v > 0 else -1) * (abs(v) >> al) for v in band]
            if not any(pt):
                eobrun += 1
                if eobrun == 0x7FFF:
                    eobrun, _ = self._flush_eob(bw, eobrun, [])
                continue
            run = 0
            for v in pt:
                if v == 0:
                    run += 1
                    continue
                eobrun, _ = self._flush_eob(bw, eobrun, [])
                while run > 15:
                    bw.write(*self.ac[0xF0])
                    run -= 16
                s = abs(v).bit_length()
                bw.write(*self.ac[(run << 4) | s])
                bw.write(self._vbits(v, s), s)
                run = 0
            if run:
                eobrun += 1
        self._flush_eob(bw, eobrun, [])

    def ac_refine(self, bw, blocks, order, ss, se, al):
        eobrun, be = 0, []  # run length + its buffered correction bits
        for key in order:
            band = [int(blocks[key][k]) for k in range(ss, se + 1)]
            absv = [abs(v) >> al for v in band]
            eob = -1  # last index that becomes NEWLY nonzero this pass
            for i, a in enumerate(absv):
                if a == 1:
                    eob = i
            run, br = 0, []
            for i, a in enumerate(absv):
                if a == 0:
                    run += 1
                    continue
                if a > 1:  # history coefficient: correction bit only
                    br.append(a & 1)
                    continue
                eobrun, be = self._flush_eob(bw, eobrun, be)
                while run > 15 and i <= eob:
                    bw.write(*self.ac[0xF0])
                    run -= 16
                    for bit in br:
                        bw.write(bit, 1)
                    br = []
                bw.write(*self.ac[(run << 4) | 1])
                bw.write(1 if band[i] > 0 else 0, 1)
                for bit in br:
                    bw.write(bit, 1)
                br = []
                run = 0
            if run > 0 or br:
                eobrun += 1
                be.extend(br)
                if eobrun == 0x7FFF:
                    eobrun, be = self._flush_eob(bw, eobrun, be)
        self._flush_eob(bw, eobrun, be)


def jpeg_encode_420_progressive(yp, cb, cr):
    """4:2:0 PROGRESSIVE (SOF2) encoding of the SAME coefficients
    jpeg_encode_420 carries (unit quant): one INTERLEAVED DC-first scan
    over MCUs (the only scan shape T.81 allows to interleave), then one
    non-interleaved AC-first full-band scan per component over its OWN
    subsampled block raster. Coefficient-identical to the baseline
    encoding, so both decode to identical pixels — which is what lets the
    gate's pixel-formula DuckDB oracle verify the progressive decoder."""
    import struct

    import numpy as np

    H, W = yp.shape
    if H % 16 or W % 16:
        raise ValueError("gate encoder requires MCU-aligned (16x16) dims")
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16.0)
    m[0] /= np.sqrt(2.0)

    def fdct(block):
        f = m @ (block.astype(np.float64) - 128.0) @ m.T
        return np.round(f.reshape(64)[list(_JZZ)]).astype(np.int64)

    yb = {
        (r, c): fdct(yp[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8])
        for r in range(H // 8)
        for c in range(W // 8)
    }
    cbb = {
        (r, c): fdct(cb[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8])
        for r in range(H // 16)
        for c in range(W // 16)
    }
    crb = {
        (r, c): fdct(cr[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8])
        for r in range(H // 16)
        for c in range(W // 16)
    }
    enc = _JProgEncoder()
    out = bytearray(b"\xff\xd8")
    out += _jseg(0xDB, bytes([0]) + b"\x01" * 64)
    out += _jseg(0xDB, bytes([1]) + b"\x01" * 64)
    out += _jseg(
        0xC2,
        struct.pack(">BHHB", 8, H, W, 3)
        + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    for tc, th in ((0, 0), (0, 1)):
        out += _jseg(0xC4, bytes([tc << 4 | th]) + bytes(_JDC_BITS) + _JDC_VALS)
    for tc, th in ((1, 0), (1, 1)):
        out += _jseg(0xC4, bytes([tc << 4 | th]) + bytes(_JAC_BITS) + _JAC_VALS)

    # scan 1: interleaved DC first — per-component diff predictors
    out += _jseg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 0, 0]))
    bw = _JBitWriter()
    mcux, mcuy = W // 16, H // 16
    pred = {1: 0, 2: 0, 3: 0}

    def dc(blk, cid):
        v = int(blk[0])
        diff = v - pred[cid]
        pred[cid] = v
        s = abs(diff).bit_length()
        bw.write(*enc.dc[s])
        if s:
            bw.write(enc._vbits(diff, s), s)

    for mi in range(mcux * mcuy):
        my, mx = divmod(mi, mcux)
        for by in range(2):
            for bx in range(2):
                dc(yb[(my * 2 + by, mx * 2 + bx)], 1)
        dc(cbb[(my, mx)], 2)
        dc(crb[(my, mx)], 3)
    bw.flush()
    out += bytes(bw.out)

    # scans 2-4: AC first full band per component, own block raster
    for cid, blocks in ((1, yb), (2, cbb), (3, crb)):
        out += _jseg(0xDA, bytes([1, cid, 0x01 if cid > 1 else 0x00, 1, 63, 0]))
        order = sorted(blocks)
        bw = _JBitWriter()
        enc.ac_first(bw, blocks, order, 1, 63, 0)
        bw.flush()
        out += bytes(bw.out)
    return bytes(out) + b"\xff\xd9"


_JPG_H, _JPG_W = 16, 32  # 2 MCUs wide, 1 high: DC-diff chaining + a restart


def _synth_jpeg_batches(batches):
    """Per-document deterministic JPEG payloads (doc_id formulas in the
    gate docstring below); odd doc_ids progressive, even baseline."""
    import numpy as np
    import pandas as pd

    h, w = _JPG_H, _JPG_W
    s = np.array([1, -1, -1, 1, 1, -1, -1, 1])
    ss = np.outer(s, s)
    for pdf in batches:
        payloads = []
        for did in pdf["doc_id"]:
            did = int(did)
            yp = np.zeros((h, w))
            for r in range(h // 8):
                for c in range(w // 8):
                    dc = 64 + (did * 13 + r * 29 + c * 7) % 128
                    k = (did * 5 + r * 3 + c) % 24
                    yp[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8] = dc + k * ss
            cb = np.zeros((h // 2, w // 2))
            cr = np.zeros((h // 2, w // 2))
            for mi in range(w // 16):
                cb[:, mi * 8 : mi * 8 + 8] = 64 + (did * 11 + mi * 37) % 128
                cr[:, mi * 8 : mi * 8 + 8] = 64 + (did * 7 + mi * 53) % 128
            enc = (
                jpeg_encode_420_progressive
                if did % 2
                else lambda y_, b_, r_: jpeg_encode_420(y_, b_, r_, dri=1)
            )
            payloads.append(
                enc(yp.astype(np.uint8), cb.astype(np.uint8), cr.astype(np.uint8))
            )
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": payloads})


#: bump when _synth_jpeg_batches or either gate encoder changes — the key
#: of the pre-encoded corpus cache below
_JPG_CORPUS_V = "r12-1"


def _jpeg_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-encoded gate corpus, created ONCE per (sf_dir, encoder version)
    and reused across runs (VERDICT r11 #3): the bit-by-bit gate encoder
    is test scaffolding, and synthesizing in-line made the gate/bench row
    time the ENCODER instead of the shipping decode path — the same
    misleading-row class the reconcile-tail bench was retired for. The
    corpus is deterministic in doc_id (formulas in the gate docstring),
    so a create-only parquet cache (the persist_ledger discipline) is
    byte-stable; the first run of a fresh environment pays the encode
    once, every subsequent sample times scan + decode + stats. Cache key
    = sf_dir path + image dims + encoder version (bump _JPG_CORPUS_V when
    touching any gate encoder)."""
    import hashlib
    import os
    import tempfile

    from ..streaming.bootstrap import ledger_exists

    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{_JPG_H}x{_JPG_W}|{_JPG_CORPUS_V}".encode()
    ).hexdigest()[:16]
    cdir = os.path.join(tempfile.gettempdir(), f"finiex_gate_jpeg_{key}")
    if not ledger_exists(spark, cdir):
        docs = _docs(spark, sf_dir).select("doc_id")
        docs.mapInPandas(_synth_jpeg_batches, "doc_id long, media binary").write.mode(
            "overwrite"
        ).parquet(cdir)
    return spark.read.parquet(cdir)


def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode (round-9 item 1 — the format that dominates
    real multimodal lakes): one 4:2:0 JPEG per document is synthesized
    DISTRIBUTED by the independent gate encoder above (pre-encoded once
    into a deterministic corpus cache — see ``_jpeg_corpus``; the timed
    path is scan + the shipping decoder, not the scaffolding encoder),
    decoded by the native decode_jpeg via the default decode_media seam,
    and reduced to exact-integer pixel stats. The construction makes a
    LOSSY format pixel-exact and therefore SQL-oracle-able: unit quant
    tables, and luma blocks built in the exact span of DCT basis
    (0,0)+(4,4) — pixel Y = dc + k*s(x)*s(y) with s = +1 at x%%8 in
    (0,3,4,7) else -1 has exact integer coefficients F(0,0)=8(dc-128),
    F(4,4)=8k, so Huffman DC/AC (run-33 -> two ZRLs before (4,4)),
    dequant, IDCT, 2x2 chroma upsample and the JFIF color convert all
    round-trip exactly. Chroma is constant per MCU. Round-10: ODD doc_ids
    encode PROGRESSIVE (SOF2 — interleaved DC scan + per-component
    spectral AC scans, coefficient-identical to the baseline encoding),
    so the driver verifies the progressive decoder against the same pixel
    formulas. Oracle: DuckDB recomputes Y/Cb/Cr from the doc_id formulas
    and applies the same floor(x+0.5)-rounded YCbCr->RGB conversion —
    encoding-agnostic by construction."""
    blobs = _jpeg_corpus(spark, sf_dir)

    def decode_and_reduce(batches):
        # ONE Arrow pass: native decode + numpy pixel stats per row
        # (VERDICT r11 #3 follow-through). The previous shape —
        # extract_features -> interpreted zip_with/aggregate — spent ~35%
        # of the wall Arrow-round-tripping a 12k-double features array and
        # running interpreted higher-order functions, scaffolding drowning
        # the decode path this row exists to time. decode_media here IS
        # the shipping decoder (the same seam extract_features defaults
        # to); the extract_features Arrow plumbing itself stays pinned by
        # the multimodal_decode / multimodal_resize / multimodal_meta /
        # multimodal_decode_compressed gates. All sums exact in float64
        # (pixel totals < 2^53).
        import numpy as np
        import pandas as pd

        from finiextestingide_spark.operators.multimodal import decode_media

        w = None
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["media"]):
                img = decode_media(bytes(payload))
                flat = img.reshape(-1).astype(np.float64)
                if w is None or w.size != flat.size:
                    w = 1.0 + (np.arange(flat.size) % 97)
                rows.append(
                    (
                        int(did), img.shape[0], img.shape[1],
                        int(flat.sum()), int(flat @ w),
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows, columns=["doc_id", "height", "width", "px_sum", "wsum"]
                )

    return blobs.mapInPandas(
        decode_and_reduce,
        "doc_id long, height long, width long, px_sum long, wsum long",
    )


MULTIMODAL_DECODE_JPEG_SQL = f"""
WITH px AS (
  SELECT d.doc_id, t.i,
         (t.i // 3) % {_JPG_W} AS x,
         (t.i // 3) // {_JPG_W} AS y,
         t.i % 3 AS ch
  FROM documents d,
       (SELECT unnest(generate_series(0, {_JPG_H * _JPG_W * 3} - 1)) AS i) t
),
ycc AS (
  SELECT doc_id, i, ch,
         (64 + (doc_id * 13 + (y // 8) * 29 + (x // 8) * 7) % 128)
         + ((doc_id * 5 + (y // 8) * 3 + (x // 8)) % 24)
           * (CASE WHEN (x % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
           * (CASE WHEN (y % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END) AS yv,
         64 + (doc_id * 11 + (x // 16) * 37) % 128 AS cb,
         64 + (doc_id * 7 + (x // 16) * 53) % 128 AS cr
  FROM px
),
rgb AS (
  SELECT doc_id, i,
         CASE ch
           WHEN 0 THEN LEAST(255, GREATEST(0,
             FLOOR(yv + 1.402 * (cr - 128) + 0.5)))
           WHEN 1 THEN LEAST(255, GREATEST(0,
             FLOOR(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5)))
           ELSE LEAST(255, GREATEST(0,
             FLOOR(yv + 1.772 * (cb - 128) + 0.5)))
         END AS p
  FROM ycc
)
SELECT doc_id,
       CAST({_JPG_H} AS BIGINT) AS height,
       CAST({_JPG_W} AS BIGINT) AS width,
       CAST(SUM(p) AS BIGINT) AS px_sum,
       CAST(SUM(p * (1 + i % 97)) AS BIGINT) AS wsum
FROM rgb
GROUP BY doc_id
"""


_RSZ_H, _RSZ_W = 3, 5  # 6x10 -> 3x5: src index = dst * 2 on both axes


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize through the codec seam: the synthesized BMPs are decoded,
    nearest-neighbor resampled 6x10 -> 3x5, RE-ENCODED as BMP, decoded
    AGAIN by extract_features, and reduced to pixel stats. Oracle: DuckDB
    maps each output pixel back to its source via the NN index rule
    (src = floor(dst * src_dim / dst_dim)) and recomputes the stats from
    the generator formula — pinning decoder, encoder, and the resample
    rule in one hash."""
    import struct

    import numpy as np
    import pandas as pd

    from ..operators.multimodal import extract_features, resize

    docs = _docs(spark, sf_dir).select("doc_id")
    h, w = _IMG_H, _IMG_W

    def synth(batches):
        row_bytes = w * 3
        stride = (row_bytes + 3) // 4 * 4
        hdr_fmt = "<2sIHHIIiiHHIIiiII"
        r, c, ch = np.meshgrid(np.arange(h), np.arange(w), np.arange(3), indexing="ij")
        base = r * 31 + c * 3 + ch
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                img = ((int(did) * 7 + base) % 256).astype(np.uint8)
                bgr = img[::-1, :, ::-1]
                rows = np.zeros((h, stride), dtype=np.uint8)
                rows[:, :row_bytes] = bgr.reshape(h, row_bytes)
                hdr = struct.pack(
                    hdr_fmt, b"BM", 54 + stride * h, 0, 0, 54,
                    40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0,
                )
                payloads.append(hdr + rows.tobytes())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": payloads})

    blobs = docs.mapInPandas(synth, "doc_id long, media binary")
    small = resize(blobs, _RSZ_H, _RSZ_W, id_col="doc_id")
    n_px = _RSZ_H * _RSZ_W * 3
    feats = extract_features(small, id_col="doc_id", feature_dim=n_px)
    idx = F.sequence(F.lit(0), F.lit(n_px - 1))
    weighted = F.zip_with(
        F.col("features"), idx, lambda p, i: p * (1 + (i % 97).cast("double"))
    )
    return feats.select(
        "doc_id",
        F.col("height").cast("long").alias("height"),
        F.col("width").cast("long").alias("width"),
        F.aggregate("features", F.lit(0.0), lambda a, x: a + x).cast("long").alias("px_sum"),
        F.aggregate(weighted, F.lit(0.0), lambda a, x: a + x).cast("long").alias("wsum"),
    )


MULTIMODAL_RESIZE_SQL = f"""
WITH px AS (
  SELECT d.doc_id, t.i,
         (d.doc_id * 7
          + ((((t.i // 3) // {_RSZ_W}) * {_IMG_H}) // {_RSZ_H}) * 31
          + ((((t.i // 3) % {_RSZ_W}) * {_IMG_W}) // {_RSZ_W}) * 3
          + (t.i % 3)) % 256 AS p
  FROM documents d,
       (SELECT unnest(generate_series(0, {_RSZ_H * _RSZ_W * 3} - 1)) AS i) t
)
SELECT doc_id,
       CAST({_RSZ_H} AS BIGINT) AS height,
       CAST({_RSZ_W} AS BIGINT) AS width,
       CAST(SUM(p) AS BIGINT) AS px_sum,
       CAST(SUM(p * (1 + i % 97)) AS BIGINT) AS wsum
FROM px
GROUP BY doc_id
"""


_FR_H, _FR_W = 4, 4  # per-frame geometry
_FR_EVERY = 2


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling through the PPM-stream seam: each doc gets
    a synthesized 'video' (3 + doc_id % 5 concatenated P6 frames, headers
    hand-built, pixel p(f,r,c,ch) = (doc_id*11 + f*53 + r*17 + c*5 + ch) %
    256), frame_sample walks the stream taking every 2nd frame, and every
    sampled frame is DECODED back by the real PPM codec and reduced to its
    pixel sum. Oracle: DuckDB enumerates (doc, frame, pixel) from the same
    formula, keeping frames with f %% 2 == 0 — a wrong frame stride,
    header walk, or payload slice shifts some frame's sum."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import extract_features, frame_sample

    docs = _docs(spark, sf_dir).select("doc_id")
    h, w = _FR_H, _FR_W

    def synth(batches):
        header = b"P6\n%d %d\n255\n" % (w, h)
        r, c, ch = np.meshgrid(np.arange(h), np.arange(w), np.arange(3), indexing="ij")
        base = r * 17 + c * 5 + ch
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                parts = []
                for f in range(3 + did % 5):
                    img = ((did * 11 + f * 53 + base) % 256).astype(np.uint8)
                    parts.append(header + img.tobytes())
                payloads.append(b"".join(parts))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": payloads})

    blobs = docs.mapInPandas(synth, "doc_id long, media binary")
    frames = frame_sample(blobs, every_n=_FR_EVERY, id_col="doc_id")
    keyed = frames.select(
        (F.col("doc_id") * 1000 + F.col("frame_idx")).cast("long").alias("fkey"),
        F.col("frame").alias("media"),
    )
    n_px = h * w * 3
    feats = extract_features(keyed, id_col="fkey", feature_dim=n_px)
    return feats.select(
        (F.col("fkey") / 1000).cast("long").alias("doc_id"),
        (F.col("fkey") % 1000).cast("long").alias("frame_idx"),
        F.aggregate("features", F.lit(0.0), lambda a, x: a + x).cast("long").alias("px_sum"),
    )


MULTIMODAL_FRAMES_SQL = f"""
WITH fr AS (
  SELECT d.doc_id, t.f
  FROM documents d,
       (SELECT unnest(generate_series(0, 6)) AS f) t
  WHERE t.f < 3 + d.doc_id % 5 AND t.f % {_FR_EVERY} = 0
),
px AS (
  SELECT fr.doc_id, fr.f,
         (fr.doc_id * 11 + fr.f * 53
          + (((t2.i // 3) // {_FR_W}) * 17)
          + (((t2.i // 3) % {_FR_W}) * 5)
          + (t2.i % 3)) % 256 AS p
  FROM fr,
       (SELECT unnest(generate_series(0, {_FR_H * _FR_W * 3} - 1)) AS i) t2
)
SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, CAST(SUM(p) AS BIGINT) AS px_sum
FROM px
GROUP BY doc_id, f
"""


_AUD_RATE, _AUD_FRAME = 8000, 256


def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the codec seam (round-9: the RIFF branch
    becomes a native WAV/PCM decoder): one mono 16-bit WAV per document is
    synthesized DISTRIBUTED by a hand-packed RIFF writer — deliberately
    independent of operators.multimodal.encode_wav, and with a junk LIST
    chunk of ODD size before data so the decoder's chunk walk and
    word-alignment padding are exercised on every payload. audio_frame_stats
    decodes via the native decode_wav and reduces each 256-sample frame to
    EXACT-INTEGER stats. Oracle: DuckDB recomputes them from the sample
    formula s(i) = ((doc_id*31 + i*17) %% 4001) - 2000, n = 600 +
    (doc_id%%5)*100 — a wrong chunk walk, sample width, interleave or frame
    boundary shifts sum_sq/zero_crossings."""
    import struct

    import numpy as np
    import pandas as pd

    from ..operators.multimodal import audio_frame_stats

    docs = _docs(spark, sf_dir).select("doc_id")

    def synth(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 600 + (did % 5) * 100
                i = np.arange(n, dtype=np.int64)
                s = (((did * 31 + i * 17) % 4001) - 2000).astype("<i2")
                data = s.tobytes()
                fmt = struct.pack(
                    "<HHIIHH", 1, 1, _AUD_RATE, _AUD_RATE * 2, 2, 16
                )
                junk = b"\x07" * 5  # odd-size chunk: exercises the pad byte
                body = (
                    b"WAVE"
                    + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                    + b"LIST" + struct.pack("<I", len(junk)) + junk + b"\x00"
                    + b"data" + struct.pack("<I", len(data)) + data
                )
                payloads.append(b"RIFF" + struct.pack("<I", len(body)) + body)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": payloads})

    blobs = docs.mapInPandas(synth, "doc_id long, media binary")
    out = audio_frame_stats(blobs, id_col="doc_id", frame_samples=_AUD_FRAME)
    return out.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("n_samples").cast("long").alias("n_samples"),
        "sum_sq",
        "zero_crossings",
        F.col("peak").cast("long").alias("peak"),
    )


MULTIMODAL_AUDIO_FRAMES_SQL = f"""
WITH base AS (
  SELECT d.doc_id, t.i,
         ((d.doc_id * 31 + t.i * 17) % 4001) - 2000 AS s,
         600 + (d.doc_id % 5) * 100 AS n
  FROM documents d,
       (SELECT unnest(generate_series(0, 999)) AS i) t
  WHERE t.i < 600 + (d.doc_id % 5) * 100
)
SELECT doc_id,
       CAST(i // {_AUD_FRAME} AS BIGINT) AS frame_idx,
       CAST({_AUD_RATE} AS BIGINT) AS sample_rate,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(s * s) AS BIGINT) AS sum_sq,
       CAST(sum(CASE WHEN (i % {_AUD_FRAME}) < {_AUD_FRAME - 1} AND i + 1 < n
                      AND s * (((doc_id * 31 + (i + 1) * 17) % 4001) - 2000) < 0
                THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
       CAST(max(abs(s)) AS BIGINT) AS peak
FROM base
GROUP BY doc_id, i // {_AUD_FRAME}
"""


# --- winnowing: substring-level near-dup fingerprints (MOSS) ---
#
# k=3-word grams, window=4 -> guaranteed fingerprint collision for any
# shared span >= 6 words; df cap 5 bites on this corpus (max fp df is 7 at
# sf0.01), exercising the boilerplate guard the same way _J_MAX_DF does.

_WIN_K = 3
_WIN_W = 4
_WIN_MAX_DF = 5
_WIN_MIN_SHARED = 2

# NOTE: the md5 concat below is written out for _WIN_K = 3 — changing
# _WIN_K requires editing the words[i]||...||words[i+k-1] expression too.
_WINNOW_FPS_CTE = f"""
ww AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
  FROM documents
),
wg AS (
  SELECT doc_id, i AS pos,
         md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS h
  FROM ww, UNNEST(generate_series(1, len(words) - {_WIN_K - 1})) AS t(i)
  WHERE len(words) >= {_WIN_K}
),
wins AS (
  SELECT doc_id, min(h) OVER fw AS fp, count(*) OVER fw AS cnt
  FROM wg
  WINDOW fw AS (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
),
wfps AS (
  SELECT DISTINCT doc_id, fp FROM wins WHERE cnt = {_WIN_W}
)
"""


def winnow_fps_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return wn.winnow_fingerprints(_docs(spark, sf_dir), _WIN_K, _WIN_W)


WINNOW_FPS_SQL = f"""
WITH {_WINNOW_FPS_CTE}
SELECT doc_id, fp FROM wfps
"""


def winnow_pairs_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = wn.winnow_fingerprints(_docs(spark, sf_dir), _WIN_K, _WIN_W)
    out = wn.winnow_candidate_pairs(
        fps, _WIN_MIN_SHARED, max_doc_freq=_WIN_MAX_DF
    )
    return out.select(
        "id_a",
        "id_b",
        F.col("shared").cast("long").alias("shared"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round("containment", 6).alias("containment"),
    )


WINNOW_PAIRS_SQL = f"""
WITH {_WINNOW_FPS_CTE},
capped AS (
  SELECT * FROM wfps
  WHERE fp NOT IN (
    SELECT fp FROM wfps GROUP BY 1 HAVING count(DISTINCT doc_id) > {_WIN_MAX_DF}
  )
),
sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {_WIN_MIN_SHARED}
)
SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       round(CAST(shared AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
FROM pairs
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
"""


# --- Gopher/MassiveText quality rule set ---


def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tx.gopher_quality_flags(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        g["n_words"].alias("n_words"),
        F.round(g["mean_word_len"], 6).alias("mean_word_len"),
        F.round(g["symbol_word_ratio"], 6).alias("symbol_word_ratio"),
        F.round(g["bullet_line_frac"], 6).alias("bullet_line_frac"),
        F.round(g["ellipsis_line_frac"], 6).alias("ellipsis_line_frac"),
        F.round(g["alpha_word_frac"], 6).alias("alpha_word_frac"),
        g["stop_hits"].alias("stop_hits"),
        g["keep"].alias("keep"),
    )


_GOPHER_STOP_HITS = " + ".join(
    f"CASE WHEN len(regexp_extract_all(norm, '\\b{w}\\b')) > 0 THEN 1 ELSE 0 END"
    for w in tx.GOPHER_STOPWORDS
)

def _gopher_sql(min_words: int = 50, min_stop_hits: int = 2) -> str:
    return rf"""
WITH n AS (
  SELECT doc_id, text,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
),
s AS (
  SELECT doc_id, text, norm,
         CASE WHEN norm = '' THEN 0 ELSE len(string_split(norm, ' ')) END AS n_words,
         len(string_split(text, chr(10))) AS n_lines,
         len(regexp_extract_all(text, '#|\.\.\.|…')) AS n_symbols,
         len(regexp_extract_all(text, '(?m)^\s*[-*•]')) AS bullet_lines,
         len(regexp_extract_all(text, '(?m)(\.\.\.|…)\s*$')) AS ellipsis_lines,
         len(regexp_extract_all(norm, '\b[0-9]+\b')) AS digit_words,
         ({_GOPHER_STOP_HITS}) AS stop_hits
  FROM n
),
m AS (
  SELECT doc_id,
         CAST(n_words AS BIGINT) AS n_words,
         CASE WHEN n_words > 0
              THEN CAST(len(norm) - (n_words - 1) AS DOUBLE) / n_words
              ELSE 0.0 END AS mean_word_len,
         CASE WHEN n_words > 0
              THEN CAST(n_symbols AS DOUBLE) / n_words ELSE 0.0 END AS symbol_word_ratio,
         CASE WHEN n_lines > 0
              THEN CAST(bullet_lines AS DOUBLE) / n_lines ELSE 0.0 END AS bullet_line_frac,
         CASE WHEN n_lines > 0
              THEN CAST(ellipsis_lines AS DOUBLE) / n_lines ELSE 0.0 END AS ellipsis_line_frac,
         CASE WHEN n_words > 0
              THEN CAST(n_words - digit_words AS DOUBLE) / n_words
              ELSE 0.0 END AS alpha_word_frac,
         CAST(stop_hits AS BIGINT) AS stop_hits
  FROM s
)
SELECT doc_id, n_words,
       round(mean_word_len, 6) AS mean_word_len,
       round(symbol_word_ratio, 6) AS symbol_word_ratio,
       round(bullet_line_frac, 6) AS bullet_line_frac,
       round(ellipsis_line_frac, 6) AS ellipsis_line_frac,
       round(alpha_word_frac, 6) AS alpha_word_frac,
       stop_hits,
       (n_words >= {min_words} AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_word_ratio <= 0.1
        AND bullet_line_frac < 0.9 AND ellipsis_line_frac < 0.3
        AND alpha_word_frac >= 0.8 AND stop_hits >= {min_stop_hits}) AS keep
FROM m
"""


# the published-threshold instance (what the gopher_quality gate runs)
GOPHER_QUALITY_SQL = _gopher_sql()


# --- end-to-end corpus curation: the four independent per-doc judgments
#     (exact dup, near dup, quality, contamination) joined into one
#     decision table. The oracle COMPOSES the already-verified stage
#     oracles as CTEs — exact_side/near_side/gopher_side are the verbatim
#     gate SQLs of dedup_keep_best / neardup_keep_best / gopher_quality
#     (thresholds tuned for this short-form corpus: min_words=40,
#     min_stop_hits=1 — the published 50/2 drops ALL 500 synthetic docs,
#     a degenerate keep column that would gate nothing). Eval set = the
#     doc_id %% 20 == 0 slice used by decontaminated_train, here treated
#     as a leaked benchmark INSIDE the corpus: those docs self-contaminate
#     to ~1.0 and are removed, which is the decontamination behavior a
#     real pipeline wants. ---

_CUR_MIN_WORDS = 40
_CUR_MIN_STOPS = 1


def curated_corpus_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import curation as cu

    docs = _docs(spark, sf_dir)
    # r16: the eval set is a slice of the corpus, so its shingles derive
    # from curate_corpus's one shared tokenize pass (eval_filter) instead
    # of a second tokenize over docs.where(%20) — same rows, one Generate
    out = cu.curate_corpus(
        docs,
        eval_filter=F.col("doc_id") % 20 == 0,
        shingle_n=3,
        num_hashes=_MH_K,
        bands=_MH_BANDS,
        min_jaccard=0.0,
        max_contamination=_DECON_MAX,
        min_words=_CUR_MIN_WORDS,
        min_stop_hits=_CUR_MIN_STOPS,
        # fifth judgment (r13): span containment over winnowing
        # fingerprints — the quoted-inclusion dup class MinHash passes
        winnow_k=_WIN_K,
        winnow_w=_WIN_W,
        winnow_min_shared=_WIN_MIN_SHARED,
        winnow_max_doc_freq=_WIN_MAX_DF,
        min_containment=0.8,
    )
    return out.select(
        "doc_id",
        F.round("score", 6).alias("score"),
        "is_exact_dup",
        "is_near_dup",
        "is_contained",
        "fails_quality",
        F.round("contamination", 6).alias("contamination"),
        "is_contaminated",
        "kept",
    )


CURATED_CORPUS_SQL = f"""
WITH exact_side AS MATERIALIZED (
  {DEDUP_KEEP_BEST_SQL}
),
near_side AS MATERIALIZED (
  {NEARDUP_KEEP_BEST_SQL}
),
gopher_side AS MATERIALIZED (
  {_gopher_sql(_CUR_MIN_WORDS, _CUR_MIN_STOPS)}
),
{_SHINGLES_CTE},
evset AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
hits AS (
  SELECT t.doc_id, count(*) AS n_contaminated
  FROM sh t JOIN evset e ON e.shingle = t.shingle
  GROUP BY 1
),
shc AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
decon AS (
  SELECT d.doc_id,
         CASE WHEN coalesce(shc.n_shingles, 0) > 0
              THEN CAST(coalesce(h.n_contaminated, 0) AS DOUBLE) / shc.n_shingles
              ELSE 0.0 END AS contamination
  FROM (SELECT doc_id FROM documents) d
  LEFT JOIN shc USING (doc_id) LEFT JOIN hits h USING (doc_id)
),
{_WINNOW_FPS_CTE},
wcapped AS (
  SELECT * FROM wfps
  WHERE fp NOT IN (
    SELECT fp FROM wfps GROUP BY 1 HAVING count(DISTINCT doc_id) > {_WIN_MAX_DF}
  )
),
wsizes AS (SELECT doc_id, count(*) AS n FROM wcapped GROUP BY 1),
wpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM wcapped a JOIN wcapped b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {_WIN_MIN_SHARED}
),
wscored AS (
  SELECT id_a, id_b, sa.n AS n_a, sb.n AS n_b,
         CAST(shared AS DOUBLE) / least(sa.n, sb.n) AS containment
  FROM wpairs JOIN wsizes sa ON sa.doc_id = id_a JOIN wsizes sb ON sb.doc_id = id_b
),
wdirected AS (
  SELECT CASE WHEN n_a < n_b OR (n_a = n_b AND id_a > id_b) THEN id_a ELSE id_b END AS small_id
  FROM wscored WHERE containment >= 0.8
),
wdrops AS (SELECT DISTINCT small_id FROM wdirected)
SELECT e.doc_id,
       round(e.score, 6) AS score,
       e.is_dropped AS is_exact_dup,
       n.is_dropped AS is_near_dup,
       (w.small_id IS NOT NULL) AS is_contained,
       NOT g.keep AS fails_quality,
       round(d.contamination, 6) AS contamination,
       d.contamination > {_DECON_MAX} AS is_contaminated,
       (NOT e.is_dropped AND NOT n.is_dropped AND w.small_id IS NULL
        AND g.keep AND d.contamination <= {_DECON_MAX}) AS kept
FROM exact_side e
JOIN near_side n USING (doc_id)
JOIN gopher_side g USING (doc_id)
JOIN decon d USING (doc_id)
LEFT JOIN wdrops w ON w.small_id = e.doc_id
"""


# --- product quantization: encode + asymmetric-distance top-k ---
#
# m=8 subspaces x 8 dims; codebooks = the slices of the first 8
# embeddings (deterministic, the ivf_topk_5 seeding convention). The ADC
# lookup tables are 6-rounded and summed as exact DECIMALs on both sides,
# so the ranking is summation-order independent.

_PQ_M = 8
_PQ_SUB = 8  # dims per subspace (64-dim embeddings)
_PQ_CODES = 8
_PQ_K = 10


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    emb = _emb(spark, sf_dir)
    rows = (
        emb.where(F.col("vec_id") < _PQ_CODES)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    full = [[float(x) for x in r["embedding"]] for r in rows]
    return [
        [v[j * _PQ_SUB : (j + 1) * _PQ_SUB] for v in full] for j in range(_PQ_M)
    ]


def pq_adc_topk_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    books = _pq_codebooks(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    codes = sim.pq_encode(emb, books)
    query = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    return sim.pq_adc_topk(codes, books, query, _PQ_K)


PQ_ADC_TOPK_10_SQL = f"""
WITH cents AS (SELECT vec_id AS code, embedding AS cvec FROM embeddings
               WHERE vec_id < {_PQ_CODES}),
dims AS (
  SELECT e.vec_id, c.code, CAST((t.i - 1) // {_PQ_SUB} AS INT) AS j,
         power(CAST(e.embedding[t.i] AS DOUBLE) - CAST(c.cvec[t.i] AS DOUBLE), 2) AS sq
  FROM embeddings e
  CROSS JOIN cents c
  CROSS JOIN UNNEST(generate_series(1, {_PQ_M * _PQ_SUB})) AS t(i)
),
subd AS (SELECT vec_id, code, j, sum(sq) AS d FROM dims GROUP BY 1, 2, 3),
best AS (
  SELECT vec_id, j, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, code ASC) AS r
    FROM subd)
  WHERE r = 1
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
lutdims AS (
  SELECT c.code, CAST((t.i - 1) // {_PQ_SUB} AS INT) AS j,
         power(CAST(q.qv[t.i] AS DOUBLE) - CAST(c.cvec[t.i] AS DOUBLE), 2) AS sq
  FROM q CROSS JOIN cents c
  CROSS JOIN UNNEST(generate_series(1, {_PQ_M * _PQ_SUB})) AS t(i)
),
lut AS (
  SELECT code, j, CAST(round(sum(sq), 6) AS DECIMAL(18,6)) AS d
  FROM lutdims GROUP BY 1, 2
),
scored AS (
  SELECT b.vec_id, round(CAST(sum(l.d) AS DOUBLE), 6) AS adc_dist
  FROM best b JOIN lut l ON l.j = b.j AND l.code = b.code
  GROUP BY 1
)
SELECT vec_id, adc_dist, rank FROM (
  SELECT vec_id, adc_dist,
         row_number() OVER (ORDER BY adc_dist ASC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= {_PQ_K}
"""


_PQ_RECALL_NQ = 20


def pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ-ADC path vs exact squared-L2 ground truth (the
    ANN-surface audit pattern of ivf_recall_audit, applied to the
    compressed index)."""
    books = _pq_codebooks(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    codes = sim.pq_encode(emb, books)
    queries = emb.where(F.col("vec_id") < _PQ_RECALL_NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.pq_recall(emb, codes, books, queries, _PQ_K)


_L2_ORACLE = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> power(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE), 2)), (x, y) -> x + y)"
)

PQ_RECALL_AUDIT_SQL = f"""
WITH cents AS (SELECT vec_id AS code, embedding AS cvec FROM embeddings
               WHERE vec_id < {_PQ_CODES}),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < {_PQ_RECALL_NQ}),
dims AS (
  SELECT e.vec_id, c.code, CAST((t.i - 1) // {_PQ_SUB} AS INT) AS j,
         power(CAST(e.embedding[t.i] AS DOUBLE) - CAST(c.cvec[t.i] AS DOUBLE), 2) AS sq
  FROM embeddings e
  CROSS JOIN cents c
  CROSS JOIN UNNEST(generate_series(1, {_PQ_M * _PQ_SUB})) AS t(i)
),
subd AS (SELECT vec_id, code, j, sum(sq) AS d FROM dims GROUP BY 1, 2, 3),
best AS (
  SELECT vec_id, j, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, code ASC) AS r
    FROM subd)
  WHERE r = 1
),
lutdims AS (
  SELECT q.query_id, c.code, CAST((t.i - 1) // {_PQ_SUB} AS INT) AS j,
         power(CAST(q.qv[t.i] AS DOUBLE) - CAST(c.cvec[t.i] AS DOUBLE), 2) AS sq
  FROM q CROSS JOIN cents c
  CROSS JOIN UNNEST(generate_series(1, {_PQ_M * _PQ_SUB})) AS t(i)
),
lut AS (
  SELECT query_id, code, j, CAST(round(sum(sq), 6) AS DECIMAL(18,6)) AS d
  FROM lutdims GROUP BY 1, 2, 3
),
adc AS (
  SELECT l.query_id, b.vec_id, round(CAST(sum(l.d) AS DOUBLE), 6) AS adc_dist
  FROM best b JOIN lut l ON l.j = b.j AND l.code = b.code
  GROUP BY 1, 2
),
adc_top AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY adc_dist ASC, vec_id ASC) AS r
    FROM adc WHERE vec_id <> query_id)
  WHERE r <= {_PQ_K}
),
truth AS (
  SELECT q.query_id, e.vec_id,
         round({_L2_ORACLE.format(a='e.embedding', b='q.qv')}, 6) AS l2
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
),
truth_top AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY l2 ASC, vec_id ASC) AS r
    FROM truth)
  WHERE r <= {_PQ_K}
),
hits AS (
  SELECT a.query_id, count(*) AS n_hits
  FROM adc_top a JOIN truth_top t ON t.query_id = a.query_id AND t.vec_id = a.vec_id
  GROUP BY 1
)
SELECT q.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / {_PQ_K}, 6) AS recall
FROM q LEFT JOIN hits h USING (query_id)
"""


# --- TRAINED product quantization: per-subspace Lloyd codebooks (the
#     production path — the seeded 8-code toy books above measure recall
#     ≈ 0.18; training is what makes PQ usable). One grouped Lloyd trains
#     all m codebooks in one plan; the oracle unrolls the same quantized
#     trajectory per subspace. ---

_PQT_CODES = 16
_PQT_ITERS = 2


def pq_trained_codebooks_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    cb = sim.pq_train_codebooks(
        _emb(spark, sf_dir), m=_PQ_M, k_codes=_PQT_CODES, iters=_PQT_ITERS
    )
    return cb.select(
        "j", "code", F.posexplode("embedding").alias("pos", "value")
    ).select("j", "code", "pos", F.round("value", 6).alias("value"))


def _pqt_subs_sql(src: str = "embeddings") -> str:
    w = _PQ_SUB
    return f"""
subs AS (
  SELECT e.vec_id, CAST(s.j AS INTEGER) AS j,
         list_transform(generate_series(1, {w}),
                        i -> CAST(e.embedding[s.j * {w} + i] AS DOUBLE)) AS sv
  FROM {src} e
  CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS j) s
),
init AS (
  SELECT j, CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INTEGER) AS code,
         list_transform(sv, x -> round(x, 6)) AS cv
  FROM (SELECT * FROM subs
        QUALIFY row_number() OVER (PARTITION BY j ORDER BY vec_id) <= {_PQT_CODES})
)"""


def _pqt_iter_sql(i: int, prev: str) -> str:
    w = _PQ_SUB
    return f"""
a{i} AS (
  SELECT s.vec_id, s.j, s.sv, c.code,
         list_reduce(list_transform(generate_series(1, {w}),
                                    t -> power(s.sv[t] - c.cv[t], 2)),
                     (x, y) -> x + y) AS l2
  FROM subs s JOIN {prev} c ON c.j = s.j
),
b{i} AS (
  SELECT vec_id, j, sv, code FROM (
    SELECT *, row_number() OVER (PARTITION BY j, vec_id ORDER BY l2, code) AS rn
    FROM a{i}) WHERE rn = 1
),
m{i} AS (
  SELECT j, code, t.pos - 1 AS pos, round(avg(sv[t.pos]), 6) AS mv
  FROM b{i} b, UNNEST(generate_series(1, {w})) AS t(pos)
  GROUP BY 1, 2, 3
),
c{i} AS (
  SELECT p.j, p.code,
         CASE WHEN count(m.pos) = 0 THEN p.cv
              ELSE list(m.mv ORDER BY m.pos) END AS cv
  FROM {prev} p LEFT JOIN m{i} m ON m.j = p.j AND m.code = p.code
  GROUP BY p.j, p.code, p.cv
)"""


def _pqt_train_ctes(src: str = "embeddings") -> str:
    return _pqt_subs_sql(src) + "," + ",".join(
        _pqt_iter_sql(i, "init" if i == 1 else f"c{i - 1}")
        for i in range(1, _PQT_ITERS + 1)
    )


PQ_TRAINED_CODEBOOKS_SQL = (
    "WITH "
    + _pqt_train_ctes()
    + f"""
SELECT j, code, CAST(t.pos - 1 AS INTEGER) AS pos,
       round(CAST(c.cv[t.pos] AS DOUBLE), 6) AS value
FROM c{_PQT_ITERS} c, UNNEST(generate_series(1, {_PQ_SUB})) AS t(pos)
"""
)


# --- OPQ: deterministic learned-rotation COMPOSITION gate (VERDICT r14
#     #3). The rotation entering the pipeline is configuration (a dense
#     orthogonal matrix from a fixed pure-Python Givens chain — bit-
#     stable with no LAPACK in the path), embedded as LITERALS on both
#     engine sides; everything downstream is the verified trained-PQ
#     pipeline over the rotated corpus: grouped-Lloyd books, encode,
#     single-query ADC. This pins the composition opq_rotate ->
#     pq_train -> pq_encode -> pq_adc_topk cross-engine; the LEARNED
#     rotation (opq_train_rotation, SVD in the loop) is run-stable but
#     not SQL-expressible — pytest pins its orthogonality + error
#     reduction, and scripts/ivfpq_recall_audit.py --opq measures its
#     recall lift (SCALE.md section 9). ---

_OPQ_ROT = sim.deterministic_rotation(_PQ_M * _PQ_SUB)


def opq_adc_topk_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    rotated = sim.opq_rotate(emb, _OPQ_ROT)
    cb = sim.pq_train_codebooks(
        rotated, m=_PQ_M, k_codes=_PQT_CODES, iters=_PQT_ITERS
    )
    books = sim.collect_codebooks(cb)
    codes = sim.pq_encode(rotated, books)
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    return sim.pq_adc_topk(codes, books, sim.rotate_query(_OPQ_ROT, q), _PQ_K)


def opq_lake_topk_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ composed with the CODES LAKE (r15): rotate-at-ingest —
    `write_pq_lake(..., rotation=R)` encodes the rotated vectors once
    and stamps BOTH fingerprints in the manifest; the query probes with
    the RAW vector (cells are rotation-invariant) and scores with the
    rotated one (`ivfpq_lake_topk(..., rotation=R)`). Probing ALL cells
    makes the ranking the full-corpus OPQ ADC, so this SHARES
    OPQ_ADC_TOPK_10_SQL — the hash proves rotate-at-ingest ==
    rotate-in-place, the same proof shape ivfpq_lake_topk_10 gave the
    unrotated lake."""
    import hashlib
    import os
    import tempfile

    emb = _emb(spark, sf_dir)
    rotated = sim.opq_rotate(emb, _OPQ_ROT)
    cb = sim.pq_train_codebooks(
        rotated, m=_PQ_M, k_codes=_PQT_CODES, iters=_PQT_ITERS
    )
    books = sim.collect_codebooks(cb)
    cents = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    centroid_rows = [
        (int(r["centroid_id"]), [float(x) for x in r["embedding"]])
        for r in cents.collect()
    ]
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{os.getpid()}".encode()
    ).hexdigest()[:16]
    lake = os.path.join(tempfile.gettempdir(), f"finiex_gate_opqlake_{key}")
    sim.write_pq_lake(
        sim.assign_centroids(emb, cents), books, lake, rotation=_OPQ_ROT
    )
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    return sim.ivfpq_lake_topk(
        spark, lake, books, centroid_rows, q, _PQ_K, nprobe=2,
        rotation=_OPQ_ROT,
    )


def _opq_rot_sql() -> str:
    rows = ",\n    ".join(
        f"({i}, LIST_VALUE({', '.join(repr(float(x)) for x in row)}))"
        for i, row in enumerate(_OPQ_ROT)
    )
    d = _PQ_M * _PQ_SUB
    return f"""rot AS (SELECT * FROM (VALUES
    {rows}) AS t(i, rv)),
rotemb AS (
  SELECT e.vec_id,
         list(list_reduce(list_transform(generate_series(1, {d}),
              t -> r.rv[t] * CAST(e.embedding[t] AS DOUBLE)),
              (x, y) -> x + y) ORDER BY r.i) AS embedding
  FROM embeddings e CROSS JOIN rot r
  GROUP BY e.vec_id
)"""


OPQ_ADC_TOPK_10_SQL = (
    "WITH "
    + _opq_rot_sql()
    + ","
    + _pqt_train_ctes("rotemb")
    + f""",
cb AS (SELECT j, code, cv FROM c{_PQT_ITERS}),
dims AS (
  SELECT e.vec_id, c.j, c.code,
         list_reduce(list_transform(generate_series(1, {_PQ_SUB}),
             t -> power(CAST(e.embedding[c.j * {_PQ_SUB} + t] AS DOUBLE) - c.cv[t], 2)),
             (x, y) -> x + y) AS d
  FROM rotemb e CROSS JOIN cb c
),
best AS (
  SELECT vec_id, j, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, code ASC) AS r
    FROM dims) WHERE r = 1
),
q AS (SELECT embedding AS qv FROM rotemb WHERE vec_id = 0),
lut AS (
  SELECT c.j, c.code,
         CAST(round(list_reduce(list_transform(generate_series(1, {_PQ_SUB}),
             t -> power(CAST(q.qv[c.j * {_PQ_SUB} + t] AS DOUBLE) - c.cv[t], 2)),
             (x, y) -> x + y), 6) AS DECIMAL(18,6)) AS d
  FROM q CROSS JOIN cb c
),
scored AS (
  SELECT b.vec_id, round(CAST(sum(l.d) AS DOUBLE), 6) AS adc_dist
  FROM best b JOIN lut l ON l.j = b.j AND l.code = b.code
  GROUP BY 1
)
SELECT vec_id, adc_dist, rank FROM (
  SELECT vec_id, adc_dist,
         row_number() OVER (ORDER BY adc_dist ASC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= {_PQ_K}
"""
)



def pq_trained_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the TRAINED-codebook PQ-ADC path vs exact squared-L2
    ground truth — the production configuration of the compressed index
    (16 Lloyd-trained codes/subspace vs the seeded 8-code toy books of
    pq_recall_audit; measured curve on operators.similarity.pq_recall)."""
    emb = _emb(spark, sf_dir)
    cb = sim.pq_train_codebooks(
        emb, m=_PQ_M, k_codes=_PQT_CODES, iters=_PQT_ITERS
    )
    books = sim.collect_codebooks(cb)
    codes = sim.pq_encode(emb, books)
    queries = emb.where(F.col("vec_id") < _PQ_RECALL_NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.pq_recall(emb, codes, books, queries, _PQ_K)


PQ_TRAINED_RECALL_AUDIT_SQL = (
    "WITH "
    + _pqt_train_ctes()
    + f""",
cb AS (SELECT j, code, cv FROM c{_PQT_ITERS}),
dims AS (
  SELECT e.vec_id, c.j, c.code,
         list_reduce(list_transform(generate_series(1, {_PQ_SUB}),
             t -> power(CAST(e.embedding[c.j * {_PQ_SUB} + t] AS DOUBLE) - c.cv[t], 2)),
             (x, y) -> x + y) AS d
  FROM embeddings e CROSS JOIN cb c
),
best AS (
  SELECT vec_id, j, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, code ASC) AS r
    FROM dims) WHERE r = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < {_PQ_RECALL_NQ}),
lut AS (
  SELECT q.query_id, c.j, c.code,
         CAST(round(list_reduce(list_transform(generate_series(1, {_PQ_SUB}),
             t -> power(CAST(q.qv[c.j * {_PQ_SUB} + t] AS DOUBLE) - c.cv[t], 2)),
             (x, y) -> x + y), 6) AS DECIMAL(18,6)) AS d
  FROM q CROSS JOIN cb c
),
adc AS (
  SELECT l.query_id, b.vec_id, round(CAST(sum(l.d) AS DOUBLE), 6) AS adc_dist
  FROM best b JOIN lut l ON l.j = b.j AND l.code = b.code
  GROUP BY 1, 2
),
adc_top AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY adc_dist ASC, vec_id ASC) AS r
    FROM adc WHERE vec_id <> query_id)
  WHERE r <= {_PQ_K}
),
truth AS (
  SELECT q.query_id, e.vec_id,
         round({_L2_ORACLE.format(a='e.embedding', b='q.qv')}, 6) AS l2
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
),
truth_top AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY l2 ASC, vec_id ASC) AS r
    FROM truth)
  WHERE r <= {_PQ_K}
),
hits AS (
  SELECT a.query_id, count(*) AS n_hits
  FROM adc_top a JOIN truth_top t ON t.query_id = a.query_id AND t.vec_id = a.vec_id
  GROUP BY 1
)
SELECT q.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / {_PQ_K}, 6) AS recall
FROM q LEFT JOIN hits h USING (query_id)
"""
)


# --- IVF-PQ: coarse IVF cell selection + trained-PQ ADC inside the probed
#     cell — the composed billion-vector layout (cells prune the scan,
#     codes compress what's left). ---


def ivfpq_topk_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    centroids = emb.where(F.col("vec_id") < _IVF_NCENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cb = sim.pq_train_codebooks(
        emb, m=_PQ_M, k_codes=_PQT_CODES, iters=_PQT_ITERS
    )
    books = sim.collect_codebooks(cb)
    query = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    assigned = sim.assign_centroids(emb, centroids)
    return sim.ivfpq_topk(
        assigned, books, centroids, query, _PQ_K, nprobe=1, exclude_id=0
    )


IVFPQ_TOPK_10_SQL = (
    "WITH "
    + _pqt_train_ctes()
    + f""",
cb AS (SELECT j, code, cv FROM c{_PQT_ITERS}),
cents AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
          WHERE vec_id < {_IVF_NCENTROIDS}),
coarse AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         {_cos_sql('e.embedding', 'c.cvec')} AS ccos
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, centroid_id) AS r
    FROM coarse) WHERE r = 1
),
qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT centroid_id
  FROM (SELECT c.centroid_id, {_cos_sql('c.cvec', 'q.qv')} AS pcos
        FROM cents c, qv q
        ORDER BY pcos DESC, centroid_id LIMIT 1)
),
bucket AS (
  SELECT a.vec_id, a.embedding FROM assigned a
  JOIN probe p ON a.centroid_id = p.centroid_id
  WHERE a.vec_id <> 0
),
dims AS (
  SELECT e.vec_id, c.j, c.code,
         list_reduce(list_transform(generate_series(1, {_PQ_SUB}),
             t -> power(CAST(e.embedding[c.j * {_PQ_SUB} + t] AS DOUBLE) - c.cv[t], 2)),
             (x, y) -> x + y) AS d
  FROM bucket e CROSS JOIN cb c
),
best AS (
  SELECT vec_id, j, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, code ASC) AS r
    FROM dims) WHERE r = 1
),
lut AS (
  SELECT c.j, c.code,
         CAST(round(list_reduce(list_transform(generate_series(1, {_PQ_SUB}),
             t -> power(CAST(q.qv[c.j * {_PQ_SUB} + t] AS DOUBLE) - c.cv[t], 2)),
             (x, y) -> x + y), 6) AS DECIMAL(18,6)) AS d
  FROM qv q CROSS JOIN cb c
),
scored AS (
  SELECT b.vec_id, round(CAST(sum(l.d) AS DOUBLE), 6) AS adc_dist
  FROM best b JOIN lut l ON l.j = b.j AND l.code = b.code
  GROUP BY 1
)
SELECT vec_id, adc_dist, rank FROM (
  SELECT vec_id, adc_dist,
         row_number() OVER (ORDER BY adc_dist ASC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= {_PQ_K}
"""
)


# --- REFINE stage (FAISS IndexRefineFlat): the ADC shortlist (k' = 4k
#     candidates from the compressed index) is re-ranked by EXACT L2
#     against the raw vectors of ONLY those k' ids — the standard recall
#     repair for quantization error; the full-corpus scan stays
#     codes-only. Oracle = the IVFPQ scored CTE, shortlisted, joined back
#     to embeddings, exact-L2 re-ranked. ---

_REFINE_SHORT = 4 * _PQ_K

# the IVFPQ oracle up to and including the ADC `scored` CTE, reusable by
# the refine oracle (everything before the final top-k SELECT)
_IVFPQ_SCORED_CTES = IVFPQ_TOPK_10_SQL[: IVFPQ_TOPK_10_SQL.rindex("SELECT vec_id, adc_dist, rank")]

IVFPQ_LAKE_REFINED_10_SQL = (
    _IVFPQ_SCORED_CTES
    + f""", short AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY adc_dist ASC, vec_id ASC) AS r
    FROM scored)
  WHERE r <= {_REFINE_SHORT}
),
rer AS (
  SELECT e.vec_id,
         round(list_reduce(list_transform(generate_series(1, {_PQ_M * _PQ_SUB}),
             i -> power(CAST(e.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE), 2)),
             (x, y) -> x + y), 6) AS l2_dist
  FROM embeddings e JOIN short s USING (vec_id), qv q
)
SELECT vec_id, l2_dist, rank FROM (
  SELECT vec_id, l2_dist,
         row_number() OVER (ORDER BY l2_dist ASC, vec_id ASC) AS rank
  FROM rer)
WHERE rank <= {_PQ_K}
"""
)


# --- IVF-PQ CODES LAKE: pq_encode once at ingest, codes persisted
#     partitionBy(cell id); the query reads nprobe/nlist of the code
#     columns via directory pruning — raw vectors never load at query
#     time (VERDICT r13 #1, the production layout ivfpq_topk names).
#     Ranking is identical to ivfpq_topk over the same books/corpus, so
#     the lake gate shares IVFPQ_TOPK_10_SQL as its oracle: the hash
#     match proves encode-at-ingest == encode-at-query. ---


def _pq_lake_parts(spark: SparkSession, sf_dir: str):
    """Build (or rebuild) the gate codes lake; returns everything the lake
    query paths need: (emb, books, centroid_rows, lake_path, query_vec)."""
    import hashlib
    import os
    import tempfile

    emb = _emb(spark, sf_dir)
    centroids = emb.where(F.col("vec_id") < _IVF_NCENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    centroid_rows = [
        (int(r["centroid_id"]), [float(x) for x in r["embedding"]])
        for r in centroids.collect()
    ]
    cb = sim.pq_train_codebooks(
        emb, m=_PQ_M, k_codes=_PQT_CODES, iters=_PQT_ITERS
    )
    books = sim.collect_codebooks(cb)
    query = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    # ingest half: encode once, persist codes partitioned by cell. The
    # lake is rebuilt per call (deterministic content — overwrite mode),
    # keyed by (sf_dir, pid) so concurrent SFs never collide AND two
    # concurrent processes gating the same sf_dir (parallel pytest
    # workers, concurrent check_gate runs) never race on one path
    # (ADVICE r14): each process overwrites only its own lake.
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{os.getpid()}".encode()
    ).hexdigest()[:16]
    lake = os.path.join(tempfile.gettempdir(), f"finiex_gate_pqlake_{key}")
    assigned = sim.assign_centroids(emb, centroids)
    sim.write_pq_lake(assigned, books, lake)
    return emb, books, centroid_rows, lake, query


def ivfpq_lake_topk_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, books, centroid_rows, lake, query = _pq_lake_parts(spark, sf_dir)
    # query half: literal-probed, partition-pruned ADC over codes only
    return sim.ivfpq_lake_topk(
        spark, lake, books, centroid_rows, query, _PQ_K, nprobe=1, exclude_id=0
    )


def ivfpq_lake_refined_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortlist k' = 4k from the codes lake, then exact-L2 re-rank of only
    those k' raw vectors (`refine_topk`) — the production recall repair."""
    emb, books, centroid_rows, lake, query = _pq_lake_parts(spark, sf_dir)
    shortlist = sim.ivfpq_lake_topk(
        spark, lake, books, centroid_rows, query, _REFINE_SHORT,
        nprobe=1, exclude_id=0,
    )
    return sim.refine_topk(shortlist, emb, query, _PQ_K)


# --- RESIDUAL codes lake: the measured production point (SCALE.md §9 —
#     residual books win on clustered data; + refine -> ~0.995 recall)
#     served from the partition-pruned lake layout. Shares the residual
#     IVFADC oracle: hash proves residual-encode-at-ingest == the
#     self-contained residual query path. ---


def ivfpq_residual_lake_topk_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    emb = _emb(spark, sf_dir)
    centroids = emb.where(F.col("vec_id") < _IVF_NCENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    centroid_rows = [
        (int(r["centroid_id"]), [float(x) for x in r["embedding"]])
        for r in centroids.collect()
    ]
    assigned = sim.assign_centroids(emb, centroids)
    resid = sim.residual_vectors(assigned, centroids)
    cb = sim.pq_train_codebooks(
        resid, m=_PQ_M, k_codes=_PQT_CODES, iters=_PQT_ITERS, vec_col="residual"
    )
    books = sim.collect_codebooks(cb, vec_col="residual")
    query = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{os.getpid()}".encode()
    ).hexdigest()[:16]
    lake = os.path.join(tempfile.gettempdir(), f"finiex_gate_pqrlake_{key}")
    sim.write_pq_lake(resid, books, lake, vec_col="residual")
    return sim.ivfpq_residual_lake_topk(
        spark, lake, books, centroid_rows, query, _PQ_K, nprobe=1, exclude_id=0
    )


# --- BATCHED lake query: a 20-query set amortizes one pruned scan (the
#     serving-throughput shape). Oracle: full-corpus encode (best) once,
#     per-query probe + LUT joins — the relational mirror of the batch
#     plan; per-query rows hash against it directly. ---

_BATCH_Q = 20
_BATCH_K = 5


def ivfpq_lake_batch_topk_20(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, books, centroid_rows, lake, _ = _pq_lake_parts(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < _BATCH_Q).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ivfpq_lake_batch_topk(
        spark, lake, books, centroid_rows, queries, _BATCH_K,
        nprobe=1, exclude_self=True,
    )


IVFPQ_LAKE_BATCH_TOPK_20_SQL = (
    "WITH "
    + _pqt_train_ctes()
    + f""",
cb AS (SELECT j, code, cv FROM c{_PQT_ITERS}),
cents AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
          WHERE vec_id < {_IVF_NCENTROIDS}),
coarse AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         {_cos_sql('e.embedding', 'c.cvec')} AS ccos
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, centroid_id) AS r
    FROM coarse) WHERE r = 1
),
dims AS (
  SELECT e.vec_id, c.j, c.code,
         list_reduce(list_transform(generate_series(1, {_PQ_SUB}),
             t -> power(CAST(e.embedding[c.j * {_PQ_SUB} + t] AS DOUBLE) - c.cv[t], 2)),
             (x, y) -> x + y) AS d
  FROM assigned e CROSS JOIN cb c
),
best AS (
  SELECT vec_id, j, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, code ASC) AS r
    FROM dims) WHERE r = 1
),
qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       WHERE vec_id < {_BATCH_Q}),
probe AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_cos_sql('c.cvec', 'q.qv')} DESC,
                                       c.centroid_id) AS r
    FROM cents c CROSS JOIN qs q) WHERE r <= 1
),
lut AS (
  SELECT q.query_id, c.j, c.code,
         CAST(round(list_reduce(list_transform(generate_series(1, {_PQ_SUB}),
             t -> power(CAST(q.qv[c.j * {_PQ_SUB} + t] AS DOUBLE) - c.cv[t], 2)),
             (x, y) -> x + y), 6) AS DECIMAL(18,6)) AS d
  FROM qs q CROSS JOIN cb c
),
cand AS (
  SELECT p.query_id, a.vec_id FROM assigned a
  JOIN probe p ON a.centroid_id = p.centroid_id
  WHERE a.vec_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id, round(CAST(sum(l.d) AS DOUBLE), 6) AS adc_dist
  FROM cand c
  JOIN best b ON b.vec_id = c.vec_id
  JOIN lut l ON l.query_id = c.query_id AND l.j = b.j AND l.code = b.code
  GROUP BY 1, 2
)
SELECT query_id, vec_id, adc_dist, rank FROM (
  SELECT query_id, vec_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= {_BATCH_K}
"""
)


# --- batched refine: the complete serving path (batch shortlist from
#     the pruned lake + one-plan exact rerank) as a gate. Oracle = the
#     batch scored CTE, per-query shortlisted, exact-L2 re-ranked. ---

_BATCH_SHORT = 4 * _BATCH_K

_IVFPQ_BATCH_SCORED_CTES = IVFPQ_LAKE_BATCH_TOPK_20_SQL[
    : IVFPQ_LAKE_BATCH_TOPK_20_SQL.rindex("SELECT query_id, vec_id, adc_dist, rank")
]

IVFPQ_LAKE_BATCH_REFINED_20_SQL = (
    _IVFPQ_BATCH_SCORED_CTES
    + f""", short AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_dist ASC, vec_id ASC) AS r
    FROM scored)
  WHERE r <= {_BATCH_SHORT}
),
rer AS (
  SELECT s.query_id, s.vec_id,
         round(list_reduce(list_transform(generate_series(1, {_PQ_M * _PQ_SUB}),
             i -> power(CAST(e.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE), 2)),
             (x, y) -> x + y), 6) AS l2_dist
  FROM short s
  JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN qs q ON q.query_id = s.query_id
)
SELECT query_id, vec_id, l2_dist, rank FROM (
  SELECT query_id, vec_id, l2_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY l2_dist ASC, vec_id ASC) AS rank
  FROM rer)
WHERE rank <= {_BATCH_K}
"""
)


def ivfpq_lake_batch_refined_20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete serving path: 20-query batch -> one pruned codes scan
    -> per-query 4k ADC shortlist -> ONE-plan exact-L2 refine."""
    emb, books, centroid_rows, lake, _ = _pq_lake_parts(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < _BATCH_Q).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    short = sim.ivfpq_lake_batch_topk(
        spark, lake, books, centroid_rows, queries, _BATCH_SHORT,
        nprobe=1, exclude_self=True,
    )
    return sim.refine_batch_topk(short, emb, queries, _BATCH_K)


# --- STREAMED serving path (VERDICT r14 #6): the 20-query set arrives
#     as a micro-batch STREAM; foreachBatch drives the batched lake
#     query + one-plan refine per trigger and appends served results.
#     Oracle = IVFPQ_LAKE_BATCH_REFINED_20_SQL verbatim — every query is
#     independent, so the micro-batch boundary cannot change its rows;
#     the hash match proves stream-served == batch-served bit-for-bit
#     (the promotion every other streaming surface got). The forced
#     multi-batch split is pinned by pytest
#     (test_streaming_lake_serving_parity_across_batch_splits). ---


def streaming_lake_serving_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..streaming.ann_stream import streaming_lake_serving

    emb, books, centroid_rows, lake, _ = _pq_lake_parts(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < _BATCH_Q).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    base = os.path.join(
        tempfile.gettempdir(), f"finiex_gate_serving_{os.getpid()}"
    )
    qdir, out_dir, ckpt = (
        os.path.join(base, d) for d in ("queries", "served", "ckpt")
    )
    shutil.rmtree(base, ignore_errors=True)  # fresh run per call (pid-keyed)
    queries.write.parquet(qdir)
    schema = spark.read.parquet(qdir).schema
    qstream = spark.readStream.schema(schema).parquet(qdir)
    q = streaming_lake_serving(
        qstream, lake, books, centroid_rows, out_dir, ckpt, _BATCH_K,
        nprobe=1, refine_vectors=emb, shortlist_k=_BATCH_SHORT,
        exclude_self=True,
    )
    q.awaitTermination(300)
    return spark.read.parquet(out_dir).select(
        "query_id", "vec_id", "l2_dist", "rank"
    )


# --- corpus-trained unigram LM score (CCNet-recipe perplexity signal) ---


def unigram_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.unigram_logprob_scores(_docs(spark, sf_dir))


UNIGRAM_PERPLEXITY_SQL = """
WITH w AS (
  SELECT doc_id, u.w AS w
  FROM (SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        FROM documents), UNNEST(words) AS u(w)
  WHERE u.w <> ''
),
model AS (SELECT w, count(*) AS cnt FROM w GROUP BY 1),
n AS (SELECT count(*) AS total FROM w),
scored AS (
  SELECT w.doc_id,
         CAST(round(ln(CAST(m.cnt AS DOUBLE) / n.total), 6) AS DECIMAL(28,6)) AS lp
  FROM w JOIN model m USING (w), n
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, sum(lp) AS lpsum
  FROM scored GROUP BY 1
)
SELECT doc_id, n_words,
       round(CAST(lpsum AS DOUBLE) / n_words, 6) AS avg_logprob,
       round(exp(-round(CAST(lpsum AS DOUBLE) / n_words, 6)), 6) AS pseudo_ppl
FROM agg
"""


# --- residual IVF-PQ (true FAISS IVFADC): PQ trained on COARSE RESIDUALS
#     v - centroid(v); query ranks by per-cell residual ADC. The oracle
#     reruns the whole pipeline relationally: coarse argmax -> residual
#     table -> unrolled Lloyd on residuals -> probe -> per-cell LUT. ---


def ivfpq_residual_topk_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    centroids = emb.where(F.col("vec_id") < _IVF_NCENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    centroid_rows = [
        (int(r["centroid_id"]), [float(x) for x in r["embedding"]])
        for r in centroids.collect()
    ]
    assigned = sim.assign_centroids(emb, centroids)
    resid = sim.residual_vectors(assigned, centroids)
    cb = sim.pq_train_codebooks(
        resid, m=_PQ_M, k_codes=_PQT_CODES, iters=_PQT_ITERS, vec_col="residual"
    )
    books = sim.collect_codebooks(cb, vec_col="residual")
    query = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    return sim.ivfpq_residual_topk(
        assigned, books, centroid_rows, query, _PQ_K, nprobe=1, exclude_id=0
    )


IVFPQ_RESIDUAL_TOPK_10_SQL = (
    f"""
WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
               WHERE vec_id < {_IVF_NCENTROIDS}),
coarse AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         {_cos_sql('e.embedding', 'c.cvec')} AS ccos
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, centroid_id) AS r
    FROM coarse) WHERE r = 1
),
resid AS (
  SELECT a.vec_id, a.centroid_id,
         list_transform(generate_series(1, {_PQ_M * _PQ_SUB}),
             i -> CAST(a.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
           AS embedding
  FROM assigned a JOIN cents c ON c.centroid_id = a.centroid_id
),
"""
    + _pqt_train_ctes("resid")
    + f""",
cb AS (SELECT j, code, cv FROM c{_PQT_ITERS}),
qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT centroid_id, cvec
  FROM (SELECT c.centroid_id, c.cvec, {_cos_sql('c.cvec', 'q.qv')} AS pcos
        FROM cents c, qv q
        ORDER BY pcos DESC, centroid_id LIMIT 1)
),
bucket AS (
  SELECT r.vec_id, r.embedding FROM resid r
  JOIN probe p ON r.centroid_id = p.centroid_id
  WHERE r.vec_id <> 0
),
dims AS (
  SELECT e.vec_id, c.j, c.code,
         list_reduce(list_transform(generate_series(1, {_PQ_SUB}),
             t -> power(e.embedding[c.j * {_PQ_SUB} + t] - c.cv[t], 2)),
             (x, y) -> x + y) AS d
  FROM bucket e CROSS JOIN cb c
),
best AS (
  SELECT vec_id, j, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, code ASC) AS r
    FROM dims) WHERE r = 1
),
qresid AS (
  SELECT list_transform(generate_series(1, {_PQ_M * _PQ_SUB}),
             i -> CAST(q.qv[i] AS DOUBLE) - CAST(p.cvec[i] AS DOUBLE)) AS qr
  FROM qv q, probe p
),
lut AS (
  SELECT c.j, c.code,
         CAST(round(list_reduce(list_transform(generate_series(1, {_PQ_SUB}),
             t -> power(q.qr[c.j * {_PQ_SUB} + t] - c.cv[t], 2)),
             (x, y) -> x + y), 6) AS DECIMAL(18,6)) AS d
  FROM qresid q CROSS JOIN cb c
),
scored AS (
  SELECT b.vec_id, round(CAST(sum(l.d) AS DOUBLE), 6) AS adc_dist
  FROM best b JOIN lut l ON l.j = b.j AND l.code = b.code
  GROUP BY 1
)
SELECT vec_id, adc_dist, rank FROM (
  SELECT vec_id, adc_dist,
         row_number() OVER (ORDER BY adc_dist ASC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= {_PQ_K}
"""
)


# --- residual lake + REFINE: the full measured production point as one
#     gate (SCALE.md §9: residual books + refine = 0.995 recall@10 on
#     clustered data) — 4k residual-ADC shortlist from the partition-
#     pruned lake, exact-L2 re-rank of only those raw vectors. Oracle =
#     the residual IVFADC scored CTE, shortlisted, re-ranked. ---

_IVFPQ_RESIDUAL_SCORED_CTES = IVFPQ_RESIDUAL_TOPK_10_SQL[
    : IVFPQ_RESIDUAL_TOPK_10_SQL.rindex("SELECT vec_id, adc_dist, rank")
]

IVFPQ_RESIDUAL_LAKE_REFINED_10_SQL = (
    _IVFPQ_RESIDUAL_SCORED_CTES
    + f""", short AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY adc_dist ASC, vec_id ASC) AS r
    FROM scored)
  WHERE r <= {_REFINE_SHORT}
),
rer AS (
  SELECT e.vec_id,
         round(list_reduce(list_transform(generate_series(1, {_PQ_M * _PQ_SUB}),
             i -> power(CAST(e.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE), 2)),
             (x, y) -> x + y), 6) AS l2_dist
  FROM embeddings e JOIN short s USING (vec_id), qv q
)
SELECT vec_id, l2_dist, rank FROM (
  SELECT vec_id, l2_dist,
         row_number() OVER (ORDER BY l2_dist ASC, vec_id ASC) AS rank
  FROM rer)
WHERE rank <= {_PQ_K}
"""
)


def ivfpq_residual_lake_refined_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured production operating point end-to-end: residual codes
    lake (encode-at-ingest) -> partition-pruned per-cell residual ADC
    shortlist (k' = 4k) -> exact-L2 refine of only those raw vectors."""
    import hashlib
    import os
    import tempfile

    emb = _emb(spark, sf_dir)
    centroids = emb.where(F.col("vec_id") < _IVF_NCENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    centroid_rows = [
        (int(r["centroid_id"]), [float(x) for x in r["embedding"]])
        for r in centroids.collect()
    ]
    assigned = sim.assign_centroids(emb, centroids)
    resid = sim.residual_vectors(assigned, centroids)
    cb = sim.pq_train_codebooks(
        resid, m=_PQ_M, k_codes=_PQT_CODES, iters=_PQT_ITERS, vec_col="residual"
    )
    books = sim.collect_codebooks(cb, vec_col="residual")
    query = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{os.getpid()}".encode()
    ).hexdigest()[:16]
    lake = os.path.join(tempfile.gettempdir(), f"finiex_gate_pqrlake_{key}")
    sim.write_pq_lake(resid, books, lake, vec_col="residual")
    shortlist = sim.ivfpq_residual_lake_topk(
        spark, lake, books, centroid_rows, query, _REFINE_SHORT,
        nprobe=1, exclude_id=0,
    )
    return sim.refine_topk(shortlist, emb, query, _PQ_K)


# --- streaming PQ encode: live ingest into the compressed index ---


def streaming_pq_codes_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ann_stream import merged_pq_codes, streaming_pq_encode
    from ..streaming.bars_stream import run_to_memory

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    books = _pq_codebooks(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    hist = sim.pq_encode(emb.where(F.col("vec_id") % 10 != 3), books)

    schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    tail = (
        spark.readStream.schema(schema)
        .parquet(f"{sf_dir}/embeddings.parque*")
        .where(F.col("vec_id") % 10 == 3)
    )
    out = streaming_pq_encode(tail, books)
    name = "gate_streaming_pq_codes"
    run_to_memory(out, name)
    code_cols = [f"pq{j}" for j in range(_PQ_M)]
    merged = merged_pq_codes(
        hist.select("vec_id", *code_cols),
        spark.table(name).select("vec_id", *code_cols),
    )
    stack_args = ", ".join(f"{j}, pq{j}" for j in range(_PQ_M))
    return merged.select(
        "vec_id", F.expr(f"stack({_PQ_M}, {stack_args}) as (j, code)")
    )


STREAMING_PQ_CODES_SQL = f"""
WITH cents AS (SELECT vec_id AS code, embedding AS cvec FROM embeddings
               WHERE vec_id < {_PQ_CODES}),
dims AS (
  SELECT e.vec_id, c.code, CAST((t.i - 1) // {_PQ_SUB} AS INT) AS j,
         power(CAST(e.embedding[t.i] AS DOUBLE) - CAST(c.cvec[t.i] AS DOUBLE), 2) AS sq
  FROM embeddings e
  CROSS JOIN cents c
  CROSS JOIN UNNEST(generate_series(1, {_PQ_M * _PQ_SUB})) AS t(i)
),
subd AS (SELECT vec_id, code, j, sum(sq) AS d FROM dims GROUP BY 1, 2, 3)
SELECT vec_id, j, code FROM (
  SELECT vec_id, j, code,
         row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, code ASC) AS r
  FROM subd)
WHERE r = 1
"""


# --- corpus-trained interpolated unigram/bigram LM score (the next step
#     toward the CCNet/KenLM recipe; delta to true KenLM documented on the
#     operator). λ literals are embedded via repr() so BOTH engines parse
#     the exact same doubles (1.0 - 0.3 != literal 0.7 in IEEE). ---

_BG_LAM = 0.3


def bigram_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.bigram_logprob_scores(_docs(spark, sf_dir), _BG_LAM)


BIGRAM_PERPLEXITY_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                     x -> x <> '') AS ws
  FROM documents
),
w AS (SELECT doc_id, u.w FROM t, UNNEST(ws) AS u(w)),
uni AS (SELECT w, count(*) AS cw FROM w GROUP BY 1),
n AS (SELECT count(*) AS total FROM w),
pairs AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM t, UNNEST(generate_series(1, len(ws) - 1)) AS s(i)
  WHERE len(ws) >= 2
),
bi AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
pre AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1),
scored AS (
  SELECT p.doc_id,
         CAST(round(ln({_BG_LAM!r} * CAST(u.cw AS DOUBLE) / n.total
                       + {1.0 - _BG_LAM!r} * CAST(b.c12 AS DOUBLE) / pre.c1), 6)
              AS DECIMAL(28,6)) AS lp
  FROM pairs p
  JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
  JOIN pre ON pre.w1 = p.w1
  JOIN uni u ON u.w = p.w2, n
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_transitions, sum(lp) AS lpsum
  FROM scored GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(a.n_transitions, 0) AS BIGINT) AS n_transitions,
       floor(CAST(a.lpsum AS DOUBLE) / a.n_transitions * 1000000.0 + 0.5) / 1000000.0
         AS avg_logprob,
       floor(exp(-(floor(CAST(a.lpsum AS DOUBLE) / a.n_transitions * 1000000.0 + 0.5)
                   / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0 AS pseudo_ppl
FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
"""


# --- Kneser-Ney bigram LM score: the published smoothing of the KenLM
#     recipe, at bigram order (absolute discount + continuation prob) ---

_KN_D = 0.75


def kneser_ney_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.kneser_ney_logprob_scores(_docs(spark, sf_dir), _KN_D)


KNESER_NEY_PERPLEXITY_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                     x -> x <> '') AS ws
  FROM documents
),
pairs AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM t, UNNEST(generate_series(1, len(ws) - 1)) AS s(i)
  WHERE len(ws) >= 2
),
bi AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
lft AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1f
        FROM bi GROUP BY 1),
rgt AS (SELECT w2, count(*) AS n1b FROM bi GROUP BY 1),
nt AS (SELECT count(*) AS nt FROM bi),
scored AS (
  SELECT p.doc_id,
         CAST(round(ln((b.c12 - {_KN_D!r}) / l.c1
                       + ({_KN_D!r} * l.n1f / l.c1) * (CAST(r.n1b AS DOUBLE) / nt.nt)),
                    6) AS DECIMAL(28,6)) AS lp
  FROM pairs p
  JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
  JOIN lft l ON l.w1 = p.w1
  JOIN rgt r ON r.w2 = p.w2, nt
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_transitions, sum(lp) AS lpsum
  FROM scored GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(a.n_transitions, 0) AS BIGINT) AS n_transitions,
       floor(CAST(a.lpsum AS DOUBLE) / a.n_transitions * 1000000.0 + 0.5) / 1000000.0
         AS avg_logprob,
       floor(exp(-(floor(CAST(a.lpsum AS DOUBLE) / a.n_transitions * 1000000.0 + 0.5)
                   / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0 AS pseudo_ppl
FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
"""


# --- MODIFIED Kneser-Ney (Chen & Goodman three-discount form — the
#     discount KenLM ships; VERDICT r13 #5) at order 2: D1/D2/D3+
#     estimated from the bigram count-of-counts. The oracle is written out
#     by hand, independently of the loop that builds both the Spark plan
#     and `_ngram_mkn_sql`, so it checks that loop; it mirrors the exact
#     discount parenthesization textually. ---


def modified_kn_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.ngram_mkn_logprob_scores(_docs(spark, sf_dir), order=2)


MODIFIED_KN_PERPLEXITY_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                     x -> x <> '') AS ws
  FROM documents
),
pairs AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM t, UNNEST(generate_series(1, len(ws) - 1)) AS s(i)
  WHERE len(ws) >= 2
),
bi AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
lft AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nn1,
               CAST(sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS nn2,
               CAST(sum(CASE WHEN c12 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS nn3p
        FROM bi GROUP BY 1),
rgt AS (SELECT w2, count(*) AS n1b FROM bi GROUP BY 1),
cc0 AS (SELECT
          CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
          CAST(sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
          CAST(sum(CASE WHEN c12 = 3 THEN 1 ELSE 0 END) AS DOUBLE) AS n3,
          CAST(sum(CASE WHEN c12 = 4 THEN 1 ELSE 0 END) AS DOUBLE) AS n4,
          CAST(count(*) AS DOUBLE) AS nt
        FROM bi),
ccy AS (SELECT *, CASE WHEN n1 + 2.0 * n2 > 0 THEN n1 / (n1 + 2.0 * n2)
                       ELSE 0.0 END AS y
        FROM cc0),
disc AS (SELECT nt,
           CASE WHEN n1 > 0 THEN greatest(1.0 - ((2.0 * y) * n2) / n1, 0.0) ELSE 0.0 END AS d1,
           CASE WHEN n2 > 0 THEN greatest(2.0 - ((3.0 * y) * n3) / n2, 0.0) ELSE 0.0 END AS d2,
           CASE WHEN n3 > 0 THEN greatest(3.0 - ((4.0 * y) * n4) / n3, 0.0) ELSE 0.0 END AS d3
         FROM ccy),
scored AS (
  SELECT p.doc_id,
         CAST(round(ln(
             (CAST(b.c12 AS DOUBLE)
              - (CASE WHEN b.c12 = 1 THEN d.d1
                      WHEN b.c12 = 2 THEN d.d2
                      ELSE d.d3 END)) / CAST(l.c1 AS DOUBLE)
             + ((d.d1 * l.nn1 + d.d2 * l.nn2 + d.d3 * l.nn3p)
                / CAST(l.c1 AS DOUBLE))
               * (CAST(r.n1b AS DOUBLE) / d.nt)
           ), 6) AS DECIMAL(28,6)) AS lp
  FROM pairs p
  JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
  JOIN lft l ON l.w1 = p.w1
  JOIN rgt r ON r.w2 = p.w2, disc d
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_transitions, sum(lp) AS lpsum
  FROM scored GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(a.n_transitions, 0) AS BIGINT) AS n_transitions,
       floor(CAST(a.lpsum AS DOUBLE) / a.n_transitions * 1000000.0 + 0.5) / 1000000.0
         AS avg_logprob,
       floor(exp(-(floor(CAST(a.lpsum AS DOUBLE) / a.n_transitions * 1000000.0 + 0.5)
                   / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0 AS pseudo_ppl
FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
"""


# --- TRIGRAM modified Kneser-Ney: order 3 with CONTINUATION-count
#     backoff (the Chen-Goodman detail real KenLM ships — lower orders
#     count distinct preceding contexts, not raw occurrences). Both
#     layers' discounts estimated from their own count-of-counts; the
#     hand-written oracle mirrors every discount parenthesization
#     textually (the independent order-3 check of the order-N scorer). ---


def trigram_mkn_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.ngram_mkn_logprob_scores(_docs(spark, sf_dir), order=3)


def _mkn_disc_sql(src: str, cnt: str, prefix: str) -> str:
    return f"""
{prefix}cc0 AS (SELECT
    CAST(sum(CASE WHEN {cnt} = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
    CAST(sum(CASE WHEN {cnt} = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
    CAST(sum(CASE WHEN {cnt} = 3 THEN 1 ELSE 0 END) AS DOUBLE) AS n3,
    CAST(sum(CASE WHEN {cnt} = 4 THEN 1 ELSE 0 END) AS DOUBLE) AS n4,
    CAST(count(*) AS DOUBLE) AS nt
  FROM {src}),
{prefix}ccy AS (SELECT *, CASE WHEN n1 + 2.0 * n2 > 0 THEN n1 / (n1 + 2.0 * n2)
                               ELSE 0.0 END AS y
                FROM {prefix}cc0),
{prefix}disc AS (SELECT nt,
    CASE WHEN n1 > 0 THEN greatest(1.0 - ((2.0 * y) * n2) / n1, 0.0) ELSE 0.0 END AS d1,
    CASE WHEN n2 > 0 THEN greatest(2.0 - ((3.0 * y) * n3) / n2, 0.0) ELSE 0.0 END AS d2,
    CASE WHEN n3 > 0 THEN greatest(3.0 - ((4.0 * y) * n4) / n3, 0.0) ELSE 0.0 END AS d3
  FROM {prefix}ccy)"""


TRIGRAM_MKN_PERPLEXITY_SQL = (
    """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                     x -> x <> '') AS ws
  FROM documents
),
trips AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
  FROM t, UNNEST(generate_series(1, len(ws) - 2)) AS s(i)
  WHERE len(ws) >= 3
),
tri AS (SELECT w1, w2, w3, count(*) AS c3 FROM trips GROUP BY 1, 2, 3),
h AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS htot,
             CAST(sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hn1,
             CAST(sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS hn2,
             CAST(sum(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS hn3p
      FROM tri GROUP BY 1, 2),
cc2 AS (SELECT w2, w3, count(*) AS cc2 FROM tri GROUP BY 1, 2),
w2r AS (SELECT w2, CAST(sum(cc2) AS BIGINT) AS t2,
               CAST(sum(CASE WHEN cc2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS wn1,
               CAST(sum(CASE WHEN cc2 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS wn2,
               CAST(sum(CASE WHEN cc2 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS wn3p
        FROM cc2 GROUP BY 1),
ctx1 AS (SELECT w3, count(*) AS c1b FROM cc2 GROUP BY 1),"""
    + _mkn_disc_sql("tri", "c3", "a")
    + ","
    + _mkn_disc_sql("cc2", "cc2", "b")
    + """,
scored AS (
  SELECT p.doc_id,
         CAST(round(ln(
             (CAST(r.c3 AS DOUBLE)
              - (CASE WHEN r.c3 = 1 THEN da.d1
                      WHEN r.c3 = 2 THEN da.d2
                      ELSE da.d3 END)) / CAST(hh.htot AS DOUBLE)
             + ((da.d1 * hh.hn1 + da.d2 * hh.hn2 + da.d3 * hh.hn3p)
                / CAST(hh.htot AS DOUBLE))
               * ((CAST(c.cc2 AS DOUBLE)
                   - (CASE WHEN c.cc2 = 1 THEN db.d1
                           WHEN c.cc2 = 2 THEN db.d2
                           ELSE db.d3 END)) / CAST(w.t2 AS DOUBLE)
                  + ((db.d1 * w.wn1 + db.d2 * w.wn2 + db.d3 * w.wn3p)
                     / CAST(w.t2 AS DOUBLE))
                    * (CAST(x.c1b AS DOUBLE) / db.nt))
           ), 6) AS DECIMAL(28,6)) AS lp
  FROM trips p
  JOIN tri r ON r.w1 = p.w1 AND r.w2 = p.w2 AND r.w3 = p.w3
  JOIN h hh ON hh.w1 = p.w1 AND hh.w2 = p.w2
  JOIN cc2 c ON c.w2 = p.w2 AND c.w3 = p.w3
  JOIN w2r w ON w.w2 = p.w2
  JOIN ctx1 x ON x.w3 = p.w3, adisc da, bdisc db
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_transitions, sum(lp) AS lpsum
  FROM scored GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(a.n_transitions, 0) AS BIGINT) AS n_transitions,
       floor(CAST(a.lpsum AS DOUBLE) / a.n_transitions * 1000000.0 + 0.5) / 1000000.0
         AS avg_logprob,
       floor(exp(-(floor(CAST(a.lpsum AS DOUBLE) / a.n_transitions * 1000000.0 + 0.5)
                   / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0 AS pseudo_ppl
FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
"""
)


# --- order-5 modified KN with vocabulary pruning: the FULL KenLM
#     recurrence (VERDICT r14 #1 — the CCNet-recipe 5-gram perplexity
#     filter). The oracle below is GENERATED by the same loop shape that
#     builds the Spark expression tree, so every level's discount CASE,
#     gamma sum, and interpolation nesting is textually mirrored; the
#     count-threshold <unk> remap happens on the positional token stream
#     in both engines before any n-gram exists. ---

_NGRAM_ORDER = 5
_NGRAM_MIN_WC = 2


def ngram_mkn_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.ngram_mkn_logprob_scores(
        _docs(spark, sf_dir), order=_NGRAM_ORDER, min_word_count=_NGRAM_MIN_WC
    )


def _ngram_mkn_sql(order: int, min_word_count: int | None) -> str:
    n = order
    wc = [f"w{j + 1}" for j in range(n)]
    parts = ["""WITH t AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                     x -> x <> '') AS ws
  FROM documents
),
pos AS (
  SELECT doc_id, i, ws[i] AS w
  FROM t, UNNEST(generate_series(1, len(ws))) AS s(i)
  WHERE len(ws) >= 1
)"""]
    src = "pos"
    if min_word_count is not None and min_word_count > 1:
        parts.append(f"""vc AS (SELECT w, count(*) AS wc FROM pos GROUP BY 1),
mp AS (SELECT p.doc_id, p.i,
              CASE WHEN v.wc < {min_word_count} THEN '<unk>' ELSE p.w END AS w
       FROM pos p JOIN vc v USING (w))""")
        src = "mp"
    leads = ",\n         ".join(
        f"lead(w, {j}) OVER (PARTITION BY doc_id ORDER BY i) AS {wc[j]}"
        for j in range(1, n)
    )
    parts.append(f"""gr0 AS (
  SELECT doc_id, w AS w1,
         {leads}
  FROM {src}
),
grams AS (SELECT * FROM gr0 WHERE {wc[-1]} IS NOT NULL)""")
    # level tables: raw top counts, then distinct-left-extension folds
    parts.append(
        f"g{n} AS (SELECT {', '.join(wc)}, count(*) AS c{n} FROM grams "
        f"GROUP BY {', '.join(str(i + 1) for i in range(n))})"
    )
    for k in range(n - 1, 1, -1):
        sub = wc[n - k:]
        parts.append(
            f"g{k} AS (SELECT {', '.join(sub)}, count(*) AS c{k} FROM g{k + 1} "
            f"GROUP BY {', '.join(str(i + 1) for i in range(len(sub)))})"
        )
    parts.append(f"ctx1 AS (SELECT {wc[-1]}, count(*) AS c1b FROM g2 GROUP BY 1)")
    for k in range(2, n + 1):
        ctx = wc[n - k:-1]
        parts.append(
            f"""x{k} AS (SELECT {', '.join(ctx)}, CAST(sum(c{k}) AS BIGINT) AS t{k},
        CAST(sum(CASE WHEN c{k} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m{k}n1,
        CAST(sum(CASE WHEN c{k} = 2 THEN 1 ELSE 0 END) AS BIGINT) AS m{k}n2,
        CAST(sum(CASE WHEN c{k} >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS m{k}n3p
  FROM g{k} GROUP BY {', '.join(str(i + 1) for i in range(len(ctx)))})"""
        )
    for k in range(2, n + 1):
        parts.append(_mkn_disc_sql(f"g{k}", f"c{k}", f"q{k}").lstrip("\n"))
    # the recurrence, nested bottom-up with the Spark parenthesization
    p = "(CAST(x.c1b AS DOUBLE) / q2disc.nt)"
    for k in range(2, n + 1):
        g, x, d = f"g{k}", f"x{k}", f"q{k}disc"
        p = (
            f"((CAST({g}.c{k} AS DOUBLE)\n"
            f"    - (CASE WHEN {g}.c{k} = 1 THEN {d}.d1\n"
            f"            WHEN {g}.c{k} = 2 THEN {d}.d2\n"
            f"            ELSE {d}.d3 END)) / CAST({x}.t{k} AS DOUBLE)\n"
            f"  + (({d}.d1 * {x}.m{k}n1 + {d}.d2 * {x}.m{k}n2 + {d}.d3 * {x}.m{k}n3p)\n"
            f"     / CAST({x}.t{k} AS DOUBLE)) * {p})"
        )
    joins = [
        f"JOIN g{n} ON " + " AND ".join(f"g{n}.{c} = p.{c}" for c in wc),
        f"JOIN x{n} ON " + " AND ".join(f"x{n}.{c} = p.{c}" for c in wc[:-1]),
    ]
    for k in range(n - 1, 1, -1):
        joins.append(
            f"JOIN g{k} ON " + " AND ".join(f"g{k}.{c} = p.{c}" for c in wc[n - k:])
        )
        joins.append(
            f"JOIN x{k} ON "
            + " AND ".join(f"x{k}.{c} = p.{c}" for c in wc[n - k:-1])
        )
    joins.append(f"JOIN ctx1 x ON x.{wc[-1]} = p.{wc[-1]}")
    crosses = ", ".join(f"q{k}disc" for k in range(n, 1, -1))
    parts.append(
        f"""scored AS (
  SELECT p.doc_id,
         CAST(round(ln({p}), 6) AS DECIMAL(28,6)) AS lp
  FROM grams p
  {chr(10).join('  ' + j for j in joins).strip()}, {crosses}
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_transitions, sum(lp) AS lpsum
  FROM scored GROUP BY 1
)"""
    )
    body = ",\n".join(parts)
    return f"""{body}
SELECT d.doc_id,
       CAST(coalesce(a.n_transitions, 0) AS BIGINT) AS n_transitions,
       floor(CAST(a.lpsum AS DOUBLE) / a.n_transitions * 1000000.0 + 0.5) / 1000000.0
         AS avg_logprob,
       floor(exp(-(floor(CAST(a.lpsum AS DOUBLE) / a.n_transitions * 1000000.0 + 0.5)
                   / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0 AS pseudo_ppl
FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
"""


NGRAM_MKN_PERPLEXITY_SQL = _ngram_mkn_sql(_NGRAM_ORDER, _NGRAM_MIN_WC)


# --- streaming Gopher quality: the quality judgment on INGEST ---


def streaming_gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.bars_stream import run_to_memory
    from ..streaming.quality_stream import (
        merged_quality_flags,
        streaming_quality_flags,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    hist = gopher_quality_gate(spark, sf_dir).where(F.col("doc_id") % 10 != 3)

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    tail = (
        spark.readStream.schema(schema)
        .parquet(f"{sf_dir}/documents.parque*")
        .where(F.col("doc_id") % 10 == 3)
    )
    out = streaming_quality_flags(tail)
    name = "gate_streaming_gopher"
    run_to_memory(out, name)
    return merged_quality_flags(hist, spark.table(name))


# --- STREAMING curation decision table (VERDICT r13 #6): the quality
#     judgment arrives from the LIVE stream for the tail of the corpus
#     (doc_id % 10 == 3) and from batch history for the rest; the merged
#     flags feed curate_corpus via its quality_flags injection point.
#     Oracle = CURATED_CORPUS_SQL verbatim — the hash match proves
#     quality-on-ingest composes into the decision table bit-for-bit
#     (the #355 posture applied to the whole curation pipeline). ---


def streaming_curated_corpus_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import curation as cu
    from ..streaming.bars_stream import run_to_memory
    from ..streaming.quality_stream import (
        merged_quality_flags,
        streaming_quality_flags,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    docs = _docs(spark, sf_dir)
    # batch-flagged history (curation thresholds, not the published 50/2 —
    # see the curated_corpus block comment)
    g = tx.gopher_quality_flags(
        F.col("text"), min_words=_CUR_MIN_WORDS, min_stop_hits=_CUR_MIN_STOPS
    )
    hist = docs.where(F.col("doc_id") % 10 != 3).select(
        "doc_id", g["keep"].alias("keep")
    )
    # live tail: the same rule set applied on INGEST
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    tail = (
        spark.readStream.schema(schema)
        .parquet(f"{sf_dir}/documents.parque*")
        .where(F.col("doc_id") % 10 == 3)
    )
    flags = streaming_quality_flags(
        tail, min_words=_CUR_MIN_WORDS, min_stop_hits=_CUR_MIN_STOPS
    )
    name = "gate_streaming_curated"
    run_to_memory(flags, name)
    merged = merged_quality_flags(
        hist, spark.table(name).select("doc_id", "keep")
    )
    out = cu.curate_corpus(
        docs,
        eval_filter=F.col("doc_id") % 20 == 0,
        shingle_n=3,
        num_hashes=_MH_K,
        bands=_MH_BANDS,
        min_jaccard=0.0,
        max_contamination=_DECON_MAX,
        winnow_k=_WIN_K,
        winnow_w=_WIN_W,
        winnow_min_shared=_WIN_MIN_SHARED,
        winnow_max_doc_freq=_WIN_MAX_DF,
        min_containment=0.8,
        quality_flags=merged,
    )
    return out.select(
        "doc_id",
        F.round("score", 6).alias("score"),
        "is_exact_dup",
        "is_near_dup",
        "is_contained",
        "fails_quality",
        F.round("contamination", 6).alias("contamination"),
        "is_contaminated",
        "kept",
    )


# --- span-containment dedup: the keep-policy over winnowing pairs ---

_CONT_MIN = 0.8


def winnow_containment_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = wn.winnow_fingerprints(_docs(spark, sf_dir), _WIN_K, _WIN_W)
    pairs = wn.winnow_candidate_pairs(fps, _WIN_MIN_SHARED, max_doc_freq=_WIN_MAX_DF)
    out = wn.containment_dedup(fps, pairs, _CONT_MIN)
    return out.select("doc_id", "n_fps", "is_dropped", "dropped_into")


WINNOW_CONTAINMENT_SQL = f"""
WITH {_WINNOW_FPS_CTE},
capped AS (
  SELECT * FROM wfps
  WHERE fp NOT IN (
    SELECT fp FROM wfps GROUP BY 1 HAVING count(DISTINCT doc_id) > {_WIN_MAX_DF}
  )
),
sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {_WIN_MIN_SHARED}
),
scored AS (
  SELECT id_a, id_b, sa.n AS n_a, sb.n AS n_b,
         CAST(shared AS DOUBLE) / least(sa.n, sb.n) AS containment
  FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
),
directed AS (
  SELECT CASE WHEN n_a < n_b OR (n_a = n_b AND id_a > id_b) THEN id_a ELSE id_b END AS small_id,
         CASE WHEN n_a < n_b OR (n_a = n_b AND id_a > id_b) THEN id_b ELSE id_a END AS big_id,
         CASE WHEN n_a < n_b OR (n_a = n_b AND id_a > id_b) THEN n_b ELSE n_a END AS big_n
  FROM scored WHERE containment >= {_CONT_MIN}
),
drops AS (
  SELECT small_id, big_id AS dropped_into
  FROM (SELECT *, row_number() OVER (PARTITION BY small_id
          ORDER BY big_n DESC, big_id ASC) AS r FROM directed)
  WHERE r = 1
),
allsizes AS (SELECT doc_id, count(*) AS n_fps FROM wfps GROUP BY 1)
SELECT s.doc_id, CAST(s.n_fps AS BIGINT) AS n_fps,
       d.dropped_into IS NOT NULL AS is_dropped,
       d.dropped_into
FROM allsizes s LEFT JOIN drops d ON d.small_id = s.doc_id
"""


# --- per-source curation scorecard ---


def source_quality_rollup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import curation as cu

    return cu.source_quality_rollup(
        _docs(spark, sf_dir), min_words=_CUR_MIN_WORDS, min_stop_hits=_CUR_MIN_STOPS
    )


# Gopher CTE names (n/s/m) are reused verbatim from _gopher_sql; the
# per-doc quality score is the rounded _QUALITY_EXPR_SQL so the decimal
# sum is exact on both engines.
SOURCE_QUALITY_ROLLUP_SQL = f"""
WITH g AS (
  {_gopher_sql(_CUR_MIN_WORDS, _CUR_MIN_STOPS)}
),
per_doc AS (
  SELECT d.doc_id, d.source,
         (CASE WHEN trim(d.text) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END) AS tokens,
         CAST({_QUALITY_EXPR_SQL} AS DECIMAL(18,6)) AS q,
         g.keep AS gopher_keep
  FROM documents d JOIN g ON g.doc_id = d.doc_id
),
dups AS (
  SELECT doc_id,
         doc_id <> min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS is_duplicate
  FROM documents
)
SELECT p.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.tokens) AS BIGINT) AS n_tokens,
       round(CAST(sum(p.q) AS DOUBLE) / count(*), 6) AS avg_quality,
       round(CAST(sum(CASE WHEN u.is_duplicate THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_rate,
       round(CAST(sum(CASE WHEN p.gopher_keep THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS gopher_keep_rate
FROM per_doc p JOIN dups u ON u.doc_id = p.doc_id
GROUP BY p.source
ORDER BY p.source
"""



QUERIES: dict[str, Query] = {
    "winnow_fingerprints": Query(
        winnow_fps_gate, WINNOW_FPS_SQL, "winnowing (MOSS) substring fingerprints"
    ),
    "winnow_pairs": Query(
        winnow_pairs_gate,
        WINNOW_PAIRS_SQL,
        "substring-level near-dup pairs via shared winnowing fingerprints",
    ),
    "gopher_quality": Query(
        gopher_quality_gate, GOPHER_QUALITY_SQL, "Gopher/MassiveText quality rule set"
    ),
    "curated_corpus": Query(
        curated_corpus_gate,
        CURATED_CORPUS_SQL,
        "end-to-end curation decision table (dedup x near-dup x quality x decontamination)",
    ),
    "streaming_curated_corpus": Query(
        streaming_curated_corpus_gate,
        CURATED_CORPUS_SQL,
        "quality-on-ingest composed into the decision table: streamed-tail + batch-history flags through curate_corpus == the full-batch oracle",
    ),
    "winnow_containment_dedup": Query(
        winnow_containment_gate,
        WINNOW_CONTAINMENT_SQL,
        "span-containment keep-policy over winnowing pairs",
    ),
    "source_quality_rollup": Query(
        source_quality_rollup_gate,
        SOURCE_QUALITY_ROLLUP_SQL,
        "per-source curation scorecard (docs, tokens, quality, dup rate, keep rate)",
    ),
    "unigram_perplexity": Query(
        unigram_perplexity_gate,
        UNIGRAM_PERPLEXITY_SQL,
        "corpus-trained unigram LM score (CCNet-recipe perplexity signal)",
    ),
    "bigram_perplexity": Query(
        bigram_perplexity_gate,
        BIGRAM_PERPLEXITY_SQL,
        "interpolated unigram/bigram LM score (toward the CCNet/KenLM recipe)",
    ),
    "modified_kn_perplexity": Query(
        modified_kn_perplexity_gate,
        MODIFIED_KN_PERPLEXITY_SQL,
        "modified Kneser-Ney bigram score (Chen-Goodman three-discount, counts-of-counts-estimated)",
    ),
    "trigram_mkn_perplexity": Query(
        trigram_mkn_perplexity_gate,
        TRIGRAM_MKN_PERPLEXITY_SQL,
        "trigram modified KN with continuation-count backoff (order-3 KenLM recurrence)",
    ),
    "opq_adc_topk_10": Query(
        opq_adc_topk_10,
        OPQ_ADC_TOPK_10_SQL,
        "OPQ composition: literal orthogonal rotation -> trained PQ -> ADC top-10",
    ),
    "opq_lake_topk_10": Query(
        opq_lake_topk_10,
        OPQ_ADC_TOPK_10_SQL,
        "OPQ rotate-at-ingest codes lake: rotation+books stamped, raw-probe/rotated-score; shares the OPQ ADC oracle",
    ),
    "ngram_mkn_perplexity": Query(
        ngram_mkn_perplexity_gate,
        NGRAM_MKN_PERPLEXITY_SQL,
        "order-5 modified KN with <unk> vocabulary pruning (the full CCNet/KenLM recurrence)",
    ),
    "kneser_ney_perplexity": Query(
        kneser_ney_perplexity_gate,
        KNESER_NEY_PERPLEXITY_SQL,
        "Kneser-Ney bigram LM score (absolute discount + continuation prob — the KenLM smoothing)",
    ),
    "streaming_gopher_quality": Query(
        streaming_gopher_quality_gate,
        GOPHER_QUALITY_SQL,
        "Gopher quality rules on INGEST: streamed tail + batch history vs the full-corpus oracle",
    ),
    "pq_adc_topk_10": Query(
        pq_adc_topk_10,
        PQ_ADC_TOPK_10_SQL,
        "product-quantization ADC top-k (codes-only scan, decimal-exact ranking)",
    ),
    "pq_recall_audit": Query(
        pq_recall_audit,
        PQ_RECALL_AUDIT_SQL,
        "PQ-ADC recall@k vs exact L2 ground truth",
    ),
    "pq_trained_codebooks": Query(
        pq_trained_codebooks_gate,
        PQ_TRAINED_CODEBOOKS_SQL,
        "per-subspace Lloyd-trained PQ codebooks (grouped quantized k-means)",
    ),
    "pq_trained_recall_audit": Query(
        pq_trained_recall_audit,
        PQ_TRAINED_RECALL_AUDIT_SQL,
        "trained-codebook PQ-ADC recall@k vs exact L2 (production PQ config)",
    ),
    "ivfpq_topk_10": Query(
        ivfpq_topk_10,
        IVFPQ_TOPK_10_SQL,
        "IVF-PQ: coarse cell probe + trained-PQ ADC top-k inside the cell",
    ),
    "ivfpq_lake_topk_10": Query(
        ivfpq_lake_topk_10,
        IVFPQ_TOPK_10_SQL,
        "IVF-PQ codes lake: encode-at-ingest, partition-pruned probe (same oracle as ivfpq_topk_10 — proves lake == in-place ranking)",
    ),
    "ivfpq_lake_refined_10": Query(
        ivfpq_lake_refined_10,
        IVFPQ_LAKE_REFINED_10_SQL,
        "refine stage (FAISS IndexRefineFlat): 4k ADC shortlist from the codes lake, exact-L2 re-rank of only those raw vectors",
    ),
    "ivfpq_lake_batch_topk_20": Query(
        ivfpq_lake_batch_topk_20,
        IVFPQ_LAKE_BATCH_TOPK_20_SQL,
        "batched lake query: 20-query set amortizes one pruned scan (broadcast probe + LUT joins, per-query window top-k)",
    ),
    "ivfpq_lake_batch_refined_20": Query(
        ivfpq_lake_batch_refined_20,
        IVFPQ_LAKE_BATCH_REFINED_20_SQL,
        "the complete serving path: batch shortlist from the pruned lake + one-plan exact-L2 refine",
    ),
    "streaming_lake_serving_20": Query(
        streaming_lake_serving_gate,
        IVFPQ_LAKE_BATCH_REFINED_20_SQL,
        "the serving path STREAMED: micro-batch query stream -> foreachBatch batched lake query + refine; shares the batch oracle",
    ),
    "ivfpq_residual_topk_10": Query(
        ivfpq_residual_topk_10,
        IVFPQ_RESIDUAL_TOPK_10_SQL,
        "residual IVF-PQ (true IVFADC): PQ trained on coarse residuals, per-cell residual ADC",
    ),
    "ivfpq_residual_lake_topk_10": Query(
        ivfpq_residual_lake_topk_10,
        IVFPQ_RESIDUAL_TOPK_10_SQL,
        "residual codes lake: residual-encode-at-ingest, per-cell partition-pruned LUT (same oracle as ivfpq_residual_topk_10)",
    ),
    "ivfpq_residual_lake_refined_10": Query(
        ivfpq_residual_lake_refined_10,
        IVFPQ_RESIDUAL_LAKE_REFINED_10_SQL,
        "the measured production point end-to-end: residual lake shortlist (4k, pruned) + exact-L2 refine",
    ),
    "streaming_pq_codes": Query(
        streaming_pq_codes_gate,
        STREAMING_PQ_CODES_SQL,
        "streaming PQ encode: live ingest into the compressed index, merged vs full-encode oracle",
    ),
    "dedup_exact": Query(dedup_exact, DEDUP_EXACT_SQL, "exact dedup via content hash"),
    "dedup_keep_best": Query(
        dedup_keep_best, DEDUP_KEEP_BEST_SQL, "exact dedup, quality keep-policy"
    ),
    "jaccard_pairs_3gram": Query(jaccard_pairs_3gram, JACCARD_PAIRS_3GRAM_SQL, "n-gram Jaccard pairs"),
    "jaccard_pairs_dfcap": Query(
        jaccard_pairs_dfcap, JACCARD_PAIRS_DFCAP_SQL, "df-capped Jaccard pairs"
    ),
    "streaming_dedup_exact": Query(
        streaming_dedup_exact,
        STREAMING_DEDUP_EXACT_SQL,
        "stateful streaming exact dedup (emit-on-idle), batch-parity oracle",
    ),
    "merged_dedup_view": Query(
        merged_dedup_view_gate,
        MERGED_DEDUP_VIEW_SQL,
        "dedup sink-merge: batch snapshot + fresh-state tail merged at read time",
    ),
    "streaming_minhash_lsh": Query(
        streaming_minhash_lsh,
        STREAMING_MINHASH_LSH_SQL,
        "streaming MinHash-LSH near-dup candidates, verified vs the batch oracle",
    ),
    "streaming_lsh_backfill": Query(
        streaming_lsh_backfill,
        STREAMING_LSH_BACKFILL_SQL,
        "LSH cold-start/backfill: batch band-bucket seed + tail stream + merged view",
    ),
    "contamination_3gram": Query(
        contamination_3gram, CONTAMINATION_3GRAM_SQL, "train/eval n-gram contamination audit"
    ),
    "ivf_train_centroids": Query(
        ivf_train_centroids,
        IVF_TRAIN_CENTROIDS_SQL,
        "quantized Lloyd k-means IVF coarse training (2 iterations)",
    ),
    "token_budget_mix": Query(
        token_budget_mix, TOKEN_BUDGET_MIX_SQL, "per-language token-budget data mixing"
    ),
    "token_budget_mix_greedy": Query(
        token_budget_mix_greedy,
        TOKEN_BUDGET_MIX_GREEDY_SQL,
        "greedy skip-and-continue token-budget mixing (recursive-CTE oracle)",
    ),
    "neardup_keep_best": Query(
        neardup_keep_best, NEARDUP_KEEP_BEST_SQL, "cluster-level quality keep-policy dedup"
    ),
    "minhash_lsh_pairs": Query(minhash_lsh_pairs, MINHASH_LSH_PAIRS_SQL, "MinHash+LSH with verify"),
    "neardup_clusters": Query(
        neardup_clusters_q, NEARDUP_CLUSTERS_SQL, "iterative connected-components clustering"
    ),
    "simhash_docs": Query(simhash_docs, SIMHASH_DOCS_SQL, "64-bit SimHash signatures"),
    "cosine_topk_10": Query(cosine_topk_10, COSINE_TOPK_10_SQL, "brute-force cosine top-k"),
    "ivf_topk_5": Query(ivf_topk_5, IVF_TOPK_5_SQL, "IVF-bucketed ANN"),
    "streaming_ivf_assign": Query(
        streaming_ivf_assign_gate,
        STREAMING_IVF_ASSIGN_SQL,
        "streaming IVF index ingest (row-local assign) merged with batch history",
    ),
    "ivf_recall_audit": Query(
        ivf_recall_audit,
        IVF_RECALL_AUDIT_SQL,
        "recall@k of the IVF path vs brute-force truth, per query point",
    ),
    "lsh_ann_topk_5": Query(
        lsh_ann_topk_5, LSH_ANN_TOPK_5_SQL, "random-hyperplane LSH-bucketed ANN"
    ),
    "lsh_ann_multiprobe_8": Query(
        lsh_ann_multiprobe_8, LSH_ANN_MULTIPROBE_8_SQL, "multiprobe LSH ANN (Hamming-1 ring)"
    ),
    "embedding_neardup": Query(embedding_neardup, EMBEDDING_NEARDUP_SQL, "embedding near-dup pairs"),
    "embedding_neardup_lsh": Query(
        embedding_neardup_lsh,
        EMBEDDING_NEARDUP_LSH_SQL,
        "banded-LSH threshold near-dup (candidates via band-bucket join, verified)",
    ),
    "embedding_neardup_lsh_recall": Query(
        embedding_neardup_lsh_recall,
        EMBEDDING_NEARDUP_LSH_RECALL_SQL,
        "measured per-label recall of the LSH near-dup path vs the exact operator",
    ),
    "decontaminated_train": Query(
        decontaminated_train,
        DECONTAMINATED_TRAIN_SQL,
        "per-train-doc eval-overlap + keep decision (decontamination)",
    ),
    "embedding_neardup_clusters": Query(
        embedding_neardup_clusters,
        EMBEDDING_NEARDUP_CLUSTERS_SQL,
        "semantic dedup: embedding pairs -> connected components",
    ),
    "text_stats": Query(text_stats, TEXT_STATS_SQL, "token counts + quality score"),
    "pii_redaction": Query(
        pii_redaction, PII_REDACTION_SQL, "PII scrub (email/IP/phone) + audit counts"
    ),
    "repetition_stats": Query(
        repetition_stats_q, REPETITION_STATS_SQL, "within-doc repetition fractions"
    ),
    "quality_quantile_40": Query(
        quality_quantile_gate,
        QUALITY_QUANTILE_SQL,
        "keep-top-40%-per-language quantile gate",
    ),
    "lang_id": Query(lang_id, LANG_ID_SQL, "heuristic language ID"),
    "tfidf_topterms_3": Query(
        tfidf_topterms_3, TFIDF_TOPTERMS_3_SQL, "top-3 TF-IDF terms per doc"
    ),
    "doc_fingerprints": Query(doc_fingerprints, DOC_FINGERPRINTS_SQL, "md5 fingerprints"),
    "multimodal_meta": Query(multimodal_meta, MULTIMODAL_META_SQL, "binary-column metadata plumbing"),
    "multimodal_decode": Query(
        multimodal_decode,
        MULTIMODAL_DECODE_SQL,
        "REAL BMP decode through the codec seam, pixel-stat hash-matched",
    ),
    "multimodal_decode_compressed": Query(
        multimodal_decode_compressed,
        MULTIMODAL_DECODE_COMPRESSED_SQL,
        "native PNG inflate+defilter (all 5 filters), pixel-stat hash-matched",
    ),
    "multimodal_decode_jpeg": Query(
        multimodal_decode_jpeg,
        MULTIMODAL_DECODE_JPEG_SQL,
        "native baseline JPEG decode (huffman+IDCT+420), pixel-stat hash-matched",
    ),
    "multimodal_resize": Query(
        multimodal_resize,
        MULTIMODAL_RESIZE_SQL,
        "decode -> NN resize -> re-encode -> decode, index-rule oracle",
    ),
    "multimodal_frames": Query(
        multimodal_frames,
        MULTIMODAL_FRAMES_SQL,
        "PPM-stream frame sampling + per-frame decode, formula oracle",
    ),
    "multimodal_chunks": Query(
        multimodal_chunks, MULTIMODAL_CHUNKS_SQL, "fixed-size binary chunk fingerprints"
    ),
    "multimodal_audio_frames": Query(
        multimodal_audio_frames,
        MULTIMODAL_AUDIO_FRAMES_SQL,
        "native WAV/PCM decode + per-frame integer audio stats, formula oracle",
    ),
    "sample_deterministic_30": Query(
        sample_deterministic_30, SAMPLE_DETERMINISTIC_30_SQL, "hash-bucket deterministic sample"
    ),
    "stratified_sample_audit": Query(
        stratified_sample_audit, STRATIFIED_SAMPLE_AUDIT_SQL, "per-stratum sample audit counts"
    ),
}
