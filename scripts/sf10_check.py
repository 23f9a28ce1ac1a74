#!/usr/bin/env python
"""sf10 scaling sweep (round-8 item 2): one more decade over the sf1 sweep.

SF1.md proves correctness + scaling at 10x bench scale; this measures the
heaviest registry queries at 100x bench scale (sf10 ~ TPC-H sf10 shape,
60M lineitem rows) and records the sf1 -> sf10 wall ratio per query. The
sf10 directory is synthesized from the sf1 synth with the SAME machinery
(scripts/scale_check.build_synth, replicas=10) — except documents use the
"caesar" perturbation: a per-replica alphabet rotation via translate()
keeps word boundaries, lengths and within-replica dup structure exactly,
while making shingle sets DISJOINT across replicas. (Stacking the sf1
append-one-token scheme twice would make every base document a 100-way
near-dup cluster, and the dedup queries would measure that data artifact
instead of the engine.)

Linear-ish ratios (<= ~12x for 10x data on the fixed 32-core box) mean no
quadratic stage or skew cliff hides below the sf1 horizon. Results land in
SCALE.md §7.

    python scripts/sf10_check.py             # build (if absent) + measure
    python scripts/sf10_check.py --rebuild   # force rebuild of sf10 only
    python scripts/sf10_check.py minhash_lsh_pairs extreme_moves_hourly
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from finiextestingide_spark.session import build_session  # noqa: E402
from scripts.scale_check import build_synth  # noqa: E402

SF1 = "/tmp/sf1_synth"
SF10 = "/tmp/sf10_synth"

# the heaviest registry queries by sf1 wall (SF1.md), one per engine
# surface: replay fan-out, dedup/LSH, reconciliation join, ingest-quality
# scan, stateful replay oracles, TF-IDF, clustering, window scans,
# trade analytics, plus the two new round-8 surfaces
TARGETS = [
    "replay_loadtest_40",
    "minhash_lsh_pairs",
    "order_reconciliation",
    "streaming_reconciliation",
    "quality_check_ticks",
    "replay_scaleout_oracle",
    "replay_pyramid_oracle",
    "tfidf_topterms_3",
    "neardup_keep_best",
    "extreme_moves_hourly",
    "trade_analytics_by_scenario",
    "multimodal_decode_compressed",
    "multimodal_decode_jpeg",
    # round-9 item 3: the ANN/similarity surface now has real 10x/100x
    # rows (build_synth replicates embeddings with per-replica orthogonal
    # perturbation) instead of constant-input ratios
    "cosine_topk_10",
    "ivf_topk_5",
    "embedding_neardup",
    "lsh_ann_multiprobe_8",
    # round-11 surfaces: the two designated reconcile-backfill shapes and
    # the kafka-wire decode (scan-bound rows recorded in SCALE.md §7)
    "streaming_reconcile_restart",
    "merged_reconcile_view",
    "bus_decode_ticks",
    # round-12: the LSH cold-start/backfill protocol (seed-cost row in
    # SCALE.md §7)
    "streaming_lsh_backfill",
    # round-12 new operators: the winnowing substring near-dup (the pair
    # join is the quadratic-risk stage its budgets guard) and the
    # end-to-end curation pipeline (joins the four audited stage plans)
    "winnow_pairs",
    "curated_corpus",
    "winnow_containment_dedup",
    "source_quality_rollup",
    "unigram_perplexity",
    "pq_adc_topk_10",
    # round-13 new operators: the interpolated bigram LM (three model
    # aggregations over the narrow transition stream), the grouped
    # residual-free PQ TRAINING cost (write-once index build), and the
    # trained-recall audit. curated_corpus re-measures with the fifth
    # (span-containment) judgment. ivfpq_* are deliberately absent:
    # their wall is the training subtree already measured by
    # pq_trained_codebooks (the misleading-row class); streaming_pq_codes
    # is drain-dominated like the other streaming rows.
    "bigram_perplexity",
    "pq_trained_codebooks",
    "pq_trained_recall_audit",
    # round-14 new operators: modified KN (the heaviest LM row — the
    # count-of-counts aggregate + per-context N_k ride the bigram shape)
    # and the composed streaming curation table. ivfpq_lake_* are
    # deliberately absent: their wall is training + the one-time lake
    # write (the misleading-row class; the ingest-vs-query split is
    # scripts/pq_lake_cost.py's row in SCALE.md instead).
    "modified_kn_perplexity",
    "streaming_curated_corpus",
    # round-15 new operators: the full order-5 MKN with vocabulary
    # pruning — now the heaviest LM row (adds the vocab count + remap
    # shuffle + per-doc array rebuild and three more roll-up levels) —
    # and trigram MKN (queued r14, measured here for the ladder's
    # order-3 point of comparison). opq_adc_topk_10 and
    # streaming_lake_serving_20 are deliberately absent: OPQ's wall is
    # the Lloyd training subtree (misleading-row class) and the serving
    # stream is trigger-cadence-dominated (its per-trigger plan IS the
    # batched plan).
    "ngram_mkn_perplexity",
    "trigram_mkn_perplexity",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("targets", nargs="*", default=None)
    args = ap.parse_args()

    spark = build_session("sf10-check")
    spark.sparkContext.setLogLevel("ERROR")

    if not os.path.exists(f"{SF1}/documents.parquet"):
        print("building sf1 synth first ...", file=sys.stderr)
        build_synth(spark, SF1)
    if args.rebuild or not os.path.exists(f"{SF10}/documents.parquet"):
        print("building sf10 synth from sf1 ...", file=sys.stderr)
        t0 = time.time()
        build_synth(spark, SF10, src=SF1, replicas=10, doc_perturb="caesar")
        print(f"built in {time.time() - t0:.0f}s", file=sys.stderr)

    import bench

    bench.warmup(spark, SF1)
    results = {}
    for name in args.targets or TARGETS:
        base = bench.time_queries(spark, SF1, names=[name], runs=args.runs)[name]
        big = bench.time_queries(spark, SF10, names=[name], runs=args.runs)[name]
        results[name] = {
            "sf1_sec": base,
            "sf10_sec": big,
            "ratio": round(big / base, 2) if base else None,
        }
        print(json.dumps({name: results[name]}), flush=True)
    print(json.dumps({"sf10_check": results}))
    # markdown table for SCALE.md §7
    print("\n| query | sf1 (s) | sf10 (s) | ratio |", file=sys.stderr)
    print("|---|---|---|---|", file=sys.stderr)
    for n, r in results.items():
        print(
            f"| {n} | {r['sf1_sec']} | {r['sf10_sec']} | {r['ratio']}x |",
            file=sys.stderr,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
