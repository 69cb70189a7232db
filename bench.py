"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is executed once for warm-up-free wall time measured around a
full materialization. Since r14 the timed action is the NOOP SINK
(guide §1.4: `df.write.format("noop").mode("overwrite").save()` computes
EVERY column of every row and discards it). The previous count() action
let Catalyst prune columns — and sometimes whole subtrees — so keys with
wide or expensive output projections were under-timed (r13 verdict item
8; OPTIMIZATION_r14.md records a same-host run under BOTH actions so the
methodology step is visible). Like the count() form, no rows cross to
the driver. Warm-up, timing and fingerprints come from
`hive_nexr_spark.measure`, the same code `tools/measure.py` runs.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the flagship join, the heaviest aggregations, a window op,
# the dedup/similarity pipeline ops, and the streaming-equivalent batch ops.
HEADLINE = [
    "agg_q1",
    "join_multiway",
    "join_broadcast",
    "agg_multi_distinct",
    "subquery_from",
    "window_topk_per_group",
    "dedup_exact",
    "dedup_minhash_lsh_full",
    # dedup_containment_full replaced the bounded dedup_containment in
    # round 11: the bounded twin exists as the oracle-baseline
    # configuration (df-capped corpus ≤ 50 docs — a correctness fixture,
    # not a workload); _full runs the IDENTICAL plan over the whole
    # corpus, which is the shape whose cost matters at 100 TB
    "dedup_containment_full",
    "dedup_simhash_banded",
    "dedup_embedding_lsh_full",
    "events_window_batch",
    "sessionize_events",
    # added round 5: bucketed running-window physical shape (the one
    # headline class not otherwise covered); same-set round-over-round
    # comparisons use the intersection of query keys
    "pack_sequences",
    # added round 5 (curation family): TF-IDF's two corpus aggregations,
    # the repetition filters' 2-gram explode, the shuffle-free mixture
    # sample, and the higher-order-function quantization projection
    "text_repetition_filters",
    "quantize_embeddings_int8",
    # added round 6: the chunking/corpus-stats family (explode-heavy
    # narrow scans + two-level aggregations) and the iterative k-means
    # loop. Streaming queries (incl. the round-6 stream-stream interval
    # join) stay out of the headline set as before — micro-batch
    # machinery, not operator throughput. Same-set round-over-round
    # comparisons use the intersection of query keys (BENCH_NOTES.md).
    "chunk_documents",
    "stratified_sample_sources",
    "kmeans_embeddings",
    # added round 7: the trained-quantizer ANN variant (kmeans → IVF
    # composition), SemDedup-style semantic dedup (cluster-bounded pair
    # search), and the UNION-WINDOW as-of join (single keyed exchange)
    "similarity_ivf_kmeans_topk",
    "dedup_semantic_kmeans",
    "events_asof_join",
    # added round 7: DSIR importance resampling (one token-level shuffle
    # + broadcast LLR table + TakeOrderedAndProject top-k), exact
    # histogram-quantile curriculum sharding, the round-7 CDC merge, and
    # the vocab-bounded BPE pair statistic. (The r13 build briefly retired
    # events_cdc_merge for line-length headroom; the optimization round
    # restored it — bench entries are add-only — and reclaimed the
    # headroom by emitting the final line with compact JSON separators.)
    "dsir_select_topk",
    "events_cdc_merge",
    "curriculum_shards",
    "bpe_top_pairs",
    # added round 8: exact substring-level dedup (stride-1 window digests
    # + per-doc span merge — the heaviest new op), BPE-apply (distinct-
    # word segmentation + broadcast join back), the single-scan quality
    # classifier, and the r7 exact set-similarity join (promoted)
    "dedup_exact_substrings",
    "tokenize_bpe_apply",
    "quality_classifier_scores",
    "dedup_jaccard_prefix_filter",
    # added round 8 (second wave): PQ ANN (codebooks + broadcast ADC
    # LUT) and the bigram-LM perplexity ladder step
    "perplexity_bigram",
    # added round 9: BPE merge-loop training (unrolled vocab-bounded
    # loop), the FIRST streaming headline entry — MinHash band near-dup
    # per micro-batch vs a static index (its fingerprint comes from the
    # StreamingQueryListener totals, not the job-group store) — the
    # persisted-index IVF-PQ lifecycle (build + query-from-index), and
    # the bloom membership gate
    "bpe_train_merges",
    "events_stream_neardup",
    "similarity_ivf_pq_persisted",
    # added round 9 (second wave): bounded-memory Misra-Gries heavy
    # hitters (mapInPandas sketch + exact recount), the algebraic MV
    # delta-merge, and the Morton-layout clustering analysis
    "token_heavy_hitters_bounded",
    "events_mv_incremental",
    "layout_zorder_stats",
    # the composed clean→dedup→decontaminate→pack pipeline — the single
    # heaviest realistic job shape in the suite
    "pipeline_pretrain_e2e",
    # round 9 third wave: the unrolled matrix-free power iteration (the
    # iterative-linear-algebra plan shape)
    "similarity_pca_power",
    # round 10: true-IVFADC residual encoding with its measured
    # recall@k comparison (the round's showcase — coarse train + both PQ
    # chains + the exact-d2 baseline, evaluation-harness cost by
    # design), the unigram-LM trainer's unrolled hard-EM Viterbi loop,
    # the sparse hashed-n-gram logistic GD loop, and the streaming
    # decontamination gate (listener fingerprint). To stay inside the
    # 1,800-char final-line guard, five redundant keys retired — each
    # plan shape still covered: having_filter (⊂ agg_q1/subquery_from),
    # chunk_dedup_exact (⊂ dedup_exact + chunk_documents),
    # token_heavy_hitters (superseded by the bounded-memory variant),
    # perplexity_unigram (ladder covered by perplexity_bigram),
    # decontaminate_benchmark (the same broadcast-shingle-overlap shape
    # now measured by events_stream_decontaminate and inside
    # pipeline_pretrain_e2e). Like-for-like round comparisons use key
    # intersections (BENCH_NOTES.md), so retirements shrink the shared
    # set but never skew it.
    "similarity_ivf_pq_residual",
    "tokenize_unigram_train",
    "quality_classifier_train_ngram",
    "events_stream_decontaminate",
    # round 10 (second wave): the WordPiece trainer (the unrolled-loop
    # shape with per-level lineage truncation — a different plan class
    # than the persist-linear BPE chain), BM25 retrieval (broadcast
    # query onto the tf stream + TakeOrdered), and the Count-Min cell
    # build (vocab-bounded linear-sketch aggregation). To stay inside
    # the 1,800-char final-line guard (the contract test caught the
    # 53-key set at a worst-case 1,883), four more redundant keys
    # retired — each plan shape still covered: dedup_minhash_lsh (the
    # _full variant is the same pipeline unbounded),
    # similarity_bruteforce_topk (the exact-d2 baseline is embedded in
    # similarity_ivf_pq_residual's measured-recall harness),
    # tfidf_topk_terms (the same two corpus aggregations + broadcast df
    # + top-k shape now measured by retrieval_bm25_topk),
    # domain_mix_sample (shuffle-free hash-threshold projection, the
    # class quantize_embeddings_int8 still covers)
    "tokenize_wordpiece_train",
    "retrieval_bm25_topk",
    "agg_countmin_portable",
    # round 12: the bottom-k KMV overlap sketch (TakeOrdered(k) sketches
    # + semi-join coincidence counting — the union-mergeable set-ops
    # sketch class), partition-scoped compaction (the sequenced partial-
    # rewrite maintenance shape), and the LSH-index delete→re-admit
    # lifecycle (the grouped sequenced-tombstone read path). To keep the
    # 1,800-char final-line guard's headroom, four redundant keys
    # retired — each plan shape still covered: similarity_ivf_topk
    # (sampled-centroid IVF ⊂ similarity_ivf_kmeans_topk, same
    # assign/probe/rerank plan plus the training loop),
    # similarity_pq_topk (codebook + broadcast ADC LUT — both PQ chains
    # are built inside similarity_ivf_pq_residual's measured-recall
    # harness), text_quality_scores (single-scan projection+agg ⊂
    # quality_classifier_scores), dedup_bloom_filter (broadcast
    # membership gate — the class events_stream_decontaminate and the
    # pipeline's decontaminate stage still measure)
    "sketch_kmv_overlap",
    "table_compact_partition",
    "dedup_lsh_index_reinsert",
    # round 13: checkpoint-restart exactly-once (crash-injected
    # foreachBatch resumed from a real checkpointLocation — the restart
    # recovery cost IS the streaming production contract), the vector-
    # index delete→re-admit lifecycle (sequenced tombstones on the
    # persisted IVF-PQ index), and the field-ID schema-evolution read
    # path (per-write-schema dir groups mapped by column id — a new
    # read-plan class). One redundant key retired to hold the
    # 1,800-char final-line guard's headroom (reclaimed instead via the
    # compact-separator final line; events_cdc_merge restored above —
    # bench entries are add-only from the optimization rounds on).
    "events_stream_checkpoint_restart",
    "similarity_ivf_pq_delete_reinsert",
    "table_schema_rename_drop",
]


def main() -> None:
    from hive_nexr_spark import measure
    from hive_nexr_spark.io import DEFAULT_SF_DIR as sf_dir
    from hive_nexr_spark.session import get_session

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    here = os.path.dirname(os.path.abspath(__file__))
    sidecars = [os.path.join(here, "BENCH_METRICS.json")]
    # Round-stamped fingerprint sidecar (r10 verdict #2): BENCH_METRICS.json
    # is gitignored (per-run scratch), so plan-fingerprint history was not
    # artifact-durable round-over-round. At the official bench sf (>= 0.1)
    # also write BENCH_METRICS_r{N}.json — committed each round alongside
    # BENCH_r{N}.json so wall-clock drift can be judged against plan
    # fingerprints without archaeology. Smoke-sf runs (0.001/0.01) skip the
    # round file so local iteration never shadows the real record. The
    # label is worked out before the first key runs, so a bad
    # SPARK_GRAFT_BENCH_ROUND fails in seconds, not after the sweep.
    if isinstance(sf_val, float) and sf_val >= 0.1:
        sidecars.append(
            os.path.join(here, f"BENCH_METRICS_r{measure.round_no()}.json"))

    spark = get_session(app_name="hive-nexr-spark-bench")
    listener = measure.warm_up(spark, sf_dir)
    timings: dict[str, float] = {}
    metrics: dict[str, dict[str, int]] = {}
    for name in HEADLINE:
        _, rec = measure.run_key(spark, name, sf_dir, listener)
        timings[name] = rec["wall"]
        metrics[name] = rec["metrics"]
        if name.startswith("events_stream_"):
            metrics[name].update(rec["stream"])

    # The driver captures only a bounded tail of stdout, so the FINAL line
    # must stay compact (guard-tested < 1800 chars in tests/test_bench_contract.py;
    # round 8's inline `metrics` dict pushed it to ~9,280 chars and the driver
    # recorded parsed:null). The per-query plan-metric fingerprints are emitted
    # on their OWN earlier line AND persisted to a sidecar file next to bench.py
    # so they survive regardless of tail-capture length.
    metrics_payload = json.dumps({"metrics": metrics, "sf": sf_val})
    for sidecar in sidecars:
        try:
            with open(sidecar, "w") as fh:
                fh.write(metrics_payload + "\n")
        except OSError:
            pass  # sidecar is best-effort; stdout line below is authoritative
    print(metrics_payload)
    # Compact separators: 52 headline keys no longer fit the driver's
    # 2,000-char stdout tail with default ", "/": " rendering; compact
    # JSON is byte-identical semantically and buys ~110 chars of headroom
    # (guard-tested in tests/test_bench_contract.py).
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
