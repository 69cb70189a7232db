"""Physical-plan assertions: the scale properties SURVEY.md §2/§4 promise.

These guard the 100 TB posture, not just correctness: filters must reach the
parquet scan, dimension joins must broadcast, bucketed joins must not
re-shuffle, and Python must stay out of the relational hot path.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(dfs):
    from hive_nexr_spark.operators.relational import filter_predicate

    plan = _formatted(filter_predicate(dfs["lineitem"]))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "LessThan(l_quantity" in plan


def test_column_pruning_reaches_scan(dfs):
    from hive_nexr_spark.operators.relational import scan_project

    plan = _formatted(scan_project(dfs["lineitem"]))
    # ReadSchema must contain only referenced columns, not e.g. l_shipdate
    assert "l_shipdate" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_dimension_join_broadcasts(dfs):
    from hive_nexr_spark.operators.joins import join_broadcast

    plan = _plan(join_broadcast(
        dfs["lineitem"], dfs["orders"], dfs["customer"], dfs["nation"]))
    assert "BroadcastHashJoin" in plan


def test_orderby_limit_is_topk(dfs):
    from hive_nexr_spark.operators.relational import orderby_limit

    plan = _plan(orderby_limit(dfs["orders"]))
    assert "TakeOrderedAndProject" in plan


def test_no_python_udf_in_relational_core(dfs):
    from hive_nexr_spark.operators.joins import join_multiway

    plan = _plan(join_multiway(dfs))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_smb_join_no_shuffle(spark, sf_dir):
    """Bucketed sort-merge join must read co-located buckets without an
    Exchange on either side (`exec/SMBMapJoinOperator.java:51` parity)."""
    from hive_nexr_spark.queries.streaming_q import _bucketed_smb_join

    # Force the SMJ path (the tiny sf0.001 tables would otherwise broadcast)
    # and materialize so the AQE plan is final before inspecting it.
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = _bucketed_smb_join(spark, sf_dir)
        df.collect()
        plan = _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "SortMergeJoin" in plan
    join_part = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange hashpartitioning(l_orderkey" not in join_part
    assert "Exchange hashpartitioning(o_orderkey" not in join_part


def test_skew_split_pushes_hot_keys_to_scan(dfs):
    """The hot-key IN-list must reach both parquet scans as a pushed filter,
    and both split branches must map-join (no shuffle before the final agg)."""
    from hive_nexr_spark.operators.joins import join_skew_split

    plan = _formatted(join_skew_split(dfs["lineitem"], dfs["orders"]))
    assert plan.count("In(l_orderkey") >= 2   # hot (In) + cold (Not(In)) scans
    assert plan.count("In(o_orderkey") >= 1
    assert "BroadcastHashJoin" in plan


def test_grouping_sets_single_expand(dfs):
    """GROUPING SETS must compile to one Expand + one aggregation pipeline,
    not a UNION of per-set scans."""
    from hive_nexr_spark.operators.aggregates import grouping_sets_agg

    plan = _plan(grouping_sets_agg(dfs["lineitem"]))
    assert plan.count("Expand") == 1
    assert "Union" not in plan


def test_histogram_bins_partial_agg(dfs):
    """Fixed-bin histogram must map-side combine (partial_count before the
    exchange) so 100 TB reduces to O(bins) rows pre-shuffle."""
    from hive_nexr_spark.operators.aggregates import histogram_bins

    plan = _plan(histogram_bins(dfs["lineitem"]))
    assert "partial_count" in plan


def test_ngrams_topk_no_global_window(dfs):
    """Top-k n-grams must rank via TakeOrderedAndProject, never a
    single-partition global window (billions of distinct grams at scale)."""
    from hive_nexr_spark.operators.aggregates import top_ngrams

    plan = _plan(top_ngrams(dfs["documents"]))
    assert "TakeOrderedAndProject" in plan
    # the rank window must consume the k-row top-k output (appear above
    # TakeOrderedAndProject in the tree), never the full distinct-gram set
    if "Window" in plan:
        assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_ivf_assignment_broadcasts_and_partially_aggregates(dfs):
    """IVF cell assignment must broadcast the centroid set and map-side
    combine the argmax (shuffle carries one row per vector, never the
    corpus x centroids product or an n^2 join)."""
    from hive_nexr_spark.datapipe.similarity import ivf_topk

    plan = _plan(ivf_topk(dfs["embeddings"]))
    assert "BroadcastExchange" in plan
    assert "partial_max" in plan or "partial_" in plan
    assert "CartesianProduct" not in plan


def test_lsh_ops_never_cartesian(dfs):
    """Every full-corpus LSH op must join on bucket keys — an all-pairs
    CartesianProduct over documents/vectors is the 100 TB failure mode."""
    from hive_nexr_spark.datapipe.dedup import (
        minhash_lsh_pairs, simhash_pairs_banded)
    from hive_nexr_spark.datapipe.similarity import embedding_dups_lsh

    for df in (
        minhash_lsh_pairs(dfs["documents"], max_doc_id=100000),
        simhash_pairs_banded(dfs["documents"]),
        embedding_dups_lsh(dfs["embeddings"]),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_lsh_band_shuffle_carries_no_vectors(spark, dfs):
    """The embedding-LSH band self-join must shuffle only (vec_id, tbl,
    bkt) — the 64-dim vector payload through a tables-x-duplicated
    exchange is the scale failure the candidate-first restructure
    removed. The vectors may only reappear above the candidate join,
    fetched back by id for exact verification. Broadcast is disabled so
    the tiny test corpus takes the same exchange path a 100 TB corpus
    would."""
    import re

    from hive_nexr_spark.datapipe.similarity import embedding_dups_lsh

    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _formatted(embedding_dups_lsh(dfs["embeddings"]))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    band_exchanges = [
        m for m in re.findall(r"Arguments: hashpartitioning\([^\n]*", plan)
        if "bkt" in m
    ]
    assert band_exchanges, "band self-join should shuffle on bucket keys"
    for ex in band_exchanges:
        assert "v#" not in ex, f"vector payload in band shuffle: {ex}"


def test_corpus_pipeline_single_exchange_no_text(dfs):
    """prepare_corpus (clean → exact dedup → accounting) must run as ONE
    scan pass + ONE digest shuffle: the quality/language filter sits
    below the Union (rejected docs never reach the network), aggregation
    is map-side partial, and the Exchange carries the md5 digest plus
    small numeric columns — never the document text."""
    from hive_nexr_spark.datapipe.textops import prepare_corpus

    import re

    plan = _formatted(prepare_corpus(dfs["documents"]))
    # one Exchange NODE (each node appears once in the tree and once in
    # the details section)
    ex_nodes = re.findall(r"\((\d+)\) Exchange", plan)
    assert len(set(ex_nodes)) == 1, ex_nodes
    assert "partial_min" in plan or "partial_count" in plan
    detail = plan.split(f"({ex_nodes[0]}) Exchange")[-1]
    head = detail.splitlines()[:4]
    assert not any("text#" in ln for ln in head), head


def test_decontaminate_broadcasts_benchmark_side(dfs):
    """The benchmark shingle set must be BROADCAST (eval suites are tiny
    next to a 100 TB corpus) — a shuffled join here would move the full
    corpus shingle stream a second time."""
    from hive_nexr_spark.datapipe.curation import decontaminate

    plan = _plan(decontaminate(dfs["documents"]))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_domain_mix_sample_has_no_shuffle(dfs):
    """The mixture sample is a deterministic projection + filter: any
    Exchange in this plan is a regression (at 100 TB it would shuffle the
    whole corpus to make a per-row decision)."""
    from hive_nexr_spark.datapipe.curation import domain_mix_sample

    plan = _plan(domain_mix_sample(dfs["documents"]))
    assert "Exchange" not in plan


def test_tfidf_broadcasts_df_table_and_combines_map_side(dfs):
    """The document-frequency table is vocabulary-sized and must be
    broadcast back onto the term stream; both corpus-sized aggregations
    must have map-side partial combine."""
    from hive_nexr_spark.datapipe.curation import tfidf_topk

    plan = _formatted(tfidf_topk(dfs["documents"]))
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan


def test_incremental_dedup_shuffles_digests_not_text(spark, dfs):
    """The cross-snapshot anti-join must move 16-byte digests, never
    document text: column pruning should strip `text` before both sides'
    exchanges. Broadcast is disabled so the tiny test corpus takes the
    same exchange path a 100 TB snapshot pair would."""
    import re

    from hive_nexr_spark.datapipe.dedup import incremental_dedup

    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _formatted(incremental_dedup(dfs["documents"]))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "LeftAnti" in plan
    for ex in re.findall(r"Arguments: hashpartitioning\([^\n]*", plan):
        assert "text#" not in ex, f"document text in dedup shuffle: {ex}"


def test_duplicate_clusters_iterations_shuffle_ids_only(dfs):
    """Each label-propagation round must shuffle (doc_id, cluster_id)
    pairs only — no text, no shingle arrays — and never degenerate to a
    cartesian join; the edge list is persisted so the MinHash pipeline
    runs once, not once per round."""
    import re

    from hive_nexr_spark.datapipe.dedup import duplicate_clusters

    df = duplicate_clusters(dfs["documents"])
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    fplan = _formatted(df)
    for ex in re.findall(r"Arguments: hashpartitioning\([^\n]*", fplan):
        assert "text#" not in ex and "sh#" not in ex, (
            f"corpus payload in propagation shuffle: {ex}")


def test_chunking_is_pure_narrow_scan(dfs):
    """Chunking is projection + explode: zero Exchange (at 100 TB a
    shuffle here would move the entire tokenized corpus for no reason)."""
    from hive_nexr_spark.datapipe.chunking import chunk_documents

    plan = _plan(chunk_documents(dfs["documents"]))
    assert "Exchange" not in plan


def test_chunk_dedup_shuffles_digests_not_chunk_text(dfs):
    """Chunk dedup's one shuffle must carry md5 digests only — chunk text
    must be reduced away map-side (partial aggregation) before the
    Exchange."""
    import re

    from hive_nexr_spark.datapipe.chunking import chunk_dedup_decisions

    fplan = _formatted(chunk_dedup_decisions(dfs["documents"]))
    assert "partial_min" in fplan or "partial_count" in fplan
    for ex in re.findall(r"Arguments: hashpartitioning\([^\n]*", fplan):
        assert "chunk_text#" not in ex and "text#" not in ex, (
            f"chunk text in dedup shuffle: {ex}")


def test_heavy_hitters_topk_never_global_sort(dfs):
    """Top-k tokens must be TakeOrderedAndProject (per-partition heaps),
    never a global Sort of the vocabulary, and the token aggregation must
    partially combine map-side."""
    from hive_nexr_spark.datapipe.corpus_stats import token_heavy_hitters

    fplan = _formatted(token_heavy_hitters(dfs["documents"]))
    assert "TakeOrderedAndProject" in fplan
    assert "partial_count" in fplan


def test_heavy_hitters_bounded_misra_gries_shape(dfs):
    """The two-pass frequent-mining plan must run pass 1 ENTIRELY
    JVM-side (r12: the grouping-sets per-partition candidate rule
    replaced the engine's one headline MapInPandas path — zero Python
    workers allowed), broadcast the bounded candidate set back onto the
    token stream, and partially combine map-side."""
    import re

    from hive_nexr_spark.datapipe.corpus_stats import (
        token_heavy_hitters_bounded,
    )

    fplan = _formatted(token_heavy_hitters_bounded(dfs["documents"]))
    assert "MapInPandas" not in fplan
    assert "Expand" in fplan  # the (pid, token) / (pid) grouping sets
    assert "BroadcastHashJoin" in fplan
    assert "partial_count" in fplan
    # the only shuffled keys are per-partition combine rows and candidate
    # tokens post-broadcast-filter; no Exchange may carry document text
    for ex in re.findall(r"Arguments: hashpartitioning\([^\n]*", fplan):
        assert "text#" not in ex, f"document text in shuffle: {ex}"


def test_perplexity_broadcasts_lm_table(dfs):
    """The unigram LM join must be broadcast (vocabulary-sized build
    side); the corpus-sized tf aggregation must partially combine."""
    from hive_nexr_spark.datapipe.corpus_stats import perplexity_unigram

    fplan = _formatted(perplexity_unigram(dfs["documents"]))
    assert "BroadcastHashJoin" in fplan
    assert "partial_count" in fplan


def test_stratified_sample_prefilters_before_window(dfs):
    """The stratum-size join must be broadcast, and the hash-threshold
    pre-filter must sit BELOW the row_number window so the per-stratum
    sort sees ~oversample*quota survivors, not the whole stratum."""
    from hive_nexr_spark.datapipe.corpus_stats import stratified_sample

    fplan = _formatted(stratified_sample(dfs["documents"]))
    assert "BroadcastHashJoin" in fplan
    # Catalyst folds the threshold filter INTO the broadcast-join
    # condition (runs during the join probe, before any shuffle) …
    assert "Join condition: ((u#" in fplan and "< 40.0" in fplan
    # … and pushes a rank-limit (WindowGroupLimit) below the window's
    # Exchange, so each map task keeps only its per-stratum top rows
    assert "WindowGroupLimit" in fplan


def test_kmeans_iterations_broadcast_centroids(dfs):
    """Every Lloyd iteration must contact centroids via a broadcast
    1-ROW nested array (r9: assignment is an array_min PROJECTION —
    zero Exchange, no corpus-payload shuffle; the r8 form shuffled
    corpus rows through a groupBy argmin) and the only per-iteration
    shuffle is the per-cluster mean recompute (partial_sum/count)."""
    from hive_nexr_spark.datapipe.similarity import kmeans_clusters

    plan = _plan(kmeans_clusters(dfs["embeddings"]))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2  # 1-row nested
    # centroid array per iteration: no equi-key -> BNLJ broadcast
    fplan = _formatted(kmeans_clusters(dfs["embeddings"]))
    assert "partial_sum" in fplan and "partial_count" in fplan
    # the argmin itself no longer aggregates at all
    assert "partial_min" not in fplan


def test_remove_boilerplate_broadcasts_decisions(dfs):
    """The keep/drop verdict must come from a BROADCAST join against the
    duplicated-digest decision table — chunk text must not shuffle to be
    judged; the only text-bearing Exchange is the per-doc re-assembly."""
    import re

    from hive_nexr_spark.datapipe.chunking import remove_boilerplate

    fplan = _formatted(remove_boilerplate(dfs["documents"]))
    assert "BroadcastHashJoin" in fplan
    exchanges = re.findall(r"Arguments: hashpartitioning\([^\n]*", fplan)
    text_bearing = [e for e in exchanges if "chunk_text" in e]
    # re-assembly shuffle keys on doc_id, never on digest/chunk_text
    for e in text_bearing:
        assert e.startswith("Arguments: hashpartitioning(doc_id"), e


def test_ivf_kmeans_trained_quantizer_broadcasts(dfs):
    """The trained-quantizer IVF must keep the kmeans physical contract
    end-to-end: every corpus x centroids contact (training iterations,
    cell assignment, query probing) broadcasts the k-row centroid side,
    argmin/argmax partially aggregate map-side, and nothing degenerates
    to a CartesianProduct."""
    from hive_nexr_spark.datapipe.similarity import ivf_kmeans_topk

    plan = _plan(ivf_kmeans_topk(dfs["embeddings"]))
    assert "CartesianProduct" not in plan
    # 2 training iterations + corpus assignment + query probing all hit
    # the no-equi-key broadcast join shape; the probe->rerank join is a
    # broadcast hash join on the cell key
    assert plan.count("BroadcastNestedLoopJoin") >= 4
    # r9: assignment argmin is a nested-array projection (no election
    # shuffle); the probe->rerank join broadcasts on the cell key
    fplan = _formatted(ivf_kmeans_topk(dfs["embeddings"]))
    assert "BroadcastHashJoin" in fplan
    assert "partial_min" not in fplan


def test_asof_join_single_exchange_no_join(dfs):
    """The UNION-WINDOW as-of join must be ONE hash exchange on user_id
    plus a per-user sort — no join operator at all (a range/theta join
    here would blow up row counts at 100 TB; the window plan's cost is
    one keyed shuffle regardless of match multiplicity)."""
    from hive_nexr_spark.streaming.events import asof_enrich_batch

    plan = _plan(asof_enrich_batch(dfs["events"]))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_semdedup_clusters_bound_the_pair_join(dfs):
    """SemDedup's near-dup search must self-join on the CLUSTER key
    (equi-join with the id inequality as a residual condition) — never a
    corpus-wide cartesian; centroid contacts (2 training iterations + 1
    assignment) broadcast the k-row side."""
    from hive_nexr_spark.datapipe.similarity import semdedup

    plan = _plan(semdedup(dfs["embeddings"]))
    assert "CartesianProduct" not in plan
    # centroid contacts broadcast the k-row side (the persisted
    # assignment subtree prints per consumer, so count is a floor)
    assert plan.count("BroadcastNestedLoopJoin") >= 3
    # the pair search is an EQUI-join on the cluster key with the cosine
    # threshold as a residual condition — the plan line that proves the
    # search is cell-bounded, not corpus-wide (join strategy free:
    # SMJ/SHJ, or BHJ when AQE broadcast-converts the tiny test corpus)
    import re

    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) "
        r"\[cluster#\d+\], \[cluster#\d+\]", plan)


def test_orc_roundtrip_pushes_down(spark, dfs, sf_dir):
    """The ORC read-back must prune by the partition column and push the
    aggregate partially — format swap costs nothing in plan quality."""
    from hive_nexr_spark.sources.formats import orc_roundtrip

    fplan = _formatted(orc_roundtrip(spark, dfs["lineitem"], sf_dir))
    assert "orc" in fplan.lower()
    # the l_returnflag != 'N' filter lands in the partition listing
    # (PartitionFilters), not a post-scan Filter over all partitions
    assert "PartitionFilters: [isnotnull(l_returnflag" in fplan \
        or "PartitionFilters: [NOT (l_returnflag" in fplan \
        or "(l_returnflag" in fplan.split("PartitionFilters:")[1][:120]
    assert "partial_count" in fplan


def test_cdc_merge_partial_max_keyed_join(dfs):
    """Both latest-state elections must map-side combine (partial_max),
    and the merge must be a user_id-keyed join — never a cartesian."""
    from hive_nexr_spark.streaming.events import cdc_merge_batch

    fplan = _formatted(cdc_merge_batch(dfs["events"]))
    assert "partial_max" in fplan
    assert "CartesianProduct" not in fplan
    assert "FullOuter" in fplan or "full_outer" in fplan.lower()


def test_curriculum_shards_no_global_sort(dfs):
    """Shard assignment must come from the bounded score-histogram
    (broadcast back onto the per-doc stream), NEVER a corpus-wide
    ntile/global sort — no range partitioning anywhere in the plan."""
    from hive_nexr_spark.datapipe.corpus_stats import curriculum_shards

    fplan = _formatted(curriculum_shards(dfs["documents"]))
    assert "rangepartitioning" not in fplan
    assert "BroadcastHashJoin" in fplan
    assert "partial_count" in fplan


def test_bpe_pairs_count_over_vocabulary(dfs):
    """The pair explode must run over the aggregated VOCABULARY (word
    counts first — partial_count in the plan below the explode), and the
    top-k must be TakeOrderedAndProject, never a global sort."""
    from hive_nexr_spark.datapipe.corpus_stats import bpe_top_pairs

    fplan = _formatted(bpe_top_pairs(dfs["documents"]))
    assert "TakeOrderedAndProject" in fplan
    assert "partial_count" in fplan
    assert "partial_sum" in fplan


def test_bpe_train_merges_vocab_bounded_no_python(dfs):
    """The unrolled merge loop: every per-step pair explode runs over
    the cached vocabulary (InMemoryTableScan per level — the persist
    that keeps the lazy DAG linear instead of 2^steps), each 1-row
    argmax broadcasts back (BroadcastNestedLoopJoin is the 1-row
    crossJoin plan), the argmax itself is TakeOrderedAndProject, and
    the whole fold/merge chain stays JVM-side."""
    from hive_nexr_spark.datapipe.corpus_stats import bpe_train_merges

    fplan = _formatted(bpe_train_merges(dfs["documents"]))
    assert "BatchEvalPython" not in fplan and "ArrowEvalPython" not in fplan
    assert "TakeOrderedAndProject" in fplan
    assert "CartesianProduct" not in fplan
    # every level reads a cache, and all 6 argmaxes broadcast back
    assert fplan.count("InMemoryTableScan") >= 6
    assert fplan.count("BroadcastNestedLoopJoin") >= 6


def test_fuzzy_decontaminate_band_join_carries_ids_only(dfs):
    """The train x benchmark candidate join must key on (band, bucket)
    — never a cartesian — and no band/bucket exchange may carry the
    shingle arrays or text (ids + 10-char buckets only)."""
    import re

    from hive_nexr_spark.datapipe.curation import decontaminate_fuzzy

    plan = _plan(decontaminate_fuzzy(dfs["documents"]))
    assert "CartesianProduct" not in plan
    fplan = _formatted(decontaminate_fuzzy(dfs["documents"]))
    for ex in re.findall(
            r"Arguments: hashpartitioning\(band[^\n]*", fplan):
        assert "sh#" not in ex and "text#" not in ex, (
            f"shingles in band shuffle: {ex}")


def test_jaccard_prefix_filter_broadcasts_df_and_no_cartesian(dfs):
    """The global-df table must broadcast back onto the token stream (no
    second corpus shuffle), the candidate join must key on the prefix
    token — never a cartesian — and token text must not ride any
    doc-keyed exchange."""
    from hive_nexr_spark.datapipe.dedup import jaccard_prefix_filter_pairs

    fplan = _formatted(jaccard_prefix_filter_pairs(dfs["documents"]))
    assert "BroadcastHashJoin" in fplan
    assert "CartesianProduct" not in fplan
    assert "partial_count" in fplan


def test_pagerank_iterations_shuffle_ids_only(dfs):
    """Each PageRank iteration must be an id-keyed join + map-side-
    combined sum — no cartesian, and no document text/shingles in any
    exchange (the graph carries doc ids and doubles only)."""
    import re

    from hive_nexr_spark.datapipe.dedup import pagerank_dup_graph

    fplan = _formatted(pagerank_dup_graph(dfs["documents"]))
    assert "CartesianProduct" not in fplan
    assert "partial_sum" in fplan
    for ex in re.findall(r"Arguments: hashpartitioning\([^\n]*", fplan):
        assert "text#" not in ex and "sh#" not in ex, (
            f"payload in pagerank shuffle: {ex}")


def test_cluster_representatives_elect_via_partial_max(dfs):
    """The per-cluster representative election must be a map-side-
    combinable max(struct) aggregation (partial_max in the plan), the
    corpus side must be pruned to (doc_id, n_tokens) before its shuffle
    (no text column in any exchange), and no cartesian anywhere."""
    import re

    from hive_nexr_spark.datapipe.dedup import cluster_representatives

    fplan = _formatted(cluster_representatives(dfs["documents"]))
    assert "partial_max" in fplan
    assert "CartesianProduct" not in fplan
    for ex in re.findall(r"Arguments: hashpartitioning\([^\n]*", fplan):
        assert "text#" not in ex, f"text in representative shuffle: {ex}"


def test_dsir_broadcasts_llr_table_and_takes_ordered(dfs):
    """DSIR importance weights: the B-row log-likelihood-ratio table must
    join back BROADCAST (no second corpus shuffle), the (doc, bucket)
    count aggregation must partially combine map-side, shuffles must
    carry bucket ids never gram text, and the top-k must compile to
    TakeOrderedAndProject, never a global sort."""
    import re

    from hive_nexr_spark.datapipe.curation import dsir_select

    fplan = _formatted(dsir_select(dfs["documents"]))
    assert "BroadcastHashJoin" in fplan
    assert "partial_count" in fplan
    assert "TakeOrderedAndProject" in fplan
    for ex in re.findall(r"Arguments: hashpartitioning\([^\n]*", fplan):
        assert "gram#" not in ex and "text#" not in ex, (
            f"gram text in DSIR shuffle: {ex}")


def test_exact_substring_spans_shuffle_digests_only(dfs):
    """Exact substring dedup (Lee et al. 2022 shape): the occurrence
    count must partially combine map-side (partial_count — a mega-
    duplicated boilerplate digest reduces to one row per map partition
    before the shuffle), no cartesian anywhere, and no exchange may
    carry document text or the token arrays — digests/doc_id/pos only."""
    import re

    from hive_nexr_spark.datapipe.dedup import exact_substring_spans

    fplan = _formatted(exact_substring_spans(dfs["documents"]))
    assert "partial_count" in fplan
    assert "CartesianProduct" not in fplan
    for ex in re.findall(r"Arguments: hashpartitioning\([^\n]*", fplan):
        assert "text#" not in ex and "ts#" not in ex, (
            f"text in substring-dedup shuffle: {ex}")


def test_bpe_apply_broadcast_vocab_no_python(dfs):
    """BPE-apply: the piece vocab and the per-word segmentation table
    must join back BROADCAST (per-character work stays on the distinct-
    word table, the corpus pays one broadcast join), the word count must
    partially combine map-side, the greedy walk must stay JVM-side (no
    BatchEvalPython / no Python UDF anywhere), and the vocab top-k must
    be TakeOrderedAndProject, never a global sort."""
    from hive_nexr_spark.datapipe.corpus_stats import bpe_apply_tokenize

    fplan = _formatted(bpe_apply_tokenize(dfs["documents"]))
    assert "BroadcastHashJoin" in fplan
    assert "partial_count" in fplan
    assert "TakeOrderedAndProject" in fplan
    assert "BatchEvalPython" not in fplan
    assert "ArrowEvalPython" not in fplan


def test_quality_classifier_single_scan_no_exchange(dfs):
    """The quality classifier is one projection over one scan: no
    Exchange, no join, no Python evaluation — it must compose with any
    upstream operator for free."""
    from hive_nexr_spark.datapipe.curation import quality_classifier_scores

    fplan = _formatted(quality_classifier_scores(dfs["documents"]))
    assert "Exchange" not in fplan
    assert "Join" not in fplan
    assert "BatchEvalPython" not in fplan and "ArrowEvalPython" not in fplan


def test_pack_sequences_bpe_no_global_window(dfs):
    """BPE-budget packing: the running-offset window must partition by
    bucket (never a global empty-partition window), and the plan must
    stay Python-free."""
    import re

    from hive_nexr_spark.datapipe.packing import pack_sequences_bpe

    plan = _plan(pack_sequences_bpe(dfs["documents"]))
    for m in re.finditer(r"partitionBy=\[([^\]]*)\]", plan):
        assert m.group(1).strip(), "global window in BPE packing"
    fplan = _formatted(pack_sequences_bpe(dfs["documents"]))
    assert "BatchEvalPython" not in fplan and "ArrowEvalPython" not in fplan


def test_pq_topk_broadcast_codebook_and_lut(dfs):
    """PQ ANN: the m x ks codebook and the per-query distance LUT must
    both ride broadcast joins (the ADC scan never shuffles raw vectors),
    code election and the ADC sum must partially combine map-side, and
    there must be no cartesian."""
    from hive_nexr_spark.datapipe.similarity import pq_topk

    fplan = _formatted(pq_topk(dfs["embeddings"]))
    assert "BroadcastHashJoin" in fplan
    assert "CartesianProduct" not in fplan
    assert "partial_min" in fplan
    assert "partial_sum" in fplan


def test_perplexity_bigram_broadcast_unigram_no_cartesian(dfs):
    """Bigram perplexity: the unigram (w1) table and the (V) total must
    broadcast; the bigram LM join is hash-keyed (no cartesian beyond the
    1-row broadcast); all aggregations partially combine map-side."""
    from hive_nexr_spark.datapipe.corpus_stats import perplexity_bigram

    fplan = _formatted(perplexity_bigram(dfs["documents"]))
    assert "BroadcastHashJoin" in fplan
    assert "partial_count" in fplan
    assert "partial_sum" in fplan


def test_substring_stats_joins_ids_only(dfs):
    """The per-doc duplication rollup must join span aggregates to token
    counts on doc_id with no text column in any exchange."""
    import re

    from hive_nexr_spark.datapipe.dedup import exact_substring_dedup_stats

    fplan = _formatted(exact_substring_dedup_stats(dfs["documents"]))
    assert "CartesianProduct" not in fplan
    for ex in re.findall(r"Arguments: hashpartitioning\([^\n]*", fplan):
        assert "text#" not in ex and "ts#" not in ex, (
            f"text in substring-stats shuffle: {ex}")


def test_range_join_binned_is_equi_not_cartesian(dfs):
    """The point-in-interval range join must compile to a hash-keyed
    equi-join on (user_id, bin) with the BETWEEN as a residual filter —
    never a cartesian/broadcast-nested-loop over per-user pairs."""
    from hive_nexr_spark.streaming.events import range_join_binned

    fplan = _formatted(range_join_binned(dfs["events"]))
    assert "CartesianProduct" not in fplan
    assert "BroadcastNestedLoopJoin" not in fplan
    assert "Join" in fplan


def test_classifier_train_broadcast_weights_partial_agg(dfs):
    """In-engine logistic training: each unrolled step must broadcast
    the 1-row weight table back (BroadcastNestedLoopJoin on a 1-row side
    is the crossJoin's plan) and aggregate gradients with map-side
    partial combine; no Python evaluation anywhere."""
    from hive_nexr_spark.datapipe.curation import quality_classifier_train

    fplan = _formatted(quality_classifier_train(dfs["documents"]))
    assert "partial_avg" in fplan or "partial_sum" in fplan
    assert "BatchEvalPython" not in fplan and "ArrowEvalPython" not in fplan
    # the feature projection is persisted before the GD loop, so the
    # corpus is scanned/tokenized once total (r8 verdict #2): every
    # aggregation (3 steps + final logloss) reads InMemoryTableScan.
    # (The formatted plan re-prints the cached relation's parquet
    # subtree under each reference, so counting "Scan parquet" would
    # overstate real scans — cache materializes on first use.)
    assert fplan.count("InMemoryTableScan") >= 4


def test_ivf_pq_probe_bounded_broadcasts(dfs):
    """IVF-PQ: coarse centroids, PQ codebooks, probes and LUT all ride
    broadcast joins; the candidate restriction keys on the CELL id; no
    cartesian; code/cell elections partially combine map-side."""
    from hive_nexr_spark.datapipe.similarity import ivf_pq_topk

    fplan = _formatted(ivf_pq_topk(dfs["embeddings"]))
    assert "BroadcastHashJoin" in fplan
    assert "CartesianProduct" not in fplan
    # r9: cell routing and code election are nested-array projections
    # (no partial_min election shuffle remains); the ADC accumulation
    # still map-side combines
    assert "partial_sum" in fplan


def test_stream_neardup_band_join_ids_only(dfs, spark, sf_dir):
    """The near-dup matcher (shared by the stream and its batch twin):
    candidates come from a (band, bucket) equi-join — never cartesian —
    and no band/bucket exchange carries text; the stream side's
    signature is a stateless projection (no aggregation before the
    join), which is what lets it run on an unaggregated stream."""
    import re

    from hive_nexr_spark.streaming import neardup as nd

    df = nd.neardup_batch_twin(spark, sf_dir)
    fplan = _formatted(df)
    assert "CartesianProduct" not in fplan
    assert "BatchEvalPython" not in fplan and "ArrowEvalPython" not in fplan
    for ex in re.findall(r"Arguments: hashpartitioning\(band[^\n]*",
                         fplan):
        assert "text#" not in ex, f"text in band shuffle: {ex}"


def test_ivf_pq_query_index_reads_only_index_tables(dfs, spark):
    """The persisted-index QUERY path must plan over the index's codes
    table and the residual LUT only: probe routing, the query residuals
    and the LUT are one leaf built from the query vectors, so the
    embedding file is not scanned by the query plan at all; no codebook
    retraining (no per-subvector Lloyd groupBy over the corpus), no
    cartesian, and the LUT broadcasts."""
    from hive_nexr_spark.datapipe import similarity

    d = similarity._index_scratch()
    similarity.ivf_pq_build_index(dfs["embeddings"], d)
    queries = (dfs["embeddings"]
               .select("vec_id",
                       F.col("embedding").cast("array<double>").alias("qv"))
               .filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "qv"))
    fplan = _formatted(similarity.ivf_pq_query_index(spark, d, queries))
    assert "embeddings.parquet" not in fplan
    assert "annidx_" in fplan  # the index tables are what the plan scans
    assert "CartesianProduct" not in fplan
    assert "BroadcastHashJoin" in fplan
    assert "partial_sum" in fplan  # the ADC accumulation map-side combines


def test_ivf_pq_residual_lut_broadcast_no_python(dfs):
    """True-IVFADC residual scoring: the per-(query, probed cell) ADC
    LUT must BROADCAST (never shuffle corpus-sized data to meet it),
    candidates must key on the cell id, and the whole plan must stay
    JVM-side (no BatchEvalPython) with the ADC sum map-side combined."""
    from hive_nexr_spark.datapipe.similarity import ivf_pq_residual_topk

    fplan = _formatted(ivf_pq_residual_topk(dfs["embeddings"]))
    assert "BatchEvalPython" not in fplan
    assert "CartesianProduct" not in fplan
    assert "BroadcastHashJoin" in fplan
    assert "partial_sum" in fplan
    # the residual LUT keys on (query_id, cell, j, cluster): its join
    # condition references the cell — the per-probed-cell LUT contract
    assert "cell" in fplan


def test_bloom_filter_bit_keyed_joins_only(dfs):
    """Bloom dedup: membership keys on int bit positions (left semi) and
    the exact-membership column on digests — no cartesian, no Python,
    and the bit-set distinct partially aggregates map-side."""
    from hive_nexr_spark.datapipe.dedup import bloom_filter_dedup

    fplan = _formatted(bloom_filter_dedup(dfs["documents"]))
    assert "CartesianProduct" not in fplan
    assert "BatchEvalPython" not in fplan and "ArrowEvalPython" not in fplan
    assert "LeftSemi" in fplan


def test_hash_embeddings_int_shuffles_only(dfs):
    """The embedding build must shuffle (doc_id, bucket, sign-sum) ints
    with map-side partial sums — never text — and assemble the dense
    vector JVM-side (no Python)."""
    import re

    from hive_nexr_spark.datapipe.textops import hash_embeddings

    fplan = _formatted(hash_embeddings(dfs["documents"]))
    assert "partial_sum" in fplan
    assert "BatchEvalPython" not in fplan and "ArrowEvalPython" not in fplan
    for ex in re.findall(r"Arguments: hashpartitioning\([^\n]*", fplan):
        assert "text#" not in ex, f"text in embedding shuffle: {ex}"


def test_weighted_sample_is_takeordered(dfs):
    """The weighted draw must rank via TakeOrderedAndProject
    (per-partition heaps) — never a global sort of the corpus."""
    from hive_nexr_spark.datapipe.curation import weighted_sample_topk

    plan = _plan(weighted_sample_topk(dfs["documents"]))
    assert "TakeOrderedAndProject" in plan


def test_contiguous_ids_no_global_row_window(dfs):
    """The id-assignment must rank inside doc_id-range buckets with the
    only unpartitioned window consuming the bounded bucket-count table —
    a corpus-wide ORDER BY row_number (single partition) is the
    scale-killer this op exists to avoid."""
    import re

    from hive_nexr_spark.datapipe.packing import assign_contiguous_ids

    plan = _plan(assign_contiguous_ids(dfs["documents"]))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    parts = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    # at least one window partitioned by the bucket; any empty-partition
    # window must sit above the bucket aggregation (HashAggregate), i.e.
    # consume the counts table, not the corpus
    assert any("b#" in p for p in parts), parts


def test_mv_incremental_merges_partials_not_corpus(dfs):
    """The MV merge groupBy must consume the Union of two partial
    aggregates (MV-sized input), with map-side combine on both sides —
    never a single re-aggregation whose merge input is the raw corpus."""
    from hive_nexr_spark.streaming.events import mv_incremental_batch

    fplan = _formatted(mv_incremental_batch(dfs["events"]))
    assert "Union" in fplan
    assert "partial_count" in fplan
    # decimal accumulation keeps the merge order-insensitive
    assert "decimal(30,6)" in fplan


def test_zorder_interleave_is_pure_projection(dfs):
    """The Morton interleave must stay JVM-side (no Python eval) with the
    dimension bounds broadcast and the bucket stats map-side combined —
    the layout analysis costs one O(buckets) shuffle, never a sort."""
    from hive_nexr_spark.datapipe.layout import zorder_layout_stats

    fplan = _formatted(zorder_layout_stats(dfs["events"]))
    assert "BatchEvalPython" not in fplan
    assert "ArrowEvalPython" not in fplan
    assert "BroadcastExchange" in fplan
    assert "partial_count" in fplan
    assert "Sort" not in fplan


def test_pretrain_pipeline_text_never_shuffles(dfs):
    """The composed pipeline must keep document text out of every
    Exchange (digest/doc_id keys only), broadcast the benchmark shingle
    set, and map-side combine the dedup groupBy."""
    import re

    from hive_nexr_spark.datapipe.pipeline import pretrain_pipeline

    fplan = _formatted(pretrain_pipeline(dfs["documents"]))
    assert "BroadcastHashJoin" in fplan
    assert "partial_min" in fplan
    for ex in re.findall(r"Arguments: hashpartitioning\([^\n]*", fplan):
        assert "text#" not in ex, f"document text in shuffle: {ex}"


def test_audio_windows_no_shuffle(dfs):
    """Per-document audio featurization must be scan → MapInPandas with
    NO Exchange — features are document-local, nothing needs the
    network."""
    from hive_nexr_spark.datapipe.multimodal import audio_window_features

    fplan = _formatted(audio_window_features(dfs["documents"]))
    assert "MapInPandas" in fplan
    assert "Exchange" not in fplan


def test_knn_join_cluster_bounded_with_group_limit(dfs):
    """The kNN join must key its candidate self-join on the cluster id
    (never a corpus cartesian) and execute the per-vector top-k as a
    WindowGroupLimit (per-partition heaps, k rows per vector retained
    pre-shuffle)."""
    from hive_nexr_spark.datapipe.similarity import knn_join

    fplan = _formatted(knn_join(dfs["embeddings"]))
    assert "CartesianProduct" not in fplan
    # the only nested-loop join allowed is the 1-row nested-centroid
    # broadcast (the zero-Exchange argmin assignment); the candidate
    # self-join itself must be an equi-join on the cluster key
    assert ("BroadcastHashJoin" in fplan or "SortMergeJoin" in fplan)
    assert "cluster" in fplan
    assert "WindowGroupLimit" in fplan


def test_dq_report_single_agg_per_table(dfs, spark, sf_dir):
    """Every intra-table constraint must fold into one aggregation over
    one scan per table — the formatted plan may contain at most one
    scan of each parquet file per metric GROUP, not per constraint."""
    from hive_nexr_spark.datapipe.quality_checks import dq_constraint_report
    from hive_nexr_spark.queries.base import ensure_views

    fplan = _formatted(dq_constraint_report(ensure_views(spark, sf_dir)))
    # orders appears in its metric block + 2 FK checks = 3 scans max;
    # a per-constraint rescan design would show 6+
    assert fplan.count("orders.parquet") <= 3
    assert fplan.count("lineitem.parquet") <= 2
    assert fplan.count("events.parquet") <= 1


def test_moving_avg_preaggregates_before_window(dfs):
    """The RANGE-frame window must consume the daily pre-aggregation
    (partial decimal sums before the exchange), partition by user_id
    (no single-partition global sort), and stay UDF-free."""
    from hive_nexr_spark.operators.windows import moving_average_range_frame

    fplan = _formatted(moving_average_range_frame(dfs["events"]))
    assert "partial_sum" in fplan
    assert "RangeFrame" in fplan
    assert "windowspecdefinition(user_id" in fplan  # partitioned, not global
    assert "BatchEvalPython" not in fplan


def test_tpch_q3_pushdown_broadcast_topk(dfs):
    """Q3's date filters must reach the parquet scans, the filtered
    segment dimension must broadcast, and the LIMIT must be
    TakeOrderedAndProject."""
    from hive_nexr_spark.operators.joins import tpch_q3_variant

    fplan = _formatted(tpch_q3_variant(dfs))
    assert "TakeOrderedAndProject" in fplan
    assert "BroadcastHashJoin" in fplan
    assert "PushedFilters" in fplan
    assert "l_shipdate" in fplan.split("PushedFilters")[1].splitlines()[0] \
        or "GreaterThan(l_shipdate" in fplan


def test_user_paths_truncate_before_collect(dfs):
    """The depth-rank filter must bound per-user state BEFORE the path
    collection (rn <= 8 below the collect_list aggregate), and the
    top-k must be TakeOrderedAndProject."""
    from hive_nexr_spark.streaming.events import user_paths_topk

    fplan = _formatted(user_paths_topk(dfs["events"]))
    assert "TakeOrderedAndProject" in fplan
    assert "collect_list" in fplan
    # the rank filter feeds the aggregate, not vice versa
    assert fplan.index("rn") < fplan.index("collect_list") or \
        "(rn" in fplan.split("collect_list")[0]


def test_countmin_sketch_vocab_bounded_shape(dfs):
    """Count-Min: the corpus pays ONE map-side-combined token count;
    everything downstream (cells, probes, estimates) is vocab-bounded
    with the probe set broadcast — no Exchange may carry document
    text."""
    import re

    from hive_nexr_spark.datapipe.corpus_stats import countmin_token_freq

    fplan = _formatted(countmin_token_freq(dfs["documents"]))
    assert "partial_count" in fplan
    assert "BroadcastHashJoin" in fplan
    assert "TakeOrderedAndProject" in fplan
    for ex in re.findall(r"Arguments: hashpartitioning\([^\n]*", fplan):
        assert "text#" not in ex, f"document text in shuffle: {ex}"


def test_bm25_filters_to_query_terms_before_scoring(dfs):
    """BM25: the 3-term query joins BROADCAST onto the tf stream, the
    final top-k is TakeOrderedAndProject (no global sort), and the
    per-(doc,term) aggregation partially combines map-side."""
    from hive_nexr_spark.datapipe.curation import bm25_topk

    fplan = _formatted(bm25_topk(dfs["documents"]))
    assert "partial_count" in fplan
    assert "BroadcastHashJoin" in fplan
    assert "TakeOrderedAndProject" in fplan
    assert "BatchEvalPython" not in fplan
    # Single-scan discipline (r10 verdict #4a): tf feeds three consumers
    # (dl, df, scoring) through a tracked_persist — every branch reads the
    # cache (InMemoryTableScan), and the documents parquet appears in at
    # most ONE scan subtree instead of once per branch.
    assert fplan.count("InMemoryTableScan") >= 3, fplan[:2000]
    assert fplan.count("documents.parquet") <= 1


def test_wordpiece_train_plan_truncated_and_jvm_only(dfs):
    """The WordPiece trainer must stay JVM-side (no Python eval in the
    chain), elect merges via TakeOrderedAndProject, and — the property
    that keeps a 6-level unrolled trainer plannable — truncate lineage
    per level: the executed plan's size must stay bounded instead of
    growing a subtree copy per cross-reference per level."""
    from hive_nexr_spark.datapipe.corpus_stats import wordpiece_train_merges

    df = wordpiece_train_merges(dfs["documents"])
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert len(plan) < 400_000, f"unrolled plan re-expanding: {len(plan)}"


def test_containment_posting_join_keys_on_shingle(dfs):
    """Containment dedup: the df table must partially combine map-side
    (bounded state even on hot shingles), the posting self-join keys on
    the shingle, and no Exchange carries document text."""
    import re

    from hive_nexr_spark.datapipe.dedup import containment_pairs

    fplan = _formatted(containment_pairs(dfs["documents"]))
    assert "partial_count" in fplan
    assert "BatchEvalPython" not in fplan
    # r12: the contained side must be prefix-pruned (lossless PPJoin
    # bound) before the posting self-join — the pos <= len - ceil(t*len)
    # + 1 filter must sit in the plan (the pos ref rides a bigint cast)
    assert re.search(r"pos#\d+", fplan) and "CEIL(round(" in fplan, \
        fplan[:2000]
    for ex in re.findall(r"Arguments: hashpartitioning\([^\n]*", fplan):
        assert "text#" not in ex, f"document text in shuffle: {ex}"


def test_containment_full_same_bounded_fanout_plan(dfs):
    """The full-corpus containment twin must keep exactly the bounded
    baseline's plan shape — df-cap filter before the posting self-join
    (the fan-out guard that makes the corpus-wide run safe), map-side
    combined df counts, and no document text in any Exchange."""
    import re

    from hive_nexr_spark.datapipe.dedup import containment_pairs

    fplan = _formatted(containment_pairs(dfs["documents"], max_doc_id=100000))
    assert "partial_count" in fplan
    # the stop-shingle cap must sit in the plan (df <= 50 posting bound)
    assert re.search(r"\(df#\d+L? <= 50\)", fplan), fplan[:2000]
    # and so must the r12 contained-side prefix prune
    assert re.search(r"pos#\d+", fplan) and "CEIL(round(" in fplan, \
        fplan[:2000]
    assert "BatchEvalPython" not in fplan
    for ex in re.findall(r"Arguments: hashpartitioning\([^\n]*", fplan):
        assert "text#" not in ex, f"document text in shuffle: {ex}"


def test_kmv_sketch_takeordered_no_global_sort(dfs):
    """The bottom-k KMV sketches must be TakeOrderedAndProject (O(k)
    per partition, never a global Sort of the element set), stay
    JVM-side, and broadcast the k-row sketch aggregates back — the
    whole point is two k-row summaries, not a corpus join."""
    from hive_nexr_spark.datapipe.corpus_stats import kmv_corpus_overlap

    fplan = _formatted(kmv_corpus_overlap(dfs["documents"]))
    assert "TakeOrderedAndProject" in fplan
    assert "BatchEvalPython" not in fplan
    assert "MapInPandas" not in fplan


def test_mips_topk_broadcasts_queries_jvm_only(dfs):
    """The MIPS cosine-reduction plan: query set broadcast onto ONE
    persisted corpus scan, Phi as a broadcast 1-row aggregate, all math
    JVM-side (zip_with/aggregate — no Python), per-query ranking
    windows."""
    from hive_nexr_spark.datapipe.similarity import mips_topk

    fplan = _formatted(mips_topk(dfs["embeddings"]))
    assert "BroadcastNestedLoopJoin" in fplan or "BroadcastHashJoin" in fplan
    assert "BatchEvalPython" not in fplan
    assert "MapInPandas" not in fplan
    assert "InMemoryTableScan" in fplan  # corpus persisted, scanned once


def test_mips_ivf_same_shape_as_ivf(dfs):
    """The MIPS-IVF composition must keep ivf_topk's plan posture:
    broadcast centroids/probes, no cartesian product, JVM-only math —
    the augmentation adds an array element, never a pass or a
    shuffle."""
    from hive_nexr_spark.datapipe.similarity import mips_ivf_topk

    plan = _plan(mips_ivf_topk(dfs["embeddings"]))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_zipf_fit_takeordered_head_no_global_sort(dfs):
    """Zipf fit: the top-R head must be TakeOrderedAndProject (never a
    global Sort of the vocabulary), the token count map-side combined,
    and the moment aggregation a 1-row integer aggregate."""
    from hive_nexr_spark.datapipe.corpus_stats import zipf_fit

    fplan = _formatted(zipf_fit(dfs["documents"]))
    assert "TakeOrderedAndProject" in fplan
    assert "partial_count" in fplan
    assert "BatchEvalPython" not in fplan


def test_dedup_ingest_gate_plan_ids_only(dfs, spark, sf_dir):
    """The ingestion gate's per-batch decision plan: JVM-only (no
    BatchEvalPython), candidates from a (band, bucket) equi-join, and no
    document text in any Exchange — the arriving batch's text stays in
    projections."""
    import re

    from hive_nexr_spark.streaming.neardup import dedup_ingest_batch_twin

    fplan = _formatted(dedup_ingest_batch_twin(spark, sf_dir))
    assert "BatchEvalPython" not in fplan
    for ex in re.findall(r"Arguments: hashpartitioning\([^\n]*", fplan):
        assert "text#" not in ex, f"document text in shuffle: {ex}"


def test_merge_upsert_read_groups_scans_by_tombstone_set(spark, sf_dir):
    """Sequenced read path: after a MERGE upsert the visible set is two
    scan groups (old dirs anti-joined against both tombstones, the
    upsert dir clean) — the plan must carry broadcast anti-joins and at
    most one scan of each data dir."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.sources import snapshots as sn

    base = sn._build_delete_table(spark, sf_dir)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sn.commit_merge_upsert(
        spark, base,
        orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1000), "o_orderkey")
    fplan = _formatted(sn.read_version(spark, base, 4))
    assert fplan.count("LeftAnti") >= 1
    assert fplan.count("data_v1") == 1  # each data dir scanned once
    assert fplan.count("upsert_v4") == 1


def test_asof_tolerance_single_exchange(dfs):
    """Tolerance as-of: same physical plan class as the base as-of —
    exactly ONE user_id exchange feeds the window, the tolerance being
    a post-window projection."""
    import re

    from hive_nexr_spark.streaming.events import asof_enrich_tolerance

    fplan = _formatted(asof_enrich_tolerance(dfs["events"]))
    exchanges = re.findall(r"hashpartitioning\(user_id", fplan)
    assert len(set(exchanges)) == 1
    assert "RunningWindowFunction" in fplan or "Window" in fplan


def test_ivf_pq_query_after_delete_broadcast_anti_no_cartesian(spark,
                                                               dfs):
    """Vector-index sequenced read (r13): after a delete, the codes
    scan carries exactly one broadcast anti-join per tombstoned
    sequence group (the O(|deleted|) key set broadcasts — code files
    never rewrite), the tombstone-free artifact tables scan plain, and
    the query plan stays cartesian-free."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.datapipe import similarity
    from hive_nexr_spark.queries.datapipe_q import _queries_of

    emb = dfs["embeddings"]
    d = similarity._index_scratch()
    similarity.ivf_pq_build_index(emb, d)
    similarity.ivf_pq_delete(
        spark, d,
        emb.filter((F.col("vec_id") >= 10)
                   & (F.col("vec_id") % 4 == 0)).select("vec_id"))
    fplan = _formatted(
        similarity.ivf_pq_query_index(spark, d, _queries_of(emb)))
    # one anti-join NODE (the formatted dump mentions the join type in
    # both the tree and the operator-detail section — 2 mentions/node;
    # a second tombstone group would double it)
    assert 1 <= fplan.count("LeftAnti") <= 2
    assert "BroadcastExchange" in fplan
    assert "CartesianProduct" not in fplan
    assert fplan.count("tombstones_") >= 1


def test_schema_evolved_read_unions_per_write_schema(spark, sf_dir):
    """Field-ID read path (r13): a table whose dirs were written under
    two different schemas reads as a UNION of per-write-schema scan
    groups with pure projections doing the id-mapped renames — no
    joins, no exchanges, each data dir scanned once."""
    import os as _os

    from pyspark.sql import functions as F

    from hive_nexr_spark.scratch import process_scratch_dir
    from hive_nexr_spark.sources import snapshots as sn

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = process_scratch_dir("snapevo_plan")
    _os.makedirs(base, exist_ok=True)
    d1 = _os.path.join(base, "data_v1")
    rows1 = orders.filter(F.col("o_orderkey") % 3 != 0)
    rows1.write.parquet(d1)
    sn._commit(base, 1, d1, rows1.schema)
    sn.alter_rename_column(spark, base, "o_totalprice", "o_amount")
    d4 = _os.path.join(base, "data_v4")
    rows4 = (orders.filter(F.col("o_orderkey") % 3 == 0)
             .withColumnRenamed("o_totalprice", "o_amount"))
    rows4.write.parquet(d4)
    sn._commit(base, 4, d4, rows4.schema)
    df = sn.read_version(spark, base, 4)
    assert "o_amount" in df.columns and "o_totalprice" not in df.columns
    fplan = _formatted(df)
    assert "Union" in fplan
    assert "Join" not in fplan and "Exchange" not in fplan
    assert fplan.count("data_v1") == 1 and fplan.count("data_v4") == 1
