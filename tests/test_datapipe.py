"""Behavioral tests for the data-pipeline operators: planted duplicates must
be found, similarity search must return its own nearest planted neighbor,
text ops must satisfy basic invariants."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def test_minhash_finds_planted_dups(dfs):
    from hive_nexr_spark.datapipe import dedup

    pairs = dedup.minhash_lsh_pairs(dfs["documents"]).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    # exact copies (doc_id, doc_id+100000) for even doc_id < 200 must be
    # found with jaccard 1.0 — identical shingle sets hash identically.
    for doc in range(0, 200, 2):
        assert (doc, doc + 100000) in got, f"missing exact pair {doc}"
    # (X, X+100000) with X < 100000 are the planted exact copies; pairs like
    # (100002, 200002) also differ by 100000 but are copy-vs-near-dup.
    exact = [r for r in pairs if r.doc_a < 100000 and r.doc_b == r.doc_a + 100000]
    assert all(r.jaccard == 1.0 for r in exact)
    # near-dups (one planted token) keep high but sub-1.0 jaccard
    near = [r for r in pairs if r.doc_b == r.doc_a + 200000]
    assert near, "no near-dup pairs detected"


def test_simhash_near_dups_have_small_hamming(dfs):
    from hive_nexr_spark.datapipe import dedup

    pairs = dedup.simhash_pairs(dfs["documents"]).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    exact = {
        k: h for k, h in got.items()
        if k[0] < 100000 and k[1] == k[0] + 100000
    }
    assert exact, "no exact pairs within hamming threshold"
    assert all(h == 0 for h in exact.values()), "exact copies must hash equal"


def test_simhash_banded_equals_bruteforce(dfs):
    """The banded (LSH) path must return exactly the brute-force pair set:
    pigeonhole guarantees 100% candidate recall for max_hamming < n_bands,
    and verification removes false positives."""
    from hive_nexr_spark.datapipe import dedup

    brute = {
        (r.doc_a, r.doc_b): r.hamming
        # max_doc_id=100000 → no subset cap: full corpus, same as banded
        for r in dedup.simhash_pairs(dfs["documents"], max_doc_id=100000).collect()
    }
    banded = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_pairs_banded(dfs["documents"]).collect()
    }
    assert banded == brute
    assert banded, "empty pair set would vacuously pass"


def test_exact_dedup_counts(dfs):
    from hive_nexr_spark.datapipe import dedup

    row = dedup.exact_dedup_summary(dfs["documents"]).collect()[0]
    n_docs = dfs["documents"].count()
    assert row.n_rows > n_docs  # corpus includes planted copies
    assert row.n_dup_groups > 0
    assert row.n_unique < row.n_rows


def test_brute_force_topk_rank1_is_self_like(dfs):
    from hive_nexr_spark.datapipe import similarity

    rows = similarity.brute_force_topk(dfs["embeddings"]).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 10
    for q, rs in by_q.items():
        assert sorted(r.rank for r in rs) == [1, 2, 3]


def test_ivf_topk_recall_vs_bruteforce(dfs):
    """IVF probes only nprobe cells, so it's approximate — but on the
    testdata it must recover most of the exact top-3 and every neighbor it
    returns must come from the probed cells deterministically (two runs
    agree)."""
    from hive_nexr_spark.datapipe import similarity

    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.brute_force_topk(dfs["embeddings"]).collect()}
    ivf1 = {(r.query_id, r.neighbor_id)
            for r in similarity.ivf_topk(dfs["embeddings"]).collect()}
    ivf2 = {(r.query_id, r.neighbor_id)
            for r in similarity.ivf_topk(dfs["embeddings"]).collect()}
    assert ivf1 == ivf2, "IVF must be deterministic"
    recall = len(ivf1 & exact) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall} vs exact top-3"


def test_embedding_lsh_dups_finds_planted_pairs(dfs):
    """Every pair the LSH path returns must be a true >=threshold pair
    (precision 1.0 after verification), and recall over the planted
    (v, v+eps*delta) pairs must be high."""
    from hive_nexr_spark.datapipe import similarity

    pairs = similarity.embedding_dups_lsh(dfs["embeddings"]).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert all(r.cosine >= 0.99 for r in pairs)
    planted = {
        (r.vec_id, r.vec_id + 100000)
        for r in dfs["embeddings"].filter(F.col("vec_id") % 5 == 0)
        .select("vec_id").collect()
    }
    found_planted = got & planted
    assert len(found_planted) / len(planted) >= 0.9, (
        f"LSH recall {len(found_planted)}/{len(planted)}")


def test_token_counts_invariants(dfs):
    from hive_nexr_spark.datapipe import textops

    df = textops.token_counts(dfs["documents"])
    bad = df.filter(
        (F.col("n_ws_tokens") <= 0) | (F.col("n_re_tokens") < F.col("n_ws_tokens") - 1)
    )
    assert bad.count() == 0


def test_language_id_behavior(dfs):
    """The testdata texts are synthetic English-vocabulary strings for every
    `lang` label, so stopword voting can at best recover the 'en' share —
    assert the classifier is deterministic and matches exactly the
    English-labeled share (the information-theoretic ceiling here)."""
    from hive_nexr_spark.datapipe import textops

    df = textops.language_id(dfs["documents"]).cache()
    total = df.count()
    hits = df.filter(F.col("match")).count()
    n_en = dfs["documents"].filter(F.col("lang") == "en").count()
    assert hits == n_en
    assert df.filter(~F.col("pred_lang").isin("en", "de", "fr")).count() == 0
    df.unpersist()


def test_multimodal_resize_and_frames(dfs):
    """Resize emits exactly target_len samples for long payloads; frame
    sampling emits ceil(n/64) frames strided by 4, all full-length except
    possibly the last."""
    from hive_nexr_spark.datapipe import multimodal

    rs = multimodal.resize_payloads(dfs["documents"]).collect()
    assert rs and all(r.out_len == min(r.orig_len, 32) for r in rs)

    fr = multimodal.sample_frames(dfs["documents"]).collect()
    assert fr and all(r.frame_idx % 4 == 0 for r in fr)
    assert all(1 <= r.frame_len <= 64 for r in fr)
    n_docs = dfs["documents"].count()
    assert len({r.doc_id for r in fr}) == n_docs


def test_pack_sequences_invariants(dfs):
    from hive_nexr_spark.datapipe import packing

    rows = packing.pack_sequences(dfs["documents"], budget=512).collect()
    assert len(rows) == dfs["documents"].count()
    by_bucket: dict[str, list] = {}
    for r in rows:
        assert 0 <= r.tok_offset < 512
        assert r.seq_id >= 0
        by_bucket.setdefault(r.bucket, []).append(r)
    # within a bucket, documents tile the token stream contiguously:
    # offsets reconstruct the running sum in doc_id order
    for bucket, rs in by_bucket.items():
        rs.sort(key=lambda r: r.doc_id)
        stream_pos = 0
        for r in rs:
            assert r.seq_id * 512 + r.tok_offset == stream_pos, bucket
            stream_pos += r.n_tokens


def test_pack_sequences_window_is_partitioned(dfs):
    # the packing window must partition by bucket — a global (empty
    # partition spec) window is the single-reducer scale-killer
    from hive_nexr_spark.datapipe import packing

    plan = packing.pack_sequences(dfs["documents"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" in plan
    import re

    for m in re.finditer(r"partitionBy=\[([^\]]*)\]", plan):
        assert m.group(1).strip(), "global window in pack_sequences plan"


def test_train_test_split_fraction_and_determinism(dfs):
    from hive_nexr_spark.datapipe import packing

    rows = packing.train_test_split(dfs["documents"]).collect()
    frac = sum(r.split == "test" for r in rows) / len(rows)
    # 13/256 ≈ 5.1% expected; synthetic corpus is small, allow slack
    assert 0.01 < frac < 0.12
    again = {r.doc_id: r.split
             for r in packing.train_test_split(dfs["documents"]).collect()}
    assert all(again[r.doc_id] == r.split for r in rows)


def test_pii_redact_scrubs_planted_pii(dfs):
    from hive_nexr_spark.datapipe import packing

    rows = packing.pii_redact(dfs["documents"]).collect()
    for r in rows:
        assert "bob@example.com" not in r.text
        assert "415-555-0199" not in r.text
        assert "10.17.3.201" not in r.text
        want = ((r.doc_id % 5 == 0) + (r.doc_id % 7 == 0)
                + (r.doc_id % 11 == 0))
        assert r.n_redactions == want, r.doc_id
        if r.doc_id % 5 == 0:
            assert "<EMAIL>" in r.text


def test_decontaminate_excludes_benchmark_and_flags_overlap(dfs):
    from hive_nexr_spark.datapipe import curation

    rows = curation.decontaminate(dfs["documents"]).collect()
    assert rows, "sf0.001+ corpora always have some 4-gram collisions"
    assert all(r.doc_id % 13 != 0 for r in rows), "benchmark docs leaked out"
    assert all(r.n_hits >= 1 for r in rows)
    # a benchmark doc's exact copy in the training slice must be flagged:
    # plant one by unioning a shifted copy of a benchmark doc
    docs = dfs["documents"]
    bench_copy = (docs.filter((F.col("doc_id") % 13 == 0))
                  .limit(1)
                  .select((F.col("doc_id") + 1000001).alias("doc_id"), "text",
                          "lang", "source", "n_chars"))
    planted = curation.decontaminate(docs.unionByName(bench_copy)).collect()
    assert any(r.doc_id >= 1000001 for r in planted), "planted copy missed"


def test_repetition_filters_on_planted_repetitive_doc(dfs):
    from hive_nexr_spark.datapipe import curation

    spark = dfs["documents"].sparkSession
    tiny = spark.createDataFrame(
        [(1, "spam spam spam spam eggs"), (2, "all words here differ now")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in curation.repetition_filters(tiny).collect()}
    r1 = got[1]
    assert r1.n_tokens == 5
    assert r1.top_gram == "spam spam" and r1.top_gram_count == 3
    assert abs(r1.dup_token_frac - 0.6) < 1e-9  # 1 - 2/5
    assert abs(r1.top_gram_frac - 0.75) < 1e-9  # 3 / 4 slots
    r2 = got[2]
    assert r2.top_gram_count == 1 and r2.dup_token_frac == 0.0
    # ties broken by lexicographically smallest gram
    assert r2.top_gram == "all words"


def test_tfidf_topk_invariants(dfs):
    from hive_nexr_spark.datapipe import curation

    rows = curation.tfidf_topk(dfs["documents"]).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    n_docs = dfs["documents"].count()
    assert len(by_doc) == n_docs
    for doc, rs in by_doc.items():
        ranks = sorted(x.rank for x in rs)
        assert ranks == list(range(1, len(rs) + 1))
        scores = [x.tfidf for x in sorted(rs, key=lambda x: x.rank)]
        assert scores == sorted(scores, reverse=True)
        # a term present in EVERY document has idf ln(1)=0 — never top
        # ranked above any positive-score term
        for x in rs:
            if x.df == n_docs:
                assert x.tfidf == 0.0


def test_domain_mix_sample_rates_and_determinism(dfs):
    from hive_nexr_spark.datapipe import curation

    docs = dfs["documents"]
    kept = curation.domain_mix_sample(docs).collect()
    assert all(r.hash_prefix < r.keep_threshold for r in kept)
    totals = {r["lang"]: r["cnt"] for r in
              docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    kept_by_lang: dict = {}
    for r in kept:
        kept_by_lang[r.lang] = kept_by_lang.get(r.lang, 0) + 1
    # en rate 1.0 → keeps everything (minus the 2^-32 'ffffffff' corner)
    assert kept_by_lang.get("en", 0) == totals.get("en", 0)
    # zh rate 0.25 → wide slack on a small corpus, but far below 1.0
    if totals.get("zh", 0) >= 20:
        frac = kept_by_lang.get("zh", 0) / totals["zh"]
        assert 0.05 < frac < 0.55, frac
    again = curation.domain_mix_sample(docs).collect()
    assert {r.doc_id for r in again} == {r.doc_id for r in kept}


def test_quantize_embeddings_error_bound(dfs):
    from hive_nexr_spark.datapipe import curation

    rows = curation.quantize_embeddings(dfs["embeddings"]).collect()
    assert len(rows) == dfs["embeddings"].count()
    for r in rows:
        assert r.q_min <= r.q_max
        half_step = (r.q_max - r.q_min) / 255.0 / 2.0
        # rounding-to-nearest: reconstruction error ≤ half a code step
        assert r.max_abs_err <= half_step + 1e-6, (r.vec_id, r.max_abs_err)
        assert len(r.q_checksum) == 32


def test_pagerank_mass_conserved_and_positive(dfs):
    """PageRank invariants: every rank positive, total mass = 1 (the
    symmetrized near-dup graph has no dangling nodes, so the damped
    update conserves probability mass)."""
    from hive_nexr_spark.datapipe import dedup

    rows = dedup.pagerank_dup_graph(dfs["documents"]).collect()
    assert rows
    assert all(r.rank > 0 for r in rows)
    assert abs(sum(r.rank for r in rows) - 1.0) < 1e-6


def test_curriculum_shards_monotone_in_score(dfs):
    """Shard assignment must be monotone non-decreasing in score and
    every document with the same score must share a shard."""
    from hive_nexr_spark.datapipe import corpus_stats

    rows = corpus_stats.curriculum_shards(dfs["documents"]).collect()
    assert rows
    by_score = sorted({(r.score, r.shard) for r in rows})
    shards = [s for _, s in by_score]
    assert shards == sorted(shards)
    seen = {}
    for r in rows:
        assert seen.setdefault(r.score, r.shard) == r.shard
    # equal scores always share a shard, so a large tie block may
    # swallow a quartile on a small corpus — require coverage, not
    # exhaustiveness
    got = {r.shard for r in rows}
    assert got <= set(range(4)) and len(got) >= 2


def test_prefix_filter_nondefault_threshold_zero_false_negatives(dfs):
    """The PPJoin prefix bound must stay lossless for thresholds whose
    double representation sits a hair above the decimal (0.3, 0.1, ...):
    t*len can land just above an integer, and a naive ceil() overshoots
    by one — shortening the prefix and dropping true pairs. Compare the
    engine at t=0.3 against brute-force all-pairs Jaccard on the same
    bounded subset (doc_id % 100000 < 60)."""
    from itertools import combinations

    from hive_nexr_spark.datapipe.dedup import (jaccard_prefix_filter_pairs,
                                                with_synthetic_dups)

    corpus = with_synthetic_dups(dfs["documents"]).filter(
        (F.col("doc_id") % 100000) < 60)
    sets = {
        r["doc_id"]: frozenset(r["ts"])
        for r in corpus.select(
            "doc_id",
            F.array_distinct(F.split(F.lower("text"), " ")).alias("ts"),
        ).collect()
    }
    expect = set()
    for a, b in combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= 0.3:
            expect.add((a, b))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_prefix_filter_pairs(
            dfs["documents"], threshold=0.3, max_doc_id=60).collect()
    }
    assert expect - got == set(), f"false negatives: {sorted(expect - got)[:5]}"
    assert got == expect


def test_exact_substring_spans_find_planted_block(dfs, spark):
    """A 20-token block planted into two otherwise-unique documents must
    come back as one maximal duplicated span per host document covering
    exactly the planted region (plus whatever natural repeats exist)."""
    from hive_nexr_spark.datapipe.dedup import exact_substring_spans

    block = " ".join(f"tok{i}" for i in range(20))
    # doc ids 1/5/7 dodge the synthetic-dup moduli (%2, %3) so the only
    # repeated content is the planted block itself
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + block + " gamma delta epsilon zeta"),
            (5, "one two three four five " + block + " six seven"),
            (7, "entirely unique words nothing repeated here at all"),
        ],
        "doc_id int, text string",
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in exact_substring_spans(docs, min_span_tokens=16).collect()
    }
    # doc 1: block occupies tokens [2, 22); doc 5: tokens [5, 25)
    assert spans[1] == (2, 22)
    assert spans[5] == (5, 25)
    assert 7 not in spans


def test_bpe_apply_greedy_segmentation(dfs, spark):
    """Greedy longest-match semantics on a controlled corpus: with every
    2/3-gram of 'abcabc' in the vocab (it repeats enough to win top-500),
    the walk takes 3-grams twice -> 2 pieces; a word of unseen single
    chars falls back to one piece per character."""
    from hive_nexr_spark.datapipe.corpus_stats import bpe_apply_tokenize

    docs = spark.createDataFrame(
        [(i, "abcabc abcabc abcabc") for i in range(1, 9)]
        + [(9, "xq zv")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in bpe_apply_tokenize(docs).collect()}
    # 'abcabc': greedy takes 'abc' at pos 1 and 'abc' at pos 4 -> 2 pieces
    assert out[1]["n_bpe_tokens"] == 3 * 2
    # 'xq'/'zv' never reach the top-500 vocab dominated by abcabc's grams?
    # they DO fit (vocab_size=500 >> distinct grams) so 'xq','zv' are
    # single 2-gram pieces
    assert out[9]["n_bpe_tokens"] == 2
    assert out[9]["n_ws_tokens"] == 2


def test_pq_topk_retrieves_planted_copies(dfs):
    """An exact copy of each query planted into the corpus achieves the
    minimal possible ADC distance (its codes equal the query's own
    quantization), so PQ must rank every planted copy #1. The uniform
    synthetic embeddings have no real neighbor structure (distance
    concentration), so top-k overlap vs brute force is noise — the
    planted-copy property is the meaningful recall claim. Also:
    deterministic across runs (codebooks/codes are pure functions of
    the data)."""
    from hive_nexr_spark.datapipe import similarity

    emb = dfs["embeddings"]
    copies = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding")
    aug = emb.select("vec_id", "embedding").unionAll(copies)
    rows1 = similarity.pq_topk(aug).collect()
    rows2 = similarity.pq_topk(aug).collect()
    assert {tuple(r) for r in rows1} == {tuple(r) for r in rows2}, (
        "PQ must be deterministic")
    d2 = {(r.query_id, r.neighbor_id): r.approx_d2 for r in rows1}
    min_d2 = {}
    for r in rows1:
        min_d2[r.query_id] = min(min_d2.get(r.query_id, r.approx_d2),
                                 r.approx_d2)
    for q in range(10):
        # the copy must be returned with the per-query MINIMAL ADC
        # distance; rank may tie with a real vector quantizing to the
        # same m codes (identical approx_d2), so assert on the distance,
        # not the tie-broken rank
        got = d2.get((q, q + 500000))
        assert got is not None, f"planted copy missing for query {q}"
        assert got == min_d2[q], f"planted copy not minimal-ADC for {q}"


def test_temperature_mix_upsamples_small_strata(dfs):
    """T=0.5 rebalancing: the sampled share of a SMALL stratum must
    exceed its corpus share, the largest stratum's share must shrink,
    quotas never exceed stratum size, and picks are dense 1..quota."""
    from hive_nexr_spark.datapipe.curation import domain_temperature_mix

    rows = domain_temperature_mix(dfs["documents"]).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert len(by_src) > 3
    for src, rs in by_src.items():
        quota, n = rs[0].quota, rs[0].n_stratum
        assert quota <= n
        assert sorted(r.pick for r in rs) == list(range(1, len(rs) + 1))
        assert len(rs) == quota
    smallest = min(by_src.values(), key=lambda rs: rs[0].n_stratum)[0]
    largest = max(by_src.values(), key=lambda rs: rs[0].n_stratum)[0]
    total_n = sum(rs[0].n_stratum for rs in by_src.values())
    total_q = sum(rs[0].quota for rs in by_src.values())
    assert (smallest.quota / total_q) > (smallest.n_stratum / total_n)
    assert (largest.quota / total_q) < (largest.n_stratum / total_n)


def test_temperature_mix_quota_guaranteed_under_tight_prefilter(dfs):
    """The hash pre-filter is probabilistic; strata it under-fills must
    fall back to the unfiltered window so every stratum still emits
    exactly quota picks (ADVICE r9). oversample=0.2 keeps an expected
    0.2·quota survivors — far below quota — so the fallback path is
    exercised for real, not just compiled."""
    from hive_nexr_spark.datapipe.curation import domain_temperature_mix

    rows = domain_temperature_mix(dfs["documents"], oversample=0.2).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert len(by_src) > 3
    for src, rs in by_src.items():
        assert len(rs) == rs[0].quota, src
        assert sorted(r.pick for r in rs) == list(range(1, len(rs) + 1))


def test_canonical_dedup_catches_case_variants(dfs):
    """Every planted upper-cased copy (doc_id % 7 == 1 -> +300000) must
    land in the same canonical group as its original, and keep_id must be
    the original (smallest id)."""
    from hive_nexr_spark.datapipe.dedup import canonical_dedup_decisions

    rows = canonical_dedup_decisions(dfs["documents"]).collect()
    keeps = {r.keep_id: r.n_copies for r in rows}
    planted = [r.doc_id for r in dfs["documents"]
               .filter(F.col("doc_id") % 7 == 1).select("doc_id").collect()]
    assert planted
    for d in planted:
        assert d in keeps, f"case variant of {d} not grouped"


def test_classifier_train_reduces_loss(dfs):
    """Gradient descent must actually learn: the trained weights' logloss
    must beat the w=0 baseline (ln 2), and more steps must not increase
    the loss on the same (full-batch, convex) objective."""
    import math

    from hive_nexr_spark.datapipe.curation import quality_classifier_train

    one = quality_classifier_train(dfs["documents"], steps=1).collect()[0]
    three = quality_classifier_train(dfs["documents"], steps=3).collect()[0]
    assert three.logloss < math.log(2.0)
    assert three.logloss <= one.logloss


def test_html_strip_recovers_plain_text(dfs, spark):
    """Stripping the planted wrapper must recover EXACTLY the original
    text (digest equality): tags/script/nav/footer removed, inner text
    preserved; non-wrapped docs pass through with markup_frac 0."""
    from hive_nexr_spark.datapipe.textops import html_strip_extract

    out = {r.doc_id: r for r in html_strip_extract(dfs["documents"]).collect()}
    orig = {r.doc_id: r.text for r in dfs["documents"]
            .select("doc_id", "text").collect()}
    import hashlib

    for d, text in orig.items():
        if d % 3 == 0:
            assert out[d].is_html
            # wrapper contributes 'home | about' + copyright remnants the
            # strip keeps as TEXT — so assert the original text is a
            # substring-equal digest only for non-wrapped docs; wrapped
            # docs must at least have shed all tag characters
            assert out[d].markup_frac > 0
        else:
            assert not out[d].is_html
            assert out[d].clean_digest == hashlib.md5(
                text.encode()).hexdigest()
            assert out[d].markup_frac == 0.0


def test_bpe_train_merges_matches_reference_algorithm(dfs):
    """The in-engine merge loop must equal a direct Python transcription
    of Sennrich et al. learn_bpe on the same vocabulary, and its step-1
    row must equal bpe_top_pairs' rank-1 pair (same statistic)."""
    from collections import Counter

    from hive_nexr_spark.datapipe.corpus_stats import (bpe_top_pairs,
                                                       bpe_train_merges)

    got = bpe_train_merges(dfs["documents"]).orderBy("step").collect()
    assert [r.step for r in got] == [1, 2, 3, 4, 5, 6]
    assert all(r.merged == r.lhs + r.rhs for r in got)

    vocab: Counter = Counter()
    for (t,) in dfs["documents"].select("text").collect():
        for w in t.lower().split(" "):
            if len(w) >= 2 and "\x1f" not in w:
                vocab[w] += 1
    vsyms = {w: list(w) for w in vocab}
    expect = []
    for _ in range(6):
        pc: Counter = Counter()
        for w, n in vocab.items():
            s = vsyms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += n
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((a, b, cnt))
        for w in vocab:
            s = vsyms[w]
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            vsyms[w] = out
    assert [(r.lhs, r.rhs, r.n_occurrences) for r in got] == expect

    top = bpe_top_pairs(dfs["documents"], k=1).collect()[0]
    assert top.pair == got[0].merged
    assert top.n_occurrences == got[0].n_occurrences


@pytest.mark.slow
def test_unigram_train_matches_reference_algorithm(dfs):
    """The in-engine unigram-LM trainer (hard-EM Viterbi, Kudo 2018)
    must equal a direct Python transcription: same seed vocab, same
    micro-nat integer scores, same smallest-g backward tie-break, same
    (count DESC, piece) pruning — and the apply op must reproduce the
    transcription's per-word piece counts."""
    import math
    from collections import Counter

    from hive_nexr_spark.datapipe.corpus_stats import (unigram_apply,
                                                       unigram_train)

    G, SEED_M, KEEP_M, MAXW, EM = 4, 300, 200, 20, 2
    wc: Counter = Counter()
    for (t,) in dfs["documents"].select("text").collect():
        for w in t.lower().split(" "):
            if 1 <= len(w) <= MAXW:
                wc[w] += 1
    seed: Counter = Counter()
    for w, n in wc.items():
        for g in range(1, G + 1):
            for s in range(len(w) - g + 1):
                seed[w[s:s + g]] += n
    chars = sorted(p for p in seed if len(p) == 1)
    multis = sorted((p for p in seed if len(p) > 1),
                    key=lambda p: (-seed[p], p))[:SEED_M]
    vocab = {p: seed[p] for p in chars + multis}

    def lps(v):
        T = sum(v.values())
        return {p: math.floor(1e6 * math.log(c / T))
                for p, c in v.items()}

    def viterbi(w, lp):
        best = [0]
        for i in range(1, len(w) + 1):
            best.append(max(
                best[i - g] + lp[w[i - g:i]]
                for g in range(1, min(G, i) + 1) if w[i - g:i] in lp))
        ps, pos = [], len(w)
        while pos > 0:
            for g in range(1, min(G, pos) + 1):
                p = w[pos - g:pos]
                if p in lp and best[pos - g] + lp[p] == best[pos]:
                    ps.append(p)
                    pos -= g
                    break
        return ps

    final = None
    for _ in range(EM):
        lp = lps(vocab)
        cnt: Counter = Counter()
        for w, n in wc.items():
            for p in viterbi(w, lp):
                cnt[p] += n
        keptm = sorted((p for p in cnt if len(p) > 1),
                       key=lambda p: (-cnt[p], p))[:KEEP_M]
        final = {p: cnt.get(p, 0) for p in chars + keptm}
        vocab = {p: c + 1 for p, c in final.items()}
    T = sum(vocab.values())
    expect = sorted(final.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    got = unigram_train(dfs["documents"]).orderBy("rank").collect()
    assert [(r.piece, r.n_viterbi) for r in got] == expect
    assert all(abs(r.prob - round((final[r.piece] + 1) / T, 6)) < 1e-9
               for r in got)
    # multi-char pieces were actually learned (compression happened)
    assert any(r.piece_len > 1 for r in got)

    # apply: per-doc totals equal the transcription's Viterbi sizes
    lp_f = lps(vocab)
    napp = {w: len(viterbi(w, lp_f)) for w in wc}
    rows = unigram_apply(dfs["documents"]).collect()
    docs = {r.doc_id: r for r in rows}
    for (d, t) in dfs["documents"].select("doc_id", "text").collect()[:20]:
        words = [w for w in t.lower().split(" ") if len(w) >= 1]
        exp_tok = sum(napp.get(w, len(w)) for w in words)
        assert docs[d].n_ws_tokens == len(words)
        assert docs[d].n_unigram_tokens == exp_tok


def test_ngram_classifier_beats_surface_baseline(dfs):
    """Hashed unigram+bigram features (the fastText/DCLM shape) must fit
    the same lang=='en' label strictly better than the 6 surface
    features under the identical optimizer (full-batch GD, same steps/
    lr) — richer features, lower logloss; and the plan must keep the
    weight vector broadcast with zero Python."""
    from hive_nexr_spark.datapipe.curation import (
        quality_classifier_train, quality_classifier_train_ngram)

    ngram = quality_classifier_train_ngram(dfs["documents"]).collect()[0]
    surface = quality_classifier_train(dfs["documents"]).collect()[0]
    assert ngram.logloss < surface.logloss
    assert ngram.n_docs == dfs["documents"].count()
    assert 0 < ngram.n_buckets <= 1024
    assert ngram.w_l2 > 0

    def _fmt(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")

    plan = _fmt(quality_classifier_train_ngram(dfs["documents"]))
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_unigram_plan_vocab_bounded_no_python(dfs):
    """The trainer's plan must stay JVM-side (no BatchEvalPython) and
    apply's corpus pass must be a broadcast (word → piece-count) join."""
    from hive_nexr_spark.datapipe.corpus_stats import (unigram_apply,
                                                       unigram_train)

    def _fmt(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")

    tplan = _fmt(unigram_train(dfs["documents"]))
    assert "BatchEvalPython" not in tplan
    aplan = _fmt(unigram_apply(dfs["documents"]))
    assert "BatchEvalPython" not in aplan
    assert "BroadcastHashJoin" in aplan


def test_bpe_trained_apply_uses_learned_pieces(dfs):
    """Applying the learned merge table must compress the corpus (fewer
    BPE tokens than characters, at most n_ws_tokens * longest-word) and
    match piece accounting: a word made of one learned piece counts 1."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.datapipe.corpus_stats import (bpe_apply_tokenize,
                                                       bpe_train_merges)

    merges = bpe_train_merges(dfs["documents"])
    pieces = merges.select(F.col("merged").alias("piece"))
    out = bpe_apply_tokenize(dfs["documents"], pieces=pieces)
    agg = out.agg(F.sum("n_bpe_tokens").alias("bpe"),
                  F.sum("n_ws_tokens").alias("ws")).collect()[0]
    assert 0 < agg.ws <= agg.bpe  # >= one piece per word
    # learned pairs actually fire: strictly fewer pieces than characters
    chars = dfs["documents"].agg(F.sum(F.length(
        F.regexp_replace(F.lower("text"), " ", "")))).collect()[0][0]
    assert agg.bpe < chars


@pytest.mark.slow
def test_ivf_pq_persisted_lifecycle_bit_equal(dfs, spark):
    """TRAIN→persist→QUERY (residual/IVFADC form) must return exactly
    the in-plan residual scoring's rows; build+ADD-BATCH (frozen
    artifacts) must equal building with the same training subset — the
    moment of encoding cannot matter; the manifest must version every
    commit so v1 (pre-add) stays queryable AS-OF forever; and a
    'restarted' session must reopen the index from the manifest alone
    (params travel with the index — no m/dim re-specification)."""
    from hive_nexr_spark.datapipe import similarity
    from hive_nexr_spark.sources import index_manifest as idx

    emb = dfs["embeddings"]
    queries = (emb.select("vec_id",
                          F.col("embedding").cast("array<double>")
                          .alias("qv"))
               .filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "qv"))

    d1 = similarity._index_scratch()
    v1 = similarity.ivf_pq_build_index(emb, d1)
    assert v1 == 1
    persisted = {tuple(r) for r in
                 similarity.ivf_pq_query_index(spark, d1, queries).collect()}
    inplan = {tuple(r)[:4] for r in
              similarity.ivf_pq_residual_topk(emb).collect()}
    assert persisted == inplan and persisted

    # add-batch: encode-at-add must equal encode-at-build given the same
    # frozen artifacts (trained on queries + even half)
    initial = emb.filter((F.col("vec_id") < 10) | (F.col("vec_id") % 2 == 0))
    added = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") % 2 == 1))
    d2 = similarity._index_scratch()
    similarity.ivf_pq_build_index(initial, d2)
    pre_add = {tuple(r) for r in
               similarity.ivf_pq_query_index(spark, d2, queries).collect()}
    n_before = idx.read_index_table(spark, d2, "codes").count()
    v2 = similarity.ivf_pq_add_batch(spark, d2, added)
    assert v2 == 2
    n_after = idx.read_index_table(spark, d2, "codes").count()
    assert n_after == n_before + added.count() * 4  # m=4 codes per vector
    combined = {tuple(r) for r in
                similarity.ivf_pq_query_index(spark, d2, queries).collect()}
    assert combined and combined != persisted  # different training set
    # AS-OF: version 1 still answers exactly the pre-add result
    asof = {tuple(r) for r in
            similarity.ivf_pq_query_index(spark, d2, queries,
                                          version=1).collect()}
    assert asof == pre_add
    # 'restart': a handle built from the manifest alone (no state from
    # the build calls) must see the full post-add index
    man = idx.read_manifest(d2)
    assert man["params"]["residual"] and man["version"] == 2
    reopened = {tuple(r) for r in
                similarity.ivf_pq_query_index(spark, d2, queries).collect()}
    assert reopened == combined
    # encode the added half at BUILD time instead: must be identical.
    # d3 reuses d2's FROZEN coarse/codebook dirs via a fresh manifest
    # (the artifacts are immutable — sharing them is the point).
    added_codes = {tuple(r) for r in
                   idx.read_index_table(spark, d2, "codes")
                   .filter("vec_id % 2 = 1").collect()}
    d3 = similarity._index_scratch()
    man2 = idx.read_manifest(d2)
    idx.commit_manifest(d3, man2["params"],
                        {"coarse": man2["tables"]["coarse"],
                         "codebooks": man2["tables"]["codebooks"],
                         "codes": []}, schemas=man2["schemas"])
    similarity.ivf_pq_add_batch(spark, d3, added)
    re_encoded = {tuple(r) for r in
                  idx.read_index_table(spark, d3, "codes").collect()}
    assert re_encoded == added_codes


def test_phash_dedup_brightness_invariant_exact_distinct(dfs):
    """Perceptual image dedup (r12): every planted exact copy pairs with
    its origin at hamming 0 AND exact_dup true; every planted
    brightness-shifted variant (+8 per channel — different payload
    bytes) pairs with its origin at hamming 0 with exact_dup FALSE —
    the perceptual match byte-exact dedup cannot make. dHash rides a
    real BMP encode→decode roundtrip."""
    from hive_nexr_spark.datapipe.multimodal import phash_dedup_pairs

    rows = phash_dedup_pairs(dfs["documents"]).collect()
    pairs = {(r.doc_a, r.doc_b): (r.hamming, r.exact_dup) for r in rows}
    origins = {a for a, _ in pairs} | {b for _, b in pairs}
    exacts = [d for d in origins if 100000 <= d < 200000]
    shifted = [d for d in origins if d >= 200000]
    assert exacts and shifted
    for d in range(0, 200, 2):  # every exact copy planted
        assert pairs.get((d, d + 100000)) == (0, True), d
    for d in range(0, 200, 3):  # every brightness variant planted
        h, ex = pairs[(d, d + 200000)]
        assert h == 0 and ex is False, (d, h, ex)


def test_decode_image_bmp_ppm_through_arrow_path(spark):
    """Real stdlib-only image decode (r9 — the NotImplementedError stub
    is retired): generated 24-bit BMPs and P6 PPMs round-trip through
    the Arrow mapInPandas pipeline with exact per-channel means; the
    BMP writer/reader pair inverts (BGR order, bottom-up rows, 4-byte
    padding all exercised by a non-multiple-of-4 width)."""
    from hive_nexr_spark.datapipe.multimodal import (decode_image,
                                                     decode_image_features,
                                                     encode_bmp)

    # 3x2 (width 3 -> row padding) deterministic gradient
    rgb = bytes((r * 40 + c * 7 + ch) % 256
                for r in range(2) for c in range(3) for ch in range(3))
    bmp = encode_bmp(3, 2, rgb)
    assert decode_image(bmp) == (3, 2, "RGB", rgb)

    ppm = b"P6\n# comment\n3 2\n255\n" + rgb
    assert decode_image(ppm) == (3, 2, "RGB", rgb)

    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\n....")

    payloads = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(ppm))],
        "doc_id long, payload binary")
    got = {r.doc_id: r for r in decode_image_features(payloads).collect()}
    exp_r = sum(rgb[0::3]) / 6
    exp_g = sum(rgb[1::3]) / 6
    exp_b = sum(rgb[2::3]) / 6
    for doc_id in (1, 2):
        r = got[doc_id]
        assert (r.width, r.height, r.n_pixels) == (3, 2, 6)
        assert (r.mean_r, r.mean_g, r.mean_b) == (exp_r, exp_g, exp_b)


def test_bloom_filter_no_false_negatives_and_fp_accounting(dfs):
    """Bloom membership can never miss a true duplicate: every exact_dup row
    must be bloom_maybe; false_positive is exactly bloom_maybe minus
    exact_dup; and the planted +100000 copies are all exact dups."""
    from hive_nexr_spark.datapipe.dedup import bloom_filter_dedup

    rows = bloom_filter_dedup(dfs["documents"]).collect()
    assert rows
    by_id = {r.doc_id: r for r in rows}
    for r in rows:
        if r.exact_dup:
            assert r.bloom_maybe, f"false negative at {r.doc_id}"
        assert r.false_positive == (r.bloom_maybe and not r.exact_dup)
    planted = [r for r in rows if 100000 <= r.doc_id < 200000]
    assert planted and all(r.exact_dup for r in planted)
    near = [r for r in rows if r.doc_id >= 200000]
    assert near and not any(r.exact_dup for r in near)


@pytest.mark.slow
def test_bpe_merge_order_vs_longest_match(dfs):
    """Merge-order application must reproduce the trainer's own final
    segmentation: total pieces = sum over the training vocab of
    n * len(syms) plus per-char fallback for out-of-vocab words; and
    both application modes agree on whitespace token counts."""
    from hive_nexr_spark.datapipe.corpus_stats import (_bpe_train_chain,
                                                       bpe_apply_merge_order)

    out = bpe_apply_merge_order(dfs["documents"]).collect()
    assert out
    _steps, vocab = _bpe_train_chain(dfs["documents"], 6)
    vrows = vocab.collect()
    expect_vocab_pieces = sum(len(r.syms) * r.n for r in vrows)
    # out-of-vocab words (len<2) contribute length(w) each
    oov = (dfs["documents"]
           .selectExpr("explode(split(lower(text), ' ')) AS w")
           .filter("length(w) < 2").selectExpr("sum(length(w)) AS s")
           .collect()[0].s) or 0
    assert sum(r.n_bpe_tokens for r in out) == expect_vocab_pieces + oov


def test_hash_embeddings_deterministic_and_dense(dfs):
    """Feature-hashed vectors: fixed dim, integer components, L1 equal
    to token count minus cancellation (|L1| <= n_tokens with equality
    iff no bucket collisions of opposite sign), identical across runs,
    and identical texts must embed identically."""
    from hive_nexr_spark.datapipe.textops import hash_embeddings

    emb1 = {r.doc_id: tuple(r.v) for r in
            hash_embeddings(dfs["documents"]).collect()}
    emb2 = {r.doc_id: tuple(r.v) for r in
            hash_embeddings(dfs["documents"]).collect()}
    assert emb1 == emb2 and emb1
    n_tok = {r.doc_id: r.n for r in dfs["documents"].selectExpr(
        "doc_id", "size(split(lower(text), ' ')) AS n").collect()}
    for doc_id, v in emb1.items():
        assert len(v) == 64
        l1 = sum(abs(x) for x in v)
        assert 0 < l1 <= n_tok[doc_id]
        assert (l1 - n_tok[doc_id]) % 2 == 0  # cancellations come in pairs


def test_kneser_ney_is_proper_and_orders_with_bigram(dfs):
    """KN probabilities must be proper (0 < p <= 1 → bits >= 0), and
    the continuation backoff must make the KN score a valid LM: for a
    corpus that contains each document, every bigram is observed, so
    per-doc bits are finite; sanity: the doc set matches the bigram
    variant's and documents with fewer than 2 tokens are absent."""
    from hive_nexr_spark.datapipe.corpus_stats import (perplexity_bigram,
                                                       perplexity_kneser_ney)

    kn = {r.doc_id: r for r in
          perplexity_kneser_ney(dfs["documents"]).collect()}
    bg = {r.doc_id: r for r in
          perplexity_bigram(dfs["documents"]).collect()}
    assert set(kn) == set(bg) and kn
    import math
    for r in kn.values():
        assert r.n_bigrams >= 1
        assert math.isfinite(r.bits_per_bigram)
        assert r.bits_per_bigram >= 0


def test_decontaminate_embedding_catches_planted_leaks(dfs):
    """Every planted exact copy (+100000) of a benchmark-slice document
    shares its hashed vector, hence its LSH bucket — so it MUST be
    flagged at cosine 1.0; every returned pair must verify >= 0.99; and
    benchmark docs never appear on the train side."""
    from hive_nexr_spark.datapipe.curation import decontaminate_embedding

    rows = decontaminate_embedding(dfs["documents"]).collect()
    assert rows
    got = {(r.train_id, r.bench_id) for r in rows}
    assert all(r.cosine >= 0.99 for r in rows)
    assert not any(t % 13 == 0 and t < 100000 for t, _ in got)
    planted = {(b + 100000, b) for (b,) in dfs["documents"]
               .filter("doc_id % 13 = 0 AND doc_id % 2 = 0")
               .select("doc_id").collect()}
    assert planted <= got
    exact = {p for p in got if p[0] == p[1] + 100000}
    by_pair = {(r.train_id, r.bench_id): r.cosine for r in rows}
    assert all(by_pair[p] == 1.0 for p in exact)


def test_quantile_binned_error_within_one_bin(dfs):
    """The binned quantile sketch's construction guarantee: the estimate
    (lower edge of the crossing bin) sits within one bin width of the
    exact interpolated percentile, for every requested quantile; the
    measured abs_err column must respect it."""
    from hive_nexr_spark.operators.aggregates import quantile_binned_sketch

    rows = quantile_binned_sketch(dfs["lineitem"]).collect()
    assert {round(r.q, 2) for r in rows} == {0.5, 0.9, 0.99}
    for r in rows:
        # one bin from the crossing rank + one from the exact
        # percentile's (n-1)·q interpolation landing a rank earlier
        assert r.abs_err <= 2 * r.bin_width + 1e-9, (r.q, r.abs_err,
                                                     r.bin_width)


def test_hll_portable_estimate_accuracy(dfs):
    """The portable HLL's estimate must land within the theoretical
    error envelope for m=1024 registers (sigma = 1.04/sqrt(m) ~ 3.25%;
    assert within 4 sigma = 13%), and the register count can't exceed
    m or the exact distinct count."""
    from hive_nexr_spark.datapipe.corpus_stats import hll_distinct_tokens

    r = hll_distinct_tokens(dfs["documents"]).collect()[0]
    assert r.n_exact > 0
    assert r.n_registers <= min(1024, r.n_exact)
    assert r.rel_err <= 0.13, f"HLL rel_err {r.rel_err}"
    # rel_err is computed from the UNROUNDED estimate; reconcile at 6dp
    assert abs(abs(r.hll_estimate - r.n_exact) / r.n_exact
               - r.rel_err) < 1e-4


def test_weighted_sample_biases_toward_heavy_docs(dfs):
    """Priority sampling must over-represent heavy (long) documents:
    the sampled mean weight must exceed the corpus mean, ranks must be
    dense 1..k, and the draw must be reproducible."""
    from hive_nexr_spark.datapipe.curation import weighted_sample_topk

    rows = weighted_sample_topk(dfs["documents"], k=50).collect()
    assert sorted(r.rank for r in rows) == list(range(1, 51))
    rows2 = weighted_sample_topk(dfs["documents"], k=50).collect()
    assert {(r.doc_id, r.rank) for r in rows} == \
        {(r.doc_id, r.rank) for r in rows2}
    mean_sampled = sum(r.weight for r in rows) / len(rows)
    mean_corpus = dfs["documents"].selectExpr(
        "avg(n_chars) AS m").collect()[0].m
    assert mean_sampled > mean_corpus


def test_lsh_index_lifecycle(dfs, spark):
    """Persisted LSH index: query equals the streaming matcher's result
    set on the same inputs; add-batch makes admitted documents findable
    (near-dups match their admitted exact-copy siblings, impossible
    before admission) and appends exactly the batch's rows."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.datapipe import dedup, similarity
    from hive_nexr_spark.streaming.neardup import neardup_batch_twin

    docs = dfs["documents"]
    d = similarity._index_scratch()
    dedup.lsh_index_build(docs, d)
    incoming = dedup._bounded_corpus(docs, 200).filter(
        F.col("doc_id") >= 100000)
    got = {tuple(r) for r in
           dedup.lsh_index_query(spark, d, incoming).collect()}
    twin = {tuple(r) for r in
            neardup_batch_twin(spark, "/root/testdata/sf0.001").collect()}
    assert got == twin and got

    from hive_nexr_spark.sources import index_manifest as idx

    n_before = idx.read_index_table(spark, d, "bands").count()
    exacts = dedup._bounded_corpus(docs, 200).filter(
        (F.col("doc_id") >= 100000) & (F.col("doc_id") < 200000))
    v2 = dedup.lsh_index_add_batch(spark, d, exacts)
    assert v2 == 2
    assert (idx.read_index_table(spark, d, "bands").count()
            == n_before + exacts.count() * 3)  # 3 bands per doc
    nears = dedup._bounded_corpus(docs, 200).filter(
        F.col("doc_id") >= 200000)
    enlarged = {(r.doc_a, r.doc_b) for r in
                dedup.lsh_index_query(spark, d, nears).collect()}
    # a near-dup of an even original must now ALSO match the admitted
    # +100000 copy (doc_a in the copy range)
    assert any(100000 <= a < 200000 for a, _ in enlarged)
    assert any(a < 100000 for a, _ in enlarged)
    # AS-OF version 1 (pre-admission) must still answer the original set
    asof = {tuple(r) for r in
            dedup.lsh_index_query(spark, d, incoming, version=1).collect()}
    assert asof == got


def test_hof_bands_equal_signature_bands(dfs):
    """The band encoder (`hof_bands`, the one MinHash signature of every
    LSH path) must give the same (doc_id, band, bucket) rows as the
    oracles' signature formula, minhash h = min(substr(md5(shingle),
    5h+1, 5)) over a doc's shingles, run in DuckDB as in
    `_lsh_match_sql`, on documents long enough (8-64 distinct shingles)
    that a minhash slot bound to the element index would differ; and
    over the 200-doc index slice every band must spread documents over
    more than one bucket (a constant bucket makes candidate generation
    all-pairs)."""
    import duckdb
    import pyarrow as pa

    from hive_nexr_spark.datapipe import dedup

    toks = dedup._with_shingles(
        dfs["documents"].filter(F.col("doc_id") < 200)
    ).select("doc_id", "sh")
    mid = toks.filter(F.size("sh").between(8, 64))
    rows = mid.select("doc_id", F.explode("sh").alias("shingle")).collect()
    assert rows
    hof = {tuple(r) for r in
           dedup.hof_bands(mid).select("doc_id", "band", "bucket")
           .collect()}
    mins = ", ".join(f"min(substr(md5(shingle), {h * 5 + 1}, 5)) AS mh{h}"
                     for h in range(dedup.MINHASH_H))
    con = duckdb.connect()
    con.register("sh", pa.table({"doc_id": [r.doc_id for r in rows],
                                 "shingle": [r.shingle for r in rows]}))
    oracle = set(con.execute(f"""
        WITH sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id)
        SELECT doc_id, 0 AS band, mh0 || mh1 AS bucket FROM sig
        UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM sig
        UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM sig""").fetchall())
    assert hof == oracle and hof
    spread = dict(dedup.hof_bands(toks).groupBy("band")
                  .agg(F.count_distinct("bucket")).collect())
    assert set(spread) == set(range(dedup.MINHASH_BANDS))
    assert all(n > 1 for n in spread.values()), spread


def test_lsh_index_delete_tombstones_and_asof(dfs, spark):
    """Merge-on-read DELETE on the persisted LSH index: tombstoned
    documents stop matching at the new version, no index data file is
    rewritten (the manifest bump only ADDS a tombstone dir), and the
    pre-delete version stays AS-OF readable with the deleted documents
    still matching."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.datapipe import dedup, similarity
    from hive_nexr_spark.sources import index_manifest as idx

    docs = dfs["documents"]
    d = similarity._index_scratch()
    dedup.lsh_index_build(docs, d)
    bounded = dedup._bounded_corpus(docs, 200)
    exacts = bounded.filter((F.col("doc_id") >= 100000)
                            & (F.col("doc_id") < 200000))
    before = {(r.doc_a, r.doc_b) for r in
              dedup.lsh_index_query(spark, d, exacts).collect()}
    # every exact copy matches its even origin pre-delete
    assert any(a % 4 == 0 for a, _ in before)
    dirs_v1 = set(idx.read_manifest(d, 1)["tables"]["bands"])
    v2 = dedup.lsh_index_delete(
        spark, d,
        bounded.filter((F.col("doc_id") < 100000)
                       & (F.col("doc_id") % 4 == 0)).select("doc_id"))
    assert v2 == 2
    man2 = idx.read_manifest(d, 2)
    # no data rewrite: the band dirs are byte-identical references,
    # the only new table is the tombstone dir
    assert set(man2["tables"]["bands"]) == dirs_v1
    assert man2["tables"]["tombstones"]
    after = {(r.doc_a, r.doc_b) for r in
             dedup.lsh_index_query(spark, d, exacts).collect()}
    assert not any(a % 4 == 0 and a < 100000 for a, _ in after)
    assert after == {(a, b) for a, b in before
                     if not (a < 100000 and a % 4 == 0)}
    # AS-OF the pre-delete version: deleted docs still match
    asof = {(r.doc_a, r.doc_b) for r in
            dedup.lsh_index_query(spark, d, exacts, version=1).collect()}
    assert asof == before

    # COMPACT: tombstones materialized away — content identical, the
    # new manifest lists exactly one fresh dir per table and no
    # tombstone table; pre-compaction versions stay AS-OF readable
    v3 = dedup.lsh_index_compact(spark, d)
    assert v3 == 3
    man3 = idx.read_manifest(d, 3)
    assert "tombstones" not in man3["tables"]
    assert len(man3["tables"]["bands"]) == 1
    assert not set(man3["tables"]["bands"]) & dirs_v1
    compacted = {(r.doc_a, r.doc_b) for r in
                 dedup.lsh_index_query(spark, d, exacts).collect()}
    assert compacted == after
    assert {(r.doc_a, r.doc_b) for r in
            dedup.lsh_index_query(spark, d, exacts, version=1).collect()
            } == before

    # EXPIRE everything below v3: v1/v2 manifests + their now-
    # unreferenced dirs are gone, expired reads raise, v3 unchanged
    removed = idx.expire_versions(d, keep_from=3)
    assert removed  # the v1 band/shingle dirs and the tombstone dir
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        idx.read_manifest(d, 1)
    assert {(r.doc_a, r.doc_b) for r in
            dedup.lsh_index_query(spark, d, exacts).collect()} == after


def test_lsh_index_reinsert_after_delete_sequenced(dfs, spark):
    """SEQUENCED index tombstones (the shared
    index_manifest.read_sequenced): delete(X) → add_batch re-admitting X
    must make X matchable again at HEAD (the re-add dirs outsequence the
    tombstone), while the pre-delete version still matches everything, the
    post-delete/pre-re-add version excludes X, and compaction preserves
    the HEAD content. This is exactly the delete-then-re-ingest flow the
    streaming gate makes likely — silently lost under the pre-r12
    unsequenced anti-join."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.datapipe import dedup, similarity
    from hive_nexr_spark.sources import index_manifest as idx

    docs = dfs["documents"]
    d = similarity._index_scratch()
    dedup.lsh_index_build(docs, d)
    bounded = dedup._bounded_corpus(docs, 200)
    exacts = bounded.filter((F.col("doc_id") >= 100000)
                            & (F.col("doc_id") < 200000))
    before = {(r.doc_a, r.doc_b) for r in
              dedup.lsh_index_query(spark, d, exacts).collect()}
    deleted = bounded.filter((F.col("doc_id") < 100000)
                             & (F.col("doc_id") % 4 == 0))
    v2 = dedup.lsh_index_delete(spark, d, deleted.select("doc_id"))
    v3 = dedup.lsh_index_add_batch(
        spark, d, deleted.filter(F.col("doc_id") % 8 == 0))
    assert (v2, v3) == (2, 3)
    # the tombstone (seq 2) applies to the build dirs (seq 1) but NOT
    # the re-add dirs (seq 3) — recorded in the manifest's seqs map
    man3 = idx.read_manifest(d, 3)
    tomb = man3["tables"]["tombstones"][0]
    assert man3["seqs"][tomb] == 2
    assert all(man3["seqs"][b] in (1, 3)
               for b in man3["tables"]["bands"])
    head = {(r.doc_a, r.doc_b) for r in
            dedup.lsh_index_query(spark, d, exacts).collect()}
    expect_head = {(a, b) for a, b in before
                   if a >= 100000 or a % 4 != 0 or a % 8 == 0}
    assert head == expect_head
    assert any(a % 8 == 0 and a < 100000 for a, _ in head)  # re-admitted
    assert not any(a % 4 == 0 and a % 8 != 0 and a < 100000
                   for a, _ in head)  # still-deleted half stays out
    # AS-OF correctness on every version
    asof1 = {(r.doc_a, r.doc_b) for r in
             dedup.lsh_index_query(spark, d, exacts, version=1).collect()}
    assert asof1 == before
    asof2 = {(r.doc_a, r.doc_b) for r in
             dedup.lsh_index_query(spark, d, exacts, version=2).collect()}
    assert asof2 == {(a, b) for a, b in before
                     if a >= 100000 or a % 4 != 0}
    # compaction materializes the sequenced visibility away — content
    # identical, no tombstone table left
    dedup.lsh_index_compact(spark, d)
    compacted = {(r.doc_a, r.doc_b) for r in
                 dedup.lsh_index_query(spark, d, exacts).collect()}
    assert compacted == head
    assert "tombstones" not in idx.read_manifest(d)["tables"]


@pytest.mark.slow
def test_ivf_pq_delete_reinsert_sequenced(dfs, spark):
    """SEQUENCED deletes on the persisted VECTOR index (r13 — the r12
    recipe propagated from the LSH index, closing the one lifecycle
    asymmetry): delete(X) → add_batch re-admitting X makes X
    retrievable at HEAD, the post-delete version excludes it, the
    pre-delete version is untouched, and compaction preserves HEAD
    content with no tombstone table left. Visibility is pinned at the
    DATA level (the sequenced codes scan's vec_id set per version) so
    the assertion doesn't depend on which survivors make top-k."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.datapipe import similarity
    from hive_nexr_spark.queries.datapipe_q import _queries_of
    from hive_nexr_spark.sources import index_manifest as idx

    emb = dfs["embeddings"]
    d = similarity._index_scratch()
    similarity.ivf_pq_build_index(emb, d)
    queries = _queries_of(emb)
    spark_ = spark
    before = {tuple(r) for r in
              similarity.ivf_pq_query_index(spark_, d, queries).collect()}
    corpus_ids = {r.vec_id for r in
                  emb.filter(F.col("vec_id") >= 10)
                  .select("vec_id").collect()}

    deleted = emb.filter((F.col("vec_id") >= 10)
                         & (F.col("vec_id") % 4 == 0))
    v2 = similarity.ivf_pq_delete(spark_, d, deleted.select("vec_id"))
    v3 = similarity.ivf_pq_add_batch(
        spark_, d, deleted.filter(F.col("vec_id") % 8 == 0))
    assert (v2, v3) == (2, 3)
    man3 = idx.read_manifest(d, 3)
    tomb = man3["tables"]["tombstones"][0]
    assert man3["seqs"][tomb] == 2
    assert sorted(man3["seqs"][c] for c in man3["tables"]["codes"]) \
        == [1, 3]

    def visible_ids(version):
        man = idx.read_manifest(d, version)
        return {r.vec_id for r in
                idx.scan_sequenced(spark_, man, "codes", "vec_id")
                .select("vec_id").distinct().collect()}

    assert visible_ids(1) == corpus_ids
    assert visible_ids(2) == {v for v in corpus_ids if v % 4 != 0}
    head_ids = {v for v in corpus_ids if v % 4 != 0 or v % 8 == 0}
    assert visible_ids(3) == head_ids
    assert any(v % 8 == 0 for v in head_ids)  # re-admitted half is back

    # AS-OF query correctness: v1 pins the pre-delete results exactly;
    # post-delete results never surface a deleted vector
    asof1 = {tuple(r) for r in
             similarity.ivf_pq_query_index(spark_, d, queries,
                                           version=1).collect()}
    assert asof1 == before
    asof2 = similarity.ivf_pq_query_index(spark_, d, queries,
                                          version=2).collect()
    assert asof2 and not any(r.neighbor_id % 4 == 0 for r in asof2)
    head = {tuple(r) for r in
            similarity.ivf_pq_query_index(spark_, d, queries).collect()}
    assert head and not any(
        v % 4 == 0 and v % 8 != 0 for _, v, *_ in head)

    # compaction: content identical at HEAD, tombstones materialized
    # away, pre-compaction versions still AS-OF readable
    similarity.ivf_pq_compact(spark_, d)
    assert visible_ids(None) == head_ids
    compacted = {tuple(r) for r in
                 similarity.ivf_pq_query_index(spark_, d,
                                               queries).collect()}
    assert compacted == head
    assert "tombstones" not in idx.read_manifest(d)["tables"]
    asof1_post = {tuple(r) for r in
                  similarity.ivf_pq_query_index(spark_, d, queries,
                                                version=1).collect()}
    assert asof1_post == before


def test_index_manifest_guards(dfs, spark, tmp_path):
    """The r12 manifest-layer guards: (a) a version collision between
    two committers raises ManifestConflictError instead of silently
    clobbering (exclusive create — the minimal optimistic-concurrency
    check under the documented single-writer posture); (b)
    expire_versions with keep_from beyond the latest version raises
    ValueError instead of deleting every manifest and data dir."""
    import pytest as _pytest

    from hive_nexr_spark.sources import index_manifest as idx

    import os as _os

    root = str(tmp_path / "idx")
    v1 = idx.commit_manifest(root, {"p": 1}, {"t": []})
    assert v1 == 1
    # the race: a second committer that read the table BEFORE v1 landed
    # computes the same next version — monkeypatch latest_version to
    # reproduce its stale read; the loser must raise, not clobber
    orig = idx.latest_version
    try:
        idx.latest_version = lambda r: 0
        with _pytest.raises(idx.ManifestConflictError):
            idx.commit_manifest(root, {"p": 2}, {"t": []})
    finally:
        idx.latest_version = orig
    # no torn/partial state: v1 still loads, no stray tmp files
    assert idx.read_manifest(root, 1)["params"] == {"p": 1}
    assert not [f for f in _os.listdir(_os.path.join(root, "manifest"))
                if ".tmp" in f]
    with _pytest.raises(ValueError):
        idx.expire_versions(root, keep_from=5)


@pytest.mark.slow
def test_remove_orphans_reclaims_only_unreferenced(dfs, spark, sf_dir):
    """Orphan cleanup (r12, both manifest layers): a data directory left
    by a writer that crashed before its manifest commit is reclaimed;
    every referenced dir survives and every version's content is
    unchanged."""
    import os as _os

    from pyspark.sql import functions as F

    from hive_nexr_spark.datapipe import dedup, similarity
    from hive_nexr_spark.sources import index_manifest as idx
    from hive_nexr_spark.sources import snapshots as sn

    # snapshot layer
    base = sn._build_delete_table(spark, sf_dir)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orphan = _os.path.join(base, "data_v9_crashed")
    orders.limit(5).write.parquet(orphan)
    pre = sn.read_version(spark, base, 3).count()
    # default age cutoff (3 days): a FRESH unreferenced dir is treated
    # as a possibly-in-flight writer and left alone (r13 advisor fix)
    assert sn.remove_orphans(base) == []
    assert _os.path.exists(orphan)
    removed = sn.remove_orphans(base, older_than_seconds=0)
    assert removed == [orphan]
    assert not _os.path.exists(orphan)
    assert sn.read_version(spark, base, 3).count() == pre
    assert sn.read_version(spark, base, 1).count() > 0
    # index layer
    docs = dfs["documents"]
    d = similarity._index_scratch()
    dedup.lsh_index_build(docs, d)
    iorphan = idx.new_data_dir(d, "bands", "b00099")
    docs.limit(3).select("doc_id").write.parquet(iorphan)
    probe = dedup._bounded_corpus(docs, 200).filter(
        F.col("doc_id") >= 100000)
    before = {tuple(r) for r in
              dedup.lsh_index_query(spark, d, probe).collect()}
    assert idx.remove_orphans(d) == []  # fresh → in-flight protection
    iremoved = idx.remove_orphans(d, older_than_seconds=0)
    assert iremoved == [iorphan]
    after = {tuple(r) for r in
             dedup.lsh_index_query(spark, d, probe).collect()}
    assert after == before and before


def test_snapshot_guards_and_empty_cdc_window(spark, tmp_path):
    """Snapshot-layer r12 guards: version-collision commits raise
    (exclusive manifest create), expire_snapshots rejects keep_from
    beyond latest, and a CDC window where BOTH versions carry no data
    dirs (delete-only commits on a not-yet-loaded table) returns two
    EMPTY frames instead of IndexError."""
    import pytest as _pytest

    from hive_nexr_spark.sources import index_manifest as idx
    from hive_nexr_spark.sources import snapshots as sn

    base = str(tmp_path / "snap")
    import os as _os

    _os.makedirs(base)
    # two delete-only commits on an empty table: v1/v2 tombstones only
    keys = spark.createDataFrame([(1,), (2,)], "o_orderkey bigint")
    t1 = _os.path.join(base, "tombstones_v1")
    keys.write.parquet(t1)
    sn._write_manifest(base, {"version": 1, "dirs": [], "deletes": [t1],
                              "key": "o_orderkey", "dir_seqs": {},
                              "delete_seqs": {t1: 1}})
    t2 = _os.path.join(base, "tombstones_v2")
    keys.write.parquet(t2)
    sn._write_manifest(base, {"version": 2, "dirs": [],
                              "deletes": [t1, t2], "key": "o_orderkey",
                              "dir_seqs": {},
                              "delete_seqs": {t1: 1, t2: 2}})
    ins, dels = sn.changes_between(spark, base, 1, 2)
    assert ins.count() == 0 and dels.count() == 0
    # collision: same version re-committed → conflict, not clobber
    with _pytest.raises(idx.ManifestConflictError):
        sn._write_manifest(base, {"version": 2, "dirs": [],
                                  "deletes": [], "key": "o_orderkey",
                                  "dir_seqs": {}, "delete_seqs": {}})
    # keep_from beyond latest refuses instead of deleting everything
    with _pytest.raises(ValueError):
        sn.expire_snapshots(base, keep_from=9)
    assert _os.path.isdir(t1) and _os.path.isdir(t2)


def test_schema_rename_drop_field_ids(spark, sf_dir):
    """Field-ID schema evolution (r13): RENAME preserves history (the
    old files' values read back under the new name — resolution by id,
    not name), DROP hides without rewriting, AS-OF reads surface each
    version's own names, every alter is metadata-only (v1's data dir
    byte-listing unchanged, alter manifests list the same dirs), and a
    post-rename append written physically under the NEW names unifies
    with the old-named history."""
    import os as _os

    from pyspark.sql import functions as F

    from hive_nexr_spark.sources import snapshots as sn
    from hive_nexr_spark.scratch import process_scratch_dir

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = process_scratch_dir("snapevo_test")
    _os.makedirs(base, exist_ok=True)
    v1_dir = _os.path.join(base, "data_v1")
    orders.filter(F.col("o_orderkey") % 3 != 0).write.parquet(v1_dir)
    sn._commit(base, 1, v1_dir, orders.schema)
    d2 = _os.path.join(base, "data_v2")
    orders.filter(F.col("o_orderkey") % 3 == 0).write.parquet(d2)
    sn._commit(base, 2, d2, orders.schema)

    def listing(d):
        return sorted((f, _os.path.getsize(_os.path.join(d, f)),
                       _os.path.getmtime(_os.path.join(d, f)))
                      for f in _os.listdir(d))

    v1_bytes = listing(v1_dir)
    before = {(r.o_orderkey, r.o_totalprice)
              for r in sn.read_version(spark, base, 2)
              .select("o_orderkey", "o_totalprice").collect()}

    assert sn.alter_rename_column(spark, base, "o_totalprice",
                                  "o_amount") == 4  # v3 = init
    assert sn.alter_drop_column(spark, base, "o_orderpriority") == 5
    # metadata-only: data untouched, alter manifests list the same dirs
    assert listing(v1_dir) == v1_bytes
    for v in (3, 4, 5):
        assert sn._load_manifest(base, v)["dirs"] \
            == sn._load_manifest(base, 2)["dirs"]

    # rename preserves VALUES: the v1/v2 files (physically
    # o_totalprice) read back under o_amount, row-for-row
    at4 = sn.read_version(spark, base, 4)
    assert "o_amount" in at4.columns and "o_totalprice" not in at4.columns
    assert "o_orderpriority" in at4.columns
    got4 = {(r.o_orderkey, r.o_amount)
            for r in at4.select("o_orderkey", "o_amount").collect()}
    assert got4 == before
    # drop hides at HEAD, survives AS-OF
    at5 = sn.read_version(spark, base, 5)
    assert "o_orderpriority" not in at5.columns
    assert at5.count() == len(before)
    # AS-OF v2 (pre-tracking) keeps the original names
    assert "o_totalprice" in sn.read_version(spark, base, 2).columns

    # append written under the CURRENT names: field-id resolution
    # unifies it with the o_totalprice-named history
    d6 = _os.path.join(base, "data_v6")
    rows6 = (orders.filter(F.col("o_orderkey") % 7 == 0)
             .select("o_orderkey", "o_custkey", "o_orderstatus",
                     F.col("o_totalprice").alias("o_amount"),
                     "o_orderdate"))
    rows6.write.parquet(d6)
    sn._commit(base, 6, d6, rows6.schema)
    at6 = sn.read_version(spark, base, 6)
    n7 = orders.filter(F.col("o_orderkey") % 7 == 0).count()
    assert at6.count() == len(before) + n7
    dup = (at6.groupBy("o_orderkey").count()
           .filter(F.col("count") > 1).count())
    assert dup == n7  # every %7 key now appears twice, values intact


def test_compact_binpack_leaves_large_dirs_untouched(spark, sf_dir):
    """Binpack compaction (r13): only undersized dirs rewrite — both
    bulk dirs carry over with identical paths, sequences, AND bytes;
    content is layout-invariant at HEAD and AS-OF; a second binpack at
    the same target is a no-op commit-wise (the merged sliver dir may
    itself stay under target, but a single small dir is not worth a
    rewrite)."""
    import os as _os

    from pyspark.sql import functions as F

    from hive_nexr_spark.scratch import process_scratch_dir
    from hive_nexr_spark.sources import snapshots as sn

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = process_scratch_dir("binpack_test")
    _os.makedirs(base, exist_ok=True)
    third = F.col("o_orderkey") % 3 == 0
    sliver = F.col("o_orderkey") % 97
    for i, (name, pred) in enumerate([
            ("bulk_a", ~third), ("sl_a", third & (sliver == 0)),
            ("sl_b", third & (sliver == 1)),
            ("bulk_b", third & (sliver >= 2))], start=1):
        d = _os.path.join(base, name)
        orders.filter(pred).write.parquet(d)
        sn._commit(base, i, d, orders.schema)

    def listing(d):
        return sorted((f, _os.path.getsize(_os.path.join(d, f)),
                       _os.path.getmtime(_os.path.join(d, f)))
                      for f in _os.listdir(d))

    bulks = [_os.path.join(base, n) for n in ("bulk_a", "bulk_b")]
    bulk_bytes = [listing(d) for d in bulks]
    pre = sn.read_version(spark, base, 4)
    pre_rows = pre.count()
    target = sn._payload_bytes(bulks[1])
    v5 = sn.compact_binpack(spark, base, target)
    assert v5 == 5
    man5 = sn._load_manifest(base, 5)
    assert len(man5["dirs"]) == 3
    for d, bl in zip(bulks, bulk_bytes):
        assert d in man5["dirs"] and listing(d) == bl
        assert man5["dir_seqs"][d] == sn._load_manifest(
            base, 4)["dir_seqs"][d]
    assert sn.read_version(spark, base, 5).count() == pre_rows
    assert sn.read_version(spark, base, 4).count() == pre_rows  # AS-OF
    assert sn.compact_binpack(spark, base, target) == 5  # no-op


def _race_worker(tag, base, iroot, n, barrier, q):
    """Child-process committer for the two-process race test: commits
    `n` disjoint appends to BOTH manifest layers through the bounded
    retry helpers, synchronized per round so the committers genuinely
    race the same version number."""
    import os as _os

    from pyspark.sql.types import LongType, StructField, StructType

    from hive_nexr_spark.sources import index_manifest as idx
    from hive_nexr_spark.sources import snapshots as sn

    schema = StructType([StructField("k", LongType())])
    conflicts = 0
    for i in range(n):
        d = _os.path.join(base, f"data_{tag}_{i}")
        _os.makedirs(d, exist_ok=True)
        barrier.wait()
        _, r = sn.commit_append_with_retry(base, d, schema)
        conflicts += r
        idir = _os.path.join(iroot, f"t_{tag}_{i}")
        _os.makedirs(idir, exist_ok=True)
        barrier.wait()
        _, r2 = idx.append_with_retry(iroot, {"t": [idir]})
        conflicts += r2
    q.put(conflicts)


def test_two_process_commit_race(tmp_path):
    """TRUE two-process optimistic-concurrency race (r13 — the r12
    guard was only exercised via a monkeypatched stale read): two OS
    processes race `latest+1` on both manifest layers, each round
    barrier-synchronized; the retry helpers re-base the losers, so
    BOTH committers' disjoint appends all land, the serialized history
    grows by exactly one dir per version, and nothing is lost or
    duplicated."""
    import multiprocessing as mp
    import os as _os

    from hive_nexr_spark.sources import index_manifest as idx
    from hive_nexr_spark.sources import snapshots as sn

    base = str(tmp_path / "snap")
    iroot = str(tmp_path / "idx")
    _os.makedirs(base)
    idx.commit_manifest(iroot, {}, {"t": []})  # append needs a v1
    ctx = mp.get_context("spawn")
    barrier, q = ctx.Barrier(2), ctx.Queue()
    n = 6
    ps = [ctx.Process(target=_race_worker,
                      args=(t, base, iroot, n, barrier, q))
          for t in ("a", "b")]
    for p in ps:
        p.start()
    conflicts = q.get(timeout=120) + q.get(timeout=120)
    for p in ps:
        p.join(timeout=30)
        assert p.exitcode == 0

    # snapshot layer: 2n versions, each adding exactly one dir; every
    # append from both committers present exactly once
    assert sn._latest(base) == 2 * n
    prev: set = set()
    for v in range(1, 2 * n + 1):
        dirs = set(sn._load_manifest(base, v)["dirs"])
        assert prev < dirs and len(dirs) == v
        prev = dirs
    names = {_os.path.basename(d) for d in prev}
    assert names == {f"data_{t}_{i}" for t in "ab" for i in range(n)}

    # index layer: same invariants over the `t` table
    assert idx.latest_version(iroot) == 2 * n + 1
    tprev: set = set()
    for v in range(2, 2 * n + 2):
        tdirs = set(idx.read_manifest(iroot, v)["tables"]["t"])
        assert tprev < tdirs and len(tdirs) == v - 1
        tprev = tdirs
    inames = {_os.path.basename(d) for d in tprev}
    assert inames == {f"t_{t}_{i}" for t in "ab" for i in range(n)}
    # with per-round barriers, at least one collision must have been
    # retried (otherwise the race never happened and this is vacuous)
    assert conflicts >= 1, "no conflicts observed — race was vacuous"


def test_refs_cas_conflict(tmp_path):
    """Refs updates carry the same exclusive-create CAS as manifest
    commits (r13, advisor ask): refs state lives in sequenced
    refs.<N>.json files; a writer that read the refs at sequence S may
    only commit S+1, so two concurrent ref writers racing the same
    sequence get a loud ManifestConflictError instead of last-writer-
    wins silently dropping one update — and the loser's re-read picks
    up the winner's state."""
    import os as _os

    import pytest as _pytest

    from hive_nexr_spark.sources import index_manifest as idx
    from hive_nexr_spark.sources import snapshots as sn

    base = str(tmp_path / "snap")
    _os.makedirs(base)
    for v in (1, 2):
        sn._write_manifest(base, {"version": v, "dirs": [],
                                  "deletes": [], "key": None,
                                  "dir_seqs": {}, "delete_seqs": {}})
    sn.set_ref(base, "main", 1, kind="branch")
    sn.set_ref(base, "main", 2, kind="branch")  # fast-forward: seq 2
    refs, seq = sn._load_refs_versioned(base)
    assert seq == 2 and refs["main"]["version"] == 2
    # the race: a writer that read at seq 1 (before the fast-forward)
    # tries to commit its update as seq 2 — must raise, not clobber
    with _pytest.raises(idx.ManifestConflictError):
        sn._write_refs(base, {"main": {"version": 1,
                                       "kind": "branch"}}, 1)
    assert sn._load_refs(base)["main"]["version"] == 2
    assert not [f for f in _os.listdir(base) if ".tmp" in f]
    # tag immutability survives the versioned scheme
    sn.set_ref(base, "pin", 1, kind="tag")
    with _pytest.raises(ValueError):
        sn.set_ref(base, "pin", 2, kind="tag")


def test_residual_beats_raw_on_clustered_fixture(spark):
    """The measurement `ivf_pq_residual_topk` was built to produce —
    vacuous on the uniform synthetic embeddings (r10 verdict): on the
    deterministic clustered fixture (8 well-separated md5-derived
    centers; the coarse quantizer absorbs the inter-center offsets)
    residual/IVFADC encoding must out-recall raw encoding at the same
    code budget (Jégou et al. 2011 §IV-A). Fixture and pipeline are
    fully deterministic, so the pinned values are exact, not a flaky
    statistical bound (measured: residual 0.633 vs raw 0.433)."""
    from hive_nexr_spark.datapipe import similarity

    emb = similarity.clustered_embeddings(spark)
    out = similarity.ivf_pq_residual_topk(emb, m=8, pq_iters=2)
    rows = (out.select("query_id", "recall_residual", "recall_raw")
            .distinct().collect())
    assert len(rows) == 10
    rr = sum(r.recall_residual for r in rows) / len(rows)
    rw = sum(r.recall_raw for r in rows) / len(rows)
    assert rr > rw + 0.1, (rr, rw)
    assert rr >= 0.6, rr


def test_heavy_hitters_bounded_matches_exact_groupby(dfs):
    """The Misra-Gries two-pass result must EQUAL the full-vocabulary
    groupBy restricted to the same n*(k+1) > N threshold — the sketch
    bounds memory, never changes the answer."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.datapipe.corpus_stats import (
        token_heavy_hitters_bounded,
    )
    from hive_nexr_spark.datapipe.textops import _tokens

    docs = dfs["documents"]
    got = {
        (r["token"], r["n_occurrences"], r["rank"])
        for r in token_heavy_hitters_bounded(docs, k_counters=50).collect()
    }
    terms = docs.select(F.explode(_tokens(F.col("text"))).alias("t"))
    counts = {r["t"]: r["n"] for r in
              terms.groupBy("t").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    expect_tokens = sorted(
        ((t, n) for t, n in counts.items() if n * 51 > total),
        key=lambda x: (-x[1], x[0]),
    )
    expect = {(t, n, i + 1) for i, (t, n) in enumerate(expect_tokens)}
    assert got == expect
    assert got, "threshold should keep at least one token on this corpus"


def test_zorder_buckets_are_rank_rectangles(dfs):
    """Each leading-z-bit bucket fixes the top 2 bits of BOTH dimension
    ranks, so it must span < 64 of the 256 rank values in each dimension
    — the bounded-rectangle property that makes parquet min/max prune
    files for predicates on either column."""
    from hive_nexr_spark.datapipe.layout import zorder_layout_stats

    rows = zorder_layout_stats(dfs["events"]).collect()
    assert rows
    for r in rows:
        assert 0 <= r["zbucket"] < 16
        assert r["max_x"] - r["min_x"] < 64
        assert r["max_y"] - r["min_y"] < 64
    assert sum(r["n_events"] for r in rows) == dfs["events"].count()


def test_pretrain_pipeline_stage_semantics(dfs):
    """End-to-end pipeline invariants: exact planted copies never
    survive (keep-first dedup), benchmark-slice docs are scrubbed (they
    trivially share their own shingles), and the packing layout is a
    valid concat-and-chunk stream."""
    from hive_nexr_spark.datapipe.pipeline import pretrain_pipeline

    rows = pretrain_pipeline(dfs["documents"]).collect()
    assert rows
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids))
    # planted exact copies live at +100000; keep-first always prefers
    # the original, which passed the identical filters
    assert not [i for i in ids if 100000 <= i < 200000]
    # the benchmark slice shares 100% of its own shingles -> scrubbed
    assert not [i for i in ids if i < 100000 and i % 13 == 0]
    for r in rows:
        assert 0 <= r["tok_offset"] < 512
        assert r["seq_id"] >= 0
        assert r["quality"] >= 0.7


def test_audio_wav_roundtrip_and_windows(dfs, spark):
    """The WAV byte path must be real: encode_wav produces a RIFF
    container the chunk-walking decoder parses back bit-exactly (also
    with an extra chunk before data), and the windowed features are
    integer-exact against a direct recompute."""
    import numpy as np

    from hive_nexr_spark.datapipe.multimodal import (
        audio_window_features, decode_audio, encode_wav)

    wav = encode_wav(42, n_samples=512)
    sr, n, pcm = decode_audio(wav)
    assert (sr, n) == (8000, 512)
    expect = np.array(
        [((42 * 1103515245 + i * 12345) % 65536) - 32768
         for i in range(512)], dtype=np.int64)
    assert (np.frombuffer(pcm, dtype="<i2") == expect).all()
    # chunk walking: a LIST chunk between fmt and data must not break it
    with_list = (wav[:36] + b"LIST\x04\x00\x00\x00INFO" + wav[36:])
    import struct
    patched = (with_list[:4]
               + struct.pack("<I", len(with_list) - 8) + with_list[8:])
    assert decode_audio(patched)[1] == 512
    rows = audio_window_features(dfs["documents"].limit(3)).collect()
    assert len(rows) == 3 * 4
    for r in rows:
        seg = np.array(
            [((r["doc_id"] * 1103515245 + i * 12345) % 65536) - 32768
             for i in range(r["win_idx"] * 256, (r["win_idx"] + 1) * 256)],
            dtype=np.int64)
        assert r["energy"] == int(np.sum(seg * seg))
        assert r["peak"] == int(np.max(np.abs(seg)))
        signs = seg >= 0
        assert r["zero_cross"] == int(np.sum(signs[1:] != signs[:-1]))


def test_edit_distance_pairs_find_planted_dups(dfs):
    """Exact copies sit at distance 0, the 'zzz '-prefixed near-dups at
    distance <= 4 (one 4-char insertion vs the original's first token
    replacement); everything reported must satisfy the threshold."""
    from hive_nexr_spark.datapipe.dedup import edit_distance_pairs

    rows = edit_distance_pairs(dfs["documents"]).collect()
    assert rows
    by_pair = {(r["doc_a"], r["doc_b"]): r["edit_dist"] for r in rows}
    assert all(d <= 8 for d in by_pair.values())
    exact = [(a, b) for (a, b), d in by_pair.items() if d == 0]
    assert exact, "planted exact copies must surface at distance 0"
    assert any(100000 <= b < 200000 for _, b in exact)


def test_pca_power_matches_numpy_and_is_unit(dfs):
    """The unrolled power iteration must match a NumPy recompute of the
    same algorithm (same init, same iteration count) to the rounding
    the op emits, and the emitted direction must be unit-norm."""
    import numpy as np

    from hive_nexr_spark.datapipe.similarity import pca_power_iteration

    rows = pca_power_iteration(dfs["embeddings"]).collect()
    got = np.array([r["loading"] for r in
                    sorted(rows, key=lambda r: r["dim_idx"])])
    assert abs(np.sum(got * got) - 1.0) < 1e-4
    x = np.array(dfs["embeddings"].select("embedding").rdd
                 .map(lambda r: r[0]).collect(), dtype=np.float64)
    w = np.zeros(64)
    w[0] = 1.0
    for _ in range(2):
        s = x.T @ (x @ w)
        w = s / np.sqrt(np.sum(s * s))
    assert np.allclose(got, np.round(w, 6), atol=2e-6)


def test_countmin_one_sided_overcount_and_probe_set(dfs):
    """Count-Min's defining guarantee: the estimate NEVER undercounts
    (min over d salted rows >= true count); probes are exactly the
    top-15 tokens by exact frequency with dense ranks."""
    from hive_nexr_spark.datapipe.corpus_stats import countmin_token_freq

    rows = countmin_token_freq(dfs["documents"]).collect()
    assert sorted(r.rank for r in rows) == list(range(1, 16))
    assert all(r.cm_estimate >= r.n_exact for r in rows)
    assert all(r.overcount == r.cm_estimate - r.n_exact for r in rows)
    exact_top = (
        dfs["documents"]
        .selectExpr("explode(split(lower(text), ' ')) AS t")
        .groupBy("t").count()
        .orderBy(F.col("count").desc(), "t").limit(15).collect())
    assert {(r.token, r.n_exact) for r in rows} == \
        {(r.t, r["count"]) for r in exact_top}


def test_bm25_ranks_docs_with_query_terms(dfs):
    """BM25 invariants: dense ranks, every hit count within the 3-term
    query budget, integer micro-score consistent with the emitted float,
    and every returned document actually contains a query term."""
    from hive_nexr_spark.datapipe.curation import bm25_topk

    rows = bm25_topk(dfs["documents"]).collect()
    assert sorted(r.rank for r in rows) == list(range(1, 11))
    micros = [r.score_micro for r in rows]
    assert micros == sorted(micros, reverse=True)
    assert all(1 <= r.n_query_hits <= 3 for r in rows)
    assert all(abs(r.bm25 - r.score_micro / 1e6) < 1e-9 for r in rows)
    # reconstruct the deterministic query (df ranks 5..7) and check hits
    tf = (dfs["documents"]
          .selectExpr("doc_id", "explode(split(lower(text), ' ')) AS term")
          .groupBy("doc_id", "term").count())
    qterms = [r.term for r in (
        tf.groupBy("term").count()
        .orderBy(F.col("count").desc(), "term").limit(7).collect())][4:7]
    hit_docs = {r.doc_id for r in tf.filter(
        F.col("term").isin(qterms)).select("doc_id").collect()}
    assert all(r.doc_id in hit_docs for r in rows)


def test_wordpiece_train_matches_reference_algorithm(dfs):
    """The in-engine WordPiece merge loop must equal a direct Python
    transcription of the likelihood-scored trainer (Schuster & Nakajima
    2012; HF tokenizers-course formulation): score = floor(1e12 *
    n_pair / (n_lhs * n_rhs)), integer argmax, lexicographic
    tie-break, same greedy non-overlapping re-segmentation."""
    from collections import Counter

    from hive_nexr_spark.datapipe.corpus_stats import wordpiece_train_merges

    got = wordpiece_train_merges(dfs["documents"]).orderBy("step").collect()
    assert [r.step for r in got] == [1, 2, 3, 4, 5, 6]
    assert all(r.merged == r.lhs + r.rhs for r in got)

    vocab: Counter = Counter()
    for (t,) in dfs["documents"].select("text").collect():
        for w in t.lower().split(" "):
            if len(w) >= 2 and "\x1f" not in w:
                vocab[w] += 1
    vsyms = {w: list(w) for w in vocab}
    expect = []
    for _ in range(6):
        pc: Counter = Counter()
        sc: Counter = Counter()
        for w, n in vocab.items():
            s = vsyms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += n
            for sym in s:
                sc[sym] += n
        scored = {
            p: int(float(cnt) * 1e12 // (float(sc[p[0]]) * float(sc[p[1]])))
            for p, cnt in pc.items()
        }
        (a, b) = min(scored, key=lambda p: (-scored[p], p))
        expect.append((a, b, pc[(a, b)], scored[(a, b)]))
        for w in vocab:
            s = vsyms[w]
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            vsyms[w] = out
    assert [(r.lhs, r.rhs, r.n_occurrences, r.score_micro)
            for r in got] == expect


def test_ivf_pq_rerank_never_loses_to_adc(dfs):
    """IVFADC+R invariant: exact re-scoring of a shortlist SUPERSET of
    the ADC top-k can never recall worse than the ADC top-k itself —
    pinned per query; ranks dense 1..k, exact_d2 nondecreasing within a
    query."""
    from collections import defaultdict

    from hive_nexr_spark.datapipe.similarity import ivf_pq_rerank_topk

    rows = ivf_pq_rerank_topk(dfs["embeddings"]).collect()
    by_q = defaultdict(list)
    for r in rows:
        by_q[r.query_id].append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        d2s = [r.exact_d2 for r in rs]
        assert d2s == sorted(d2s)
        assert rs[0].recall_reranked >= rs[0].recall_adc, \
            f"query {q}: rerank lost recall"


def test_zipf_fit_power_law_diagnostics(dfs):
    """Zipf fit sanity: 100 ranks fitted, negative log-log slope (rank-1
    tokens are the most frequent by construction), R² in (0, 1]."""
    from hive_nexr_spark.datapipe.corpus_stats import zipf_fit

    r = zipf_fit(dfs["documents"]).collect()[0]
    # n_ranks = min(top_r, vocabulary) — the tiny test fixture's vocab
    # is below top_r, the op must fit whatever exists
    assert 1 < r.n_ranks <= 100
    assert r.zipf_slope < 0
    assert 0.0 < r.r2 <= 1.0


def test_containment_finds_planted_subsets(dfs):
    """Containment dedup: planted exact copies (doc+100000) must show
    containment 1.0 in BOTH directions; the 'zzz '-prefixed plants
    (doc+200000) contain their originals fully (original's shingles ⊂
    plant's) — the asymmetric case Jaccard misses; every emitted value
    respects the threshold and the |∩| <= |contained| bound."""
    from hive_nexr_spark.datapipe.dedup import containment_pairs

    rows = containment_pairs(dfs["documents"]).collect()
    got = {(r.contained_id, r.container_id): r for r in rows}
    assert all(0.8 <= r.containment <= 1.0 for r in rows)
    exact = [(a, b) for (a, b) in got if b == a + 100000]
    assert exact, "no planted exact-copy pairs found"
    assert all(got[p].containment == 1.0 for p in exact)
    # asymmetric plants: original fully contained in its prefixed copy
    asym = [(a, b) for (a, b) in got if b == a + 200000]
    assert asym, "no asymmetric (prefixed) containment pairs found"
    for a, b in asym:
        r = got[(a, b)]
        assert r.containment >= 0.8
        assert r.n_sh_contained <= r.n_sh_container + 3


def test_asof_tolerance_nulls_stale_matches(dfs):
    """Tolerance as-of: every row flagged dropped_by_tolerance has its
    match nulled; surviving matches respect the tolerance; rows equal
    the plain as-of join's rows with stale matches masked."""
    from hive_nexr_spark.streaming.events import (asof_enrich_batch,
                                                  asof_enrich_tolerance)

    tol = 600 * 1_000_000
    base = {r.event_id: r for r in
            asof_enrich_batch(dfs["events"]).collect()}
    rows = asof_enrich_tolerance(dfs["events"]).collect()
    assert len(rows) == len(base)
    n_dropped = 0
    for r in rows:
        b = base[r.event_id]
        if r.dropped_by_tolerance:
            n_dropped += 1
            assert r.asof_event_id is None and r.gap_us is None
            assert b.asof_event_id is not None and b.gap_us > tol
        elif r.asof_event_id is not None:
            assert r.gap_us <= tol
            assert r.asof_event_id == b.asof_event_id
    assert n_dropped > 0, "fixture produced no tolerance drops"


def test_classifier_eval_metrics_consistent(dfs):
    """Evaluation metrics sanity: totals cover the corpus, AUC is a
    valid probability strictly above coin-flip on the separable fixture
    labels, and the confusion-derived rates stay in [0, 1]."""
    from hive_nexr_spark.datapipe.curation import quality_classifier_eval

    r = quality_classifier_eval(dfs["documents"]).collect()[0]
    n_docs = dfs["documents"].count()
    assert r.n_pos + r.n_neg == n_docs
    assert 0.5 < r.auc <= 1.0
    # precision/recall are NULL when the 0.5 threshold predicts no
    # positives at the tiny fixture (0/0 → NULL in BOTH engines —
    # verified parity); bounds apply whenever defined
    for m in (r.precision_at_half, r.recall_at_half, r.accuracy):
        assert m is None or 0.0 <= m <= 1.0
    assert r.accuracy is not None
