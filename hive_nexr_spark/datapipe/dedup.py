"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB): the only shuffles are on hash keys (text digest,
shingle, band bucket) — never on raw text pairs. Candidate generation is
LSH-band bucketing, so the pairwise verification join touches only
candidate pairs, not the n² document space. All hash functions are md5
slices — identical in any engine, so every operator's result is
reproducible by an external SQL oracle bit-for-bit.

MinHash-LSH is one pipeline, and this module holds its only copy of
each step: `_with_shingles` (distinct word 3-grams), `hof_bands` (the
band encoder — a per-row `array_min` signature, no doc-keyed shuffle),
`_band_candidates` (band-bucket self-join), `_index_matches` (probes ⋈
index bands, verified against the index shingles), `_jaccard` and
`_verified_pairs` (exact verification) and `_write_generation` (one
persisted index generation). Batch pairs, the persisted index, the
streaming near-dup matcher and ingest gate (`streaming/neardup.py`)
and fuzzy decontamination (`curation.decontaminate_fuzzy`) are
composed from them. The steps write their expressions as SQL text, so
each projection is one Py4J call (`similarity.py` says why).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._cache import tracked_persist, tracked_persist_extend
from .similarity import _dbl

# MinHash parameters: H hash functions grouped into BANDS bands of ROWS_PER_BAND.
MINHASH_H = 6
MINHASH_BANDS = 3
ROWS_PER_BAND = MINHASH_H // MINHASH_BANDS
SHINGLE_N = 3


def with_synthetic_dups(documents: DataFrame) -> DataFrame:
    """Deterministic dup corpus: originals ∪ exact copies (+100000) ∪
    near-dups with the first token replaced (+200000). The testdata corpus
    is 100% unique texts, so dedup operators need planted duplicates to have
    observable behavior."""
    orig = documents.select("doc_id", "text")
    exact = documents.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = documents.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.lit("zzz "), F.col("text")).alias("text"),
    )
    return orig.unionAll(exact).unionAll(near)


def _bounded_corpus(documents: DataFrame, max_doc_id: int) -> DataFrame:
    """The standard bounded dup corpus the pairwise BASELINE operators run
    on: synthetic dups planted, then capped to doc_id % 100000 < max_doc_id.
    The cap DOES bound the operator's input — it exists because each of
    these baselines is oracle-checked against a brute-force O(n²) DuckDB
    twin that only stays tractable on a bounded corpus. The production
    path for each family is its `_full` sibling (max_doc_id >= the
    synthetic-dup modulus → no cap), whose candidate generation is
    banded/bucketed/df-capped and whose oracle runs the SAME bounded-
    fan-out algorithm, not brute force."""
    return with_synthetic_dups(documents).filter(
        (F.col("doc_id") % 100000) < max_doc_id)


def exact_dedup_summary(documents: DataFrame) -> DataFrame:
    """Exact dedup = hash-groupBy on the text (at scale: on md5(text) so the
    shuffle key is 16 bytes, not the document)."""
    corpus = with_synthetic_dups(documents)
    groups = corpus.groupBy(F.md5("text").alias("digest")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count("*").alias("n_copies"),
    )
    return groups.agg(
        F.count("*").alias("n_unique"),
        F.sum("n_copies").alias("n_rows"),
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0)).alias("n_dup_groups"),
    )


def exact_dedup_decisions(documents: DataFrame) -> DataFrame:
    """The dedup decision table a pipeline actually consumes downstream:
    one row per distinct text with the surviving doc_id (smallest — the
    standard keep-first policy) and how many copies were dropped. Same
    16-byte-digest shuffle as the summary; the decisions join back to the
    corpus by digest to materialize the deduplicated dataset."""
    corpus = with_synthetic_dups(documents)
    return corpus.groupBy(F.md5("text").alias("digest")).agg(
        F.min("doc_id").alias("keep_id"),
        (F.count("*") - 1).alias("n_dropped"),
    )


def _with_shingles(df: DataFrame) -> DataFrame:
    """Add a distinct word-3-gram shingle array column (JVM-side).

    Two-step on purpose: the tokens are materialized as a column first, so
    the transform lambda slices a bound array reference — inlining
    ``split()`` into the lambda would re-tokenize the document once per
    shingle position (O(tokens²) per doc, measured 4× slower at sf0.1)."""
    toks = df.selectExpr("*", "split(lower(text), ' ') AS _toks")
    return toks.selectExpr(
        "*",
        f"array_distinct(transform(sequence(1, greatest(size(_toks) - "
        f"{SHINGLE_N - 1}, 1)), _i -> concat_ws(' ', slice(_toks, _i, "
        f"{SHINGLE_N})))) AS sh",
    ).drop("_toks")


def hof_bands(df: DataFrame) -> DataFrame:
    """(doc_id, sh) → (doc_id, sh, band, bucket): the one MinHash band
    encoder. Minhash h of a doc is min(substr(md5(shingle), 5h+1, 5))
    over its shingles, taken per row by `array_min` over the transformed
    shingle array — no shingle explode, no doc-keyed shuffle, so it runs
    unchanged on batch and (unaggregated) streaming frames. A band's
    bucket is the concatenation of its ROWS_PER_BAND minhashes; one row
    per band."""
    dg = df.selectExpr("*", "transform(sh, _s -> md5(_s)) AS _dg")
    sig = dg.selectExpr(
        "doc_id", "sh",
        *[f"array_min(transform(_dg, _d -> substring(_d, {h * 5 + 1}, 5))) "
          f"AS mh{h}" for h in range(MINHASH_H)],
    )
    buckets = ", ".join(
        f"named_struct('band', {b}, 'bucket', concat("
        + ", ".join(f"mh{b * ROWS_PER_BAND + r}"
                    for r in range(ROWS_PER_BAND)) + "))"
        for b in range(MINHASH_BANDS))
    return sig.selectExpr(
        "doc_id", "sh", f"explode(array({buckets})) AS bb",
    ).selectExpr("doc_id", "sh", "bb.band", "bb.bucket")


def _shingle_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → `hof_bands` rows of the docs' shingle sets."""
    return hof_bands(_with_shingles(docs.selectExpr("doc_id", "text"))
                     .selectExpr("doc_id", "sh"))


def _jaccard(a: str, b: str) -> str:
    """Exact Jaccard |a ∩ b| / |a ∪ b| of two distinct-element array
    columns, as SQL text — the one verification expression of every
    set-similarity path."""
    return f"(size(array_intersect({a}, {b})) / size(array_union({a}, {b})))"


def _band_candidates(bands: DataFrame) -> DataFrame:
    """`hof_bands` rows → distinct candidate pairs (doc_a < doc_b) from
    the band-bucket self-join. Only (doc_id, band, bucket) enters the
    join, so shingle arrays never ride a band Exchange; the join output
    is |bucket collisions|, never n²."""
    keys = bands.selectExpr("doc_id", "band", "bucket")
    a, b = keys.alias("a"), keys.alias("b")
    return (
        a.join(b, F.expr("a.band = b.band AND a.bucket = b.bucket "
                         "AND a.doc_id < b.doc_id"))
        .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b")
        .distinct()
    )


def _verified_pairs(cand: DataFrame, toks: DataFrame,
                    threshold: float) -> DataFrame:
    """Candidate pairs (doc_a, doc_b) → (doc_a, doc_b, jaccard): both
    `sh` sets fetched from `toks` by id, pairs below `threshold` dropped,
    then the Jaccard rounded to 6 places."""
    return (
        cand.join(toks.alias("ta"), F.expr("doc_a = ta.doc_id"))
        .join(toks.alias("tb"), F.expr("doc_b = tb.doc_id"))
        .selectExpr("doc_a", "doc_b",
                    f"{_jaccard('ta.sh', 'tb.sh')} AS jaccard")
        .filter(f"jaccard >= {_dbl(threshold)}")
        .selectExpr("doc_a", "doc_b", "round(jaccard, 6) AS jaccard")
    )


def _index_matches(probes: DataFrame, bands: DataFrame,
                   toks: DataFrame, threshold: float) -> DataFrame:
    """The one probe → index matcher: banded probes (`hof_bands` rows)
    equi-join the index `bands` (doc_id, band, bucket) on (band, bucket),
    then exact Jaccard against the index `toks` (doc_id, sh) fetched by
    id. Every step is a projection or a join against the index, so it
    also runs on a streaming `probes`. Output (doc_a = index doc, doc_b
    = probe doc, jaccard); a pair matching in k bands comes out k times."""
    cand = probes.selectExpr(
        "doc_id AS doc_b", "sh AS sh_b", "band", "bucket",
    ).join(bands.selectExpr("doc_id AS doc_a", "band", "bucket"),
           ["band", "bucket"])
    return (
        cand.join(toks.selectExpr("doc_id AS doc_a", "sh AS sh_a"), "doc_a")
        .selectExpr("doc_a", "doc_b",
                    f"{_jaccard('sh_a', 'sh_b')} AS jaccard")
        .filter(f"jaccard >= {_dbl(threshold)}")
        .selectExpr("doc_a", "doc_b", "round(jaccard, 6) AS jaccard")
    )


def minhash_lsh_pairs(documents: DataFrame, jaccard_threshold: float = 0.5,
                      max_doc_id: int = 200) -> DataFrame:
    """MinHash + LSH near-dup pairs.

    Pipeline: shingle → H portable minhashes → band buckets → self-join per
    bucket → exact Jaccard verification on candidate pairs only. The
    signature is a per-row projection (`hof_bands`); the candidate join
    shuffles by (band, bucket) and the verification join is
    |candidates|, not n².

    The H hash functions are disjoint 5-hex-char (20-bit) slices of a
    SINGLE md5 per shingle — one digest call instead of H (measured 7× faster
    signature build at sf0.1), statistically the standard one-hash-split-k
    minhash, and still engine-portable: DuckDB's md5 yields the identical
    lowercase hex, so `min(substr(md5(shingle), h*5+1, 5))` reproduces it."""
    corpus = _bounded_corpus(documents, max_doc_id)
    # The shingle arrays are consumed three times (band encoder + both
    # sides of the verification join); persist them once instead of
    # recomputing the tokenize+slice pipeline per consumer (40% faster at
    # sf0.1). MEMORY_AND_DISK by default — at cluster scale this is the
    # standard disk-backed materialization of an expensive shared stage.
    # tracked_persist bounds cache growth across a multi-query sweep.
    toks = tracked_persist(_with_shingles(corpus).select("doc_id", "sh"))
    return _verified_pairs(_band_candidates(hof_bands(toks)), toks,
                           jaccard_threshold)


def ngram_jaccard_pairs(documents: DataFrame, threshold: float = 0.8,
                        max_doc_id: int = 100) -> DataFrame:
    """Exact n-gram Jaccard over a bounded candidate set (all pairs within
    the subset — the brute-force baseline the LSH path approximates)."""
    corpus = _bounded_corpus(documents, max_doc_id)
    toks = _with_shingles(corpus).selectExpr("doc_id", "sh")
    a, b = toks.alias("a"), toks.alias("b")
    return (
        a.join(b, F.expr("a.doc_id < b.doc_id"))
        .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b",
                    f"{_jaccard('a.sh', 'b.sh')} AS jaccard")
        .filter(f"jaccard >= {_dbl(threshold)}")
        .selectExpr("doc_a", "doc_b", "round(jaccard, 6) AS jaccard")
    )


def _simhash_signatures(corpus: DataFrame) -> DataFrame:
    """64-bit SimHash signature per document from per-token bit votes:
    flat map → groupBy(doc) — shuffle-parallel, no driver state.

    The token hash is the first 16 hex chars of md5 read as a big-endian
    64-bit value (two 32-bit `conv` halves packed with shift/or, since a
    single 64-bit conv can exceed signed range) — engine-portable, so a
    DuckDB oracle reproduces every bit vote from the same nibbles
    (the md5-slice pattern proven for the minhash signatures above).

    The 64 bit-votes are 64 aggregate columns over ONE token-level shuffle
    (map-side combined down to one row per doc), not a posexplode of 64
    vote rows per token — the explode form pushed tokens×64 rows through
    the shuffle and measured ~5× slower at sf0.1."""
    import functools

    tok = corpus.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("tok")
    )
    tok = tok.withColumn("d", F.md5("tok")).withColumn(
        "h",
        F.expr(
            "shiftleft(cast(conv(substring(d, 1, 8), 16, 10) as bigint), 32)"
            " | cast(conv(substring(d, 9, 8), 16, 10) as bigint)"
        ),
    )
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(f"CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END")
            ).alias(f"v{j}")
            for j in range(64)
        ]
    )
    # bitwise-OR of the winning bits (disjoint → no carries, sign bit safe)
    sig = functools.reduce(
        lambda acc, j: acc.bitwiseOR(
            F.expr(f"CASE WHEN v{j} > 0 THEN shiftleft(1L, {j}) ELSE 0L END")
        ),
        range(1, 64),
        F.expr("CASE WHEN v0 > 0 THEN 1L ELSE 0L END"),
    )
    return votes.select("doc_id", sig.alias("simhash"))


def simhash_pairs(documents: DataFrame, max_hamming: int = 3,
                  max_doc_id: int = 200) -> DataFrame:
    """SimHash near-dup detection: 64-bit signature from per-token md5
    bit votes; pairs within `max_hamming`. Engine-portable (md5 is
    identical in any engine), so a DuckDB oracle reproduces the exact
    pair set; exactness is additionally unit-tested against planted
    duplicates.

    This is the brute-force baseline over a bounded subset; the 100 TB
    path is `simhash_pairs_banded` (byte-band bucketing, exact same result
    for max_hamming < n_bands by pigeonhole)."""
    corpus = _bounded_corpus(documents, max_doc_id)
    sig = _simhash_signatures(corpus)
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_banded(documents: DataFrame, max_hamming: int = 3,
                         n_bands: int = 4) -> DataFrame:
    """SimHash near-dup pairs at scale: LSH banding over the 64-bit
    signature instead of the all-pairs join.

    The signature is split into `n_bands` chunks; two signatures within
    Hamming distance h < n_bands must agree on at least one whole band
    (pigeonhole: h differing bits can dirty at most h bands), so a bucket
    self-join on (band, chunk) has 100% recall for max_hamming < n_bands,
    and the exact bit_count verification on the candidate pairs removes
    false positives. Shuffles: groupBy(doc) for signatures, join keyed on
    (band, chunk) — never n² over documents. Runs on the FULL corpus (no
    subset cap) — this is the operator you'd run on 100 TB.

    Defaults follow Manku et al. (WWW'07): 4 bands of 16 bits for
    hamming ≤ 3 — 2^16 bucket values per band keeps candidate buckets
    sparse (8-bit chunks measured 1.3M candidate pairs on the sf0.1
    corpus vs ~thousands at 16 bits, since templated text correlates
    signature bytes)."""
    assert max_hamming < n_bands, "banding recall requires max_hamming < n_bands"
    width = 64 // n_bands
    corpus = with_synthetic_dups(documents)
    sig = _simhash_signatures(corpus)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), "
                f"j -> (simhash >> (j * {width})) & {(1 << width) - 1})"
            )
        ).alias("band", "chunk"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    # Dedup-by-construction: a pair colliding in k bands would come out of
    # the join k times; keep it only at its FIRST agreeing band (no earlier
    # band's chunks match). Each pair then appears exactly once and the
    # candidate-dedup `distinct()` — a full shuffle of every matching pair
    # — disappears from the plan entirely. The band check is a cheap
    # codegen'd bit expression on the two signatures already in the row.
    # "first agreeing band" as a chained CASE over the XOR's zero bytes —
    # plain bitwise ops stay inside whole-stage codegen (a higher-order
    # filter(sequence(...)) lambda here ran interpreted, measured 3× slower)
    mask = (1 << width) - 1
    cases = " ".join(
        f"WHEN (((sig_a ^ sig_b) >> {j * width}) & {mask}) = 0 THEN {j}"
        for j in range(n_bands)
    )
    first_band = F.expr(f"band = (CASE {cases} ELSE -1 END)")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.band").alias("band"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .filter(first_band)
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("sig_a").bitwiseXOR(F.col("sig_b"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def duplicate_clusters(documents: DataFrame, jaccard_threshold: float = 0.5,
                       max_doc_id: int = 200, max_iter: int = 10) -> DataFrame:
    """Duplicate CLUSTERS: connected components of the MinHash-LSH pair
    graph, each labeled by its smallest member doc_id — the decision table
    for "keep one representative per duplicate group" when near-dup pairs
    chain (A~B, B~C ⇒ {A,B,C} is one group even if A~C was never emitted).

    Algorithm: iterative min-label propagation over the symmetrized edge
    list — each round every node takes min(own label, neighbors' labels),
    stopping when a round changes nothing (converges in diameter rounds;
    the synthetic dup components are stars, so 1-2 rounds). Each round is
    ONE shuffle keyed on doc_id over the edge list — never materializes
    the transitive closure. The convergence check is a per-round count
    action: the standard driver-side loop of an iterative graph algorithm
    (GraphX/GraphFrames do the same under the hood). At 100 TB with
    pathological chain-shaped components you'd switch to the
    large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce"), which converges in O(log n) rounds with the
    same per-round shuffle structure.

    Output: (doc_id, cluster_id, cluster_size) for every document that
    appears in at least one near-dup pair. The cluster_size window
    partitions by cluster_id — bounded by the largest duplicate group."""
    pairs = minhash_lsh_pairs(documents, jaccard_threshold, max_doc_id)
    # EXTEND persists throughout: minhash_lsh_pairs' own tracked_persist
    # (the shingle table) opened this operator's cache scope; `edges` is
    # re-read by every propagation round and `labels` by the convergence
    # check, so evicting them mid-construction (what plain
    # tracked_persist does) would recompute the LSH pair pipeline once
    # per round. All released at the next operator's tracked_persist.
    edges = tracked_persist_extend(
        pairs.select("doc_a", "doc_b").union(
            pairs.select(F.col("doc_b").alias("doc_a"),
                         F.col("doc_a").alias("doc_b"))))
    labels = tracked_persist_extend(
        edges.select(F.col("doc_a").alias("doc_id")).distinct()
        .select("doc_id", F.col("doc_id").alias("cluster_id")))
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["doc_b"] == labels["doc_id"])
            .groupBy(edges["doc_a"].alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min")))
        new_labels = tracked_persist_extend(
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce("nbr_min", "cluster_id")).alias("cluster_id")))
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count())
        labels = new_labels
        if changed == 0:
            break
    w = Window.partitionBy("cluster_id")
    return labels.select(
        "doc_id", "cluster_id",
        F.count("*").over(w).alias("cluster_size"))


def jaccard_prefix_filter_pairs(documents: DataFrame,
                                threshold: float = 0.7,
                                max_doc_id: int = 200) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (Chaudhuri et al.
    ICDE 2006 / Xiao et al. PPJoin, WWW 2008 — public): all document
    pairs with word-set Jaccard ≥ `threshold`, with zero false
    negatives — the exact counterpart to the probabilistic MinHash-LSH
    path when the pipeline needs guaranteed recall (e.g. legal/compliance
    dedup).

    Prefix principle: order every document's tokens by ascending global
    document frequency (rarest first); two sets with J ≥ t MUST share a
    token within their first |s| - ceil(t·|s|) + 1 tokens, so only
    documents sharing a PREFIX token are candidates, and candidates are
    verified with the true Jaccard.

    100 TB shape: the global df table is vocabulary-sized and broadcast
    back (no second corpus shuffle); the per-doc ordering window
    partitions by doc_id (bounded by document length); the candidate
    join keys on prefix tokens — rare tokens by construction, so bucket
    sizes stay small exactly where a hot-token join would blow up — and
    the verification join touches candidate pairs only. Output:
    (doc_a, doc_b, jaccard)."""
    corpus = _bounded_corpus(documents, max_doc_id)
    toks = tracked_persist(corpus.select(
        "doc_id",
        F.array_distinct(F.split(F.lower("text"), " ")).alias("ts")))
    tok = toks.select("doc_id", F.explode("ts").alias("tok"))
    df_tbl = tok.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    pref = (
        tok.join(F.broadcast(df_tbl), "tok")
        .select("doc_id", "tok", F.row_number().over(w).alias("pos"))
        .join(toks.select("doc_id", F.size("ts").alias("len")), "doc_id")
        # round-before-ceil: for thresholds whose double repr sits a hair
        # above the decimal (0.1, 0.3, ...), t*len can land just above an
        # integer and ceil would overshoot by 1, shortening the prefix and
        # silently breaking the zero-false-negative guarantee
        .filter(F.col("pos")
                <= F.col("len")
                - F.ceil(F.round(F.lit(threshold) * F.col("len"), 6)) + 1)
        .select("doc_id", "tok")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verified_pairs(cand, toks.withColumnRenamed("ts", "sh"),
                           threshold)


def pagerank_dup_graph(documents: DataFrame,
                       jaccard_threshold: float = 0.5,
                       max_doc_id: int = 200, iters: int = 2,
                       damping: float = 0.85) -> DataFrame:
    """PageRank over the near-duplicate graph (Page et al. 1999, public):
    centrality of each document among its near-duplicates — the signal a
    dedup pipeline uses to pick the most-connected canonical copy of a
    heavily-mirrored page (degree alone over-ranks hub mirrors).

    Deterministic spec (exact chained-CTE oracle): nodes = documents in
    ≥1 MinHash near-dup pair, edges symmetrized; r0 = 1/N; r_{k+1}(v) =
    (1-d)/N + d * Σ_{u~v} r_k(u)/deg(u); `iters` rounds unrolled into
    ONE lazy plan; ranks rounded at emit.

    100 TB shape — the canonical iterative-graph pattern (the third of
    this engine's iterative shapes, after min-label propagation and
    Lloyd's k-means): per iteration exactly ONE edge-keyed shuffle (join
    ranks onto edges) + one map-side-combined groupBy(dst); degrees and
    N are computed once, N rides along as a broadcast 1-row aggregate
    (no driver-side count). Edges/degrees persist once and are reused by
    every iteration."""
    pairs = minhash_lsh_pairs(documents, jaccard_threshold, max_doc_id)
    # EXTEND persists (same reasoning as duplicate_clusters): the LSH
    # shingle persist inside minhash_lsh_pairs opened this operator's
    # cache scope, and `edges` is re-read by every PageRank iteration —
    # evicting it mid-construction would redo the pair pipeline per round
    edges = tracked_persist_extend(
        pairs.select("doc_a", "doc_b").union(
            pairs.select(F.col("doc_b").alias("doc_a"),
                         F.col("doc_a").alias("doc_b"))))
    deg = tracked_persist_extend(
        edges.groupBy("doc_a").agg(F.count("*").alias("deg")))
    n = deg.agg(F.count("*").cast("double").alias("_n"))
    ranks = deg.crossJoin(F.broadcast(n)).select(
        F.col("doc_a").alias("doc_id"), "deg",
        (F.lit(1.0) / F.col("_n")).alias("rank"))
    for _ in range(iters):
        contrib = (
            edges.join(ranks, edges["doc_a"] == ranks["doc_id"])
            .select(F.col("doc_b").alias("dst"),
                    (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst").agg(F.sum("c").alias("s")))
        ranks = (
            deg.crossJoin(F.broadcast(n))
            .join(contrib, deg["doc_a"] == contrib["dst"], "left")
            .select(
                F.col("doc_a").alias("doc_id"), "deg",
                ((1.0 - damping) / F.col("_n")
                 + damping * F.coalesce("s", F.lit(0.0))).alias("rank")))
    return ranks.select("doc_id", F.round("rank", 9).alias("rank"))


def cluster_representatives(documents: DataFrame,
                            jaccard_threshold: float = 0.5,
                            max_doc_id: int = 200) -> DataFrame:
    """Keep-one-per-duplicate-cluster: the canonical document of every
    near-dup cluster, chosen quality-aware — most tokens wins, ties go
    to the smallest doc_id (deterministic re-runs). This is the decision
    table the dedup stage actually emits to the packing stage: everything
    not a representative is dropped.

    Output: (cluster_id, cluster_size, rep_doc_id, rep_n_tokens).

    100 TB shape: the cluster labels (only documents that appear in a
    near-dup pair) join the corpus on doc_id — one keyed equi-join, the
    corpus side pruned to (doc_id, token count) before the shuffle so no
    text moves — and the representative election is ONE map-side-
    combinable max(struct(n_tokens, -doc_id)) per cluster, never a
    per-cluster sort. Composes `duplicate_clusters` (min-label
    propagation) with the quality signal; swap `n_tokens` for any scalar
    quality score without changing the shape."""
    labels = duplicate_clusters(documents, jaccard_threshold, max_doc_id)
    corpus = with_synthetic_dups(documents).select(
        "doc_id",
        F.size(F.split(F.lower("text"), " ")).alias("n_tokens"))
    scored = labels.join(corpus, "doc_id")
    return (
        scored.groupBy("cluster_id")
        .agg(
            F.count("*").alias("cluster_size"),
            F.max(F.struct(F.col("n_tokens"),
                           (-F.col("doc_id")).alias("neg_id")))
            .alias("best"),
        )
        .select(
            "cluster_id", "cluster_size",
            (-F.col("best.neg_id")).alias("rep_doc_id"),
            F.col("best.n_tokens").alias("rep_n_tokens"),
        )
    )


def incremental_dedup(documents: DataFrame) -> DataFrame:
    """Cross-snapshot (incremental) dedup: drop documents from a NEW crawl
    batch whose exact text already exists in the EXISTING corpus — the
    standard "dedup tonight's crawl against everything ingested so far"
    op, distinct from self-dedup. The synthetic corpus maps onto the
    scenario directly: originals (doc_id < 100000) are the existing
    corpus, the +100000 exact copies and +200000 near-dups are the new
    batch; the anti-join drops every exact copy and keeps every near-dup
    (digests differ), whose survival is precisely why the MinHash pass
    exists downstream.

    100 TB shape: LEFT ANTI join on 16-byte md5 digests — the existing
    side reduces to its DISTINCT digest set (columns pruned to one), the
    shuffle carries digests only, never text. With a small daily delta on
    the left, AQE broadcast-converts the batch side automatically."""
    corpus = with_synthetic_dups(documents)
    existing = (corpus.filter(F.col("doc_id") < 100000)
                .select(F.md5("text").alias("digest")).distinct())
    new_batch = corpus.filter(F.col("doc_id") >= 100000).select(
        "doc_id", F.md5("text").alias("digest"))
    return new_batch.join(existing, "digest", "left_anti").select(
        "doc_id", "digest")


def exact_substring_spans(documents: DataFrame,
                          min_span_tokens: int = 16,
                          max_doc_id: int = 400) -> DataFrame:
    """EXACT substring-level dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — public): find every
    maximal span of >= `min_span_tokens` consecutive tokens that occurs
    more than once in the corpus (across OR within documents), the spans
    a training pipeline cuts out of otherwise-unique documents. The
    document-level paths (exact/MinHash/SimHash/embedding) can't see
    these: a unique page quoting a duplicated 50-token boilerplate block
    is 95% unique, yet the block still memorizes.

    Spark shape (vs the paper's single-node suffix array): stride-1
    k-token shingles, digest each window, mark windows whose digest
    occurs > 1 time in the corpus, then merge overlapping/adjacent
    duplicated windows per document into maximal spans. Any repeated
    substring of length >= k contains a repeated k-window at every
    offset, so the union of duplicated windows covers exactly the
    repeated-span regions — zero false negatives at span granularity k.

    100 TB shape: the shingle stream is k x corpus in TOKEN count but
    each row carries only (16-byte digest, doc_id, pos) — text never
    enters an Exchange (plan-asserted). Occurrence counting is a
    groupBy(digest) with map-side partial aggregation (a pathological
    million-fold boilerplate digest still combines to one row per map
    partition before the shuffle); the duplicated-digest set joins back
    on digest (AQE handles residual probe-side skew). The span merge
    shuffles only the DUPLICATED windows keyed by doc_id — bounded by
    per-document length, uniform by construction.

    Output: (doc_id, span_start, span_end, n_dup_windows) — token
    offsets [span_start, span_end) of each maximal duplicated span.
    """
    k = min_span_tokens
    corpus = _bounded_corpus(documents, max_doc_id)
    toks = corpus.select("doc_id", F.split(F.lower("text"), " ").alias("ts"))
    # windows at 0-based starts 0 .. n-k (docs shorter than k yield none).
    # Window digests by POLYNOMIAL ROLLING HASH (Rabin-Karp), r9: the r8
    # form md5'd a fresh k-token array_join per position — correct but
    # O(n·k) bytes through md5 per scan (~16× the corpus at k=16). Now
    # each token is hashed ONCE (one md5, two disjoint 28-bit hex slices
    # = two independent token hashes) and each window hash rolls from
    # its predecessor in O(1): H_p = ((H_{p-1} − h[p]·B^{k-1})·B +
    # h[p+k]) mod M, over two prime moduli M1, M2 < 2^32 (products stay
    # < 2^52 — no bigint overflow). A window digest is "h1:h2" (~56
    # effective bits; cross-digest collision odds at 1e6 windows ~1e-7,
    # and the DuckDB oracle still computes the R8 FULL-md5 digests — the
    # driver hash check is the collision canary). The per-doc fold
    # appends to an array (copy-on-append); for pathological multi-MB
    # single documents chunk the fold — token rows, not bytes, bound it
    # here.
    M1, B1 = 4294967291, 1000003
    M2, B2 = 4294967279, 1000033
    BK1, BK2 = pow(B1, k - 1, M1), pow(B2, k - 1, M2)

    def tok_hashes(off: int) -> "F.Column":
        return F.transform(
            F.col("ts"),
            lambda t: F.conv(F.substring(F.md5(t), off, 7), 16, 10)
            .cast("long"))

    def first_hash(hv: str, b: int, mm: int) -> "F.Column":
        return F.aggregate(
            F.slice(F.col(hv), 1, k), F.lit(0).cast("long"),
            lambda a, x: (a * b + x) % mm)

    def roll(h: "F.Column", hv: str, p: "F.Column", b: int, bk: int,
             mm: int) -> "F.Column":
        out = (h - (F.element_at(F.col(hv), p) * bk) % mm) % mm
        out = (out + mm) % mm  # Spark % follows the dividend's sign
        return (out * b + F.element_at(F.col(hv), p + k)) % mm

    hashed = toks.filter(F.size("ts") >= k).select(
        "doc_id", "ts",
        tok_hashes(1).alias("hv1"), tok_hashes(9).alias("hv2"))
    # roll positions 1..n-k; EMPTY when n == k (sequence(1, 0) would
    # count DOWN, not produce an empty array)
    roll_positions = F.when(
        F.size("ts") > k, F.sequence(F.lit(1), F.size("ts") - k)
    ).otherwise(F.array().cast("array<int>"))
    # The out-array LAGS the hash state by one step: each step appends
    # the PREVIOUS digest (a cheap struct-field reference) and rolls
    # once, and the finish lambda flushes the final digest — evaluating
    # roll() in both the field and the append would double the modular
    # work per window (HOF lambdas get no common-subexpression
    # elimination; r9 review finding).
    digests = F.aggregate(
        roll_positions,
        F.struct(
            first_hash("hv1", B1, M1).alias("h1"),
            first_hash("hv2", B2, M2).alias("h2"),
            F.array().cast("array<string>").alias("out"),
        ),
        lambda acc, p: F.struct(
            roll(acc.h1, "hv1", p, B1, BK1, M1).alias("h1"),
            roll(acc.h2, "hv2", p, B2, BK2, M2).alias("h2"),
            F.concat(acc.out, F.array(
                F.concat_ws(":", acc.h1, acc.h2))).alias("out"),
        ),
        lambda acc: F.concat(acc.out, F.array(
            F.concat_ws(":", acc.h1, acc.h2))),
    )
    sh = hashed.select(
        "doc_id", F.posexplode(digests).alias("pos", "digest"))
    dup_digests = (sh.groupBy("digest").agg(F.count("*").alias("n_occ"))
                   .filter(F.col("n_occ") > 1).select("digest"))
    dup_windows = sh.join(dup_digests, "digest").select("doc_id", "pos")
    # merge: windows [p, p+k) and [q, q+k) (q > p) union-continuously iff
    # q <= p + k; starts are sorted per doc and all intervals share length
    # k, so the previous start's interval end is the running max end.
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dup_windows.select(
        "doc_id", "pos",
        F.when(F.lag("pos").over(w).isNull()
               | (F.col("pos") > F.lag("pos").over(w) + k), 1)
        .otherwise(0).alias("new_span"),
    )
    spans = flagged.select(
        "doc_id", "pos",
        F.sum("new_span").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).alias("span_id"),
    )
    return (
        spans.groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + k).cast("int").alias("span_end"),
            F.count("*").alias("n_dup_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_dup_windows")
    )


def exact_substring_dedup_stats(documents: DataFrame,
                                min_span_tokens: int = 16,
                                max_doc_id: int = 400) -> DataFrame:
    """Per-document duplication profile from `exact_substring_spans`:
    how much of each document is covered by corpus-duplicated spans —
    the number a pipeline thresholds on to drop mostly-boilerplate
    documents while keeping pages that merely QUOTE a shared block
    (whole-doc dedup can only keep or drop; this measures).

    Output: (doc_id, n_tokens, dup_tokens, dup_frac) for every document
    in the bounded subset — zero for documents with no duplicated span.

    100 TB shape: the spans table (already bounded: duplicated windows
    only) rolls up per doc and LEFT-joins back onto a doc_id/token-count
    projection — ids and ints only in the join, text never leaves the
    initial scans."""
    corpus = _bounded_corpus(documents, max_doc_id)
    spans = exact_substring_spans(documents, min_span_tokens, max_doc_id)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_tokens"))
    base = corpus.select(
        "doc_id", F.size(F.split(F.lower("text"), " ")).alias("n_tokens"))
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.round(F.coalesce("dup_tokens", F.lit(0))
                    / F.col("n_tokens"), 6).alias("dup_frac"),
        )
    )


def canonical_dedup_decisions(documents: DataFrame) -> DataFrame:
    """Fuzzy-EXACT dedup on canonicalized text (the C4-style
    normalization pass): lowercase, strip non-alphanumerics to spaces,
    collapse whitespace, then hash-groupBy the canonical form — catches
    case/punctuation/whitespace variants that byte-exact dedup misses
    while staying a pure hash-key operator (no similarity join at all).

    Planted variants: alongside the standard synthetic dups, every
    doc_id % 7 == 1 document gets an UPPER-CASED copy (+300000) — byte-
    distinct, canonical-identical.

    Output: (digest, keep_id, n_copies) for canonical groups with >1
    member.

    100 TB shape: identical to exact dedup — one projection computes the
    canonical digest, one 16-byte-key map-side-combined groupBy; text
    never shuffles."""
    corpus = with_synthetic_dups(documents)
    variants = documents.filter(F.col("doc_id") % 7 == 1).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.upper(F.col("text")).alias("text"))
    corpus = corpus.unionAll(variants)
    canon = F.trim(F.regexp_replace(F.regexp_replace(
        F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "))
    return (
        corpus.groupBy(F.md5(canon).alias("digest"))
        .agg(F.min("doc_id").alias("keep_id"),
             F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def bloom_filter_dedup(documents: DataFrame, m_bits: int = 1 << 18,
                       k_hashes: int = 4) -> DataFrame:
    """Bloom-filter INCREMENTAL dedup (Bloom 1970 — the probabilistic
    membership structure the CCNet/Dolma-class pipelines use to test a
    new batch against a corpus too large for an exact digest join): the
    existing corpus sets k bit positions per document digest; a new
    document is `bloom_maybe` iff ALL k of its positions are set. No
    false negatives by construction; false positives at the standard
    (1 - e^{-kn/m})^k rate, which this op MEASURES by also computing
    the exact membership — (doc_id, bloom_maybe, exact_dup,
    false_positive) per new-batch document.

    The k hash functions are disjoint 8-hex-char (32-bit) slices of the
    ONE md5 digest, reduced mod m_bits — the same single-hash-split-k
    idiom as the minhash signatures, and fully engine-portable, so the
    DuckDB oracle reproduces every bit.

    100 TB shape: the bit set is a DISTINCT over ints bounded by m_bits
    (here relational, so the oracle can check it bit-for-bit; the
    production variant aggregates the same positions into a broadcast
    bitmap — Spark's native bloom_filter_agg/might_contain is the
    drop-in, same plan shape minus the join). Membership is a
    (position)-keyed join carrying ids only; the exact-membership
    column joins 16-byte digests — the thing the bloom exists to avoid
    at scale, computed here as the false-positive oracle."""
    corpus = with_synthetic_dups(documents)
    digests = corpus.select("doc_id", F.md5("text").alias("digest"))
    existing = digests.filter(F.col("doc_id") < 100000)
    new_batch = digests.filter(F.col("doc_id") >= 100000)

    def positions(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            F.explode(F.array(*[
                (F.conv(F.substring("digest", h * 8 + 1, 8), 16, 10)
                 .cast("long") % m_bits).alias("bit")
                for h in range(k_hashes)
            ])).alias("bit"),
        )

    bits = positions(existing).select("bit").distinct()
    hits = (
        positions(new_batch)
        .join(bits, "bit", "left_semi")
        .groupBy("doc_id").agg(F.count("*").alias("n_set"))
    )
    exact = existing.select("digest").distinct()
    return (
        new_batch
        .join(hits, "doc_id", "left")
        .join(exact.withColumn("_e", F.lit(1)), "digest", "left")
        .select(
            "doc_id",
            (F.coalesce("n_set", F.lit(0)) == k_hashes)
            .alias("bloom_maybe"),
            F.col("_e").isNotNull().alias("exact_dup"),
            ((F.coalesce("n_set", F.lit(0)) == k_hashes)
             & F.col("_e").isNull()).alias("false_positive"),
        )
    )


def _write_generation(spark, index_root: str, docs: DataFrame,
                      tag: str) -> tuple[dict, dict]:
    """Write one index generation: the (doc_id, text) `docs` shingled
    into `shingles_<tag>`, then banded from that read-back (known
    schema, so no footer-inference job) into `bands_<tag>`. Returns the
    generation's {table: [dir]} and {table: schema json}."""
    from ..sources import index_manifest as idx

    toks = _with_shingles(docs.select("doc_id", "text")).select(
        "doc_id", "sh")
    sdir = idx.new_data_dir(index_root, "shingles", tag)
    toks.write.mode("overwrite").parquet(sdir)
    bands = hof_bands(spark.read.schema(toks.schema).parquet(sdir)).select(
        "doc_id", "band", "bucket")
    bdir = idx.new_data_dir(index_root, "bands", tag)
    bands.write.mode("overwrite").parquet(bdir)
    return ({"shingles": [sdir], "bands": [bdir]},
            {"shingles": toks.schema.json(), "bands": bands.schema.json()})


def lsh_index_build(documents: DataFrame, index_root: str,
                    max_doc_id: int = 200) -> int:
    """BUILD + PERSIST the MinHash-LSH dedup index — the batch half of
    the dedup lifecycle the ANN index already has (build → query →
    add-batch): shingle the corpus once, persist two index tables under
    a MANIFEST-VERSIONED root (`sources/index_manifest.py` — add-batch
    is an atomic manifest bump; a restarted process reopens the index
    from the manifest alone). Returns the committed version (1).

      shingles  (doc_id, sh array)       — the verify side
      bands     (doc_id, band, bucket)   — the candidate side

    100 TB shape: at scale `bands` is the table every ingest batch
    equi-joins against (it would partition/bucket by (band, bucket));
    `shingles` is fetched by id for candidate verification only. The
    index stores each document's distinct word 3-gram strings and its
    band keys, not the text column; the shingles together hold most of
    the text's words. xxhash64 digests in place of the strings were
    measured and are not smaller (102.9 KB against 98.8 KB for 250
    documents: parquet dictionary-encodes the strings)."""
    from ..sources import index_manifest as idx

    corpus = documents.filter((F.col("doc_id") % 100000) < max_doc_id)
    dirs, schemas = _write_generation(documents.sparkSession, index_root,
                                      corpus, "b00001")
    return idx.commit_manifest(index_root, {"max_doc_id": max_doc_id},
                               dirs, schemas=schemas)


def lsh_index_add_batch(spark, index_root: str,
                        new_docs: DataFrame) -> int:
    """INCREMENTALLY admit a document batch into the persisted index:
    shingle + band the batch (work proportional to the BATCH) into NEW
    directories and commit them in one atomic manifest bump — after
    which later queries see the new documents as part of the corpus,
    while readers pinned to an earlier version keep a consistent view.
    Returns the new manifest version."""
    from ..sources import index_manifest as idx

    tag = f"b{idx.latest_version(index_root) + 1:05d}"
    dirs, _ = _write_generation(spark, index_root, new_docs, tag)
    return idx.append_table_dirs(index_root, dirs)


def lsh_index_delete(spark, index_root: str, keys: DataFrame) -> int:
    """MERGE-ON-READ delete for the persisted LSH dedup index: `keys`
    (one doc_id column) lands as a sequenced tombstone through
    `index_manifest.commit_tombstones`, the same delete the snapshot
    table (`snapshots.commit_delete`) and the vector index
    (`similarity.ivf_pq_delete`) make. No index data file is rewritten;
    queries at the new version stop matching the deleted documents,
    every pre-delete version stays AS-OF readable, and a later
    `lsh_index_add_batch` re-adding a document makes it matchable
    again. Returns the new manifest version."""
    from ..sources import index_manifest as idx

    return idx.commit_tombstones(index_root, keys, "doc_id")


def lsh_index_compact(spark, index_root: str) -> int:
    """COMPACTION for the persisted LSH dedup index: the visible
    shingle/band rows (tombstones applied) rewritten into one fresh dir
    per table by `index_manifest.compact_tables` (the index form of
    `snapshots.compact`). Queries stop paying the anti-join, content
    never changes, pre-compaction versions stay AS-OF readable.
    Returns the new manifest version."""
    from ..sources import index_manifest as idx

    return idx.compact_tables(spark, index_root, ["shingles", "bands"],
                              "doc_id")


def _index_tables(spark, index_root: str,
                  version: int | None) -> tuple[DataFrame, DataFrame]:
    """The persisted index's (bands, shingles) at `version`, each a
    sequenced scan (`index_manifest.scan_sequenced`): tombstoned docs
    are gone and re-admitted ones read from their re-add dirs."""
    from ..sources import index_manifest as idx

    man = idx.read_manifest(index_root, version)
    return (idx.scan_sequenced(spark, man, "bands", "doc_id"),
            idx.scan_sequenced(spark, man, "shingles", "doc_id"))


def lsh_index_query(spark, index_root: str, probe_docs: DataFrame,
                    threshold: float = 0.5,
                    version: int | None = None) -> DataFrame:
    """QUERY the persisted index with a probe batch: probe docs band
    statelessly (`hof_bands`), equi-join the persisted band table on
    (band, bucket), verify exact Jaccard against the persisted shingle
    table — ids and band keys through every Exchange, the corpus never
    re-shingled. `version` pins an AS-OF index state (pre-admission /
    pre-delete results reproducible forever). Tombstoned documents
    (`lsh_index_delete`) are anti-joined out of the band table before
    candidate generation — one broadcast of the O(|deleted|) key set
    per sequence group, SEQUENCED so a deleted-then-re-admitted doc
    matches again from its re-add dirs (`index_manifest.scan_sequenced`);
    the shingle fetch applies the same scan, so verification never reads a
    stale pre-delete array for a re-admitted doc. Output: (doc_a =
    index doc, doc_b = probe doc, jaccard), deduped across multi-band
    matches."""
    return _index_matches(_shingle_bands(probe_docs),
                          *_index_tables(spark, index_root, version),
                          threshold).distinct()


def edit_distance_pairs(documents: DataFrame, max_dist: int = 8,
                        max_doc_id: int = 200) -> DataFrame:
    """Near-dup pairs verified by EXACT edit distance: MinHash-band
    candidate generation (the same portable signature machinery as
    `minhash_lsh_pairs`, so candidates stay |bucket-collisions|, never
    n²) followed by `levenshtein(text_a, text_b) <= max_dist` on the
    candidate pairs only. Character-level edit distance catches the
    small-insertion/typo duplicates set-based Jaccard underweights
    (the planted 'zzz '-prefixed near-dups sit at distance 4).

    Scale: candidate generation shuffles (band, bucket) keys only; the
    exact verification is two id-keyed joins fetching the candidate
    texts plus a JVM-side `levenshtein` (whole-stage codegen, no UDF).
    Levenshtein is O(len_a x len_b) per pair — bounded by the LSH
    candidate count, which is exactly why the bands come first.

    Output: (doc_a, doc_b, edit_dist).
    """
    # persisted because three consumers rescan it: the band-candidate
    # generator plus BOTH text-fetch joins (same recipe minhash_lsh_pairs
    # applies to this front end)
    corpus = tracked_persist(_bounded_corpus(documents, max_doc_id))
    cand = _band_candidates(_shingle_bands(corpus))
    texts = corpus.select("doc_id", "text")
    return (
        cand.join(texts.alias("ta"), F.col("doc_a") == F.col("ta.doc_id"))
        .join(texts.alias("tb"), F.col("doc_b") == F.col("tb.doc_id"))
        .select("doc_a", "doc_b",
                F.levenshtein(F.col("ta.text"), F.col("tb.text"))
                .alias("edit_dist"))
        .filter(F.col("edit_dist") <= max_dist)
    )


def containment_pairs(documents: DataFrame, threshold: float = 0.8,
                      max_doc_id: int = 200,
                      df_cap: int = 50) -> DataFrame:
    """DIRECTED shingle-containment near-dup pairs (Broder 1997's
    containment coefficient beside his resemblance/Jaccard):
    c(A→B) = |S(A) ∩ S(B)| / |S(A)|. The asymmetric measure catches
    what Jaccard structurally misses — a short document quoted inside
    a much longer one has high containment but LOW Jaccard (the union
    is dominated by B), so the symmetric near-dup family never flags
    it; containment is the right tool for quote/subset/boilerplate
    leakage.

    Candidates come from a shingle INVERTED-INDEX self-join (two docs
    sharing any rare shingle become a candidate), with a document-
    frequency cap: shingles present in more than `df_cap` documents
    are dropped from CANDIDATE GENERATION only (the classic
    stop-shingle rule — ultra-common shingles generate quadratic
    bucket blowup and identify nothing); verification then computes
    the EXACT containment over the FULL shingle arrays, so values are
    exact and only pairs sharing nothing but ultra-common shingles can
    be missed (documented recall tradeoff, mirrored exactly in the
    oracle).

    Output: (contained_id, container_id, containment, n_sh_contained,
    n_sh_container), containment >= `threshold`, both directions
    emitted when both clear it.

    100 TB shape: shingle df table is map-side combined and the cap
    keeps every inverted-index posting list <= df_cap (bounded join
    fan-out per shingle — the blowup guard); the CONTAINED side of the
    candidate join carries only its ascending-df PREFIX postings (r12 —
    a lossless PPJoin-style prune, see the inline proof), so the
    candidate set and the verify shuffle shrink ~1/(1-t)× with zero
    recall change; verification joins the |candidates| pair set back to
    the persisted shingle arrays, never n². With the default
    `max_doc_id` the corpus is `_bounded_corpus`-capped (this is the
    oracle-baseline configuration); the declared `dedup_containment_full`
    key runs the identical plan with max_doc_id >= the synthetic-dup
    modulus — the uncapped full-corpus path you'd run at 100 TB."""
    from ._cache import tracked_persist_extend

    corpus = _bounded_corpus(documents, max_doc_id)
    toks = tracked_persist(_with_shingles(corpus).select("doc_id", "sh"))
    sh = toks.select("doc_id", F.explode(F.col("sh")).alias("shingle"))
    # df FIRST (map-side-combined count — bounded state even on hot
    # shingles), THEN the cap, THEN the posting self-join: a
    # collect_set-style posting list would accumulate every doc of a
    # hot shingle before the cap could drop it
    df_all = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    # ONE posting⋈df join shared by BOTH candidate sides (r14, §2.4):
    # the earlier form ran `sh.join(df_all, ...)` twice — once for the
    # rare postings, once for the prefix table — i.e. two full shuffles
    # of the exploded posting table (the bench's largest exchange,
    # 10.5 MB at sf0.1 in the r13 driver sidecar). The joined table is
    # persisted (extend form — `toks` above stays live) and both sides
    # derive from it with plain filters.
    sh_df = tracked_persist_extend(sh.join(df_all, "shingle"))
    rare = sh_df.filter(F.col("df") <= df_cap).select("doc_id", "shingle")
    # CONTAINED-side prefix prune (r12, the PPJoin prefix principle of
    # `jaccard_prefix_filter_pairs` adapted to the directed measure):
    # for c(A→B) >= t at most (1-t)·|A| of A's shingles miss B, so A
    # must share one of its first |A| - ceil(t·|A|) + 1 shingles in
    # ascending-df order. LOSSLESS vs the df-cap rule: if the pair
    # shares ANY rare shingle, every prefix shingle has df <= that
    # shared one's (df-ascending order) hence is itself rare, and >= 1
    # prefix shingle is in B — so prefix∩rare finds exactly the df-cap
    # candidates that can verify; only the candidate volume (and the
    # verify shuffle) shrinks ~1/(1-t)×. sh arrays are distinct, so the
    # window count IS |S(A)|.
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    wl = Window.partitionBy("doc_id")
    pref = (
        sh_df
        .select("doc_id", "shingle", "df",
                F.row_number().over(w).alias("pos"),
                F.count("*").over(wl).alias("len"))
        .filter(F.col("pos")
                <= F.col("len")
                - F.ceil(F.round(F.lit(threshold) * F.col("len"), 6)) + 1)
        .filter(F.col("df") <= df_cap)
        .select("doc_id", "shingle"))
    cand = (
        pref.alias("a").join(
            rare.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct())
    verified = (
        cand.join(toks.alias("ta"), F.col("doc_a") == F.col("ta.doc_id"))
        .join(toks.alias("tb"), F.col("doc_b") == F.col("tb.doc_id"))
        .select(
            F.col("doc_a").alias("contained_id"),
            F.col("doc_b").alias("container_id"),
            (F.size(F.array_intersect(F.col("ta.sh"), F.col("tb.sh")))
             / F.size(F.col("ta.sh"))).alias("containment"),
            F.size(F.col("ta.sh")).alias("n_sh_contained"),
            F.size(F.col("tb.sh")).alias("n_sh_container"),
        )
        .filter(F.col("containment") >= threshold)
        .withColumn("containment", F.round("containment", 6))
    )
    return verified
