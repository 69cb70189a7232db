"""Similarity search over an embedding column (`array<float>`).

Baseline: brute-force cosine top-k — broadcast the (small) query set, scan
the corpus once, rank per query. The dot product stays JVM-side via
`zip_with` + `aggregate` (whole-stage codegen — no Python in the hot loop).

Scale path: sign-LSH bucketing (random-hyperplane) — corpus and queries are
hashed to sign-pattern buckets; the exact rerank join touches only same-
bucket candidates. At 100 TB: bucket histogram is skew-checked; hyperplanes
are a broadcast literal; everything shuffles by bucket key only.

IVF-PQ (Jégou et al. 2011): every PQ / IVF-PQ operator and the persisted
index are composed from one copy of each stage — coarse training
(`_coarse`), PQ decomposition (`_pq_sub`), codebook training
(`_pq_codebooks`, `_residual_train`), encoding (`_pq_encode`,
`_residual_encode`), probe routing (`_probes`), lookup tables (`_raw_lut`,
`_pq_lut`), ADC scoring (`_adc_rank`, `_residual_search`) and the exact
recall baseline (`_exact_topk`, `_with_recall`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import local_frame
from ._cache import tracked_persist, tracked_persist_extend


# Expression builders return Spark SQL text, and each projection goes to
# the JVM in one `selectExpr` / `F.expr` call: composing the same
# expression from Column-API nodes costs two to three Py4J round trips
# per node, which made plan building the larger part of a query's
# latency. Lambda parameters start with "_" so they never shadow a
# column the expression also reads.

def _dbl(x: float) -> str:
    """A double literal: `repr` round-trips every finite double, so the
    literal is the same value `F.lit(x)` carries."""
    return f"{float(x)!r}D"


def _sumsq(a: str) -> str:
    return f"aggregate({a}, 0D, (_acc, _x) -> _acc + _x * _x)"


def _dot(a: str, b: str) -> str:
    return (f"aggregate(zip_with({a}, {b}, (_x, _y) -> _x * _y), 0D, "
            "(_acc, _x) -> _acc + _x)")


def _norm(a: str) -> str:
    return f"sqrt({_sumsq(a)})"


def _cos(a: str, b: str) -> str:
    return f"({_dot(a, b)} / ({_norm(a)} * {_norm(b)}))"


def _d2(a: str, b: str) -> str:
    """Squared euclidean distance as a fixed-order left fold."""
    return (f"aggregate(zip_with({a}, {b}, (_x, _y) -> (_x - _y) * (_x - _y)"
            "), 0D, (_acc, _x) -> _acc + _x)")


def _vectors(embeddings: DataFrame, *extra: str) -> DataFrame:
    """(vec_id, v array<double>, *extra) from an `embedding` column."""
    return embeddings.selectExpr(
        "vec_id", "CAST(embedding AS array<double>) AS v", *extra)


def _split(emb: DataFrame, n_queries: int) -> tuple[DataFrame, DataFrame]:
    """(vec_id, v) → (queries (query_id, qv), corpus (vec_id, v)): the
    vectors with vec_id < n_queries are the query set."""
    queries = emb.filter(f"vec_id < {n_queries}").selectExpr(
        "vec_id AS query_id", "v AS qv")
    return queries, emb.filter(f"vec_id >= {n_queries}")


def _top(df: DataFrame, k: int, part: str, *order: str) -> DataFrame:
    """The first `k` rows of each `part` group in `order` (SQL sort
    keys), numbered in column `rank`."""
    return df.selectExpr(
        "*", f"row_number() OVER (PARTITION BY {part} ORDER BY "
        f"{', '.join(order)}) AS rank").filter(f"rank <= {k}")


def _cosine_topk(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, qv, vec_id, v) candidate pairs → (query_id,
    neighbor_id, rank): top-k by cosine, ties to the lower id."""
    scored = pairs.selectExpr("query_id", "vec_id AS neighbor_id",
                              f"{_cos('qv', 'v')} AS cosine")
    return _top(scored, k, "query_id", "cosine DESC",
                "neighbor_id").selectExpr("query_id", "neighbor_id", "rank")


_MAX_ARTIFACT_ROWS = 1_000_000  # driver-safety bound; real artifacts are ≤ thousands
# Reducer count for bounded-artifact collects: map-side partial
# aggregation makes reduce input n_maps × k rows, so a handful of
# reducers is the right shape at any corpus scale (NOT a local-core
# tune — the session default schedules core-count empty tasks).
_ARTIFACT_SHUFFLE_PARTITIONS = 4


def _local_artifact(df: DataFrame, or_plan: bool = False) -> DataFrame:
    """Materialize a BOUNDED trained artifact (coarse centroids, PQ
    codebooks, probe lists, k-row exact baselines — tens-to-thousands of
    rows at ANY corpus scale, by the same bound that lets them
    broadcast) into a JVM-local leaf (`io.local_frame`: plans as
    `LocalRelation` / `LocalTableScan`): run the producing subtree
    ONCE, collect it as Arrow (the documented bounded driver-side class
    — the production ANN posture: trained quantizer artifacts are held
    in memory, not recomputed per consumer), and rebuild the same
    values as a leaf relation. The values are transported verbatim — no
    arithmetic, Arrow doubles are exact — so every downstream result is
    bit-identical; what changes is the PLAN: consumers reference an
    O(rows) leaf instead of re-inlining the whole training subtree,
    whose Catalyst walks and codegen over the unrolled 64-dim-sum trees
    otherwise dominate these keys' wall as DRIVER time (thread dumps in
    OPTIMIZATION_r13.md). Guide §3.3: very large plans make planning
    itself the bottleneck — materialize intermediates; §5: the driver
    transfer here is k artifact rows, never corpus data.

    Partitioning: `LocalTableScan` spreads the rows over up to
    defaultParallelism partitions, and the leaf is left that way.
    Coalescing it to one partition serialized the HOF encode stages
    that run over it (OPTIMIZATION_r14.md, "Rejected after
    measurement").

    The leaf stays in the JVM: one rebuilt from Python rows
    (`createDataFrame(rows, schema)`) is a pickled `Scan ExistingRDD`
    whose every broadcast runs Python-worker tasks. It carries size
    statistics, but consumers joining it still hint F.broadcast
    explicitly — every call site does, so the join strategy does not
    hang on the estimate.

    Past `_MAX_ARTIFACT_ROWS` rows it raises, or with `or_plan` returns
    `df` itself: for a table its consumer broadcasts, whose rows reach
    the driver either way and whose size the caller cannot know before
    the collect."""
    spark = df.sparkSession
    # AQE decomposes even a tiny artifact query into one JOB PER SHUFFLE
    # STAGE (plus driver-side re-planning between them) — pure fixed
    # cost at this size. Disable it for the bounded collect only: the
    # values are identical either way (AQE never changes results), the
    # job count per artifact drops to 1, and the session conf is
    # restored immediately (the engine's query paths are single-threaded
    # per session — the documented posture of datapipe/_cache.py).
    # Shuffle partitions are pinned to a handful for the same reason: a
    # k-row artifact aggregation needs a handful of reducers at ANY
    # corpus scale (the map side is partially aggregated, so reduce
    # input is n_maps × k rows), and the session default (core count)
    # just schedules empty tasks. tests/test_similarity_pipeline.py
    # checks that the operators' answers do not move with the session's
    # values of either setting.
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions", "32")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(_ARTIFACT_SHUFFLE_PARTITIONS))
        table = df.toArrow()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    if table.num_rows > _MAX_ARTIFACT_ROWS:
        if or_plan:
            return df
        raise ValueError(
            f"_local_artifact collected {table.num_rows} rows (> "
            f"{_MAX_ARTIFACT_ROWS}): call sites must be bounded trained "
            "artifacts, never corpus-sized data")
    return local_frame(spark, table, df.schema)


def brute_force_topk(embeddings: DataFrame, k: int = 3, n_queries: int = 10) -> DataFrame:
    """Exact cosine top-k: query set broadcast against a single corpus scan."""
    queries, corpus = _split(_vectors(embeddings), n_queries)
    return _cosine_topk(corpus.join(F.broadcast(queries)), k)


def mips_topk(embeddings: DataFrame, k: int = 3,
              n_queries: int = 10) -> DataFrame:
    """Maximum-Inner-Product Search via the ORDER-PRESERVING cosine
    reduction (Bachrach et al. RecSys 2014; Shrivastava & Li NIPS 2014
    — both public): retrieval scores documents by raw inner product
    (BM25-weighted embeddings, recommender factors), which cosine ANN
    machinery can't serve directly because long vectors win on dot but
    lose on angle. The fix: augment every corpus vector with one extra
    coordinate sqrt(Phi² − |x|²) (Phi = max corpus norm) and every query
    with 0 — all augmented corpus vectors then share norm Phi, so
    cosine against the augmented query ranks EXACTLY like the raw inner
    product, and the entire existing cosine stack (sign-LSH, IVF-PQ)
    becomes a MIPS index for free.

    The engine ranks by the transformed cosine — the augmented norm and
    zero-extended dot computed literally, not algebraically simplified —
    while the oracle ranks by the raw inner product directly: the
    row-hash match IS the order-equivalence demonstration. Output:
    (query_id, neighbor_id, inner_product, rank).

    100 TB shape: Phi is a one-row broadcast aggregate off the corpus
    scan; scoring is corpus × broadcast(queries) with JVM-side
    zip_with/aggregate math (no Python), per-query ranking windows
    partition by the bounded query set."""
    queries, corpus = _split(_vectors(embeddings), n_queries)
    # persisted: two consumers rescan it (the Phi aggregate and the
    # scoring join) — at scale Phi is computed once per corpus version
    # and stored with it, exactly this plan's cache materialization
    corpus = tracked_persist(corpus)
    phi2 = corpus.agg(F.expr(f"max({_sumsq('v')}) AS phi2"))
    n2x = _sumsq("v")
    aug = f"sqrt(greatest(phi2 - {n2x}, 0D))"
    # augmented dot: q' carries 0 in the extra coordinate, so the term
    # aug * 0 rides along literally; augmented corpus norm is computed
    # from the components, not collapsed to sqrt(phi2)
    dot_aug = f"{_dot('qv', 'v')} + {aug} * 0D"
    norm_aug = f"sqrt({n2x} + {aug} * {aug})"
    scored = (
        corpus.join(F.broadcast(queries))
        .crossJoin(F.broadcast(phi2))
        .selectExpr(
            "query_id", "vec_id AS neighbor_id", f"{_dot('qv', 'v')} AS ip",
            f"({dot_aug}) / (({norm_aug}) * {_norm('qv')}) AS cos_aug"))
    # cos_aug stays the PRIMARY key (the reduction's order-equivalence
    # demonstration); the raw ip rides as a deterministic tie-break so
    # last-ulp differences in the per-vector norm_aug recomputation
    # cannot invert exactly- or near-tied inner products relative to the
    # oracle (which ranks by raw ip, then neighbor_id)
    return _top(scored, k, "query_id", "cos_aug DESC", "ip DESC",
                "neighbor_id").selectExpr(
        "query_id", "neighbor_id", "round(ip, 6) AS inner_product", "rank")


def _array(values: list[float]) -> str:
    """A literal array<double> of `values`."""
    return f"array({', '.join(_dbl(x) for x in values)})"


def _sign_bits(v: str, planes: list[list[float]]) -> str:
    """Sign-LSH bucket: one '1'/'0' per hyperplane, by the sign of the
    dot product of the array column `v` with the plane."""
    return "concat(" + ", ".join(
        f"CASE WHEN {_dot(v, _array(p))} >= 0 THEN '1' ELSE '0' END"
        for p in planes) + ")"


def lsh_topk(embeddings: DataFrame, n_planes: int = 4, n_queries: int = 10,
             k: int = 1, dim: int = 64) -> DataFrame:
    """Approximate NN via sign-LSH: bucket = sign bits of dot products with
    `n_planes` md5-seeded hyperplanes (`hash_planes` — the same
    data-INDEPENDENT plane family `embedding_dups_lsh` uses). The planes
    are broadcast literals baked into the plan: no driver collect, no
    extra corpus scan, and a re-ingest of the corpus cannot change any
    bucket."""
    planes = hash_planes(1, n_planes, dim)[0]
    queries, corpus = _split(_vectors(embeddings), n_queries)
    corpus = corpus.selectExpr("*", f"{_sign_bits('v', planes)} AS bkt")
    queries = queries.selectExpr("*", f"{_sign_bits('qv', planes)} AS bkt")
    return _cosine_topk(corpus.join(F.broadcast(queries), "bkt"), k)


def _sampled_cells(corpus: DataFrame, queries: DataFrame, cents: DataFrame,
                   nprobe: int, sfx: str = "") -> DataFrame:
    """Sampled-centroid IVF routing by cosine: each corpus vector goes
    to the cell whose centroid scores highest (ties to the higher cell —
    a max over (s, cell)), each query probes its `nprobe` best cells.
    Routing compares the columns named `v`, `cv`, `qv` plus `sfx`
    (`mips_ivf_topk` routes on its augmented `va`/`cva`/`qva`). Returns
    (cell, vec_id, v, query_id, qv) for every corpus vector in a probed
    cell.

    Assignment is a nested-centroid argMAX projection (zero Exchange:
    a join+groupBy form would shuffle corpus rows with their vector
    payloads); probing broadcasts n_queries × nprobe rows."""
    vc, cc, qc = "v" + sfx, "cv" + sfx, "qv" + sfx
    nested = cents.agg(F.expr(f"collect_list(struct(cell, {cc})) AS _cents"))
    best_cell = (f"array_max(transform(_cents, _c -> named_struct("
                 f"'s', {_cos(vc, '_c.' + cc)}, 'cell', _c.cell))).cell")
    assigned = (corpus.crossJoin(F.broadcast(nested))
                .selectExpr("vec_id", f"{best_cell} AS cell", "v"))
    probes = _top(
        queries.join(F.broadcast(cents)).selectExpr(
            "query_id", "qv", f"{_cos(qc, cc)} AS s", "cell"),
        nprobe, "query_id", "s DESC", "cell",
    ).selectExpr("query_id", "qv", "cell")
    return assigned.join(F.broadcast(probes), "cell")


def ivf_topk(embeddings: DataFrame, k: int = 3, n_queries: int = 10,
             stride: int = 37, nprobe: int = 4) -> DataFrame:
    """Approximate NN via an IVF (inverted-file) index: coarse-quantize the
    corpus into cells around centroids, probe only the `nprobe` nearest
    cells per query, exact-rerank inside the probed cells.

    Centroids are a deterministic 1-in-`stride` sample of the corpus
    (`vec_id % stride == 0`) — the sampled-centroid IVF variant; any engine
    can reproduce it, so the oracle is exact SQL (a trained-k-means centroid
    set would drop into the same plan as a broadcast table).

    100 TB shape: assignment is corpus × broadcast(centroids) followed by a
    nested-centroid argmax projection — no shuffle carries the
    |corpus|×|centroids| cross product. Probing broadcasts
    `n_queries × nprobe` rows; the rerank join touches only vectors in
    probed cells. Per-query ranking windows partition by query_id
    (bounded query set). The first execution in a JVM pays the
    whole-stage-codegen/JIT cost of the higher-order-function
    expressions (4.6 s vs 2.0-2.6 s warm at sf0.1), so a single timed
    run swings with what earlier queries already compiled."""
    queries, corpus = _split(_vectors(embeddings), n_queries)
    cents = corpus.filter(f"vec_id % {stride} = 0").selectExpr(
        "vec_id AS cell", "v AS cv")
    return _cosine_topk(_sampled_cells(corpus, queries, cents, nprobe), k)


def mips_ivf_topk(embeddings: DataFrame, k: int = 3, n_queries: int = 10,
                  stride: int = 37, nprobe: int = 4) -> DataFrame:
    """APPROXIMATE MIPS — the reduction composed with the ANN stack,
    which is the reduction's entire point (`mips_topk` proves order
    equivalence; this key proves the existing IVF machinery serves
    inner-product queries UNCHANGED once vectors are augmented):
    every corpus vector gains the sqrt(Phi² − |x|²) coordinate, queries
    gain a 0, and the sampled-centroid IVF (assignment, probing, both
    by AUGMENTED cosine — `ivf_topk`'s exact plan shape) runs as-is;
    only the in-cell rerank scores by the RAW inner product, which is
    what the user asked for.

    Output: (query_id, neighbor_id, inner_product, rank) — top-k by ip
    within the probed cells. The oracle replicates the augmented
    assignment/probing and the raw-ip rerank in SQL.

    100 TB shape: identical to `ivf_topk` — Phi and the centroid set are
    broadcast one-row/small aggregates baked into the plan, assignment
    is a zero-Exchange nested argmax projection, the rerank join touches
    probed cells only; augmentation adds one JVM-side array element, no
    extra pass."""
    queries, corpus = _split(_vectors(embeddings), n_queries)
    phi2 = corpus.agg(F.expr(f"max({_sumsq('v')}) AS phi2"))
    augmented = (f"concat(v, array(sqrt(greatest(phi2 - {_sumsq('v')}, "
                 "0D))))")
    corpus_a = (corpus.crossJoin(F.broadcast(phi2))
                .selectExpr("vec_id", "v", f"{augmented} AS va"))
    cents = (corpus.filter(f"vec_id % {stride} = 0")
             .crossJoin(F.broadcast(phi2))
             .selectExpr("vec_id AS cell", "v AS cv", f"{augmented} AS cva"))
    queries_a = queries.selectExpr("query_id", "qv",
                                   "concat(qv, array(0D)) AS qva")
    scored = _sampled_cells(corpus_a, queries_a, cents, nprobe,
                            "a").selectExpr(
        "query_id", "vec_id AS neighbor_id", f"{_dot('qv', 'v')} AS ip")
    return _top(scored, k, "query_id", "ip DESC", "neighbor_id").selectExpr(
        "query_id", "neighbor_id", "round(ip, 6) AS inner_product", "rank")


def hard_negative_mining(embeddings: DataFrame, k: int = 3,
                         n_queries: int = 20) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive training data (the FaceNet
    triplet-selection idea, Schroff et al. CVPR 2015 — public): for each
    anchor, the top-k most-similar corpus vectors with a DIFFERENT label
    — the negatives that actually move a contrastive loss (random
    negatives are trivially separated). Each mined negative also carries
    the SEMI-HARD flag: cosine below the anchor's best same-label
    (positive) corpus similarity — the margin-0 band FaceNet samples
    from (harder-than-positive negatives destabilize training; easier
    ones teach nothing).

    Output: (query_id, neighbor_id, cosine, rank, semi_hard).

    100 TB shape: one corpus scan against the broadcast anchor set; the
    different-label filter rides the scoring projection (no second
    pass); best-positive is a map-side-combined per-anchor max; ranking
    windows partition by the bounded anchor set."""
    emb = _vectors(embeddings, "label")
    anchors = emb.filter(f"vec_id < {n_queries}").selectExpr(
        "vec_id AS query_id", "v AS qv", "label AS qlabel")
    corpus = emb.filter(f"vec_id >= {n_queries}")
    scored = corpus.join(F.broadcast(anchors)).selectExpr(
        "query_id", "qlabel", "vec_id AS neighbor_id", "label",
        f"{_cos('qv', 'v')} AS cos")
    best_pos = (scored.filter("label = qlabel")
                .groupBy("query_id")
                .agg(F.expr("max(cos) AS best_pos_cos")))
    return (
        _top(scored.filter("label != qlabel"), k,
             "query_id", "cos DESC", "neighbor_id")
        .join(F.broadcast(best_pos), "query_id", "left")
        .selectExpr("query_id", "neighbor_id", "round(cos, 6) AS cosine",
                    "rank", "cos < best_pos_cos AS semi_hard")
    )


def hash_planes(tables: int, bits: int, dim: int) -> list[list[list[float]]]:
    """Deterministic pseudo-random hyperplanes seeded by md5 — engine-
    portable (any engine embedding the same literals reproduces the exact
    buckets), data-independent (no vectors are consumed as planes)."""
    import hashlib

    return [
        [
            [
                int(hashlib.md5(f"{t}|{j}|{d}".encode()).hexdigest()[:8], 16)
                / 2**32 - 0.5
                for d in range(dim)
            ]
            for j in range(bits)
        ]
        for t in range(tables)
    ]


def clustered_embeddings(spark, n_vecs: int = 120, dim: int = 64,
                         n_centers: int = 8, scale: float = 4.0,
                         noise: float = 0.1) -> DataFrame:
    """Deterministic CLUSTERED embedding fixture — a mixture of
    `n_centers` well-separated uniform-ball clusters, generated entirely
    in-engine from md5 (no data file, no RNG state): vector i belongs to
    center i % n_centers; coordinate j is

        scale * u('c:' || center || ':' || j)          (the center)
      + noise * (u('n:' || i || ':' || j) - 0.5)       (the jitter)

    where u(s) = first 60 bits of md5(s) as a double in [0,1) — the
    engine-portable hash-uniform idiom the sampling operators use, so
    DuckDB regenerates the identical table from the same expression.

    Why it exists: the uniform synthetic `embeddings.parquet` has no
    cluster structure, so a coarse quantizer explains ~no variance and
    residual-vs-raw PQ recall lands within noise (`ivf_pq_residual_topk`
    docstring). On THIS fixture the coarse centroids absorb the
    inter-center offsets (center distance ~ scale·sqrt(dim/6) >> noise),
    so residual encoding spends its code budget on the jitter that
    actually ranks neighbors — the measurable Jégou §IV-A gain the
    residual op was built to demonstrate (pinned in pytest).

    Output: (vec_id, embedding array<double>), vec_id 0..n_vecs-1."""
    u = lambda s: (F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
                   .cast("double") / F.lit(float(1 << 60)))
    return spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: F.lit(scale) * u(F.concat_ws(
                ":", F.lit("c"), (F.col("id") % n_centers).cast("string"),
                j.cast("string")))
            + F.lit(noise) * (u(F.concat_ws(
                ":", F.lit("n"), F.col("id").cast("string"),
                j.cast("string"))) - F.lit(0.5)),
        ).alias("embedding"),
    )


def with_synthetic_vec_dups(embeddings: DataFrame, dim: int = 64,
                            eps: float = 0.05) -> DataFrame:
    """Deterministic near-dup vector corpus: originals ∪ perturbed copies
    (vec_id+100000, v + eps·delta with a fixed md5-seeded delta). The
    testdata embeddings are unit vectors with max pairwise cosine ~0.51 —
    no natural near-dups — so dedup operators need planted ones to have
    observable behavior (same rationale as dedup.with_synthetic_dups for
    text). For eps=0.05 the planted pairs land at cosine ≈ 0.993–0.995."""
    delta = hash_planes(1, 1, dim)[0][0]
    orig = _vectors(embeddings)
    near = orig.filter("vec_id % 5 = 0").selectExpr(
        "vec_id + 100000 AS vec_id",
        f"zip_with(v, {_array([eps * x for x in delta])}, "
        "(_x, _y) -> _x + _y) AS v")
    return orig.unionAll(near)


def embedding_dups_lsh(embeddings: DataFrame, threshold: float = 0.99,
                       tables: int = 4, bits: int = 10,
                       dim: int = 64) -> DataFrame:
    """Embedding-cosine near-dup pairs over the FULL corpus via multi-table
    sign-LSH — the 100 TB path the bounded all-pairs baseline
    (`embedding_cosine_dups`) approximates from below.

    Each of `tables` hash tables buckets a vector by the sign pattern of
    `bits` hyperplane dot products; candidate pairs collide in ≥1 table and
    are exact-verified. Recall for cosine ≥ 0.99: per-bit collision
    p = 1 - acos(0.99)/π ≈ 0.955, per-table p^10 ≈ 0.63, across 4
    independent tables 1-(1-0.63)^4 ≈ 0.98.

    Shuffle discipline (the part that matters at 100 TB): the band
    self-join carries only (vec_id, tbl, bkt) — never the 512-byte vector
    payload, which would otherwise be duplicated `tables`× through the
    shuffle — and the 40 hyperplane dot products per vector are computed
    once (bands persisted), not once per join side. Candidates collapse to
    distinct bare id-pairs BEFORE the exact-verify stage, which fetches
    vectors back by id; verification cost is |candidates|, not
    |collisions|. The physical shape (bands persisted once, id-only
    self-join, no cartesian) is pinned by tests/test_plans.py."""
    planes = hash_planes(tables, bits, dim)
    emb = with_synthetic_vec_dups(embeddings, dim=dim)

    bands = emb.selectExpr(
        "vec_id",
        "explode(array(" + ", ".join(
            f"named_struct('tbl', {t}, 'bkt', {_sign_bits('v', planes[t])})"
            for t in range(tables)) + ")) AS tb",
    ).selectExpr("vec_id", "tb.tbl", "tb.bkt")
    # tracked_persist: shared band stage cached for the self-join, released
    # when the next persisting operator is constructed (bounded sweep cache)
    bands = tracked_persist(bands)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, F.expr("a.tbl = b.tbl AND a.bkt = b.bkt "
                         "AND a.vec_id < b.vec_id"))
        .selectExpr("a.vec_id AS id_a", "b.vec_id AS id_b")
        .distinct()
    )
    va = emb.selectExpr("vec_id AS id_a", "v AS va")
    vb = emb.selectExpr("vec_id AS id_b", "v AS vb")
    verified = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .selectExpr("id_a", "id_b", f"{_cos('va', 'vb')} AS cosine")
    )
    return (
        verified.filter(f"cosine >= {_dbl(threshold)}")
        .selectExpr("id_a", "id_b", "round(cosine, 6) AS cosine")
    )


def embedding_cosine_dups(embeddings: DataFrame, threshold: float = 0.99,
                          max_id: int = 200) -> DataFrame:
    """Embedding-cosine near-dup pairs over a bounded subset (the dedup
    flavor of similarity search) — the all-pairs baseline that
    `embedding_dups_lsh` approximates at full-corpus scale."""
    emb = with_synthetic_vec_dups(embeddings).filter(
        f"vec_id % 100000 < {max_id}")
    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(b, F.expr("a.vec_id < b.vec_id"))
        .selectExpr("a.vec_id AS id_a", "b.vec_id AS id_b",
                    f"{_cos('a.v', 'b.v')} AS cosine")
        .filter(f"cosine >= {_dbl(threshold)}")
        .selectExpr("id_a", "id_b", "round(cosine, 6) AS cosine")
    )


def _nest(cents: DataFrame, arr: str, *by: str) -> DataFrame:
    """(…, cluster, cv) rows → one row per `by` group (one row in all
    when `by` is empty) carrying its centroids as the struct array
    `arr`. Broadcast onto the vectors, this turns nearest-centroid
    election into a PURE PROJECTION (`_nearest`) — zero Exchange, where
    a join+groupBy election shuffles a corpus-sized row set with its
    vector payload. The argmin is order-independent, so the unsorted
    collect_list is still deterministic. Scope: right for SMALL centroid
    sets (coarse quantizers, PQ codebooks, k ≲ thousands — the array
    must broadcast and evaluate per row); a million-centroid fine
    quantizer would return to the join+groupBy form, sharded."""
    return cents.groupBy(*by).agg(
        F.expr(f"collect_list(struct(cluster, cv)) AS {arr}"))


def _nearest(v: str, arr: str) -> str:
    """argmin_{c ∈ arr} ||v − c.cv||² with ties to the lower cluster
    id (the min compares (d2, cluster)), as one JVM expression over the
    nested array."""
    return (f"array_min(transform({arr}, _c -> named_struct("
            f"'d2', {_d2(v, '_c.cv')}, 'cluster', _c.cluster))).cluster")


def _assign(vecs: DataFrame, cents: DataFrame, name: str,
            *cols: str) -> DataFrame:
    """(vec_id, v, …) × (cluster, cv) centroids → (vec_id, `name`,
    *cols): every vector's nearest centroid, by the broadcast
    nested-centroid projection."""
    return (
        vecs.crossJoin(F.broadcast(_nest(cents, "_cents")))
        .selectExpr("vec_id", f"{_nearest('v', '_cents')} AS {name}", *cols)
    )


def _means(assigned: DataFrame, v: str, width: int, *keys: str) -> DataFrame:
    """The Lloyd recompute: per `keys` group, the member count `n` and
    the element-wise mean `cv` of the `width`-long array column `v` —
    one map-side-combined groupBy, the one shuffle an iteration needs."""
    return assigned.groupBy(*keys).agg(
        F.expr("count(*) AS n"),
        *[F.expr(f"sum({v}[{i}]) AS s{i}") for i in range(width)],
    ).selectExpr(
        *keys, "n",
        "array(" + ", ".join(f"s{i} / n" for i in range(width)) + ") AS cv")


def _kmeans_centroids(emb: DataFrame, k: int, iters: int,
                      dim: int) -> DataFrame:
    """Lloyd training loop shared by `kmeans_clusters`, `semdedup`,
    `knn_join` and every IVF coarse quantizer: returns (cluster, n, cv)
    after `iters` rounds, one lazy unrolled plan. Init centroids are the
    vectors with vec_id < k; assignment is the nested-centroid
    projection (squared euclidean, ties to the lower cluster id)."""
    cents = emb.filter(f"vec_id < {k}").selectExpr(
        "CAST(vec_id AS int) AS cluster", "v AS cv")
    for _ in range(iters):
        cents = _means(_assign(emb, cents, "cluster", "v"), "v", dim,
                       "cluster")
    return cents


def kmeans_clusters(embeddings: DataFrame, k: int = 8, iters: int = 2,
                    dim: int = 64) -> DataFrame:
    """Lloyd's k-means over the embedding column, expressed as an
    iterative DataFrame loop (the pattern for any fixed-point algorithm on
    Spark: the driver unrolls the iteration count into one lazy plan, no
    driver-side data movement).

    Deterministic spec (so the oracle is exact SQL): init centroids are
    the vectors with vec_id < k; each round assigns EVERY vector to the
    nearest centroid by squared euclidean distance (ties break on the
    lower cluster id) and recomputes centroids as the element-wise mean.
    Output after `iters` rounds: (cluster, n_members, centroid_checksum)
    with the checksum = round(sum of centroid components, 6).

    100 TB shape, per iteration: assignment = corpus × broadcast(1-row
    nested centroid array) as a projection — no corpus shuffle;
    recompute = groupBy cluster with `dim` partial sums (k rows per map
    partition through the shuffle). The trained centroids drop into
    `ivf_topk`'s broadcast centroid slot as the trained-quantizer IVF
    variant.
    """
    cents = _kmeans_centroids(_vectors(embeddings), k, iters, dim)
    return cents.selectExpr(
        "cluster", "n AS n_members",
        "round(aggregate(cv, 0D, (_acc, _x) -> _acc + _x), 6) "
        "AS centroid_checksum")


def semdedup(embeddings: DataFrame, n_clusters: int = 8, iters: int = 2,
             dim: int = 64, threshold: float = 0.99) -> DataFrame:
    """SemDedup-style semantic deduplication (Abbas et al. 2023, public
    arXiv 2303.09540): k-means-cluster the embedding corpus, then search
    near-duplicates only WITHIN each cluster — the trained quantizer
    turns the quadratic all-pairs problem into per-cell blocks, which is
    the published method's scale trick and composes the engine's kmeans
    trainer with its pairwise-cosine dedup.

    Deterministic spec (exact SQL oracle): corpus = originals ∪ planted
    near-dups (`with_synthetic_vec_dups` — the testdata has no natural
    near-dups); train `n_clusters` centroids with the shared Lloyd loop;
    assign every vector to its nearest centroid (squared euclidean, ties
    to the lower cluster id); a vector is a duplicate iff a SMALLER-id
    member of the same cluster has cosine ≥ threshold (keep-lowest-id
    policy). Output: (vec_id, cluster, is_dup) per vector.

    100 TB shape: training/assignment broadcast the k-row centroid table
    (nested-centroid argmin projection, no corpus shuffle); the dup
    search self-joins ON THE CLUSTER KEY ONLY — cost is
    Σ|cell|², bounded by choosing k ∝ corpus size (SemDedup's own
    posture), never a corpus-wide cartesian; the distinct dup-id set
    left-joins back as a boolean mark (ids only, no vector payload)."""
    emb = with_synthetic_vec_dups(embeddings, dim=dim)
    # cents stays LAZY: it has exactly ONE consumer (the assignment
    # below, whose tracked_persist materializes training exactly once),
    # so collecting it into a leaf buys no consumer-dedup and adds
    # eager collect jobs (measured 16→24 tasks and ×2.99 wall, VERDICT
    # r13 item 1).
    cents = _kmeans_centroids(emb, n_clusters, iters, dim).selectExpr(
        "cluster", "cv")

    # `nv` precomputes each vector's norm ONCE at assignment time: the
    # pair search below evaluates its predicate over Σ|cell|² pairs, and
    # the norm is a 64-term HOF fold — computing it per PAIR would run
    # it 2·Σ|cell|² times. Same expression over the same doubles →
    # bit-identical values.
    assigned = tracked_persist(_assign(
        emb, cents, "cluster", "v", f"{_norm('v')} AS nv"))

    a, b = assigned.alias("a"), assigned.alias("b")
    dup_ids = (
        a.join(b, F.expr("a.cluster = b.cluster AND b.vec_id < a.vec_id"))
        .filter(f"{_dot('a.v', 'b.v')} / (a.nv * b.nv) >= "
                f"{_dbl(threshold)}")
        .selectExpr("a.vec_id AS vec_id")
    )
    marks = dup_ids.distinct().selectExpr("*", "true AS d")
    return (
        assigned.selectExpr("vec_id", "cluster")
        .join(marks, "vec_id", "left")
        .selectExpr("vec_id", "cluster", "coalesce(d, false) AS is_dup")
    )


def _probes(queries: DataFrame, coarse: DataFrame, nprobe: int,
            *carry: str) -> DataFrame:
    """(query_id, qv, …) × coarse (cluster, cv) → (query_id, *carry,
    cell): each query's top-`nprobe` nearest cells by squared euclidean,
    ties to the lower cluster (broadcast-centroid window — the probe
    routing of every trained-quantizer IVF variant). `carry` may name
    the centroid `cv` too."""
    return _top(
        queries.join(F.broadcast(coarse)).selectExpr(
            "query_id", *carry, f"{_d2('qv', 'cv')} AS d2", "cluster"),
        nprobe, "query_id", "d2 ASC", "cluster",
    ).selectExpr("query_id", *carry, "cluster AS cell")


def ivf_kmeans_topk(embeddings: DataFrame, k: int = 3, n_queries: int = 10,
                    n_cells: int = 8, iters: int = 2, dim: int = 64,
                    nprobe: int = 2) -> DataFrame:
    """IVF top-k with a TRAINED quantizer: the `kmeans_clusters` training
    loop's centroids drop into `ivf_topk`'s broadcast-centroid slot (the
    composition `kmeans_clusters` promised). Cell assignment and probing
    use the SAME metric the quantizer was trained with (squared
    euclidean, ties to the lower cluster id); the in-cell rerank is exact
    cosine like the other ANN variants.

    100 TB shape: training = `iters` × (corpus × broadcast(k centroids) →
    nested argmin projection → k-row recompute) in ONE lazy plan;
    assignment reuses the same broadcast pattern; probing broadcasts
    n_queries × nprobe rows; the rerank join touches only vectors in
    probed cells. The k-row centroid table is always broadcast — nothing
    driver-side, no cross product through a shuffle."""
    emb = _vectors(embeddings)
    # cents stays LAZY: its two consumers are both BROADCAST builds of a
    # k-row table, so the duplicated training subtree costs two cheap
    # broadcast jobs; a `_local_artifact` leaf added eager collect jobs
    # instead (tasks 14→29, no wall win; VERDICT r13 item 2) and hid the
    # training joins from the plan contract pinned in
    # tests/test_plans.py::test_ivf_kmeans_trained_quantizer_broadcasts.
    cents = _kmeans_centroids(emb, n_cells, iters, dim).selectExpr(
        "cluster", "cv")
    queries, corpus = _split(emb, n_queries)
    assigned = _assign(corpus, cents, "cell", "v")
    probes = _probes(queries, cents, nprobe, "qv")
    return _cosine_topk(assigned.join(F.broadcast(probes), "cell"), k)


def _coarse(emb: DataFrame, n_cells: int, iters: int,
            dim: int) -> DataFrame:
    """The trained coarse quantizer (cluster, cv) as a bounded leaf."""
    return _local_artifact(
        _kmeans_centroids(emb, n_cells, iters, dim).selectExpr("cluster",
                                                               "cv"))


def _pq_sub(df: DataFrame, m: int, sd: int, *keys: str,
            v: str = "v") -> DataFrame:
    """(*keys, v) → one row per (*keys, subspace j) with the `sd`-long
    subvector slice `sv` — the PQ decomposition that training, encoding
    and every lookup table consume. `keys` defaults to (vec_id,)."""
    keys = keys or ("vec_id",)
    subs = ", ".join(f"named_struct('j', {j}, 'sv', slice({v}, "
                     f"{j * sd + 1}, {sd}))" for j in range(m))
    return df.selectExpr(*keys, f"explode(array({subs})) AS s").selectExpr(
        *keys, "s.j AS j", "s.sv AS sv")


def _pq_encode(sub: DataFrame, cb: DataFrame, name: str = "code",
               *cols) -> DataFrame:
    """(vec_id, j, sv) × codebooks (j, cluster, cv) → (vec_id, j, `name`,
    *cols): nearest-code election as a nested-codebook projection after
    an m-row broadcast join on j — no election shuffle."""
    return (
        sub.join(F.broadcast(_nest(cb, "_cbs", "j")), "j")
        .selectExpr("vec_id", "j", f"{_nearest('sv', '_cbs')} AS {name}",
                    *cols)
    )


def _pq_codebooks(sub: DataFrame, ks: int, sd: int, iters: int,
                  init: DataFrame | None = None) -> DataFrame:
    """Per-subspace Lloyd codebooks (j, cluster, cv): init = subvectors
    of vec_id < ks, squared euclidean, ties to the lower id — the shared
    deterministic spec of every PQ variant. ``init`` overrides the seed
    codebook — the residual trainer seeds from corpus residuals, whose
    ids don't start at 0."""
    cb = init if init is not None else sub.filter(
        f"vec_id < {ks}").selectExpr(
        "j", "CAST(vec_id AS int) AS cluster", "sv AS cv")
    for _ in range(iters):
        cb = _means(_pq_encode(sub, cb, "cluster", "sv"), "sv", sd,
                    "j", "cluster")
    return cb.selectExpr("j", "cluster", "cv")


def _pq_lut(qsub: DataFrame, cb: DataFrame, *keys: str) -> DataFrame:
    """ADC lookup table: every (*keys, j) query subvector's squared
    distance to every code of subspace j — (*keys, j, cluster, d2),
    built from a broadcast of the m × ks codebook table."""
    return qsub.join(F.broadcast(cb), "j").selectExpr(
        *keys, "j", "cluster", f"{_d2('sv', 'cv')} AS d2")


def _raw_lut(sub: DataFrame, cb: DataFrame, n_queries: int) -> DataFrame:
    """The per-query raw-vector LUT (n_queries × m × ks rows)."""
    return _pq_lut(sub.filter(f"vec_id < {n_queries}")
                   .withColumnRenamed("vec_id", "query_id"), cb, "query_id")


def _adc_rank(cand: DataFrame, lut: DataFrame, k: int,
              *keys: str) -> DataFrame:
    """ADC scoring: join candidate codes (vec_id, j, code, …) against
    the broadcast LUT on (j, code) and on each of `keys` both sides
    carry, sum the per-subspace distances, keep the top-k per query
    (ties to the lower vec_id). `keys` holds query_id when the
    candidates are already restricted per query (the raw IVF-PQ probe
    join) and the cell when the LUT differs per probed cell (residual
    LUTs); otherwise query_id comes from the LUT. Both sides are
    aliased: a bare reference to a column both inherit from one
    lineage would build a trivially-true predicate."""
    on = ["_ca.j = _lu.j", "_ca.code = _lu.cluster",
          *[f"_ca.{c} = _lu.{c}" for c in keys]]
    qside = "_ca" if "query_id" in keys else "_lu"
    scored = (
        cand.alias("_ca").join(F.broadcast(lut.alias("_lu")),
                               F.expr(" AND ".join(on)))
        .selectExpr(f"{qside}.query_id AS query_id", "_ca.vec_id AS vec_id",
                    "_lu.d2 AS d2")
        .groupBy("query_id", "vec_id")
        .agg(F.expr("sum(d2) AS approx_d2"))
    )
    return _top(scored, k, "query_id", "approx_d2 ASC", "vec_id").selectExpr(
        "query_id", "vec_id AS neighbor_id", "rank",
        "round(approx_d2, 6) AS approx_d2")


def pq_topk(embeddings: DataFrame, k: int = 3, n_queries: int = 10,
            m: int = 4, ks: int = 16, iters: int = 1,
            dim: int = 64) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search" — public, IEEE TPAMI):
    split each vector into `m` subvectors, train a `ks`-centroid
    codebook per subspace (shared Lloyd spec: init = subvectors of
    vec_id < ks, squared euclidean, ties to the lower id), encode the
    corpus as m small codes, and answer queries by ADC — asymmetric
    distance computation against a per-query lookup table of
    query-subvector-to-centroid distances.

    Output: (query_id, neighbor_id, rank, approx_d2) — top `k` by the
    PQ-approximated squared distance (ties to the lower neighbor id).

    100 TB shape — WHY PQ is the scale path: after one encoding pass the
    search never touches raw vectors again. Codes are m×(int) per vector
    (dim/m × smaller than the float corpus); the per-query distance LUT
    is n_queries × m × ks rows (640 here) and BROADCASTS; the ADC scan
    is a broadcast join + map-side-combined sum keyed on (query_id,
    vec_id). Codebook training/encoding broadcasts the m×ks codebook
    table. The per-query ranking window partitions by query_id over the
    scored corpus — the inherent ADC brute scan; composing with the IVF
    cells (ivf_kmeans_topk) bounds it per probe list in a production
    index (IVF-PQ), with identical plumbing."""
    sd = dim // m
    sub = _pq_sub(_vectors(embeddings), m, sd)
    cb = _pq_codebooks(sub, ks, sd, iters)
    # corpus codes by a map-side-combined (vec_id, j) min(struct)
    # election — the same (d2, cluster) tie-break as `_pq_encode`'s
    # projection; this operator keeps the groupBy form, whose
    # partial_min tests/test_plans.py pins as its code election
    codes = (
        sub.filter(f"vec_id >= {n_queries}")
        .join(F.broadcast(cb), "j")
        .selectExpr("vec_id", "j", f"{_d2('sv', 'cv')} AS d2", "cluster")
        .groupBy("vec_id", "j")
        .agg(F.expr("min(struct(d2, cluster)) AS a"))
        .selectExpr("vec_id", "j", "a.cluster AS code")
    )
    return _adc_rank(codes, _raw_lut(sub, cb, n_queries), k)


def _raw_ivf_pq(emb: DataFrame, cells: DataFrame, probes: DataFrame,
                n_queries: int, m: int, ks: int, sd: int, pq_iters: int,
                k: int) -> DataFrame:
    """Raw-vector IVF-PQ scoring: PQ codebooks trained on the raw
    subvectors (a bounded leaf), corpus codes joined to their coarse
    `cells` (vec_id, cell), and only the `probes` (query_id, cell)
    cells' codes ranked by ADC against the raw per-query LUT."""
    sub = _pq_sub(emb, m, sd)
    cb = _local_artifact(_pq_codebooks(sub, ks, sd, pq_iters))
    codes = _pq_encode(sub.filter(f"vec_id >= {n_queries}"), cb)
    cand = codes.join(cells, "vec_id").join(F.broadcast(probes), "cell")
    return _adc_rank(cand, _raw_lut(sub, cb, n_queries), k, "query_id")


def _residuals(vecs: DataFrame, coarse: DataFrame) -> DataFrame:
    """(vec_id, v) × coarse centroids → (vec_id, cell, rv) where
    rv = v − centroid(cell): the IVFADC residual (Jégou et al. 2011
    §IV-A — PQ spends its code budget on the part of the vector the
    coarse quantizer did NOT explain). Cell routing is the zero-Exchange
    nested-centroid argmin; the subtraction is a broadcast-joined
    `zip_with` projection — no corpus shuffle anywhere."""
    ccv = coarse.selectExpr("cluster AS cell", "cv AS _ccv")
    return (_assign(vecs, coarse, "cell", "v").join(F.broadcast(ccv), "cell")
            .selectExpr("vec_id", "cell", f"{_minus('v', '_ccv')} AS rv"))


def _minus(a: str, b: str) -> str:
    """Element-wise a − b of two array columns."""
    return f"zip_with({a}, {b}, (_x, _y) -> _x - _y)"


def _residual_sub(res: DataFrame, m: int, sd: int) -> DataFrame:
    return _pq_sub(res, m, sd, v="rv")


def _residual_train(corpus: DataFrame, coarse: DataFrame, m: int, ks: int,
                    sd: int, pq_iters: int) -> tuple[DataFrame, DataFrame]:
    """IVFADC residual training over the corpus: returns (res, cb) —
    `res` the corpus residuals (vec_id, cell, rv), persisted because
    training and encoding both read them (EXTEND form: the caller's
    persist of the embeddings stays alive), and `cb` the per-subspace
    codebooks trained on the residual subvectors, as a bounded leaf.
    Seed = residuals of the `ks` LOWEST corpus vec_ids (a k-bounded
    TakeOrdered — queries own ids < n_queries, so the raw-variant's
    vec_id < ks seed can't apply); cluster labels are the seed vec_ids
    themselves (labels need not be contiguous — elections tie-break to
    the lower label identically in both engines)."""
    res = tracked_persist_extend(_residuals(corpus, coarse))
    subr = _residual_sub(res, m, sd)
    init_ids = corpus.select("vec_id").orderBy("vec_id").limit(ks)
    init_cb = (
        subr.join(F.broadcast(init_ids), "vec_id")
        .selectExpr("j", "CAST(vec_id AS int) AS cluster", "sv AS cv")
    )
    return res, _local_artifact(
        _pq_codebooks(subr, ks, sd, pq_iters, init=init_cb))


def _residual_encode(res: DataFrame, cb: DataFrame, m: int,
                     sd: int) -> DataFrame:
    """Residuals (vec_id, cell, rv) → codes (vec_id, cell, j, code), the
    one encoder of the in-plan scorers, the index build and the index
    add-batch — so encode-at-build equals encode-at-add by construction."""
    return (_pq_encode(_residual_sub(res, m, sd), cb)
            .join(res.selectExpr("vec_id", "cell"), "vec_id")
            .selectExpr("vec_id", "cell", "j", "code"))


def _residual_search(queries: DataFrame, coarse: DataFrame, cb: DataFrame,
                     codes: DataFrame, nprobe: int, m: int, sd: int,
                     k: int) -> DataFrame:
    """IVFADC query over (coarse, codebooks, codes). One subtree, which
    reads the query set once, routes each query to its `nprobe` nearest
    cells (`_probes`), takes the query residual q − centroid(cell) and
    builds the per-(query, PROBED CELL) ADC lookup table — the residual
    differs per probed cell, so each (query, cell) pair gets its own
    m × ks distance table (Jégou et al. 2011 §IV-A eq. 17). The codes
    join the table, broadcast, directly on (cell, j, code): it holds
    only probed cells, so that join is the probe restriction. The table
    has n_queries × nprobe × m × ks rows; up to `_MAX_ARTIFACT_ROWS` it
    is a bounded leaf (`_local_artifact`), past them (about 7,800
    queries at nprobe 2, m 4, ks 16) it stays in the plan. (The
    in-plan table was measured no faster than the leaf.) The in-plan
    scorers and `ivf_pq_query_index` all rank through here."""
    qres = _probes(queries, coarse, nprobe, "qv", "cv").selectExpr(
        "query_id", "cell", f"{_minus('qv', 'cv')} AS rqv")
    lut = _pq_lut(_pq_sub(qres, m, sd, "query_id", "cell", v="rqv"), cb,
                  "query_id", "cell")
    return _adc_rank(codes, _local_artifact(lut, or_plan=True), k, "cell")


def _exact_topk(corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact-d2 top-k (query_id, neighbor_id) per query — the recall
    baseline, as a bounded leaf (k × n_queries rows)."""
    scored = corpus.join(F.broadcast(queries)).selectExpr(
        "query_id", "vec_id AS neighbor_id", f"{_d2('qv', 'v')} AS exact_d2")
    return _local_artifact(
        _top(scored, k, "query_id", "exact_d2 ASC",
             "neighbor_id").selectExpr("query_id", "neighbor_id"))


def _with_recall(out: DataFrame, exact: DataFrame, k: int, cols: list,
                 **runs: DataFrame) -> DataFrame:
    """`out` projected to `cols` plus, for each named top-k run, that
    run's per-query recall@k against `exact` (0.0 for a query with no
    hit)."""
    for name, topk in runs.items():
        hits = (topk.join(F.broadcast(exact), ["query_id", "neighbor_id"],
                          "left_semi")
                .groupBy("query_id")
                .agg(F.expr(f"round(count(*) / {_dbl(k)}, 6) AS {name}")))
        out = out.join(F.broadcast(hits), "query_id", "left")
    return out.selectExpr(*cols, *[f"coalesce({n}, 0D) AS {n}" for n in runs])


def ivf_pq_residual_topk(embeddings: DataFrame, k: int = 3,
                         n_queries: int = 10, n_cells: int = 8,
                         coarse_iters: int = 1, nprobe: int = 2,
                         m: int = 4, ks: int = 16, pq_iters: int = 1,
                         dim: int = 64) -> DataFrame:
    """TRUE IVFADC (Jégou et al. 2011 §IV-A): PQ codebooks are trained
    on and codes encode the RESIDUALS x − centroid(cell(x)) instead of
    raw vectors — the coarse assignment is already known from the cell
    id, so spending PQ's code budget re-expressing it (what raw-vector
    encoding does) is waste; residual encoding puts all dim/m·log2(ks)
    bits on the unexplained remainder, which is why production IVFADC
    recalls better at the same code size. The ADC LUT is built per
    (query, probed cell) because the query residual differs per cell.

    Output: (query_id, neighbor_id, rank, approx_d2, recall_residual,
    recall_raw) — the residual-ADC top-k, with each query's MEASURED
    recall@k against the exact-d2 top-k for BOTH encodings (the raw
    variant recomputed under identical training spec), so the
    residual-vs-raw tradeoff is an output, not a claim. Measurement
    note: on the UNIFORM synthetic testdata the coarse quantizer
    explains ~no variance (residual ≈ raw − a near-constant), so the
    two recalls land within small-sample noise of each other
    (n_queries × k Bernoulli trials); the residual advantage Jégou et
    al. report materializes on CLUSTERED real embeddings, which is
    exactly why the op measures instead of assuming.

    100 TB shape: everything `ivf_pq_topk` claims — cell routing and
    code election are broadcast argmins, candidates key on the cell,
    LUTs broadcast (nprobe× larger here: one per probed cell — still
    n_queries × nprobe × m × ks rows). The recall columns add one
    broadcast-query corpus scan (the exact baseline) and the raw-ADC
    twin — evaluation-harness cost by design, bounded by n_queries;
    drop them for the pure index path (`ivf_pq_build_index`, which
    persists the residual form without the comparison)."""
    sd = dim // m
    # emb persisted for the whole operator (guide §5): each artifact
    # collect below is its own job, and without the cache every one
    # re-scans the source parquet (input bytes ×9.5, r13 sidecar).
    emb = tracked_persist(_vectors(embeddings))
    # BOUNDED trained artifacts (n_cells centroids, m*ks codebooks, the
    # residual LUT, n_queries*nprobe raw-side probes, k*n_queries exact
    # baseline) land as parallelized leaves (`_local_artifact` —
    # bit-identical values, one producing job each), so the downstream
    # plans (residual projection, encode, ADC rank, recall joins) are
    # all O(small) instead of re-walking the unrolled training
    # subtrees. (A localCheckpoint variant was measured and rejected:
    # `.rdd` forces serial physical planning per artifact — +6 s build
    # for −3 s execution on this key.)
    coarse = _coarse(emb, n_cells, coarse_iters, dim)
    queries, corpus = _split(emb, n_queries)
    res, cb_r = _residual_train(corpus, coarse, m, ks, sd, pq_iters)
    topk_r = _residual_search(queries, coarse, cb_r,
                              _residual_encode(res, cb_r, m, sd), nprobe, m,
                              sd, k)
    # raw side (identical spec to ivf_pq_topk, sharing coarse)
    topk_raw = _raw_ivf_pq(emb, res.selectExpr("vec_id", "cell"),
                           _local_artifact(_probes(queries, coarse, nprobe)),
                           n_queries, m, ks, sd, pq_iters, k)
    return _with_recall(
        topk_r, _exact_topk(corpus, queries, k), k,
        ["query_id", "neighbor_id", "rank", "approx_d2"],
        recall_residual=topk_r, recall_raw=topk_raw)


def ivf_pq_topk(embeddings: DataFrame, k: int = 3, n_queries: int = 10,
                n_cells: int = 8, coarse_iters: int = 1, nprobe: int = 2,
                m: int = 4, ks: int = 16, pq_iters: int = 1,
                dim: int = 64) -> DataFrame:
    """IVF-PQ — the production ANN index shape (Jégou et al. 2011 §IV):
    a coarse k-means quantizer routes each vector to a cell (IVF), PQ
    codes stand in for the raw vectors, and a query scans only its
    `nprobe` nearest cells with ADC over the codes. Composes the
    engine's trained coarse quantizer (`_kmeans_centroids`) with the PQ
    codebook/encoding machinery (`pq_topk`) — raw vectors appear only
    in training and encoding, never in the query path.

    Output: (query_id, neighbor_id, rank, approx_d2) — top `k` by ADC
    distance among the probed cells' members.

    100 TB shape: everything `pq_topk` claims, PLUS the scan bound —
    the per-query ranking touches |probed cells| instead of the corpus
    (nprobe/n_cells of the data in expectation). Probe routing and code
    election are broadcast-centroid argmins; the candidate join keys on
    the CELL id; the ADC LUT broadcasts."""
    emb = _vectors(embeddings)
    coarse = _coarse(emb, n_cells, coarse_iters, dim)
    queries, corpus = _split(emb, n_queries)
    return _raw_ivf_pq(emb, _assign(corpus, coarse, "cell"),
                       _probes(queries, coarse, nprobe), n_queries, m, ks,
                       dim // m, pq_iters, k)


def _index_scratch() -> str:
    """Per-process ANN-index dir, reclaimed at exit (shared recipe:
    `hive_nexr_spark.scratch.process_scratch_dir`)."""
    from ..scratch import process_scratch_dir

    return process_scratch_dir("annidx")


def ivf_pq_build_index(embeddings: DataFrame, index_root: str,
                       n_queries: int = 10, n_cells: int = 8,
                       coarse_iters: int = 1, m: int = 4, ks: int = 16,
                       pq_iters: int = 1, dim: int = 64) -> int:
    """TRAIN + ENCODE + PERSIST the IVFADC index — the first third of
    the production ANN lifecycle (train → persist → query → add-batch;
    Jégou et al. 2011 §IV, the FAISS-style on-disk index layout is
    public). RESIDUAL encoding throughout (§IV-A): PQ codebooks are
    trained on x − centroid(cell(x)) over the corpus, and codes encode
    residuals — the coarse assignment is carried by the cell id, so no
    code budget re-expresses it. Training uses the full input (vec_id
    < n_queries reserved as queries, same convention as `ivf_pq_topk`);
    vectors >= n_queries are encoded and stored. Three index tables
    under a MANIFEST-VERSIONED root (`sources/index_manifest.py` — the
    durable commit layer; a restarted process reopens the index from the
    manifest alone, params included):

      coarse     (cluster, cv)           — n_cells rows
      codebooks  (j, cluster, cv)        — m × ks rows, residual-trained
      codes      (vec_id, cell, j, code) — m rows/vector

    Returns the committed manifest version (always 1 for a fresh root).

    100 TB shape: the codes table is the only corpus-sized artifact
    (m small ints + a cell id per vector — the dim/m compression PQ
    exists for); at scale each add-batch dir would partition by `cell`
    so a query's probe list prunes files. Raw vectors never leave the
    build step."""
    from ..sources import index_manifest as idx

    sd = dim // m
    # emb persisted across the build's jobs (coarse training, codebook
    # training, encode) — without it each one re-scans the source
    # parquet (guide §5)
    emb = tracked_persist(_vectors(embeddings))
    # each bounded artifact is written straight from its leaf: no
    # read-back job (the leaf IS what the parquet roundtrip would
    # return — doubles survive parquet bit-exactly, so encode-at-build
    # and encode-at-add read identical values). The leaf keeps its
    # default partitioning, so the table lands as that many small files;
    # coalescing the write lineage was measured slower
    # (OPTIMIZATION_r14.md) and the files cost nothing on the read side.
    coarse_t = _coarse(emb, n_cells, coarse_iters, dim)
    cdir = idx.new_data_dir(index_root, "coarse", "v00001")
    coarse_t.write.mode("overwrite").parquet(cdir)

    res, cb_t = _residual_train(_split(emb, n_queries)[1], coarse_t, m, ks,
                                sd, pq_iters)
    bdir = idx.new_data_dir(index_root, "codebooks", "v00001")
    cb_t.write.mode("overwrite").parquet(bdir)

    codes = _residual_encode(res, cb_t, m, sd)
    kdir = idx.new_data_dir(index_root, "codes", "b00001")
    codes.write.mode("overwrite").parquet(kdir)
    return idx.commit_manifest(
        index_root,
        {"m": m, "dim": dim, "ks": ks, "n_cells": n_cells,
         "n_queries": n_queries, "residual": True,
         "coarse_iters": coarse_iters, "pq_iters": pq_iters},
        {"coarse": [cdir], "codebooks": [bdir], "codes": [kdir]},
        schemas={"coarse": coarse_t.schema.json(),
                 "codebooks": cb_t.schema.json(),
                 "codes": codes.schema.json()})


def ivf_pq_add_batch(spark, index_root: str,
                     new_vectors: DataFrame) -> int:
    """INCREMENTALLY add a vector batch to a persisted index: encode
    RESIDUALS against the FROZEN coarse centroids and PQ codebooks (read
    from the index — no retraining; m/dim travel in the manifest) and
    commit a new codes directory — an atomic manifest bump, so readers
    at the previous version keep a consistent view and a crash mid-write
    leaves the index at the old version. Work proportional to the BATCH:
    one broadcast-argmin cell routing + residual subtraction + one
    broadcast-codebook encoding. Returns the new manifest version."""
    from ..sources import index_manifest as idx

    p = idx.read_manifest(index_root)["params"]
    coarse_t = idx.read_index_table(spark, index_root, "coarse")
    cb_t = idx.read_index_table(spark, index_root, "codebooks")
    res = tracked_persist(_residuals(_vectors(new_vectors), coarse_t))
    codes = _residual_encode(res, cb_t, p["m"], p["dim"] // p["m"])
    kdir = idx.new_data_dir(index_root, "codes",
                            f"b{idx.latest_version(index_root) + 1:05d}")
    codes.write.mode("overwrite").parquet(kdir)
    return idx.append_table_dirs(index_root, {"codes": [kdir]})


def ivf_pq_delete(spark, index_root: str, keys: DataFrame) -> int:
    """DELETE vectors from the persisted IVF-PQ index (takedown/opt-out
    removal): `keys` (one vec_id column) lands as a sequenced tombstone
    through `index_manifest.commit_tombstones`, the delete the LSH
    dedup index shares. No code file is rewritten; delete(X) →
    `ivf_pq_add_batch` re-adding X makes X retrievable again at HEAD,
    reads pinned at the post-delete version still exclude it, and every
    pre-delete version stays AS-OF exact. Returns the new manifest
    version."""
    from ..sources import index_manifest as idx

    return idx.commit_tombstones(index_root, keys, "vec_id")


def ivf_pq_compact(spark, index_root: str) -> int:
    """COMPACTION for the persisted vector index: the visible code rows
    (sequenced tombstones applied) rewritten into one fresh codes dir
    by `index_manifest.compact_tables`; the frozen coarse/codebook
    artifacts carry over untouched (same dirs, same sequences).
    Content never changes and pre-compaction versions stay AS-OF
    readable. Returns the new manifest version."""
    from ..sources import index_manifest as idx

    return idx.compact_tables(spark, index_root, ["codes"], "vec_id")


def ivf_pq_query_index(spark, index_root: str, queries: DataFrame,
                       k: int = 3, nprobe: int = 2,
                       version: int | None = None) -> DataFrame:
    """QUERY the persisted IVFADC index — no training, no corpus
    aggregation: the plan reads the manifest's three index tables plus
    the query vectors (m/dim come from the manifest params; `version`
    time-travels to an earlier index state — pre-add-batch results are
    reproducible forever). Probe routing (a broadcast-centroid window
    top-nprobe), the query residuals and the per-(query, probed cell)
    residual ADC LUT (n_queries × nprobe × m × ks rows) are one subtree
    over the query set; codes join the broadcast LUT on (cell, j, code),
    so the per-query ranking touches only probed cells' codes.
    Bit-equal to the in-plan residual scoring on the same data by
    construction: both rank through `_residual_search`, over codes
    from `_residual_encode`.

    `queries`: (query_id, qv array<double>)."""
    from ..sources import index_manifest as idx

    man = idx.read_manifest(index_root, version)
    p = man["params"]
    coarse_t = idx.read_index_table(spark, index_root, "coarse", version)
    cb_t = idx.read_index_table(spark, index_root, "codebooks", version)
    # sequenced-tombstone scan: deleted vec_ids are anti-joined out of
    # the codes table per sequence group — one broadcast of the
    # O(|deleted|) key set; a deleted-then-re-added vector is served
    # from its re-add dir. Tombstone-free manifests scan plain.
    codes_t = idx.scan_sequenced(spark, man, "codes", "vec_id")
    return _residual_search(queries, coarse_t, cb_t, codes_t, nprobe,
                            p["m"], p["dim"] // p["m"], k)


def knn_join(embeddings: DataFrame, k: int = 3, n_clusters: int = 8,
             iters: int = 2, dim: int = 64) -> DataFrame:
    """All-pairs k-nearest-neighbor JOIN: every vector gets its top-`k`
    cosine neighbors — the bulk operator behind semantic clustering,
    graph building, and batched retrieval (vs the `*_topk` family, which
    serves a handful of query vectors against a corpus).

    Deterministic spec (exact SQL oracle): train `n_clusters` centroids
    with the shared Lloyd loop; assign every vector to its nearest
    centroid (squared euclidean, ties to the lower cluster id);
    neighbors are ranked by cosine DESC (ties to the lower neighbor id)
    WITHIN the vector's cluster — the cluster-bounded candidate set is
    the operator's contract, exactly like SemDedup's blocking, so recall
    beyond the cell is traded for the Σ|cell|² bound explicitly.

    100 TB shape: assignment is the zero-Exchange broadcast-nested-
    argmin projection; the candidate self-join keys on the CLUSTER id
    (never a corpus cartesian); the per-vector top-k is a rank window
    partitioned by vec_id over in-cell candidates, which Spark executes
    with WindowGroupLimit (per-partition heaps — k rows per vector
    retained pre-shuffle, asserted in tests/test_plans.py).
    """
    emb = _vectors(embeddings)
    # leaf centroids: the persisted `assigned` is self-joined below,
    # and each alias would re-walk an inlined training tree at plan time
    cents = _coarse(emb, n_clusters, iters, dim)
    # nv: per-vector norm computed once, not per pair (see semdedup —
    # bit-identical values, Σ|cell|² fewer HOF folds)
    assigned = tracked_persist(_assign(
        emb, cents, "cluster", "v", f"{_norm('v')} AS nv"))
    a, b = assigned.alias("a"), assigned.alias("b")
    pairs = (
        a.join(b, F.expr("a.cluster = b.cluster AND a.vec_id != b.vec_id"))
        .selectExpr("a.vec_id AS vec_id", "b.vec_id AS neighbor_id",
                    f"{_dot('a.v', 'b.v')} / (a.nv * b.nv) AS cos")
    )
    return _top(pairs, k, "vec_id", "cos DESC", "neighbor_id").selectExpr(
        "vec_id", "neighbor_id", "CAST(rank AS int) AS rank",
        "round(cos, 6) AS cos_sim")


def pca_power_iteration(embeddings: DataFrame, iters: int = 2,
                        dim: int = 64) -> DataFrame:
    """Top principal direction of the (uncentered) embedding Gram matrix
    via MATRIX-FREE power iteration — the in-engine linear-algebra
    pattern beyond kmeans: w ← Σ_x x·(xᵀw), normalized, unrolled
    `iters` times into one lazy plan (Mises & Pollaczek-Geiringer 1929;
    the standard large-scale PCA first step — public).

    Determinism (exact SQL oracle): init w = e₁; per row, xᵀw is a
    fixed-order left fold (the `_dot` HOF ↔ DuckDB list_dot_product
    parity every similarity oracle already relies on); EVERY cross-row
    sum — the per-dimension Σ d·x_i and the norm's Σ s² — accumulates
    in DECIMAL(38,12) (associative, so partition order cannot matter;
    both engines round double→decimal ties away from zero).

    Output: (dim_idx, loading) — the unit top-direction entries,
    rounded to 6.

    100 TB shape, per iteration: w broadcasts as a 1-row array (the
    kmeans pattern); the per-dimension sums go LONG-form — explode to
    (i, d·x_i) and groupBy(i) with map-side combine, so the shuffle
    carries dim rows per partition and, critically, every expression
    stays SMALL (building the 64-term norm inside each of the 64 array
    slots of the next w is a 4096-subexpression projection that fails
    whole-stage-codegen and falls back to interpreted eval).
    The Gram matrix is never materialized; memory is O(dim).
    """
    emb = tracked_persist(
        embeddings.selectExpr("CAST(embedding AS array<double>) AS x"))
    w_df = emb.sparkSession.range(1).select(
        F.array(F.lit(1.0).cast("double"),
                *[F.lit(0.0).cast("double") for _ in range(dim - 1)])
        .alias("w"))

    for _ in range(iters):
        d = emb.crossJoin(F.broadcast(w_df)).selectExpr(
            "x", f"{_dot('x', 'w')} AS d")
        contrib = d.select(
            F.posexplode(
                F.transform(F.col("x"), lambda xi: xi * F.col("d"))
            ).alias("i", "c"))
        # `sums` (dim rows, bounded) feeds TWO consumers — the norm
        # aggregate and the normalized w — so unpersisted, each
        # iteration would run the corpus explode+groupBy TWICE (the
        # norm's broadcast build re-derives it: 15 emb scans for 2
        # iterations). One partition: it is a dim-row table.
        sums = tracked_persist_extend(
            contrib.groupBy("i").agg(
                F.sum(F.col("c").cast("decimal(38,12)"))
                .cast("double").alias("s")).repartition(1))
        norm = sums.agg(
            F.sqrt(F.sum((F.col("s") * F.col("s"))
                         .cast("decimal(38,12)")).cast("double"))
            .alias("nrm"))
        w_long = sums.crossJoin(F.broadcast(norm)).select(
            "i", (F.col("s") / F.col("nrm")).alias("wv"))
        w_df = (w_long.agg(F.array_sort(
            F.collect_list(F.struct("i", "wv"))).alias("_sorted"))
            .select(F.transform(F.col("_sorted"),
                                lambda s: s["wv"]).alias("w")))

    return w_df.select(
        F.posexplode(F.col("w")).alias("dim_idx", "loading")
    ).select(
        F.col("dim_idx").cast("int").alias("dim_idx"),
        F.round("loading", 6).alias("loading"),
    )


def ivf_pq_rerank_topk(embeddings: DataFrame, k: int = 3,
                       shortlist: int = 10, n_queries: int = 10,
                       n_cells: int = 8, coarse_iters: int = 1,
                       nprobe: int = 2, m: int = 4, ks: int = 16,
                       pq_iters: int = 1, dim: int = 64) -> DataFrame:
    """IVFADC+R — re-ranking with the original vectors (Jégou et al.
    2011 §V): the residual-ADC index produces a SHORTLIST of
    `shortlist` candidates per query (cheap, code-table-only), then
    exactly those candidates are re-scored with TRUE distances against
    the stored vectors and the top-`k` re-ranked. This is the standard
    production recipe: ADC absorbs the corpus-scale work, the exact pass
    touches only n_queries x shortlist rows, and recall recovers most of
    what quantization lost at a fixed, tiny extra cost.

    Output: (query_id, neighbor_id, rank, exact_d2, recall_reranked,
    recall_adc) — both recalls MEASURED against the exact-d2 top-k, so
    the re-ranking gain is an output, not a claim (pytest pins
    recall_reranked >= recall_adc per query — re-ranking a superset can
    never do worse).

    100 TB shape: everything the residual index claims, plus ONE keyed
    join of the (n_queries x shortlist)-row candidate list against the
    vector store on vec_id — prunable, broadcast-query scored, never a
    corpus scan. The exact-baseline recall columns are
    evaluation-harness cost, bounded by n_queries, dropped in the pure
    serving path."""
    sd = dim // m
    # emb persisted for the operator's artifact jobs (guide §5 — same
    # rationale as ivf_pq_residual_topk), whose artifacts are leaves
    # for the same reason too
    emb = tracked_persist(_vectors(embeddings))
    coarse = _coarse(emb, n_cells, coarse_iters, dim)
    queries, corpus = _split(emb, n_queries)
    res, cb_r = _residual_train(corpus, coarse, m, ks, sd, pq_iters)
    short = _local_artifact(_residual_search(
        queries, coarse, cb_r, _residual_encode(res, cb_r, m, sd), nprobe,
        m, sd, shortlist))

    # BROADCAST the (n_queries × shortlist)-row candidate list: the hint
    # pins the strategy, so the planner never broadcasts (or at scale
    # shuffles) the CORPUS side whatever the leaf's size estimate
    rer = (
        corpus.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(short.select("query_id", "neighbor_id")),
              "neighbor_id")
        .join(F.broadcast(queries), "query_id")
        .selectExpr("query_id", "neighbor_id",
                    f"{_d2('qv', 'v')} AS exact_d2")
    )
    topk_rr = _top(rer, k, "query_id", "exact_d2 ASC", "neighbor_id")
    return _with_recall(
        topk_rr, _exact_topk(corpus, queries, k), k,
        ["query_id", "neighbor_id", "rank",
         "round(exact_d2, 6) AS exact_d2"],
        recall_reranked=topk_rr, recall_adc=short.filter(f"rank <= {k}"))
