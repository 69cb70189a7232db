"""Streaming NEAR-duplicate dedup: MinHash-band each incoming micro-batch
against a static corpus index (the production ingest shape — new documents
arrive on a stream and must be checked against the existing corpus before
admission). Completes `events_stream_dedup`, which is exact-digest only.

The reference has no streaming at all (SURVEY §2.11); batch-side the
nearest analogue is its GROUP BY rewrite of DISTINCT
(`ql/parse/SemanticAnalyzer.java`). The MinHash/LSH math is public
(Broder 1997; the band scheme is the standard Leskovec-Rajaraman-Ullman
construction) and identical to `datapipe/dedup.minhash_lsh_pairs`.

Every MinHash-LSH step comes from `datapipe/dedup.py`: the band encoder
`hof_bands`, the probe → index matcher `_index_matches`, the candidate
self-join `_band_candidates` and the pair verifier `_verified_pairs`.

Scale design (100 TB corpus, unbounded stream):
- The static index is built ONCE (signatures + band buckets persisted);
  per micro-batch work is proportional to the BATCH, not the corpus.
- The signature is a per-row projection — `array_min` over the
  transformed shingle array (one md5 pass per shingle, then H cheap
  substring passes) — so no streaming aggregation state exists at all;
  the only stream-side state is the micro-batch itself.
- Candidate generation is a stream-static equi-join on (band, bucket);
  verification joins the static shingle table by corpus doc_id. Shuffle
  keys are band buckets and ids — raw text never enters an Exchange.
- A pair matching in k bands is emitted k times by the append-mode sink
  (stateless by design — a streaming `dropDuplicates` would hold
  unbounded pair state); the landing-table consumer dedups, which is the
  standard at-least-once sink contract.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datapipe import dedup as dd
from ..datapipe._cache import tracked_persist


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming file source over the documents table (the
    shared `io.read_table_stream` convention)."""
    from ..io import read_table_stream

    return read_table_stream(spark, sf_dir, "documents")


def _incoming(docs: DataFrame, max_doc_id: int) -> DataFrame:
    """The planted arrival stream: the dup-corpus construction's
    synthetic rows only (exact copies +100000, near-dups +200000) —
    REUSES `dedup._bounded_corpus` so the planted-dup scheme lives in
    exactly one place (every projection is stateless, so it applies to
    a streaming `docs` unchanged), here playing 'newly ingested
    documents' against the original-documents index."""
    return dd._bounded_corpus(docs, max_doc_id).filter(
        F.col("doc_id") >= 100000)


def _static_index(spark: SparkSession, sf_dir: str, max_doc_id: int):
    from ..queries.base import ensure_views

    docs = ensure_views(spark, sf_dir)["documents"]
    corpus = docs.select("doc_id", "text").filter(
        (F.col("doc_id") % 100000) < max_doc_id)
    # repartition(1): the static index slice is max_doc_id rows — cached
    # at shuffle granularity every per-batch stream-static join scanned
    # it as a core-count task wave
    toks_static = tracked_persist(
        dd._with_shingles(corpus).select("doc_id", "sh").repartition(1))
    return docs, toks_static, dd.hof_bands(toks_static)


def stream_neardup(spark: SparkSession, sf_dir: str,
                   threshold: float = 0.5,
                   max_doc_id: int = 200) -> DataFrame:
    """The streaming op: arrival stream → stateless band projection →
    stream-static band join → verified (corpus doc_a, incoming doc_b,
    jaccard) pairs, landed in a memory sink and deduped at read (pairs
    matching in several bands arrive once per band)."""
    _, toks_static, bands_static = _static_index(spark, sf_dir, max_doc_id)
    stream = read_documents_stream(spark, sf_dir)
    matched = dd._index_matches(
        dd._shingle_bands(_incoming(stream, max_doc_id)), bands_static,
        toks_static, threshold)
    name = f"stream_neardup_{uuid.uuid4().hex[:8]}"
    q = (matched.writeStream.outputMode("append").format("memory")
         .queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).distinct()


def _ingest_arrivals(docs: DataFrame, max_doc_id: int) -> DataFrame:
    """The ingestion gate's arrival mix: the planted duplicates
    (`_incoming` — must be REJECTED) plus a genuinely NOVEL slice, the
    originals in [200, 250) that the index build (doc_id < max_doc_id
    = 200) never saw — these must be ADMITTED. Stateless projections +
    a self-union, so the same builder serves the stream and the batch
    twin."""
    novel = docs.select("doc_id", "text").filter(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 250))
    return _incoming(docs, max_doc_id).unionByName(novel)


def _gate_decisions(spark: SparkSession, index_root: str,
                    batch: DataFrame, threshold: float,
                    frozen_version: int) -> DataFrame:
    """Per-document admission decision against the FROZEN index version:
    probe (the persisted-index band join + exact-Jaccard verify), then
    aggregate matches per arriving doc. Output: (doc_id,
    n_index_matches, best_jaccard, admitted 0/1, n_batch_matches,
    batch_dup_of).

    The last two columns SURFACE intra-batch duplicates — arrivals
    that near-dup EACH OTHER within this batch, which the frozen-index
    contract deliberately admits both of (the offline pass owns them):
    the batch's band-candidate pairs, verified by exact Jaccard and
    counted from both ends, n_batch_matches = batch peers >= threshold,
    batch_dup_of = the smallest such peer id (NULL when none). They
    describe the batch itself, so they are the one part of the table
    that depends on batching; the frozen-index columns
    (n_index_matches, best_jaccard, admitted) remain
    batch-boundary-independent — the determinism contract. The batch
    is shingled and banded in one place (`probes`), which feeds both
    the index probe and the candidate self-join."""
    toks = dd._with_shingles(batch.selectExpr("doc_id", "text")).selectExpr(
        "doc_id", "sh")
    probes = dd.hof_bands(toks)
    bands_t, toks_t = dd._index_tables(spark, index_root, frozen_version)
    m = (dd._index_matches(probes, bands_t, toks_t, threshold).distinct()
         .groupBy(F.expr("doc_b AS doc_id"))
         .agg(F.expr("CAST(count(*) AS int) AS n_index_matches"),
              F.expr("max(jaccard) AS best_jaccard")))
    pairs = dd._verified_pairs(dd._band_candidates(probes), toks, threshold)
    peers = pairs.selectExpr(
        "explode(array(named_struct('doc_id', doc_a, 'peer', doc_b), "
        "named_struct('doc_id', doc_b, 'peer', doc_a))) AS p",
    ).selectExpr("p.*")
    bm = (peers.groupBy("doc_id")
          .agg(F.expr("CAST(count(*) AS int) AS n_batch_matches"),
               F.expr("min(peer) AS batch_dup_of")))
    return (
        batch.selectExpr("doc_id").join(m, "doc_id", "left")
        .join(bm, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(coalesce(n_index_matches, 0) AS int) AS n_index_matches",
            "round(coalesce(best_jaccard, 0D), 6) AS best_jaccard",
            "CAST(CASE WHEN n_index_matches IS NULL THEN 1 ELSE 0 END "
            "AS int) AS admitted",
            "CAST(coalesce(n_batch_matches, 0) AS int) AS n_batch_matches",
            "batch_dup_of",
        )
    )


def stream_dedup_ingest(spark: SparkSession, sf_dir: str,
                        threshold: float = 0.5,
                        max_doc_id: int = 200) -> DataFrame:
    """STREAMING DEDUP INGESTION GATE — the production shape a 100 TB
    pipeline runs at the front door: each arriving micro-batch is probed
    against the PERSISTED LSH index of the historical corpus
    (`dedup.lsh_index_query`); documents with no match >= `threshold`
    are ADMITTED into the index via one atomic add-batch manifest bump
    (work proportional to the admitted batch), matched documents are
    rejected. The decision table (one row per arrival) is the output a
    downstream writer would route on.

    Determinism contract (the `stream_ann_ingest` recipe): decisions
    probe the FROZEN build version only, so the decision table is
    independent of micro-batch boundaries — when (and with whom) a
    document arrives cannot change its verdict, and the batch twin
    (`dedup_ingest_batch_twin`) equals the stream row-for-row.
    Intra-stream duplicates OF EACH OTHER are therefore both admitted
    and left to the periodic offline dedup pass — the standard posture
    for a streaming gate (the historical index is the contract; the
    batch MinHash job owns intra-window dups) — but they are
    SURFACED: each decision row carries (n_batch_matches, batch_dup_of)
    from a within-batch band self-join, so the downstream router can see
    which admitted docs arrived alongside their own near-dups. These two
    columns describe the micro-batch itself (the documented exception to
    the batch-boundary-independence of the frozen-index columns).

    100 TB shape: per batch — stateless band projection on the batch,
    one (band, bucket) equi-join against the persisted band table, one
    id-keyed shingle fetch for verification, one O(batch) parquet
    append; ZERO streaming state, no watermark. Landing-table append is
    the idempotent pattern shared with `events.stream_cdc_upsert`."""
    from ..queries.base import ensure_views
    from ..scratch import process_scratch_dir

    docs = ensure_views(spark, sf_dir)["documents"]
    index_root = process_scratch_dir(
        f"dedup_ingest_{uuid.uuid4().hex[:8]}")
    frozen_v = dd.lsh_index_build(docs, index_root, max_doc_id=max_doc_id)
    landing = os.path.join(index_root, "decisions")

    stream = read_documents_stream(spark, sf_dir)
    arrivals = _ingest_arrivals(stream, max_doc_id)

    def gate(batch_df: DataFrame, _bid: int) -> None:
        # The batch feeds the decisions and the add-batch, the decisions
        # feed the admission filter and the landing write: persist each
        # once, for this batch only, so the source is read once per
        # batch. Not `tracked_persist`: its release would drop the
        # caller's cached blocks.
        batch = batch_df.persist()
        dec = None
        try:
            dec = _gate_decisions(spark, index_root, batch, threshold,
                                  frozen_v).persist()
            admitted = batch.join(
                dec.filter(F.col("admitted") == 1).select("doc_id"),
                "doc_id", "left_semi")
            if admitted.head(1):
                dd.lsh_index_add_batch(spark, index_root, admitted)
            dec.write.mode("append").parquet(landing)
        finally:
            if dec is not None:
                dec.unpersist()
            batch.unpersist()

    q = arrivals.writeStream.foreachBatch(gate).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(landing)


def dedup_ingest_batch_twin(spark: SparkSession, sf_dir: str,
                            threshold: float = 0.5,
                            max_doc_id: int = 200) -> DataFrame:
    """The one-shot batch computation of the same decision table — the
    value oracle for the streaming gate (decisions depend only on the
    frozen index, so batching cannot matter)."""
    from ..datapipe.similarity import _index_scratch
    from ..queries.base import ensure_views

    docs = ensure_views(spark, sf_dir)["documents"]
    index_root = _index_scratch()
    frozen_v = dd.lsh_index_build(docs, index_root, max_doc_id=max_doc_id)
    arrivals = _ingest_arrivals(docs.select("doc_id", "text"), max_doc_id)
    return _gate_decisions(spark, index_root, arrivals, threshold,
                           frozen_v)


def neardup_batch_twin(spark: SparkSession, sf_dir: str,
                       threshold: float = 0.5,
                       max_doc_id: int = 200) -> DataFrame:
    """Identical matcher over the batch documents table — the value
    oracle for the streaming path (same builder functions, batch input)
    and the plan-test surface for the stream's physical shape."""
    docs, toks_static, bands_static = _static_index(spark, sf_dir,
                                                    max_doc_id)
    return dd._index_matches(
        dd._shingle_bands(_incoming(docs, max_doc_id)), bands_static,
        toks_static, threshold).distinct()
