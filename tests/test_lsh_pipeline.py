"""Pipeline-level checks of the MinHash-LSH operators.

Partition-count and AQE invariance: batch pairs, the persisted index
lifecycle (build → add → delete → query), the ingest gate's batch twin
and fuzzy decontamination each run at several
`spark.sql.shuffle.partitions` × AQE settings, and their output row
multiset must equal the one at the suite's session setting (4
partitions, AQE on, `tests/conftest.py`). Candidate pairs come out of
`distinct()` and multi-band joins, so an answer that moves with the
reducer count or with AQE's re-planning is a correctness defect.

The default gate runs the cheap paths at {1, 32} × AQE {on, off}; every
path over {1, 4, 32} × {on, off} is marked `slow`.

The MinHash-LSH steps live in one module: the Jaccard fraction and the
minhash slot columns are built only in `datapipe/dedup.py`.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

_SP = "spark.sql.shuffle.partitions"
_AQE = "spark.sql.adaptive.enabled"
_BASE = (4, True)
_GATE = [(1, True), (1, False), (32, True), (32, False)]
_GRID = [(sp, aqe) for sp in (1, 4, 32) for aqe in (True, False)]


def _pairs(spark, dfs, sf_dir):
    from hive_nexr_spark.datapipe import dedup

    return dedup.minhash_lsh_pairs(dfs["documents"])


def _index_lifecycle(spark, dfs, sf_dir):
    """Build on the originals, admit the exact copies, delete every
    fourth document, then probe with the near-dups."""
    from hive_nexr_spark.datapipe import dedup, similarity

    docs = dfs["documents"]
    d = similarity._index_scratch()
    dedup.lsh_index_build(docs, d)
    bounded = dedup._bounded_corpus(docs, 200)
    dedup.lsh_index_add_batch(
        spark, d, bounded.filter((F.col("doc_id") >= 100000)
                                 & (F.col("doc_id") < 200000)))
    dedup.lsh_index_delete(
        spark, d, bounded.filter(F.col("doc_id") % 4 == 0).select("doc_id"))
    return dedup.lsh_index_query(
        spark, d, bounded.filter(F.col("doc_id") >= 200000))


def _ingest_twin(spark, dfs, sf_dir):
    from hive_nexr_spark.streaming.neardup import dedup_ingest_batch_twin

    return dedup_ingest_batch_twin(spark, sf_dir)


def _decontaminate(spark, dfs, sf_dir):
    from hive_nexr_spark.datapipe.curation import decontaminate_fuzzy

    return decontaminate_fuzzy(dfs["documents"])


_PATHS = {
    "minhash_lsh_pairs": _pairs,
    "index_lifecycle": _index_lifecycle,
    "dedup_ingest_batch_twin": _ingest_twin,
    "decontaminate_fuzzy": _decontaminate,
}
_GATE_PATHS = ["minhash_lsh_pairs", "index_lifecycle"]


def _rows_at(spark, dfs, sf_dir, path, sp, aqe):
    """Row multiset of `path` with the session conf set to (sp, aqe);
    the previous conf is restored whatever happens."""
    from hive_nexr_spark.datapipe._cache import release_tracked

    prev = {k: spark.conf.get(k) for k in (_SP, _AQE)}
    try:
        spark.conf.set(_SP, str(sp))
        spark.conf.set(_AQE, str(aqe).lower())
        # no cached stage of an earlier setting may stand in for this one
        release_tracked()
        return Counter(tuple(r) for r in
                       _PATHS[path](spark, dfs, sf_dir).collect())
    finally:
        release_tracked()
        for k, v in prev.items():
            spark.conf.set(k, v)


def _check(spark, dfs, sf_dir, path, settings):
    base = _rows_at(spark, dfs, sf_dir, path, *_BASE)
    assert base, f"{path} returned no rows"
    for sp, aqe in settings:
        got = _rows_at(spark, dfs, sf_dir, path, sp, aqe)
        assert got == base, (
            f"{path} differs at shuffle.partitions={sp}, AQE={aqe}: "
            f"{sorted((got - base).elements())[:5]} vs "
            f"{sorted((base - got).elements())[:5]}")


@pytest.mark.parametrize("path", _GATE_PATHS)
def test_lsh_partition_and_aqe_invariant(spark, dfs, sf_dir, path):
    _check(spark, dfs, sf_dir, path, _GATE)
    assert spark.conf.get(_SP) == str(_BASE[0])


@pytest.mark.slow
@pytest.mark.parametrize("path", sorted(_PATHS))
def test_lsh_partition_and_aqe_invariant_full_grid(spark, dfs, sf_dir, path):
    _check(spark, dfs, sf_dir, path, [s for s in _GRID if s != _BASE])


_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "hive_nexr_spark")
_DEDUP = os.path.join("datapipe", "dedup.py")


def test_minhash_steps_live_only_in_dedup():
    """`array_union` (the Jaccard denominator) appears once in the
    package, in `datapipe/dedup.py`, and no other engine module builds a
    minhash slot column `mh{h}`. `queries/` is exempt from the slot
    check: its DuckDB oracle SQL is the independent mirror."""
    unions, slots = [], []
    for dirpath, _, files in os.walk(_PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, _PKG)
            with open(path) as fh:
                lines = fh.read().splitlines()
            for no, line in enumerate(lines, 1):
                unions += [f"{rel}:{no}"] * line.count("array_union")
                if (rel != _DEDUP and not rel.startswith("queries")
                        and re.search(r"\bmh\{", line)):
                    slots.append(f"{rel}:{no}")
    assert len(unions) == 1 and unions[0].startswith(_DEDUP + ":"), (
        f"the Jaccard fraction is built outside dedup._jaccard: {unions}")
    assert not slots, f"minhash slots built outside datapipe/dedup.py: {slots}"
