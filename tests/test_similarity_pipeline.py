"""Pipeline-level checks of the kmeans / IVF / PQ operators.

Partition-count and AQE invariance: each path runs at several
`spark.sql.shuffle.partitions` × AQE settings and its output row
multiset must equal the one at the suite's session setting (4 partitions, AQE on, `tests/conftest.py`). Cross-row double
sums (Lloyd means, ADC sums) are order-dependent in principle, so a
result that moves with the reducer count or with AQE's re-planning is a
correctness defect, not noise.

The default gate runs the cheap paths at {1, 32} × AQE {on, off}; the
full grid over every path and {1, 4, 32} × {on, off} is marked `slow`.

The ADC join must not build a trivially-true predicate (the JVM warns
when one is constructed).

A trained artifact lands as a JVM `LocalRelation` holding exactly the
collected values, so no IVF-PQ scan or broadcast starts a Python
worker; and no engine module builds a frame from Python rows except
through `io.local_frame`.
"""

from __future__ import annotations

import ast
import os
from collections import Counter
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

_SP = "spark.sql.shuffle.partitions"
_AQE = "spark.sql.adaptive.enabled"
_BASE = (4, True)
_GATE = [(1, True), (1, False), (32, True), (32, False)]
_GRID = [(sp, aqe) for sp in (1, 4, 32) for aqe in (True, False)]


def _query_vectors(emb):
    return (emb.select("vec_id",
                       F.col("embedding").cast("array<double>").alias("qv"))
            .filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("query_id"), "qv"))


def _build_query(spark, emb):
    from hive_nexr_spark.datapipe import similarity

    d = similarity._index_scratch()
    similarity.ivf_pq_build_index(emb, d)
    return similarity.ivf_pq_query_index(spark, d, _query_vectors(emb))


def _op(name):
    def run(spark, emb):
        from hive_nexr_spark.datapipe import similarity

        return getattr(similarity, name)(emb)
    return run


_PATHS = {
    "pq_topk": _op("pq_topk"),
    "ivf_pq_topk": _op("ivf_pq_topk"),
    "ivf_pq_residual_topk": _op("ivf_pq_residual_topk"),
    "ivf_pq_rerank_topk": _op("ivf_pq_rerank_topk"),
    "ivf_kmeans_topk": _op("ivf_kmeans_topk"),
    "kmeans_clusters": _op("kmeans_clusters"),
    "knn_join": _op("knn_join"),
    "semdedup": _op("semdedup"),
    "build_query_index": _build_query,
}
_GATE_PATHS = ["pq_topk", "ivf_pq_topk", "build_query_index"]


def _rows_at(spark, emb, path, sp, aqe):
    """Row multiset of `path` with the session conf set to (sp, aqe);
    the previous conf is restored whatever happens."""
    from hive_nexr_spark.datapipe._cache import release_tracked

    prev = {k: spark.conf.get(k) for k in (_SP, _AQE)}
    try:
        spark.conf.set(_SP, str(sp))
        spark.conf.set(_AQE, str(aqe).lower())
        # no cached stage of an earlier setting may stand in for this one
        release_tracked()
        return Counter(tuple(r) for r in _PATHS[path](spark, emb).collect())
    finally:
        release_tracked()
        for k, v in prev.items():
            spark.conf.set(k, v)


def _check(spark, emb, path, settings):
    base = _rows_at(spark, emb, path, *_BASE)
    assert base, f"{path} returned no rows"
    for sp, aqe in settings:
        got = _rows_at(spark, emb, path, sp, aqe)
        assert got == base, (
            f"{path} differs at shuffle.partitions={sp}, AQE={aqe}: "
            f"{sorted((got - base).elements())[:5]} vs "
            f"{sorted((base - got).elements())[:5]}")


@pytest.mark.parametrize("path", _GATE_PATHS)
def test_similarity_partition_and_aqe_invariant(spark, dfs, path):
    _check(spark, dfs["embeddings"], path, _GATE)
    assert spark.conf.get(_SP) == str(_BASE[0])


@pytest.mark.slow
@pytest.mark.parametrize("path", sorted(_PATHS))
def test_similarity_partition_and_aqe_invariant_full_grid(spark, dfs, path):
    _check(spark, dfs["embeddings"], path,
           [s for s in _GRID if s != _BASE])


@contextmanager
def _column_warnings(spark):
    """Capture what the JVM's `org.apache.spark.sql.Column` logger emits
    (where `Column.===` warns about a trivially-true predicate)."""
    jvm = spark._jvm
    core = jvm.org.apache.logging.log4j.core
    writer = jvm.java.io.StringWriter()
    layout = core.layout.PatternLayout.newBuilder().withPattern("%m%n").build()
    app = (core.appender.WriterAppender.newBuilder().setName("column-probe")
           .setTarget(writer).setLayout(layout).build())
    app.start()
    logger = jvm.org.apache.logging.log4j.LogManager.getContext(
        False).getLogger("org.apache.spark.sql.Column")
    assert logger.isWarnEnabled()
    logger.addAppender(app)
    try:
        yield writer.toString
    finally:
        logger.removeAppender(app)
        app.stop()


def test_adc_join_builds_no_trivially_true_predicate(spark, dfs):
    """The ADC join of `pq_topk` and `ivf_pq_topk` keys codes on the LUT's
    subspace j; both sides descend from one subvector table, so an
    unaliased `codes["j"] == lut["j"]` is a trivially-true predicate
    that only Dataset.join's self-reference rewrite makes right."""
    from hive_nexr_spark.datapipe.similarity import ivf_pq_topk, pq_topk

    with _column_warnings(spark) as log:
        pq_topk(dfs["embeddings"])
        ivf_pq_topk(dfs["embeddings"])
    assert "trivially true" not in log(), log()


def _artifact_source(dfs):
    return (dfs["embeddings"]
            .select("vec_id", F.col("embedding").cast("array<double>")
                    .alias("v"))
            .filter(F.col("vec_id") < 20))


def test_local_artifact_is_a_jvm_local_relation(spark, dfs):
    from hive_nexr_spark.datapipe.similarity import _local_artifact

    src = _artifact_source(dfs)
    leaf = _local_artifact(src)
    plan = leaf._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()
    assert leaf.schema == src.schema
    # exact values, array<double> included, in the collected order
    assert leaf.collect() == src.collect()


def test_local_artifact_row_bound_still_raises(spark, dfs, monkeypatch):
    from hive_nexr_spark.datapipe import similarity

    monkeypatch.setattr(similarity, "_MAX_ARTIFACT_ROWS", 5)
    with pytest.raises(ValueError, match="_local_artifact collected 20 rows"):
        similarity._local_artifact(_artifact_source(dfs))


def test_ivf_pq_query_index_scans_local_leaves(spark, dfs):
    """The probe list is broadcast from a `LocalTableScan`, never from a
    pickled Python leaf (`Scan ExistingRDD`)."""
    df = _build_query(spark, dfs["embeddings"])
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_ivf_pq_query_past_the_artifact_bound_keeps_the_lut_in_plan(
        spark, dfs, monkeypatch):
    """A query batch whose ADC table (n_queries × nprobe × m × ks rows)
    is past `_MAX_ARTIFACT_ROWS` is answered as under the bound, with
    the table left in the plan instead of collected as a leaf."""
    from hive_nexr_spark.datapipe import similarity

    emb = dfs["embeddings"]
    d = similarity._index_scratch()
    similarity.ivf_pq_build_index(emb, d)

    def query():
        df = similarity.ivf_pq_query_index(spark, d, _query_vectors(emb))
        return (sorted(df.collect()),
                df._jdf.queryExecution().executedPlan().toString())

    leaf_rows, leaf_plan = query()
    # 10 queries × nprobe 2 × m 4 × ks 16 = 1,280 table rows
    monkeypatch.setattr(similarity, "_MAX_ARTIFACT_ROWS", 1_279)
    rows, plan = query()
    assert rows == leaf_rows and len(rows) == 30
    assert "LocalTableScan" in leaf_plan, leaf_plan
    assert "LocalTableScan" not in plan, plan


_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "hive_nexr_spark")
# io.py holds the helper. The qfile harness and the Hive-0.8 join replay
# return arbitrary Hive types; everything else builds driver-held frames
# through the helper.
_CREATE_DATAFRAME_OK = {"io.py", os.path.join("sources", "qtest.py"),
                        os.path.join("sources", "hive08_join.py")}


def test_only_local_frame_calls_create_dataframe():
    offenders = []
    for dirpath, _, files in os.walk(_PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, _PKG)
            if rel in _CREATE_DATAFRAME_OK:
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            offenders += [
                f"{rel}:{node.lineno}" for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"]
    assert not offenders, (
        "build driver-held frames with io.local_frame (a JVM "
        f"LocalRelation), not createDataFrame: {offenders}")
