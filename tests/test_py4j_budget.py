"""Py4J budgets for building the index query plans.

Every JVM call made while a plan is built from Python is one Py4J round
trip, and a Column-API node costs two or three of them. The MinHash-LSH
and IVF-PQ stage builders compose SQL text instead, so a projection is
one call. Each bound is about twice the count this suite measured when
it was set (IVF-PQ query 213, LSH query 302, ingest gate 284; the
Column-API builders took 1,881, 1,117 and 2,044), so going back to
node-by-node building fails here before it shows up as latency.
"""

from __future__ import annotations

import pytest
from py4j import clientserver, protocol as proto
from pyspark.sql import functions as F


# a finalized JVM proxy's release: sent whenever Python's garbage
# collector gets to the proxy, which may be one an earlier test left
_RELEASE = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME


def _commands(monkeypatch, build) -> int:
    """Py4J commands sent while `build()` runs, counted on its second
    call (the first pays one-off reflection lookups), proxy releases
    left out."""
    build()
    n = [0]
    send = clientserver.ClientServerConnection.send_command

    def counting(self, command, *a, **kw):
        if not command.startswith(_RELEASE):
            n[0] += 1
        return send(self, command, *a, **kw)

    monkeypatch.setattr(clientserver.ClientServerConnection,
                        "send_command", counting)
    try:
        build()
    finally:
        monkeypatch.undo()
    assert n[0] > 0, "no command went through ClientServerConnection"
    return n[0]


@pytest.fixture(scope="module")
def lsh_root(dfs):
    from hive_nexr_spark.datapipe import dedup, similarity

    root = similarity._index_scratch()
    assert dedup.lsh_index_build(dfs["documents"], root) == 1
    return root


def test_ivf_pq_query_build_budget(spark, dfs, monkeypatch):
    from hive_nexr_spark.datapipe import similarity

    root = similarity._index_scratch()
    similarity.ivf_pq_build_index(dfs["embeddings"], root)
    queries = (dfs["embeddings"]
               .filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").cast("array<double>")
                       .alias("qv")))
    n = _commands(monkeypatch, lambda: similarity.ivf_pq_query_index(
        spark, root, queries))
    assert n <= 500, n


def test_lsh_query_build_budget(spark, dfs, lsh_root, monkeypatch):
    from hive_nexr_spark.datapipe import dedup

    probes = dfs["documents"].filter(F.col("doc_id") < 20)
    n = _commands(monkeypatch, lambda: dedup.lsh_index_query(
        spark, lsh_root, probes))
    assert n <= 600, n


def test_ingest_gate_build_budget(spark, dfs, lsh_root, monkeypatch):
    from hive_nexr_spark.streaming import neardup

    arrivals = neardup._ingest_arrivals(dfs["documents"], 200)
    n = _commands(monkeypatch, lambda: neardup._gate_decisions(
        spark, lsh_root, arrivals, 0.5, 1))
    assert n <= 600, n
