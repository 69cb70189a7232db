"""Hive-compat function parity (SURVEY §2.9 custom entries)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hive_nexr_spark.functions import hive_compat as hc
from hive_nexr_spark.sources.qtest import DATA_DIR

KV1 = f"{DATA_DIR}/kv1.txt"


def _java_string_hash(s: str) -> int:
    """Reference implementation of `ObjectInspectorUtils.hashCode` STRING
    (seed 0, r*31+signed byte — String.hashCode-compatible for ASCII)."""
    h = 0
    for b in s.encode("utf-8"):
        sb = b - 256 if b > 127 else b
        h = (h * 31 + sb) & 0xFFFFFFFF
    return h - (1 << 32) if h >= (1 << 31) else h


def test_hive_hash_string_parity(spark):
    vals = ["", "a", "abc", "hello world", "AUTOMOBILE", "1995-01-01"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {r.s: r.h for r in df.select("s", hc.hive_hash("s", "string").alias("h")).collect()}
    for v in vals:
        assert got[v] == _java_string_hash(v), v
    # Java String.hashCode anchors (ASCII): "abc" = 96354
    assert got["abc"] == 96354


@pytest.mark.skipif(not os.path.exists(KV1),
                    reason=f"needs {KV1} from the Hive 0.8 source tree")
def test_hive_hash_golden_sum(spark):
    """SUM(HASH(key_value)) over the first 10 kv1 rows reproduces the
    reference's own golden output (`results/clientpositive/
    insert_into1.q.out`: -826625916)."""
    rows = [
        line.rstrip("\n").split("\x01")
        for line in open(KV1)
    ][:10]
    assert sum(hc._py_hive_hash(f"{k}_{v}") for k, v in rows) == -826625916


def test_hive_hash_int_bigint_bool(spark):
    df = spark.createDataFrame(
        [(7, 1234567890123, True), (-3, -1, False)], ["i", "l", "b"]
    )
    rows = df.select(
        hc.hive_hash("i", "int").alias("hi"),
        hc.hive_hash("l", "bigint").alias("hl"),
        hc.hive_hash("b", "boolean").alias("hb"),
    ).collect()
    def jlong(v):
        x = (v ^ ((v & 0xFFFFFFFFFFFFFFFF) >> 32)) & 0xFFFFFFFF
        return x - (1 << 32) if x >= (1 << 31) else x
    assert rows[0].hi == 7
    assert rows[0].hl == jlong(1234567890123)
    assert rows[0].hb == 1
    assert rows[1].hi == -3
    assert rows[1].hb == 0


def test_field_function(spark):
    df = spark.createDataFrame([("b",), ("z",)], ["x"])
    got = df.select(
        hc.field(F.col("x"), F.lit("a"), F.lit("b"), F.lit("c")).alias("f")
    ).collect()
    assert [r.f for r in got] == [2, 0]


def test_create_union_encoding(spark):
    df = spark.range(1).select(
        hc.create_union(F.lit(1), F.lit(42), F.lit("s")).alias("u")
    )
    row = df.collect()[0].u
    assert row.tag == 1 and row.field0 == 42 and row.field1 == "s"


def test_stable_sums_deterministic(spark, dfs):
    """dsum must be invariant to partitioning (the property plain
    sum(double) lacks)."""
    from hive_nexr_spark.functions.stable import dsum

    li = dfs["lineitem"]
    a = li.repartition(1).agg(dsum("l_extendedprice").alias("s")).collect()[0].s
    b = li.repartition(13).agg(dsum("l_extendedprice").alias("s")).collect()[0].s
    assert a == b
