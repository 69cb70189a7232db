"""Snapshot reads plan from the manifest (`sources/snapshots.py`).

Every snapshot commit records the table's schemas (`schemas`: role
`data` / `tombstones` → StructType JSON), so `read_version`,
`changes_between` and the compactions build their scans without a
parquet footer-inference job. These tests pin that planning a read
runs no Spark job, that the recorded schema reads back exactly as the
footer-merging read it replaces, that a manifest without a recorded
schema raises instead of inferring, and that ALTERs open no data file
and appends after them read every column they wrote."""

from __future__ import annotations

import json
import os
import uuid

SCHEMA = "k bigint, p string, x bigint"


def _jobs(spark, fn):
    """(fn(), ids of the Spark jobs fn ran) via a job group of its own."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    gid = f"plan-{uuid.uuid4().hex}"
    bus.waitUntilEmpty()
    sc.setJobGroup(gid, "planning only")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(gid))


def _merged_read(spark, dirs):
    return spark.read.option("mergeSchema", "true").parquet(*dirs)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_planning_a_read_runs_no_job(spark, tmp_path):
    """Tables built through the public commits (partitioned append,
    delete, upsert, partition compaction): creating the DataFrame of
    `read_version` at every version and of `changes_between` over every
    window launches no Spark job."""
    from hive_nexr_spark.sources import snapshots as sn

    base = str(tmp_path / "t")
    os.makedirs(base)
    rows = [(k, "ab"[k % 2], k * 10) for k in range(8)]
    sn.commit_append_partitioned(
        spark, base, spark.createDataFrame(rows, SCHEMA), "p")
    sn.commit_delete(spark, base,
                     spark.createDataFrame([(1,), (2,)], "k bigint"), "k")
    sn.commit_merge_upsert(
        spark, base, spark.createDataFrame([(2, "a", 7), (9, "b", 9)],
                                           SCHEMA), "k")
    head = sn.compact_partition(spark, base, "a")
    assert head == 4
    counts = {}
    for v in range(1, head + 1):
        df, jobs = _jobs(spark, lambda: sn.read_version(spark, base, v))
        assert jobs == [], f"read_version(v{v}) ran jobs {jobs}"
        counts[v] = df.count()
        dirs = sn._load_manifest(base, v)["dirs"]
        assert df.schema == _merged_read(spark, dirs).schema
    assert counts == {1: 8, 2: 6, 3: 8, 4: 8}
    for v_from, v_to in ((1, 2), (2, 3), (3, 4), (1, head)):
        (ins, dels), jobs = _jobs(
            spark, lambda: sn.changes_between(spark, base, v_from, v_to))
        assert jobs == [], f"changes_between({v_from}, {v_to}) ran {jobs}"
        assert ins.columns == dels.columns == ["k", "p", "x"]


def test_added_column_reads_as_merge_schema(spark, tmp_path):
    """A delta that adds a column (in the middle of its frame, with
    non-nullable nested parts) reads back with the columns, order,
    types, nullability and rows of the footer-merging read, at the
    version before and the version after it."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.sources import snapshots as sn

    base = str(tmp_path / "t")
    os.makedirs(base)
    first = spark.createDataFrame([(k, "a", k) for k in range(4)], SCHEMA)
    sn.commit_append_partitioned(spark, base, first, "p")
    added = spark.createDataFrame([(k, "b", k) for k in range(4, 7)],
                                  SCHEMA).select(
        "k", F.struct(F.lit(1).alias("a"),
                      F.array(F.lit(2)).alias("b")).alias("y"), "p", "x")
    assert not added.schema["y"].nullable
    v2 = sn.commit_append_partitioned(spark, base, added, "p")
    for v in (1, v2):
        dirs = sn._load_manifest(base, v)["dirs"]
        got, want = sn.read_version(spark, base, v), _merged_read(spark,
                                                                  dirs)
        assert got.schema == want.schema
        assert _rows(got) == _rows(want)
    assert sn.read_version(spark, base, v2).columns == ["k", "p", "x", "y"]


def test_manifest_without_schemas_raises(spark, tmp_path):
    """A hand-written manifest that lists data dirs but records no
    `schemas` cannot be read or altered: the read raises ValueError
    naming the manifest version and the table instead of inferring
    the columns from the footers."""
    import pytest

    from hive_nexr_spark.sources import snapshots as sn

    base = str(tmp_path / "t")
    os.makedirs(base)
    d1 = os.path.join(base, "data_v1")
    spark.createDataFrame([(1, "a", 1)], SCHEMA).write.parquet(d1)
    with open(os.path.join(base, "v1.json"), "w") as fh:
        json.dump({"version": 1, "dirs": [d1], "deletes": [], "key": None,
                   "dir_seqs": {d1: 1}, "delete_seqs": {},
                   "dir_parts": {}, "schema": None}, fh)
    with pytest.raises(ValueError, match=r"manifest v1 .*'data'"):
        sn.read_version(spark, base, 1)
    with pytest.raises(ValueError, match=r"manifest v1 .*'data'"):
        sn.alter_rename_column(spark, base, "x", "y")
    assert sn._latest(base) == 1


def test_append_after_rename_reads_the_new_column(spark, tmp_path):
    """An append that adds a column to a table that tracks field IDs
    (after a RENAME) gives the column an id, so HEAD reads it: the
    earlier rows read it as NULL."""
    from hive_nexr_spark.sources import snapshots as sn

    base = str(tmp_path / "t")
    os.makedirs(base)
    sn._commit_frame(base, 1, "data_v1",
                     spark.createDataFrame([(1, 10), (2, 20)],
                                           "k bigint, v bigint"))
    assert sn.alter_rename_column(spark, base, "v", "w") == 3
    sn._commit_frame(base, 4, "data_v4",
                     spark.createDataFrame([(3, 30, "e")],
                                           "k bigint, w bigint, "
                                           "extra string"))
    got = sn.read_version(spark, base, 4)
    assert got.columns == ["k", "w", "extra"]
    assert _rows(got) == [(1, 10, None), (2, 20, None), (3, 30, "e")]
    assert sn._load_manifest(base, 4)["schema"] == [
        {"id": 1, "name": "k"}, {"id": 2, "name": "w"},
        {"id": 3, "name": "extra"}]
    assert sn.read_version(spark, base, 3).columns == ["k", "w"]


def test_dropped_name_appended_again_gets_a_new_id(spark, tmp_path):
    """A name DROPped and then written again by an append is a new
    field: it gets an id no manifest used before, so the dirs written
    before the drop read it as NULL instead of their dropped values."""
    from hive_nexr_spark.sources import snapshots as sn

    base = str(tmp_path / "t")
    os.makedirs(base)
    sn._commit_frame(base, 1, "data_v1",
                     spark.createDataFrame([(1, 10), (2, 20)],
                                           "k bigint, v bigint"))
    assert sn.alter_drop_column(spark, base, "v") == 3
    sn._commit_frame(base, 4, "data_v4",
                     spark.createDataFrame([(3, 30)], "k bigint, v bigint"))
    assert sn._load_manifest(base, 4)["schema"] == [
        {"id": 1, "name": "k"}, {"id": 3, "name": "v"}]
    got = sn.read_version(spark, base, 4)
    assert got.columns == ["k", "v"]
    assert _rows(got) == [(1, None), (2, None), (3, 30)]
    assert _rows(sn.read_version(spark, base, 2)) == [(1, 10), (2, 20)]


def test_alter_runs_no_job(spark, tmp_path):
    """RENAME and DROP on a 4-dir table, including the first one that
    starts field-ID tracking, are manifest commits: no Spark job."""
    from hive_nexr_spark.sources import snapshots as sn

    base = str(tmp_path / "t")
    os.makedirs(base)
    for v in range(1, 5):
        sn._commit_frame(base, v, f"data_v{v}",
                         spark.createDataFrame([(v, "a", v)], SCHEMA))
    v, jobs = _jobs(spark,
                    lambda: sn.alter_rename_column(spark, base, "x", "y"))
    assert (v, jobs) == (6, [])
    v, jobs = _jobs(spark, lambda: sn.alter_drop_column(spark, base, "p"))
    assert (v, jobs) == (7, [])
    assert sn.read_version(spark, base, 7).columns == ["k", "y"]


def test_upsert_tombstones_the_keys_it_wrote(spark, tmp_path):
    """The upsert evaluates the caller's frame once: its tombstone holds
    exactly the keys of its data dir even when the frame is
    non-deterministic (a fresh uuid each time a row is computed)."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.sources import snapshots as sn

    base = str(tmp_path / "t")
    os.makedirs(base)
    fresh = F.udf(lambda i: f"{i}-{uuid.uuid4().hex}",
                  "string").asNondeterministic()
    updates = spark.range(5).select(fresh("id").alias("k"),
                                    F.col("id").alias("x"))
    v = sn.commit_merge_upsert(spark, base, updates, "k")
    man = sn._load_manifest(base, v)
    (udir,), (tdir,) = man["dirs"], man["deletes"]
    data_keys = {r.k for r in spark.read.parquet(udir).collect()}
    assert len(data_keys) == 5
    assert {r.k for r in spark.read.parquet(tdir).collect()} == data_keys
    assert sn.read_version(spark, base, v).count() == 5


def test_partition_compaction_after_rename_keeps_values(spark, tmp_path):
    """Compacting a partition whose dirs were written under a column's
    old and new names rewrites the visible rows under the current
    names: every value survives, and the read is unchanged."""
    from hive_nexr_spark.sources import snapshots as sn

    base = str(tmp_path / "t")
    os.makedirs(base)
    sn.commit_append_partitioned(
        spark, base, spark.createDataFrame([(1, "a", 10), (2, "b", 20)],
                                           SCHEMA), "p")
    sn.alter_rename_column(spark, base, "x", "y")
    sn.commit_append_partitioned(
        spark, base, spark.createDataFrame([(3, "a", 30)],
                                           "k bigint, p string, y bigint"),
        "p")
    want = _rows(sn.read_version(spark, base, sn._latest(base)))
    assert want == [(1, "a", 10), (2, "b", 20), (3, "a", 30)]
    v = sn.compact_partition(spark, base, "a")
    assert _rows(sn.read_version(spark, base, v)) == want


def test_changes_after_rename_use_the_current_names(spark, tmp_path):
    """On a table that tracks field IDs, both frames of every
    `changes_between` window carry the target version's column names:
    inserts of a dir written after a RENAME, deletes and empty frames
    read from dirs written before it, in windows that start before or
    after the RENAME (or a DROP)."""
    from hive_nexr_spark.sources import snapshots as sn

    base = str(tmp_path / "t")
    os.makedirs(base)
    sn._commit_frame(base, 1, "data_v1",
                     spark.createDataFrame([(1, 10), (2, 20)],
                                           "k bigint, x bigint"))
    assert sn.alter_rename_column(spark, base, "x", "y") == 3
    sn._commit_frame(base, 4, "data_v4",
                     spark.createDataFrame([(3, 30)], "k bigint, y bigint"))
    assert sn.commit_delete(spark, base,
                            spark.createDataFrame([(1,)], "k bigint"),
                            "k") == 5
    for v_from, v_to, ins_rows, del_rows in [
            (3, 4, [(3, 30)], []), (4, 5, [], [(1, 10)]),
            (1, 4, [(3, 30)], []), (1, 5, [(3, 30)], [(1, 10)]),
            (2, 5, [(3, 30)], [(1, 10)])]:
        ins, dels = sn.changes_between(spark, base, v_from, v_to)
        assert ins.columns == dels.columns == ["k", "y"], (v_from, v_to)
        assert _rows(ins) == ins_rows and _rows(dels) == del_rows, (
            v_from, v_to)
    assert sn.alter_drop_column(spark, base, "y") == 6
    assert sn.commit_delete(spark, base,
                            spark.createDataFrame([(2,)], "k bigint"),
                            "k") == 7
    ins, dels = sn.changes_between(spark, base, 4, 7)
    assert ins.columns == dels.columns == ["k"]
    assert _rows(ins) == [] and _rows(dels) == [(1,), (2,)]
