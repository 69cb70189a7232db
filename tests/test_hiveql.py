"""HiveQL dialect facade behavior (hiveql.HiveQLSession)."""

from __future__ import annotations

import os

import pytest

from hive_nexr_spark.hiveql import HiveQLSession
from hive_nexr_spark.sources.qtest import QFILE_DIR


def _needs_qfile(name):
    path = os.path.join(QFILE_DIR, name)
    return pytest.mark.skipif(
        not os.path.exists(path),
        reason=f"needs {path} from the Hive 0.8 source tree")


def test_bucket_sample_rewrite_on(spark, dfs):
    hql = HiveQLSession(spark)
    df = hql.sql(
        "SELECT count(*) AS n FROM lineitem "
        "TABLESAMPLE(BUCKET 4 OUT OF 10 ON l_orderkey)"
    )
    expected = dfs["lineitem"].filter("pmod(l_orderkey, 10) = 3").count()
    assert df.collect()[0].n == expected


def test_bucket_sample_rewrite_with_alias(spark, dfs):
    hql = HiveQLSession(spark)
    df = hql.sql(
        "SELECT t.l_orderkey FROM lineitem t "
        "TABLESAMPLE(BUCKET 1 OUT OF 5 ON l_orderkey) WHERE t.l_linenumber = 1"
    )
    assert all(r.l_orderkey % 5 == 0 for r in df.collect())


def test_multi_insert_passthrough(spark, dfs):
    from hive_nexr_spark.queries.base import reset_database

    reset_database(spark, "hqltest")
    hql = HiveQLSession(spark)
    hql.sql("CREATE DATABASE hqltest")
    hql.sql("CREATE TABLE hqltest.a (k BIGINT) USING parquet")
    hql.sql("CREATE TABLE hqltest.b (k BIGINT) USING parquet")
    hql.sql(
        "FROM nation "
        "INSERT OVERWRITE TABLE hqltest.a SELECT n_nationkey WHERE n_regionkey = 0 "
        "INSERT OVERWRITE TABLE hqltest.b SELECT n_nationkey WHERE n_regionkey <> 0"
    )
    na = spark.table("hqltest.a").count()
    nb = spark.table("hqltest.b").count()
    assert na + nb == dfs["nation"].count()
    assert na > 0 and nb > 0


def test_bucket_sample_string_column_java_hash(spark, dfs):
    """ON a string column must bucket by ObjectInspectorUtils.hashCode
    (seed-0 h=31h+byte fold, & Integer.MAX_VALUE % y —
    `ObjectInspectorUtils.java:404-445`, the dispatch getBucketHashCode
    uses) — not Spark murmur3, not a silent numeric cast."""
    hql = HiveQLSession(spark)
    df = hql.sql(
        "SELECT n_name FROM nation TABLESAMPLE(BUCKET 1 OUT OF 3 ON n_name)"
    )

    def text_hash(s):
        h = 0
        for ch in s.encode():
            h = (h * 31 + ch) & 0xFFFFFFFF
        return h

    expected = sorted(
        r.n_name for r in dfs["nation"].collect()
        if (text_hash(r.n_name) & 0x7FFFFFFF) % 3 == 0
    )
    assert sorted(r.n_name for r in df.collect()) == expected
    assert expected  # sample must not be silently empty


def test_bucket_sample_multi_column(spark, dfs):
    """Multi-col ON combines h = h*31 + hashCode(col_i) (Hive
    getBucketHashCode), not hash(murmur3)."""
    hql = HiveQLSession(spark)
    df = hql.sql(
        "SELECT n_nationkey FROM nation "
        "TABLESAMPLE(BUCKET 2 OUT OF 4 ON n_nationkey, n_regionkey)"
    )

    expected = sorted(
        r.n_nationkey for r in dfs["nation"].collect()
        if (((31 * r.n_nationkey + r.n_regionkey) & 0x7FFFFFFF) % 4) == 1
    )
    assert sorted(r.n_nationkey for r in df.collect()) == expected


def test_bucket_sample_unsupported_type_raises(spark, dfs):
    hql = HiveQLSession(spark)
    with pytest.raises(ValueError, match="not supported"):
        hql.sql(
            "SELECT * FROM orders TABLESAMPLE(BUCKET 1 OUT OF 2 ON o_totalprice)"
        )


def test_load_data_append_and_overwrite(spark, dfs, tmp_path):
    from hive_nexr_spark.queries.base import reset_database

    reset_database(spark, "hqlload")
    hql = HiveQLSession(spark)
    hql.sql("CREATE DATABASE hqlload")
    hql.sql(
        "CREATE TABLE hqlload.t USING parquet AS "
        "SELECT n_nationkey, n_name FROM nation WHERE 1 = 0"
    )
    stage = str(tmp_path / "stage")
    dfs["nation"].select("n_nationkey", "n_name").coalesce(1).write.parquet(stage)
    n = dfs["nation"].count()
    hql.sql(f"LOAD DATA INPATH '{stage}' INTO TABLE hqlload.t")
    assert spark.table("hqlload.t").count() == n
    hql.sql(f"LOAD DATA INPATH '{stage}' INTO TABLE hqlload.t")
    assert spark.table("hqlload.t").count() == 2 * n
    hql.sql(f"LOAD DATA INPATH '{stage}' OVERWRITE INTO TABLE hqlload.t")
    assert spark.table("hqlload.t").count() == n


def test_concatenate_merges_files(spark, dfs):
    import os

    from hive_nexr_spark.queries.base import reset_database

    reset_database(spark, "hqlcat")
    hql = HiveQLSession(spark)
    hql.sql("CREATE DATABASE hqlcat")
    dfs["orders"].repartition(8).write.saveAsTable("hqlcat.frag")
    before = spark.table("hqlcat.frag").count()
    loc = hql._table_location("hqlcat.frag")
    n_files = lambda: sum(
        1 for f in os.listdir(loc)
        if os.path.isfile(os.path.join(loc, f)) and not f.startswith(("_", "."))
    )
    assert n_files() == 8
    hql.sql("ALTER TABLE hqlcat.frag CONCATENATE")
    assert n_files() < 8
    assert spark.table("hqlcat.frag").count() == before


def test_temp_function_known_class(spark):
    hql = HiveQLSession(spark)
    hql.sql(
        "CREATE TEMPORARY FUNCTION myhash AS "
        "'org.apache.hadoop.hive.ql.udf.generic.GenericUDFHash'"
    )
    row = spark.sql("SELECT myhash('abc') AS h").collect()[0]
    # ObjectInspectorUtils.hashCode STRING (seed 0) == String.hashCode for
    # ASCII: 'abc' → ((0*31+97)*31+98)*31+99 = 96354
    assert row.h == ((0 * 31 + 97) * 31 + 98) * 31 + 99


def test_temp_function_unknown_class_raises(spark):
    hql = HiveQLSession(spark)
    with pytest.raises(ValueError, match="unknown function class"):
        hql.sql("CREATE TEMPORARY FUNCTION f AS 'com.example.Missing'")


def test_add_list_resources(spark, tmp_path):
    p = tmp_path / "aux.txt"
    p.write_text("x")
    hql = HiveQLSession(spark)
    assert hql.sql(f"ADD FILE {p}") is None
    listed = hql.sql("LIST FILES").collect()
    assert any(str(p) in r.resource for r in listed)


def test_session_command_replies_run_no_spark_job(spark, dfs):
    """Session-command results are JVM-local relations: taking the
    reply (what `server.py` does) runs no Spark job."""
    hql = HiveQLSession(spark)
    sc = spark.sparkContext
    sc.setJobGroup("session-command-replies", "no jobs expected")
    try:
        for stmt in ("LIST FILES", "SHOW LOCKS",
                     "SHOW ROLE GRANT USER hive_test_user",
                     "SHOW INDEXES ON lineitem",
                     "DESCRIBE FUNCTION no_such_function"):
            assert hql.sql(stmt).take(11) is not None, stmt
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(
        "session-command-replies")) == []


def test_stateful_stream_equals_batch_groupby(spark, sf_dir, dfs):
    from pyspark.sql import functions as F

    from hive_nexr_spark.streaming.events import user_stats_stateful_stream

    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in user_stats_stateful_stream(spark, sf_dir).collect()
    }
    want = {
        r.user_id: (r.n, round(r.s, 6))
        for r in dfs["events"].groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum("value").alias("s")).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-5


@_needs_qfile("groupby1.q")
def test_run_qfile_restores_session_confs(spark):
    """A qfile's `set k=v` statements must not leak into the shared
    session: run_qfile snapshots and restores every conf it touches
    (groupby1.q sets hive.map.aggr / hive.groupby.skewindata)."""
    from hive_nexr_spark.sources.qtest import run_qfile

    sentinel = object()

    def get(k):
        try:
            return spark.conf.get(k)
        except Exception:
            return sentinel

    keys = ("spark.sql.storeAssignmentPolicy", "hive.map.aggr",
            "hive.groupby.skewindata")
    before = {k: get(k) for k in keys}
    run_qfile(spark, "groupby1.q").collect()
    after = {k: get(k) for k in keys}
    assert after == before


def test_cli_runs_qfile_end_to_end(spark, dfs, tmp_path, capsys):
    """The CLI script mode (python -m hive_nexr_spark.cli -f file.q) runs a
    multi-statement .q end-to-end: set commands, DDL through the dialect
    facade, and a final SELECT whose rows are displayed."""
    from hive_nexr_spark.cli import main

    q = tmp_path / "smoke.q"
    q.write_text(
        "set spark.sql.shuffle.partitions=4;\n"
        "SELECT r_name FROM region ORDER BY r_name LIMIT 2;\n"
    )
    # get_session().getOrCreate() reuses the test session, so this is cheap
    rc = main(["-f", str(q), "--sf-dir", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "AFRICA" in out and "AMERICA" in out


def test_server_query_roundtrip(spark, dfs):
    """The line-protocol server (HiveServer analogue) executes SQL over a
    shared session and returns JSON rows; errors come back structured, and
    session commands return an empty OK."""
    from hive_nexr_spark.server import HiveQLServer, query

    srv = HiveQLServer(spark, max_rows=10)
    host, port = srv.serve_background()
    try:
        resp = query(host, port, "SELECT count(*) AS n FROM region")
        assert resp["error"] is None
        assert resp["columns"] == ["n"]
        assert resp["rows"][0][0] == 5
        # truncation cap
        resp = query(host, port, "SELECT l_orderkey FROM lineitem")
        assert resp["truncated"] is True and resp["rowcount"] == 10
        # structured error, server keeps serving
        resp = query(host, port, "SELECT * FROM no_such_table")
        assert resp["error"] and "no_such_table" in resp["error"]
        resp = query(host, port, "SELECT 1 AS ok")
        assert resp["rows"] == [[1]]
    finally:
        srv.shutdown()


def test_srcbucket_sample_pruning_semantics(spark):
    """TABLESAMPLE(BUCKET x OUT OF y) over the file-per-bucket fixtures:
    the NO-ON form is positional INPUT PRUNING
    (`ql/parse/TableSample.java` setInputPruning; sample2.q golden = the
    bucket file's content), while an EXPLICIT ON col applies the
    sampling FILTER over all files without pruning — sample6.q's golden
    over srcbucket2 is the residue class across all four files, because
    SamplePruner can't match the LOAD DATA'd file names to buckets."""
    from hive_nexr_spark.sources.qtest import (
        _BUCKET_SAMPLE, DATA_DIR, SRCBUCKET_TABLES, _rewrite_bucket_sample,
        make_srcbucket)

    def rw(s):
        return _BUCKET_SAMPLE.sub(_rewrite_bucket_sample, s)

    assert rw("srcbucket TABLESAMPLE (BUCKET 1 OUT OF 2) s") == "srcbucket_b0 s"
    assert rw("srcbucket TABLESAMPLE (BUCKET 2 OUT OF 2 on key) s") == (
        "(SELECT * FROM srcbucket WHERE "
        "pmod((cast(key as bigint)) & 2147483647, 2) = 1) s")
    assert rw("srcbucket TABLESAMPLE (BUCKET 1 OUT OF 4) s") == (
        "(SELECT * FROM srcbucket_b0 WHERE pmod(key, 4) = 0) s")
    assert rw("srcbucket TABLESAMPLE (BUCKET 1 OUT OF 3) s") == (
        "(SELECT * FROM srcbucket WHERE pmod(key, 3) = 0) s")
    # src-family tables hash their STRING key with the Java byte fold
    assert "ascii" in rw("srcpart TABLESAMPLE (BUCKET 1 OUT OF 10 ON key) t")
    # generic table → int-value hash filter
    assert rw("other TABLESAMPLE (BUCKET 3 OUT OF 8 ON k) t") == (
        "(SELECT * FROM other WHERE "
        "pmod((cast(k as bigint)) & 2147483647, 8) = 2) t")

    # the bucket files really partition the table by pmod(key, 2)
    for fname in SRCBUCKET_TABLES["srcbucket"]:
        path = f"{DATA_DIR}/{fname}"
        if not os.path.exists(path):
            pytest.skip(f"needs {path} from the Hive 0.8 source tree")
    make_srcbucket(spark)
    b0 = spark.table("srcbucket_b0")
    assert b0.filter("pmod(key, 2) != 0").count() == 0
    assert spark.table("srcbucket_b1").filter("pmod(key, 2) != 1").count() == 0


@_needs_qfile("uniquejoin.q")
def test_uniquejoin_qfile_matches_reference_golden(spark):
    """uniquejoin.q through the UNIQUEJOIN rewrite reproduces the
    reference's own golden rows (results/clientpositive/uniquejoin.q.out,
    last query block: PRESERVE T1 (a.key), T2 (b.key))."""
    from hive_nexr_spark.sources.qtest import run_qfile

    rows = sorted(tuple(r) for r in run_qfile(spark, "uniquejoin.q").collect())
    assert rows == [
        ("1", None), ("2", "2"), ("3", "3"), ("7", None),
        ("8", "8"), ("8", "8"), ("8", "8"), ("8", "8"),
    ]
