"""Authorization model (SURVEY §2.13): grants, roles, partition-level
privileges, and statement-time enforcement — the Hive-0.8 semantics the
auth qfile corpus pins (`authorization_{1..6}.q`,
`clientnegative/authorization_fail_*.q`)."""

from __future__ import annotations

import pytest

NEG_DIR = "/root/reference/ql/src/test/queries/clientnegative"


@pytest.fixture()
def hql(spark):
    from hive_nexr_spark.hiveql import HiveQLSession

    spark.conf.set("hive.security.authorization.enabled", "false")
    h = HiveQLSession(spark)
    spark.sql("DROP TABLE IF EXISTS auth_t")
    spark.sql("CREATE TABLE auth_t (key INT, value STRING) USING parquet")
    spark.sql("INSERT INTO auth_t VALUES (1, 'a')")
    yield h
    spark.conf.set("hive.security.authorization.enabled", "false")
    spark.sql("DROP TABLE IF EXISTS auth_t")


def test_grant_select_column_enforced(hql, spark):
    from hive_nexr_spark.authorization import AuthorizationError

    spark.conf.set("hive.security.authorization.enabled", "true")
    with pytest.raises(AuthorizationError) as ei:
        hql.sql("SELECT key FROM auth_t")
    assert ("No privilege 'Select' found for inputs { database:default, "
            "table:auth_t, columnName:key}") in str(ei.value)
    hql.sql("GRANT select(key) ON TABLE auth_t TO USER hive_test_user")
    assert hql.sql("SELECT key FROM auth_t").count() == 1
    # the column grant does not cover other columns
    with pytest.raises(AuthorizationError):
        hql.sql("SELECT value FROM auth_t")
    hql.sql("REVOKE select(key) ON TABLE auth_t FROM USER hive_test_user")
    with pytest.raises(AuthorizationError):
        hql.sql("SELECT key FROM auth_t")


def test_group_and_role_paths(hql, spark):
    from hive_nexr_spark.authorization import AuthorizationError

    spark.conf.set("hive.security.authorization.enabled", "true")
    # group path (DummyAuthenticator groups)
    hql.sql("GRANT select ON TABLE auth_t TO GROUP hive_test_group1")
    assert hql.sql("SELECT key FROM auth_t").count() == 1
    hql.sql("REVOKE select ON TABLE auth_t FROM GROUP hive_test_group1")
    # role path — and the grant evaporates with the role
    # (authorization_fail_7.q)
    hql.sql("CREATE ROLE auth_test_role")
    hql.sql("GRANT ROLE auth_test_role TO USER hive_test_user")
    hql.sql("GRANT select ON TABLE auth_t TO ROLE auth_test_role")
    assert hql.sql("SELECT key FROM auth_t").count() == 1
    hql.sql("DROP ROLE auth_test_role")
    with pytest.raises(AuthorizationError):
        hql.sql("SELECT key FROM auth_t")


def test_duplicate_grant_raises_invalid_object(hql):
    hql.sql("GRANT Create ON TABLE auth_t TO USER hive_test_user")
    with pytest.raises(RuntimeError) as ei:
        hql.sql("GRANT Create ON TABLE auth_t TO USER hive_test_user")
    assert ("InvalidObjectException(message:Create is already granted "
            "on table [default,auth_t]") in str(ei.value)


def test_show_grant_property_rows(hql):
    hql.sql("GRANT select ON TABLE auth_t TO USER hive_test_user")
    rows = hql.sql(
        "SHOW GRANT USER hive_test_user ON TABLE auth_t").collect()
    props = {r["property"]: r["value"] for r in rows}
    assert props["database"] == "default"
    assert props["table"] == "auth_t"
    assert props["principalType"] == "USER"
    assert props["privilege"] == "Select"


def test_partition_level_privilege_snapshot(hql, spark):
    """PARTITION_LEVEL_PRIVILEGE: partitions snapshot table grants at
    creation; revoking the table grant afterwards does NOT revoke the
    partition's copy (authorization_2.q), revoking the partition's does
    (authorization_fail_5.q)."""
    from hive_nexr_spark.authorization import AuthorizationError

    spark.sql("DROP TABLE IF EXISTS auth_p")
    hql.sql("CREATE TABLE auth_p (key INT) PARTITIONED BY (ds STRING)")
    hql.sql('ALTER TABLE auth_p SET TBLPROPERTIES '
            '("PARTITION_LEVEL_PRIVILEGE"="TRUE")')
    spark.conf.set("hive.security.authorization.enabled", "true")
    hql.sql("GRANT Create ON TABLE auth_p TO USER hive_test_user")
    hql.sql("GRANT select ON TABLE auth_p TO USER hive_test_user")
    hql.sql("ALTER TABLE auth_p ADD PARTITION (ds='2010')")
    # revoke at TABLE scope — the partition keeps its snapshot
    hql.sql("REVOKE select ON TABLE auth_p FROM USER hive_test_user")
    assert hql.sql(
        "SELECT key FROM auth_p WHERE ds='2010'").count() == 0
    # revoke the partition's own copy — now the read fails with the
    # partition named in the error
    hql.sql("REVOKE select ON TABLE auth_p PARTITION (ds='2010') "
            "FROM USER hive_test_user")
    with pytest.raises(AuthorizationError) as ei:
        hql.sql("SELECT key FROM auth_p WHERE ds='2010'")
    assert "partitionName:ds=2010" in str(ei.value)
    spark.conf.set("hive.security.authorization.enabled", "false")
    spark.sql("DROP TABLE IF EXISTS auth_p")


@pytest.mark.parametrize("qf", [
    "authorization_fail_1.q",   # duplicate grant
    "authorization_fail_2.q",   # ADD PARTITION without Create
    "authorization_fail_3.q",   # SELECT without Select
    "authorization_fail_5.q",   # partition-snapshot revoke
    "authorization_fail_7.q",   # dropped role's grants evaporate
    "load_nonpart_authfail.q",  # LOAD without Update
    "exim_22_export_authfail.q",  # EXPORT without Select
])
def test_negative_auth_corpus_raises(spark, qf):
    from hive_nexr_spark.sources.qtest import run_qfile

    with pytest.raises(Exception):
        df = run_qfile(spark, f"{NEG_DIR}/{qf}")
        if df is not None:
            df.take(5)


def test_plain_select_throws_nothing_in_the_jvm(spark, monkeypatch):
    """A statement on a session that never set
    `hive.security.authorization.enabled` asks for the key with a
    default: an unset key read without one throws in the JVM, and each
    such exception costs about 14 Py4J round trips to convert. Every
    Java-side exception surfaces through py4j's `get_return_value`, so
    none may pass through it while the statement runs."""
    import py4j.java_gateway as gw

    from hive_nexr_spark.hiveql import HiveQLSession

    key = "hive.security.authorization.enabled"
    prev = spark.conf.get(key, "false")
    spark.conf.unset(key)
    h = HiveQLSession(spark)
    raised = []
    inner = gw.get_return_value

    def spy(*a, **kw):
        try:
            return inner(*a, **kw)
        except Exception as e:
            raised.append(e)
            raise

    monkeypatch.setattr(gw, "get_return_value", spy)
    try:
        rows = h.sql("SELECT 1 AS x").collect()
    finally:
        monkeypatch.undo()
        spark.conf.set(key, prev)
    assert [r.x for r in rows] == [1]
    assert raised == [], f"Java exceptions during a plain SELECT: {raised}"
