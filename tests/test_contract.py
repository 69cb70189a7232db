"""Driver-contract invariants: entry() smoke, queries()/oracle_sql() shape."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry_mod
from hive_nexr_spark.sources.qtest import QFILE_DIR

EXIM_01 = os.path.join(QFILE_DIR, "exim_01_nonpart.q")


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns  # stable schema with named columns


def test_registry_shape():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 60
    assert set(oracles) <= set(qs)
    for name, fn in qs.items():
        assert callable(fn), name
    # every oracle is non-empty SQL text
    for name, sql in oracles.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_ordering_prioritizes_unverified_queries():
    """The driver evaluates only a prefix of queries() (50-query budget),
    so insertion order IS the sampling policy. collect_all() tiers keys
    0=failed-in-latest-sample first, then 1=never-sampled, then 2=green,
    then 3=permanently rows-only (no oracle by design). Assert the emitted
    order respects that: the tier sequence must be non-decreasing.

    (Round-5 verdict: the old body computed `unverified` with a truthiness
    bug — a failed sample row is a non-empty tuple, hence truthy — so the
    first failed-with-oracle row ever recorded broke the test, not the
    policy. Mirror the tier function instead.)"""
    from hive_nexr_spark.queries import _latest_driver_status

    status = _latest_driver_status()
    keys = list(entry_mod.queries())
    oracles = entry_mod.oracle_sql()
    if not status:  # fresh clone without CORRECTNESS files: nothing to rank
        return

    def tier(key: str) -> int:
        if key not in status:
            return 1
        green, err = status[key]
        if green:
            return 2
        if err == "no_oracle" and key not in oracles:
            return 3  # rows-only by design — can never turn green
        return 0

    tiers = [tier(k) for k in keys]
    assert tiers == sorted(tiers), [
        (k, t) for k, t in zip(keys, tiers)
    ][:20]


def test_hive_metastore_catalog_roundtrip(tmp_path):
    """SPARK_GRAFT_HIVE_METASTORE=1 → enableHiveSupport(): DDL runs against
    a Hive-metastore-backed catalog (BASELINE.json's stated approach;
    reference surface `metastore/if/hive_metastore.thrift:226-416`).
    Needs its own JVM — catalogImplementation is a static conf."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys; sys.path.insert(0, {repo!r})
from hive_nexr_spark.session import get_session
spark = get_session(app_name="hive-meta-test", shuffle_partitions=2)
assert spark.conf.get("spark.sql.catalogImplementation") == "hive"
spark.sql("CREATE DATABASE IF NOT EXISTS meta_t")
spark.sql("DROP TABLE IF EXISTS meta_t.kv")
spark.sql("CREATE TABLE meta_t.kv (k INT, v STRING) USING parquet")
spark.sql("INSERT INTO meta_t.kv VALUES (1,'a'),(2,'b')")
assert spark.sql("SELECT count(*) AS n FROM meta_t.kv").collect()[0].n == 2
print("HIVE_CATALOG_OK")
"""
    env = dict(
        __import__("os").environ,
        SPARK_GRAFT_HIVE_METASTORE="1",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_WAREHOUSE=str(tmp_path / "wh"),
        # own Derby home: the pytest session JVM holds the default one
        SPARK_GRAFT_DERBY=str(tmp_path / "derby"),
    )
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=300,
    )
    assert "HIVE_CATALOG_OK" in out.stdout, out.stderr[-2000:]


@pytest.mark.slow
def test_all_queries_run_at_smoke_sf(spark, sf_dir):
    """Every declared query must at least execute and return a schema at
    sf0.001 (full value checks run against DuckDB at sf0.01 via
    tools/verify_local.py)."""
    import pyspark.sql

    qs = entry_mod.queries()
    skip = {"events_window_stream"}  # exercised in test_streaming (slow path)
    if not os.path.isdir(QFILE_DIR):  # the qfile_* keys read the Hive 0.8 tree
        skip |= {name for name in qs if name.startswith("qfile_")}
    for name, fn in qs.items():
        if name in skip:
            continue
        df = fn(spark, sf_dir)
        assert isinstance(df, pyspark.sql.DataFrame), name
        assert df.columns, name
        df.limit(5).collect()


@pytest.mark.skipif(not os.path.exists(EXIM_01),
                    reason=f"needs {EXIM_01} from the Hive 0.8 source tree")
def test_qfile_db_leak_then_unqualified_write(spark, sf_dir):
    """Regression (round-10 red): exim_01_nonpart.q DROPs its own database
    (`importer`) while it is still the session's current database; the
    qfile runner must restore `USE default` on exit (sources/qtest.py
    finally block) so the next unqualified/default-db write — the SMB
    bucketed-table build — doesn't die with SCHEMA_NOT_FOUND. Runs the two
    keys in exactly the order that went red, with the bucketed tables
    dropped first so the saveAsTable path actually executes."""
    qs = entry_mod.queries()
    tag = "sf0_001"
    for t in (f"default.li_b_{tag}", f"default.ord_b_{tag}"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    qs["qfile_exim_nonpart"](spark, sf_dir).limit(5).collect()
    assert spark.catalog.currentDatabase() == "default"
    qs["bucketed_smb_join"](spark, sf_dir).limit(5).collect()
    assert spark.catalog.currentDatabase() == "default"


def test_green_rotation_varies_by_round(monkeypatch):
    """Tier-2 (green) ordering rotates with the round number so every
    long-green key cycles through the driver's 50-slot window instead of
    hiding behind it forever; tiers 0/1 must stay ahead of tier 2 at any
    rotation offset (policy: queries/__init__.py collect_all)."""
    import hive_nexr_spark.queries as q

    status = q._latest_driver_status()
    greens = [k for k, (ok, _) in status.items() if ok]
    if len(greens) < 4:
        return  # fresh clone: nothing to rotate

    orders = {}
    for rnd in (7, 8):
        monkeypatch.setattr(q, "_next_round_no", lambda r=rnd: r)
        keys, _ = q.collect_all()
        orders[rnd] = [k for k in keys if k in set(greens)]
    assert orders[7] != orders[8], "tier-2 order must vary by round"
    assert sorted(orders[7]) == sorted(orders[8])  # same membership


def test_snapshot_v1_survives_v2_append(spark, sf_dir):
    """Time-travel invariant: after the v2 append commit, an AS OF v1
    read returns exactly the v1 rows (no rewrite), and v2 = v1 + delta."""
    from hive_nexr_spark.sources.snapshots import time_travel_versions

    rows = {r["version"]: r for r in
            time_travel_versions(spark, sf_dir).collect()}
    assert set(rows) == {1, 2}
    full = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_all = full.count()
    n_v1 = full.filter("o_orderkey % 3 != 0").count()
    assert rows[1]["n_rows"] == n_v1
    assert rows[2]["n_rows"] == n_all
    assert rows[1]["sum_totalprice"] < rows[2]["sum_totalprice"]


def test_snapshot_delete_compaction_expiry_lifecycle(spark, sf_dir):
    """The full snapshot lifecycle: merge-on-read DELETE leaves every
    pre-delete version readable bit-for-bit; COMPACTION rewrites layout
    (1 data dir, 0 tombstones) without changing visible data, and v1-v3
    stay readable after it; EXPIRY drops old manifests + unreferenced
    dirs while kept versions remain bit-identical and expired ones
    raise."""
    import pytest as _pytest

    from hive_nexr_spark.sources import snapshots as sn

    base = sn._build_delete_table(spark, sf_dir)
    full = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_all = full.count()
    n_v1 = full.filter("o_orderkey % 3 != 0").count()
    n_live = full.filter("o_orderkey % 5 != 0").count()

    # pre-delete versions survive the delete commit
    assert sn.read_version(spark, base, 1).count() == n_v1
    assert sn.read_version(spark, base, 2).count() == n_all
    assert sn.read_version(spark, base, 3).count() == n_live

    v4 = sn.compact(spark, base)
    assert v4 == 4
    man4 = sn._load_manifest(base, 4)
    assert len(man4["dirs"]) == 1 and man4["deletes"] == []
    v3_rows = {r["o_orderkey"] for r in
               sn.read_version(spark, base, 3)
               .select("o_orderkey").collect()}
    v4_rows = {r["o_orderkey"] for r in
               sn.read_version(spark, base, 4)
               .select("o_orderkey").collect()}
    assert v3_rows == v4_rows  # layout changed, content didn't
    # pre-compaction versions still readable
    assert sn.read_version(spark, base, 1).count() == n_v1
    assert sn.read_version(spark, base, 2).count() == n_all

    removed = sn.expire_snapshots(base, keep_from=4)
    # v4 references only the compacted dir: the two data dirs + the
    # tombstone dir all become unreferenced and are reclaimed
    assert len(removed) == 3
    assert sn.read_version(spark, base, 4).count() == n_live
    with _pytest.raises(FileNotFoundError):
        sn.read_version(spark, base, 2)


def test_partition_compaction_touches_only_target(spark, sf_dir):
    """Partition-scoped compaction (r12): only the target partition's
    dirs are replaced — every other partition's dirs carry over with
    IDENTICAL paths and sequences; content is unchanged at the new
    version; pre-compaction versions stay AS-OF readable; and the
    still-listed tombstone never applies to the fresh dir (its sequence
    is the committing version)."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.sources import index_manifest as idx
    from hive_nexr_spark.sources import snapshots as sn

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    import tempfile

    base = tempfile.mkdtemp(prefix="snpc_")
    sn.commit_append_partitioned(
        spark, base, orders.filter(F.col("o_orderkey") % 3 != 0),
        "o_orderpriority")
    sn.commit_append_partitioned(
        spark, base, orders.filter(F.col("o_orderkey") % 3 == 0),
        "o_orderpriority")
    sn.commit_delete(spark, base,
                     orders.filter(F.col("o_orderkey") % 5 == 0)
                     .select("o_orderkey"), "o_orderkey")
    man3 = sn._load_manifest(base, 3)
    pre = {r["o_orderkey"] for r in
           sn.read_version(spark, base, 3)
           .select("o_orderkey").collect()}
    v4 = sn.compact_partition(spark, base, "1-URGENT")
    assert v4 == 4
    man4 = sn._load_manifest(base, 4)
    # untouched partitions: identical dir paths AND sequences
    others3 = {d for d in man3["dirs"]
               if man3["dir_parts"][d] != "1-URGENT"}
    others4 = {d for d in man4["dirs"]
               if man4["dir_parts"][d] != "1-URGENT"}
    assert others3 == others4
    assert all(man4["dir_seqs"][d] == man3["dir_seqs"][d]
               for d in others3)
    targets4 = [d for d in man4["dirs"]
                if man4["dir_parts"][d] == "1-URGENT"]
    assert len(targets4) == 1 and man4["dir_seqs"][targets4[0]] == 4
    # tombstone still listed (applies to untouched dirs), but not to
    # the fresh dir
    assert man4["deletes"] == man3["deletes"]
    assert idx.applicable_tombs({**man4["dir_seqs"], **man4["delete_seqs"]},
                                man4["deletes"], targets4[0]) == ()
    # content identical at v4; v1..v3 AS-OF intact
    post = {r["o_orderkey"] for r in
            sn.read_version(spark, base, 4)
            .select("o_orderkey").collect()}
    assert post == pre
    assert (sn.read_version(spark, base, 2).count()
            == orders.count())


def test_named_refs_tag_branch_and_expiry_protection(spark, sf_dir):
    """Named refs (r12): tags are immutable, branches fast-forward only,
    unknown refs raise, ref resolution is eager (a frame read from a
    branch keeps its version after the branch moves), and
    expire_snapshots refuses to drop a version a ref still pins."""
    import pytest as _pytest

    from hive_nexr_spark.sources import snapshots as sn

    base = sn._build_delete_table(spark, sf_dir)
    sn.set_ref(base, "main", 2, kind="branch")
    sn.set_ref(base, "audit", 2, kind="tag")
    with _pytest.raises(ValueError):
        sn.set_ref(base, "audit", 3, kind="tag")  # tag immutable
    with _pytest.raises(ValueError):
        sn.set_ref(base, "main", 1, kind="branch")  # no rewind
    with _pytest.raises(ValueError):
        sn.set_ref(base, "main", 9, kind="branch")  # uncommitted
    with _pytest.raises(KeyError):
        sn.read_ref(spark, base, "nope")
    frame_v2 = sn.read_ref(spark, base, "main")  # resolves v2 NOW
    n_v2 = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    sn.set_ref(base, "main", 3, kind="branch")  # publish
    assert frame_v2.count() == n_v2  # snapshot isolation
    assert (sn.read_ref(spark, base, "main").count()
            == sn.read_version(spark, base, 3).count())
    with _pytest.raises(ValueError):
        sn.expire_snapshots(base, keep_from=3)  # 'audit' pins v2
    # ROLLBACK is the explicit rewind set_ref refuses: main back to the
    # pre_publish anchor; tags stay immutable even through rollback_ref
    sn.rollback_ref(base, "main", 2)
    assert (sn.read_ref(spark, base, "main").count() == n_v2)
    with _pytest.raises(ValueError):
        sn.rollback_ref(base, "audit", 1)
    with _pytest.raises(KeyError):
        sn.rollback_ref(base, "nope", 1)


def test_schema_evolution_as_of_and_merged_read(spark, sf_dir):
    """Add-column schema evolution (r12): a v1 read returns exactly the
    original columns (AS-OF includes the schema); the v2 merged read
    surfaces the new column with NULLs for pre-evolution rows; no v1
    data file is rewritten by the evolving commit."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.sources import snapshots as sn

    import tempfile

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = tempfile.mkdtemp(prefix="snev_")
    import os as _os

    v1_dir = _os.path.join(base, "data_v1")
    v1_rows = orders.filter("o_orderkey % 3 != 0")
    v1_rows.write.parquet(v1_dir)
    sn._commit(base, 1, v1_dir, v1_rows.schema)
    files_before = sorted(_os.listdir(v1_dir))
    delta = _os.path.join(base, "data_v2_delta")
    delta_rows = (orders.filter("o_orderkey % 3 = 0")
                  .withColumn("o_channel", F.lit("web")))
    delta_rows.write.parquet(delta)
    sn._commit(base, 2, delta, delta_rows.schema)
    v1 = sn.read_version(spark, base, 1)
    assert "o_channel" not in v1.columns
    v2 = sn.read_version(spark, base, 2)
    assert "o_channel" in v2.columns
    n_old = v2.filter(F.col("o_channel").isNull()).count()
    assert n_old == orders.filter("o_orderkey % 3 != 0").count()
    assert sorted(_os.listdir(v1_dir)) == files_before


def test_changes_between_manifest_diff_scans_only_changes(spark, sf_dir):
    """CDC reads must be computed from the MANIFEST diff: the v1→v2
    insert scan may touch only the delta directory (never v1's data),
    window attribution must be exact (append window has zero deletes,
    delete window zero inserts), and deleted rows are exactly the
    tombstoned keys' rows."""
    from hive_nexr_spark.sources import snapshots as sn

    base = sn._build_delete_table(spark, sf_dir)
    ins12, del12 = sn.changes_between(spark, base, 1, 2)
    plan = ins12._jdf.queryExecution().executedPlan().toString()
    assert "data_v2_delta" in plan
    assert "data_v1" not in plan, "insert scan touched unchanged data"
    full = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert ins12.count() == full.filter("o_orderkey % 3 = 0").count()
    assert del12.count() == 0
    ins23, del23 = sn.changes_between(spark, base, 2, 3)
    assert ins23.count() == 0
    got = {r.o_orderkey for r in del23.select("o_orderkey").collect()}
    want = {r.o_orderkey for r in full.filter("o_orderkey % 5 = 0")
            .select("o_orderkey").collect()}
    assert got == want


def test_merge_upsert_sequenced_reinsert_after_delete(spark, sf_dir):
    """Sequenced tombstones (Iceberg v2 data-sequence semantics): a
    MERGE upsert's own rows survive their same-sequence tombstone, old
    copies of matched keys vanish, a key DELETED at v3 and re-upserted
    at v4 is visible again, pre-upsert versions are untouched, and the
    v3→v4 CDC reports the upsert rows as inserts (older deletes never
    apply to newer files)."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.sources import snapshots as sn

    base = sn._build_delete_table(spark, sf_dir)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000)
    v4 = sn.commit_merge_upsert(spark, base, updates, "o_orderkey")
    assert v4 == 4
    vis4 = sn.read_version(spark, base, 4)
    n7 = updates.count()
    # exactly one copy of each %7 key, at the updated price
    assert vis4.filter("o_orderkey % 7 = 0").count() == n7
    # reinsert-after-delete: %5==0 keys visible again iff re-upserted
    assert (vis4.filter("o_orderkey % 5 = 0").count()
            == orders.filter("o_orderkey % 5 = 0 AND o_orderkey % 7 = 0")
            .count()) > 0
    # v3 untouched by the upsert
    assert sn.read_version(spark, base, 3).filter(
        "o_orderkey % 5 = 0").count() == 0
    # CDC: the upsert dir's rows are the window's inserts (none hidden
    # by the older v3 tombstone), deletes = the matched keys' old rows
    ins34, del34 = sn.changes_between(spark, base, 3, 4)
    assert ins34.count() == n7
    assert del34.count() == orders.filter(
        "o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0").count()


def test_cdc_incremental_mv_equals_full_recompute(spark, sf_dir):
    """The CDC-maintained MV (bootstrap at v1 + three windows of
    inserted/deleted rows, including the upsert window's simultaneous
    inserts and deletes) must equal aggregating read_version(v4)
    directly — exact decimal algebra, no float drift."""
    from hive_nexr_spark.sources.snapshots import cdc_incremental_mv

    inc = {tuple(r) for r in cdc_incremental_mv(spark, sf_dir).collect()}
    # full recompute over the final visible set
    from pyspark.sql import functions as F

    from hive_nexr_spark.sources import snapshots as sn

    base = sn._build_delete_table(spark, sf_dir)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sn.commit_merge_upsert(
        spark, base,
        orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1000), "o_orderkey")
    full = {tuple(r) for r in
            sn.read_version(spark, base, 4)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_rows"),
                 F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
                 .cast("double").alias("sum_totalprice")).collect()}
    assert inc == full and inc


def test_partition_evolution_prunes_evolved_scan(spark, sf_dir):
    """Partition-spec evolution: the month predicate must reach the
    evolved delta as a PARTITION filter (directory pruning), legacy
    data stays readable unrewritten, and combined = legacy + evolved."""
    from hive_nexr_spark.sources.snapshots import partition_evolution_stats

    df = partition_evolution_stats(spark, sf_dir)
    fplan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in fplan
    seg = fplan[fplan.index("PartitionFilters"):]
    assert "o_month" in seg.splitlines()[0]
    rows = {r.layout: r for r in df.collect()}
    assert rows["combined"].n_rows == (
        rows["legacy_unpartitioned"].n_rows
        + rows["evolved_partitioned"].n_rows)
