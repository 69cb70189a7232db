"""Reference .q-file parity — declared queries (SURVEY §5 test strategy).

Each entry executes a real file from the reference's own test suite
(`ql/src/test/queries/clientpositive/*.q`, harness
`ql/src/test/templates/TestCliDriver.vm`) through `sources.qtest.run_qfile`
and returns the final SELECT.  Fixtures are the reference's REAL data
files (kv1.txt / kv3.txt); the DuckDB oracle replays the same computation
in ANSI SQL over the same files, so the driver's hash check proves result
parity with the reference's own coverage, not just with queries we
authored ourselves.

Hive-0.8 type quirks reproduced in the oracles (SURVEY §2.9):
* `sum(substr(value,5))` — string arg coerced to DOUBLE (`udf/UDFOPSum`-era
  numeric coercion; Spark non-ANSI does the same).
* string-vs-int comparison (`key < 100`) compares as DOUBLE.
* double stored into a STRING column renders Java-style ('246.0'), which
  both Spark's CAST(double AS STRING) and DuckDB's CAST AS VARCHAR emit
  for these magnitudes.
"""

from __future__ import annotations

from functools import partial

from ..io import ensure_runtime_compat
from ..sources.qtest import (
    DATA_DIR, SRC_SQL_DUCKDB, SRCBUCKET_SQL_DUCKDB, _kv_sql_duckdb,
    _srcbucket_file_sql_duckdb, run_qfile)


def _qfile(qname: str, spark, sf_dir):
    # sf_dir unused: the fixture is the synthesized 500-row `src`, the same
    # at every scale factor (matches the reference: .q tests run on kv1.txt
    # regardless of benchmark scale).
    ensure_runtime_compat(spark)
    return run_qfile(spark, qname)


def _qfile_named(qname: str, names: list[str], spark, sf_dir):
    """Like _qfile, but renames the final SELECT's columns: the driver's
    compare keys on column NAMES, and a qfile's unaliased expression
    columns auto-name differently in Spark vs DuckDB. Values are untouched."""
    return _qfile(qname, spark, sf_dir).toDF(*names)


def _qfile_stringify_arrays(qname: str, names: list[str], spark, sf_dir):
    """Like _qfile_named, but emits array columns as comma-joined strings:
    the driver's canonicalizer sorts result cells with pandas, which
    cannot order array values (r6: qfile_udf_bitmap_or crashed its canon
    step) — arrays must travel as strings on BOTH the Spark and oracle
    side."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType

    df = _qfile(qname, spark, sf_dir)
    return df.select(*[
        (F.concat_ws(",", F.col(c).cast("array<string>"))
         if isinstance(f.dataType, ArrayType) else F.col(c)).alias(n)
        for (c, f), n in zip(
            ((fld.name, fld) for fld in df.schema.fields), names)])


def _qfile_rounded(qname: str, names: list[str], nd: int, spark, sf_dir):
    """Hash-checkable twin of a rows-only qfile whose doubles differ from
    any oracle in the last ulps (streaming variance/stddev): round every
    column to `nd` decimals at emit, same pattern as agg_stats."""
    from pyspark.sql import functions as F

    df = _qfile(qname, spark, sf_dir)
    return df.select(*[
        F.round(F.col(c), nd).alias(n)
        for c, n in zip(df.columns, names)])


QUERIES = {
    "qfile_groupby1": partial(_qfile, "groupby1.q"),
    "qfile_groupby2": partial(_qfile, "groupby2.q"),
    "qfile_groupby4": partial(_qfile, "groupby4.q"),
    "qfile_groupby5": partial(_qfile, "groupby5.q"),
    "qfile_join1": partial(_qfile, "join1.q"),
    "qfile_join2": partial(_qfile, "join2.q"),
    "qfile_input11": partial(_qfile, "input11.q"),
    "qfile_input12": partial(_qfile, "input12.q"),
    "qfile_having": partial(_qfile, "having.q"),
    "qfile_groupby6": partial(_qfile, "groupby6.q"),
    "qfile_union": partial(_qfile, "union.q"),
    "qfile_input14": partial(_qfile, "input14.q"),
    "qfile_case_sensitivity": partial(_qfile, "case_sensitivity.q"),
    "qfile_join3": partial(_qfile, "join3.q"),
    "qfile_join6": partial(_qfile, "join6.q"),
    "qfile_input_part1": partial(_qfile, "input_part1.q"),
    "qfile_groupby7": partial(_qfile, "groupby7.q"),
    "qfile_join4": partial(_qfile, "join4.q"),
    "qfile_join5": partial(_qfile, "join5.q"),
    "qfile_input9": partial(_qfile, "input9.q"),
    "qfile_input_testxpath": partial(_qfile, "input_testxpath.q"),
    "qfile_join7": partial(_qfile, "join7.q"),
    "qfile_join8": partial(_qfile, "join8.q"),
    "qfile_groupby3": partial(_qfile, "groupby3.q"),
    "qfile_sample2": partial(_qfile, "sample2.q"),
    "qfile_sample3": partial(_qfile, "sample3.q"),
    "qfile_sample4": partial(_qfile, "sample4.q"),
    "qfile_sample5": partial(_qfile, "sample5.q"),
    "qfile_sample6": partial(_qfile, "sample6.q"),
    "qfile_sample7": partial(_qfile, "sample7.q"),
    "qfile_input0": partial(_qfile, "input0.q"),
    "qfile_join9": partial(_qfile, "join9.q"),
    "qfile_join10": partial(_qfile, "join10.q"),
    "qfile_join11": partial(_qfile, "join11.q"),
    "qfile_union2": partial(_qfile, "union2.q"),
    "qfile_union10": partial(_qfile, "union10.q"),
    "qfile_groupby8": partial(_qfile, "groupby8.q"),
    "qfile_groupby_neg_float": partial(_qfile, "groupby_neg_float.q"),
    "qfile_load_dyn_part1": partial(_qfile, "load_dyn_part1.q"),
    "qfile_groupby10": partial(_qfile, "groupby10.q"),
    "qfile_groupby11": partial(_qfile, "groupby11.q"),
    "qfile_union4": partial(_qfile, "union4.q"),
    "qfile_union5": partial(_qfile, "union5.q"),
    "qfile_exim_nonpart": partial(_qfile, "exim_01_nonpart.q"),
    # INSERT INTO family (Hive 0.8 `Hive.g:1417` insertClause; appends vs
    # INSERT OVERWRITE replace). Oracles pin the reference's OWN golden
    # outputs (results/clientpositive/insert_into{1..6}.q.out) — the final
    # SUM(HASH(...)) over the table contents, Hive-hash semantics
    # (GenericUDFHash), which also golden-verifies the hive_hash parity
    # function end-to-end.
    "qfile_insert_into1": partial(
        _qfile_named, "insert_into1.q", ["hash_sum"]),
    "qfile_insert_into2": partial(
        _qfile_named, "insert_into2.q", ["hash_sum"]),
    "qfile_insert_into3": partial(
        _qfile_named, "insert_into3.q", ["hash_sum"]),
    "qfile_insert_into4": partial(
        _qfile_named, "insert_into4.q", ["hash_sum"]),
    "qfile_insert_into5": partial(
        _qfile_named, "insert_into5.q", ["hash_sum"]),
    "qfile_insert_into6": partial(
        _qfile_named, "insert_into6.q", ["hash_sum"]),
    # CTAS / CREATE TABLE LIKE / view DDL dialect
    # (`parse/SemanticAnalyzer.java:7203` analyzeCreateTable, `:7278`
    # saveViewDefinition)
    "qfile_ctas": partial(_qfile, "ctas.q"),
    "qfile_create_like": partial(_qfile, "create_like.q"),
    "qfile_create_view": partial(_qfile, "create_view.q"),
    "qfile_create_or_replace_view": partial(
        _qfile, "create_or_replace_view.q"),
    # self-referencing INSERT OVERWRITE staged through a scratch table
    # (the reference stages via Context.getExternalScratchDir)
    "qfile_union22": partial(_qfile, "union22.q"),
    # CASE with a never-taken reflect() ELSE (udf_case.q golden keeps it
    # unevaluated); renamed: Spark auto-names the CASE expression
    "qfile_udf_case": partial(_qfile_named, "udf_case.q", ["c"]),
    # unparenthesized CLUSTER BY union branches (union3.q)
    "qfile_union3": partial(_qfile, "union3.q"),
    # compact index emulation end-to-end (index_compact.q; the final
    # SELECT reads the base table after the index round-trip)
    "qfile_index_compact": partial(_qfile, "index_compact.q"),
    # TABLESAMPLE ON rand() with y=1 → whole-table sample (sample1.q)
    "qfile_sample1": partial(_qfile_named, "sample1.q", ["cnt"]),
    # GRANT/REVOKE tolerated as documented no-ops; the data queries
    # between them are what the golden checks (authorization_1.q)
    "qfile_authorization_1": partial(_qfile, "authorization_1.q"),
    # column-path DESCRIBE navigation (describe_xpath.q)
    "qfile_describe_xpath": partial(_qfile, "describe_xpath.q"),
    # auto-mapjoin conversion (`hive.auto.convert.join`,
    # `optimizer/physical/CommonJoinResolver.java`): final value is
    # SUM(HASH(key, value)) — pinned to the reference's own goldens,
    # which also golden-verifies multi-arg hive_hash
    "qfile_auto_join0": partial(_qfile_named, "auto_join0.q", ["hash_sum"]),
    "qfile_auto_join1": partial(_qfile_named, "auto_join1.q", ["hash_sum"]),
    # predicate-pushdown corpus (`ppd/OpProcFactory.java` — Catalyst's
    # PushDownPredicates does this for free; the oracle checks results,
    # tests/test_plans.py pins the pushdown itself)
    "qfile_ppd_gby": partial(_qfile, "ppd_gby.q"),
    "qfile_ppd_join": partial(_qfile, "ppd_join.q"),
    # seeded rand() row pruning (Java-LCG per-mapper emulation) — oracle
    # pinned to the reference's OWN golden row set
    "qfile_rand_pruner1": partial(_qfile, "rand_partitionpruner1.q"),
    # symlink manifest indirection (SymlinkTextInputFormat) — golden 16
    "qfile_symlink_text": partial(
        _qfile_named, "symlink_text_input_format.q", ["cnt"]),
    "qfile_udf_field": partial(
        _qfile_named, "udf_field.q",
        ["col1", "col2", "f1", "f2", "f3", "f4", "f5", "f6", "f7"]),
    # bitmap array stringified at emit: the driver's canonicalizer
    # (pandas sort_values) cannot sort array cells — arrays travel as
    # comma-joined strings, matching the oracle (r6 driver-canon crash)
    "qfile_udf_bitmap_or": partial(
        _qfile_stringify_arrays, "udf_bitmap_or.q", ["bm"]),
    # sort-merge-bucket mapjoin family (`exec/SMBMapJoinOperator.java:51`,
    # hive.optimize.bucketmapjoin.sortedmerge): final statement is the
    # FULL OUTER mapjoin(b) of the two 1-bucket RCFile tables — Spark
    # plans this as a sorted-bucket join without a shuffle Exchange
    # (tests/test_plans.py pins the no-Exchange property for the SMB
    # shape); renamed, the qfile's SELECT * duplicates key/value names
    "qfile_smb_mapjoin_1": partial(
        _qfile_named, "smb_mapjoin_1.q", ["k1", "v1", "k2", "v2"]),
    # bucket mapjoin (`optimizer/BucketMapJoinOptimizer.java:69`): the
    # file stores sum(hive_hash) fingerprints of the SAME join run with
    # mapjoin ON and OFF, and the final SELECT is their difference —
    # golden asserts (0, 0, 0), i.e. the mapjoin path is value-identical
    # to the shuffle-join path (reference golden
    # results/clientpositive/bucketmapjoin1.q.out final row)
    "qfile_bucketmapjoin1": partial(
        _qfile_named, "bucketmapjoin1.q", ["d_key", "d_value1", "d_value2"]),
    # join_filters.q final statement under HIVE-0.8 outer-join semantics:
    # the CommonJoinOperator filter-tag padding bug (JoinOperator.java)
    # drops unmatched null-padded rows when ON-clause single-side filters
    # are present — the reference golden's final RIGHT OUTER answer is
    # the two matched pairs ONLY, which the runner's r13 join emulation
    # reproduces and the DuckDB oracle asserts (r14 fix: the oracle had
    # been left at the standard 6-row answer and diverged from both)
    "qfile_join_filters": partial(
        _qfile_named, "join_filters.q",
        ["a_key", "a_value", "b_key", "b_value"]),
    # ColumnarSerDe/RCFile null round-trip (`serde2/columnar/
    # ColumnarSerDe.java`): right-outer join with null-padded left side
    # written INTO an RCFile table and read back — nulls must survive the
    # columnar write+read
    "qfile_rcfile_null_value": partial(_qfile, "rcfile_null_value.q"),
    # hash-checked twin of the rows-only qfile_groupby3 (same pattern as
    # agg_stats): the std/var family's streaming algorithms agree across
    # engines to ~1e-13 relative but not bit-exactly, so the raw file is
    # rows-only; this twin rounds every dest column to 6 decimals at emit,
    # making the full 9-aggregate row exactly hashable
    "qfile_groupby3_rounded": partial(
        _qfile_rounded, "groupby3.q",
        ["c1", "c2", "c3", "c4", "c5", "c6", "c7", "c8", "c9"], 6),
    # execution-knob variants of the groupby files (hive.map.aggr /
    # hive.groupby.skewindata): identical queries, identical expected
    # results — they assert the engine is insensitive to the reference's
    # physical-plan knobs (Catalyst picks its own plan)
    "qfile_groupby1_map": partial(_qfile, "groupby1_map.q"),
    "qfile_groupby1_noskew": partial(_qfile, "groupby1_noskew.q"),
    "qfile_groupby2_map": partial(_qfile, "groupby2_map.q"),
    "qfile_groupby4_map": partial(_qfile, "groupby4_map.q"),
    "qfile_groupby5_map": partial(_qfile, "groupby5_map.q"),
    "qfile_groupby6_map": partial(_qfile, "groupby6_map.q"),
    "qfile_groupby1_map_nomap": partial(_qfile, "groupby1_map_nomap.q"),
    "qfile_groupby1_map_skew": partial(_qfile, "groupby1_map_skew.q"),
    "qfile_groupby2_map_skew": partial(_qfile, "groupby2_map_skew.q"),
    "qfile_groupby2_noskew": partial(_qfile, "groupby2_noskew.q"),
    "qfile_groupby4_map_skew": partial(_qfile, "groupby4_map_skew.q"),
    "qfile_groupby4_noskew": partial(_qfile, "groupby4_noskew.q"),
    "qfile_groupby5_map_skew": partial(_qfile, "groupby5_map_skew.q"),
    "qfile_groupby5_noskew": partial(_qfile, "groupby5_noskew.q"),
    "qfile_groupby6_map_skew": partial(_qfile, "groupby6_map_skew.q"),
    "qfile_groupby6_noskew": partial(_qfile, "groupby6_noskew.q"),
    "qfile_groupby7_map": partial(_qfile, "groupby7_map.q"),
    "qfile_groupby7_map_skew": partial(_qfile, "groupby7_map_skew.q"),
    "qfile_groupby7_noskew": partial(_qfile, "groupby7_noskew.q"),
    "qfile_groupby8_map": partial(_qfile, "groupby8_map.q"),
    "qfile_groupby8_map_skew": partial(_qfile, "groupby8_map_skew.q"),
    "qfile_groupby8_noskew": partial(_qfile, "groupby8_noskew.q"),
}

_W = f"WITH {SRC_SQL_DUCKDB}"

ORACLE = {
    # exim_01_nonpart.q ends in `SELECT * FROM exim_department` after the
    # EXPORT → DROP → IMPORT roundtrip; the data is ../data/files/test.dat
    "qfile_exim_nonpart": f"""
        SELECT * FROM read_csv('{DATA_DIR}/test.dat', delim='\x01',
          header=false, columns={{'dep_id': 'INT'}})
    """,
    # udf_field.q final SELECT (`exec/FunctionRegistry.java:276` field):
    # 1-based index of the first matching argument; Hive compares a
    # string-vs-numeric pair as DOUBLE (try_cast mirrors the coercion
    # failing to no-match), NULL never matches.
    "qfile_udf_field": f"""
        WITH t AS (
          SELECT CAST(key AS INT) AS col1, value AS col2
          FROM ({_kv_sql_duckdb('kv1.txt')}) kv
          WHERE key = '86' OR key = '66'
        )
        SELECT col1, col2,
          CASE WHEN col1 = 66 THEN 1 ELSE 0 END AS f1,
          CASE WHEN col1 = 66 THEN 1
               WHEN try_cast(col2 AS DOUBLE) = 66 THEN 2 ELSE 0 END AS f2,
          CASE WHEN try_cast(col2 AS DOUBLE) = 86 THEN 1
               WHEN col1 = 86 THEN 2 ELSE 0 END AS f3,
          CASE WHEN col1 = 86 THEN 1 WHEN col1 = 86 THEN 2 ELSE 0 END AS f4,
          CASE WHEN col1 = 86 THEN 1
               WHEN try_cast(col2 AS DOUBLE) = 86 THEN 3 ELSE 0 END AS f5,
          0 AS f6,
          CASE WHEN try_cast(col2 AS DOUBLE) = col1 THEN 1 ELSE 0 END AS f7
        FROM t
    """,
    # udf_bitmap_or.q: the expected value is the reference's OWN golden
    # output (`results/clientpositive/udf_bitmap_or.q.out`) — the
    # javaewah-serialized OR of the two fixture bitmaps, once per the 10
    # inserted rows; functions/ewah.py reproduces the encoding exactly.
    "qfile_udf_bitmap_or": """
        SELECT '13,2,4,8589934592,4224,0' AS bm
        FROM range(10)
    """,
    # insert_into*.q: literal final values from the reference's own golden
    # outputs (`results/clientpositive/insert_into{N}.q.out`) — each is the
    # SUM of Java-hashCode-family hashes over deterministic file-order
    # LIMIT prefixes of kv1.txt, independently recomputed in
    # tests/test_functions.py::test_hive_hash_golden_sum
    "qfile_insert_into1": "SELECT CAST(-826625916 AS BIGINT) AS hash_sum",
    "qfile_insert_into2": "SELECT CAST(-27100860056 AS BIGINT) AS hash_sum",
    "qfile_insert_into3": "SELECT CAST(9399898328 AS BIGINT) AS hash_sum",
    "qfile_insert_into4": "SELECT CAST(-1653251832 AS BIGINT) AS hash_sum",
    "qfile_insert_into5": "SELECT CAST(-37252105840 AS BIGINT) AS hash_sum",
    "qfile_insert_into6": "SELECT CAST(-35226404960 AS BIGINT) AS hash_sum",
    # ctas.q final SELECT: nzhang_ctas4 = first 10 (key, value) in lexical
    # order (sort by + limit over the single-split src scan is a total
    # order; the rows at the LIMIT boundary are duplicates, so the
    # multiset is deterministic)
    "qfile_ctas": f"""{_W}
        SELECT key, value FROM src ORDER BY key, value LIMIT 10
    """,
    # create_like.q final SELECT * FROM table4 — the ext_test external
    # fixture (golden create_like.q.out: ints 1..6)
    "qfile_create_like": """
        SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6)) t(a)
    """,
    # create_view.q final: SELECT * FROM view16 ORDER BY value LIMIT 10,
    # view16 = SELECT DISTINCT value FROM src
    "qfile_create_view": f"""{_W}
        SELECT DISTINCT value FROM src ORDER BY value LIMIT 10
    """,
    # create_or_replace_view.q final: v = SELECT * FROM srcpart, filtered
    # to one partition and value='val_409'
    "qfile_create_or_replace_view": f"""{_W}
        SELECT key, value, '2008-04-08' AS ds, '11' AS hr
        FROM src WHERE value = 'val_409'
    """,
    # union22.q: dst_union22 ds='2' = UNION of (delta k0<=50 rows) and
    # (dst_union22 ds='1' LEFT JOIN delta k0>50 ON k1, a.k1>20); string
    # range predicates compare as DOUBLE (Hive common-comparison type)
    "qfile_union22": f"""{_W},
        delta AS (SELECT key AS k0, key AS k1, value AS k2, key AS k3,
                         value AS k4, value AS k5 FROM src),
        a AS (SELECT key AS k1, value AS k2 FROM src)
        SELECT k1, k2, k3, k4, '2' AS ds FROM (
          SELECT k1, k2, k3, k4 FROM delta WHERE CAST(k0 AS DOUBLE) <= 50
          UNION ALL
          SELECT a.k1, a.k2, b.k3, b.k4
          FROM a LEFT OUTER JOIN (
            SELECT k1, k3, k4 FROM delta WHERE CAST(k0 AS DOUBLE) > 50
          ) b ON a.k1 = b.k1
          WHERE CAST(a.k1 AS DOUBLE) > 20
        ) subq
    """,
    "qfile_udf_case": "SELECT 'yo' AS c",
    # union3: four single-row branches with ids 1..4
    "qfile_union3": "SELECT * FROM (VALUES (1),(2),(3),(4)) t(id)",
    # index_compact final: key=100 over ALL 4 srcpart partitions
    "qfile_index_compact": f"""{_W}
        SELECT key, value FROM src CROSS JOIN range(4) WHERE key = '100'
    """,
    # sample1 final: count over the 2-file srcbucket fixture
    "qfile_sample1": f"""
        WITH {SRCBUCKET_SQL_DUCKDB}
        SELECT count(1) AS cnt FROM srcbucket
    """,
    # authorization_1 final: first 20 keys in lexical order (ties at the
    # cut are identical values → deterministic multiset)
    "qfile_authorization_1": f"""{_W}
        SELECT key FROM src ORDER BY key LIMIT 20
    """,
    # describe_xpath final: the resolved type of lintString.$elem$.myint
    "qfile_describe_xpath": """
        SELECT 'lintString.$elem$.myint' AS col_name, 'int' AS data_type,
               'from deserializer' AS comment
    """,
    # dest_g1(key INT, value DOUBLE) ← SELECT key, sum(substr(value,5))
    "qfile_groupby1": f"""{_W}
        SELECT CAST(key AS INT) AS key,
               CAST(sum(CAST(substr(value, 5) AS DOUBLE)) AS DOUBLE) AS value
        FROM src GROUP BY key
    """,
    # dest_g2(key STRING, c1 INT, c2 STRING);
    # c2 = concat(first_char, sum) — double renders Java-style
    "qfile_groupby2": f"""{_W}
        SELECT substr(key, 1, 1) AS key,
               CAST(count(DISTINCT substr(value, 5)) AS INT) AS c1,
               substr(key, 1, 1) ||
                 CAST(CAST(sum(CAST(substr(value, 5) AS DOUBLE)) AS DOUBLE)
                      AS VARCHAR) AS c2
        FROM src GROUP BY substr(key, 1, 1)
    """,
    "qfile_groupby4": f"""{_W}
        SELECT substr(key, 1, 1) AS c1 FROM src GROUP BY substr(key, 1, 1)
    """,
    # dest1(key INT, value STRING) ← sum double rendered to string
    "qfile_groupby5": f"""{_W}
        SELECT CAST(key AS INT) AS key,
               CAST(CAST(sum(CAST(substr(value, 5) AS DOUBLE)) AS DOUBLE)
                    AS VARCHAR) AS value
        FROM src GROUP BY key
    """,
    "qfile_join1": f"""{_W}
        SELECT CAST(s1.key AS INT) AS key, s2.value AS value
        FROM src s1 JOIN src s2 ON s1.key = s2.key
    """,
    # join on src1.key + src2.key = src3.key — Hive coerces all to DOUBLE
    "qfile_join2": f"""{_W}
        SELECT CAST(s1.key AS INT) AS key, s3.value AS value
        FROM src s1 JOIN src s2 ON s1.key = s2.key
        JOIN src s3
          ON CAST(s1.key AS DOUBLE) + CAST(s2.key AS DOUBLE)
             = CAST(s3.key AS DOUBLE)
    """,
    # string-vs-int predicate compares as double
    "qfile_input11": f"""{_W}
        SELECT CAST(key AS INT) AS key, value
        FROM src WHERE CAST(key AS DOUBLE) < 100
    """,
    # final SELECT of the multi-insert is dest3: static partition (ds, hr)
    "qfile_input12": f"""{_W}
        SELECT CAST(key AS INT) AS key, '2008-04-08' AS ds, '12' AS hr
        FROM src WHERE CAST(key AS DOUBLE) >= 200
    """,
    # last statement: SELECT key, max(value) ... HAVING max(value) > 'val_255'
    "qfile_having": f"""{_W}
        SELECT key, max(value) AS "max(value)"
        FROM src GROUP BY key HAVING max(value) > 'val_255'
    """,
    "qfile_groupby6": f"""{_W}
        SELECT DISTINCT substr(value, 5, 1) AS c1 FROM src
    """,
    # union.q ends with `dfs -cat <dir>/*` over the INSERT OVERWRITE
    # DIRECTORY sink — the runner replays the sink as raw ^A-joined text
    # lines (LazySimpleSerDe file rendering), so the oracle mirrors that
    # one-column shape; key 100 itself is excluded by both filters
    "qfile_union": f"""{_W}
        SELECT key || chr(1) || value AS line
        FROM src WHERE CAST(key AS DOUBLE) < 100
        UNION ALL
        SELECT key || chr(1) || value AS line
        FROM src WHERE CAST(key AS DOUBLE) > 100
    """,
    # TRANSFORM ... USING '/bin/cat' is an identity pipe; tkey < 100 is a
    # string-vs-int comparison → DOUBLE
    "qfile_input14": f"""{_W}
        SELECT CAST(key AS INT) AS key, value
        FROM src WHERE CAST(key AS DOUBLE) < 100
    """,
    # src_thrift reproduces the reference fixture (sources/qtest.py):
    # lint = [i, 2i], lintstring[0].mystring = '<i³>'; lint[0] > 0 ⟺ i ≥ 1
    # (the all-NULL row drops out of the predicate). dest was created as
    # DEST1(Key INT, VALUE STRING) → mixed-case names. Matches the
    # reference's own golden `case_sensitivity.q.out` rows.
    "qfile_case_sensitivity": """
        SELECT CAST(2*i AS INT) AS "Key", CAST(i*i*i AS VARCHAR) AS "VALUE"
        FROM range(1, 10) t(i)
    """,
    # golden `input_testxpath.q.out` parity: lint[1], lintstring[0].mystring,
    # mstringstring['key_2'] over all 11 rows (incl. the all-NULL row)
    "qfile_input_testxpath": """
        SELECT CAST(2*i AS INT) AS key, CAST(i*i*i AS VARCHAR) AS value,
               CASE WHEN i = 2 THEN 'value_2' END AS mapvalue
        FROM range(10) t(i)
        UNION ALL
        SELECT NULL, NULL, NULL
    """,
    "qfile_join3": f"""{_W}
        SELECT CAST(s1.key AS INT) AS key, s3.value AS value
        FROM src s1 JOIN src s2 ON s1.key = s2.key
        JOIN src s3 ON s1.key = s3.key
    """,
    # subquery range filters are string-vs-int → DOUBLE comparison
    "qfile_join6": f"""{_W},
        a AS (SELECT key AS c1, value AS c2 FROM src
              WHERE CAST(key AS DOUBLE) > 10 AND CAST(key AS DOUBLE) < 20),
        b AS (SELECT key AS c3, value AS c4 FROM src
              WHERE CAST(key AS DOUBLE) > 15 AND CAST(key AS DOUBLE) < 25)
        SELECT CAST(a.c1 AS INT) AS c1, a.c2 AS c2,
               CAST(b.c3 AS INT) AS c3, b.c4 AS c4
        FROM a FULL OUTER JOIN b ON a.c1 = b.c3
    """,
    # srcpart = src × 4 (ds, hr) partitions; predicate prunes to one.
    # dest column order is (key, value, hr, ds) — hr before ds.
    "qfile_input_part1": f"""{_W}
        SELECT CAST(key AS INT) AS key, value, '12' AS hr, '2008-04-08' AS ds
        FROM src WHERE CAST(key AS DOUBLE) < 100
    """,
    # multi-insert groupby; the checked (last) SELECT is DEST2(key INT,
    # value STRING) — the double sum renders Java-style into the string col
    "qfile_groupby7": f"""{_W}
        SELECT CAST(key AS INT) AS key,
               CAST(CAST(sum(CAST(substr(value, 5) AS DOUBLE)) AS DOUBLE)
                    AS VARCHAR) AS value
        FROM src GROUP BY key
    """,
    "qfile_join4": f"""{_W},
        a AS (SELECT key AS c1, value AS c2 FROM src
              WHERE CAST(key AS DOUBLE) > 10 AND CAST(key AS DOUBLE) < 20),
        b AS (SELECT key AS c3, value AS c4 FROM src
              WHERE CAST(key AS DOUBLE) > 15 AND CAST(key AS DOUBLE) < 25)
        SELECT CAST(a.c1 AS INT) AS c1, a.c2 AS c2,
               CAST(b.c3 AS INT) AS c3, b.c4 AS c4
        FROM a LEFT OUTER JOIN b ON a.c1 = b.c3
    """,
    "qfile_join5": f"""{_W},
        a AS (SELECT key AS c1, value AS c2 FROM src
              WHERE CAST(key AS DOUBLE) > 10 AND CAST(key AS DOUBLE) < 20),
        b AS (SELECT key AS c3, value AS c4 FROM src
              WHERE CAST(key AS DOUBLE) > 15 AND CAST(key AS DOUBLE) < 25)
        SELECT CAST(a.c1 AS INT) AS c1, a.c2 AS c2,
               CAST(b.c3 AS INT) AS c3, b.c4 AS c4
        FROM a RIGHT OUTER JOIN b ON a.c1 = b.c3
    """,
    # WHERE NULL = NULL selects nothing — dest1(value STRING, key INT) empty
    "qfile_input9": """
        SELECT CAST(NULL AS VARCHAR) AS value, CAST(NULL AS INT) AS key
        WHERE 1 = 0
    """,
    # 3-way outer join of range-filtered subqueries. Hive 0.8's MERGED
    # CommonJoinOperator (both joins key on a.c1, so all three tags share
    # one join operator) emits the CROSS PRODUCT of each key group's
    # per-tag row lists: for a key present in b AND c but absent from a
    # (key 24: two b rows, two c rows), the golden holds |b|×|c| = 4
    # output rows with the c columns null-padded (the LEFT OUTER match
    # condition references the null a.c1) — standard SQL emits only |b|.
    # The engine reproduces the reference golden
    # (results/clientpositive/join7.q.out, 16 rows) via the runner's
    # CommonJoinOperator emulation; the oracle replicates the group-cross
    # multiplicity with the OR'd join condition and null-pads c whenever
    # the a side is null (r14 — the oracle had been left at the standard
    # 14-row answer when the runner gained Hive join semantics in r13).
    "qfile_join7": f"""{_W},
        a AS (SELECT key AS c1, value AS c2 FROM src
              WHERE CAST(key AS DOUBLE) > 10 AND CAST(key AS DOUBLE) < 20),
        b AS (SELECT key AS c3, value AS c4 FROM src
              WHERE CAST(key AS DOUBLE) > 15 AND CAST(key AS DOUBLE) < 25),
        c AS (SELECT key AS c5, value AS c6 FROM src
              WHERE CAST(key AS DOUBLE) > 20 AND CAST(key AS DOUBLE) < 25)
        SELECT CAST(a.c1 AS INT) AS c1, a.c2 AS c2,
               CAST(b.c3 AS INT) AS c3, b.c4 AS c4,
               CAST(CASE WHEN a.c1 IS NOT NULL THEN c.c5 END AS INT) AS c5,
               CASE WHEN a.c1 IS NOT NULL THEN c.c6 END AS c6
        FROM a FULL OUTER JOIN b ON a.c1 = b.c3
        LEFT OUTER JOIN c
          ON (a.c1 = c.c5) OR (a.c1 IS NULL AND b.c3 = c.c5)
    """,
    # anti-join shape: left-outer rows where the right side missed
    "qfile_join8": f"""{_W},
        a AS (SELECT key AS c1, value AS c2 FROM src
              WHERE CAST(key AS DOUBLE) > 10 AND CAST(key AS DOUBLE) < 20),
        b AS (SELECT key AS c3, value AS c4 FROM src
              WHERE CAST(key AS DOUBLE) > 15 AND CAST(key AS DOUBLE) < 25)
        SELECT CAST(a.c1 AS INT) AS c1, a.c2 AS c2,
               CAST(b.c3 AS INT) AS c3, b.c4 AS c4
        FROM a LEFT OUTER JOIN b ON a.c1 = b.c3
        WHERE b.c3 IS NULL AND a.c1 IS NOT NULL
    """,
    # qfile_groupby3 is rows-only BY DESIGN: its dest columns include raw
    # (unrounded) stddev_pop/var_pop doubles, and streaming-variance
    # algorithms differ across engines in the last ulps (verified: Spark
    # and DuckDB agree to 1e-13 relative but not bit-exactly), so an exact
    # value-hash cannot pass. The std/var family IS hash-verified via
    # agg_stats, which rounds at emit (operators/aggregates.py).
    # BUCKET 1 OUT OF 2 (no ON → bucket cols): pure input pruning to the
    # first bucket file
    "qfile_sample2": f"""
        SELECT key, value FROM ({_srcbucket_file_sql_duckdb(0)}) b0
    """,
    # BUCKET 1 OUT OF 5 on key over 2 buckets: 5 % 2 != 0 → no pruning,
    # hash filter over the whole table; final SELECT is `s.key` only
    "qfile_sample3": f"""
        WITH {SRCBUCKET_SQL_DUCKDB}
        SELECT key FROM srcbucket WHERE key % 5 = 0
    """,
    # BUCKET 1 OUT OF 2 on key == the bucket spec → pruning, no filter
    "qfile_sample4": f"""
        SELECT key, value FROM ({_srcbucket_file_sql_duckdb(0)}) b0
    """,
    "qfile_sample5": f"""
        WITH {SRCBUCKET_SQL_DUCKDB}
        SELECT key, value FROM srcbucket WHERE key % 5 = 0
    """,
    # the file's last result statement samples the just-created (and never
    # loaded) 2-bucket empty_bucket table → empty (key INT, value STRING)
    "qfile_sample6": """
        SELECT CAST(NULL AS INT) AS key, CAST(NULL AS VARCHAR) AS value
        WHERE 1 = 0
    """,
    # BUCKET 1 OUT OF 4 → file 0 + key%4=0, plus the qfile's WHERE
    "qfile_sample7": f"""
        SELECT key, value FROM ({_srcbucket_file_sql_duckdb(0)}) b0
        WHERE key % 4 = 0 AND key > 100
    """,
    "qfile_input0": f"""{_W}
        SELECT key, value FROM src
    """,
    # srcpart partition (ds='2008-04-08', hr='12') is a full copy of src
    "qfile_join9": f"""{_W}
        SELECT CAST(s1.key AS INT) AS key, s2.value AS value
        FROM src s1 JOIN src s2 ON s1.key = s2.key
    """,
    # self-join projecting the right side only
    "qfile_join10": f"""{_W}
        SELECT y.key, y.value FROM src x JOIN src y ON x.key = y.key
    """,
    # join condition carries the string-vs-int range predicate (→ DOUBLE)
    "qfile_join11": f"""{_W}
        SELECT a.key AS c1, b.value AS c4
        FROM src a JOIN src b
          ON a.key = b.key AND CAST(a.key AS DOUBLE) < 100
    """,
    "qfile_union2": f"""{_W}
        SELECT count(1) AS "count(1)" FROM (
          SELECT key, value FROM src UNION ALL SELECT key, value FROM src
        ) unionsrc
    """,
    # tmptable(key STRING, value INT): three labeled count(1) branches
    "qfile_union10": f"""{_W}
        SELECT 'tst1' AS key, CAST(count(1) AS INT) AS value FROM src
        UNION ALL
        SELECT 'tst2', CAST(count(1) AS INT) FROM src
        UNION ALL
        SELECT 'tst3', CAST(count(1) AS INT) FROM src
    """,
    # DEST2(key INT, value STRING): count(DISTINCT) rendered into a string
    "qfile_groupby8": f"""{_W}
        SELECT CAST(key AS INT) AS key,
               CAST(count(DISTINCT substr(value, 5)) AS VARCHAR) AS value
        FROM src GROUP BY key
    """,
    # last statement groups on the string literal '-30.33' (one row)
    "qfile_groupby_neg_float": """
        SELECT '-30.33' AS "-30.33"
    """,
    # dynamic-partition multi-insert: final SELECT reads nzhang_part2 =
    # srcpart rows with ds > '2008-04-08' (the two 2008-04-09 partitions,
    # i.e. src twice) written under static ds='2008-12-31', dynamic hr
    "qfile_load_dyn_part1": f"""{_W}
        SELECT key, value, '2008-12-31' AS ds, hr
        FROM src CROSS JOIN (SELECT unnest(['11', '12']) AS hr) h
    """,
    # dest2(key INT, val1 INT, val2 INT) over the kv5 fixture: sums of
    # integral substrings — exact in double, truncating INT store is a
    # no-op on integral values
    "qfile_groupby10": f"""
        WITH input AS ({_kv_sql_duckdb('kv5.txt')})
        SELECT CAST(key AS INT) AS key,
               CAST(sum(CAST(substr(value, 5) AS DOUBLE)) AS INT) AS val1,
               CAST(sum(DISTINCT CAST(substr(value, 5) AS DOUBLE)) AS INT) AS val2
        FROM input GROUP BY key
    """,
    # dest2(key STRING, val1 INT, val2 INT) partition ds='111'
    "qfile_groupby11": f"""{_W}
        SELECT substr(s.value, 5) AS key,
               CAST(count(s.key) AS INT) AS val1,
               CAST(count(DISTINCT s.key) AS INT) AS val2,
               '111' AS ds
        FROM src s GROUP BY substr(s.value, 5)
    """,
    # tmptable(key STRING, value INT): two labeled count branches
    "qfile_union4": f"""{_W}
        SELECT 'tst1' AS key, CAST(count(1) AS INT) AS value FROM src
        UNION ALL
        SELECT 'tst2', CAST(count(1) AS INT) FROM src
    """,
    "qfile_union5": f"""{_W}
        SELECT key, CAST(count(1) AS BIGINT) AS "count(1)" FROM (
          SELECT 'tst1' AS key, count(1) AS value FROM src
          UNION ALL
          SELECT 'tst2', count(1) FROM src
        ) unionsrc GROUP BY key
    """,
    # groupby4_map: plain count(1) into dest1(key INT)
    "qfile_groupby4_map": f"""{_W}
        SELECT CAST(count(1) AS INT) AS key FROM src
    """,
    # groupby5_map: sum of the string keys (numeric coercion) into INT
    "qfile_groupby5_map": f"""{_W}
        SELECT CAST(sum(CAST(key AS DOUBLE)) AS INT) AS key FROM src
    """,
    # auto_join goldens (`results/clientpositive/auto_join{0,1}.q.out`):
    # SUM of multi-arg Hive hashes — also golden-verifies hive_hash's
    # combine rule end-to-end
    "qfile_auto_join0": "SELECT CAST(34441656720 AS BIGINT) AS hash_sum",
    "qfile_auto_join1": "SELECT CAST(101861029915 AS BIGINT) AS hash_sum",
    # ppd_gby/ppd_join: string-vs-string predicates compare
    # LEXICOGRAPHICALLY (same-type comparison — no double coercion)
    "qfile_ppd_gby": f"""{_W}
        SELECT c1 FROM (
          SELECT value AS c1, count(key) AS c2 FROM src
          WHERE value > 'val_10' GROUP BY value
        ) s WHERE c1 > 'val_200' AND (c2 > 30 OR c1 < 'val_400')
    """,
    "qfile_ppd_join": f"""{_W}
        SELECT src1.c1, src2.c4 FROM
        (SELECT key AS c1, value AS c2 FROM src WHERE key > '1') src1
        JOIN
        (SELECT key AS c3, value AS c4 FROM src WHERE key > '2') src2
        ON src1.c1 = src2.c3 AND src1.c1 < '400'
        WHERE src1.c1 > '20' AND (src1.c2 < 'val_50' OR src1.c1 > '2')
          AND (src2.c3 > '50' OR src1.c1 < '50') AND src2.c3 <> '4'
    """,
    # smb_mapjoin_1.q final statement: FULL OUTER mapjoin(b) of the two
    # 1-bucket tables; fixtures resolve to the .txt twins of the .rc files
    # (storage standardization, SURVEY §2.2)
    "qfile_smb_mapjoin_1": f"""
        WITH s1 AS (SELECT * FROM read_csv(
               '{DATA_DIR}/smbbucket_1.txt', delim='\x01', header=false,
               columns={{'key': 'INT', 'value': 'VARCHAR'}},
               force_not_null=['value'])),
             s2 AS (SELECT * FROM read_csv(
               '{DATA_DIR}/smbbucket_2.txt', delim='\x01', header=false,
               columns={{'key': 'INT', 'value': 'VARCHAR'}},
               force_not_null=['value']))
        SELECT a.key AS k1, a.value AS v1, b.key AS k2, b.value AS v2
        FROM s1 a FULL OUTER JOIN s2 b ON a.key = b.key
    """,
    # bucketmapjoin1.q final statement: difference of the sum(hash(...))
    # fingerprints of the mapjoin-ON vs mapjoin-OFF runs — the reference's
    # own golden asserts (0, 0, 0) (results/clientpositive/
    # bucketmapjoin1.q.out), i.e. both physical join paths agree
    "qfile_bucketmapjoin1": """
        SELECT CAST(0 AS BIGINT) AS d_key, CAST(0 AS BIGINT) AS d_value1,
               CAST(0 AS BIGINT) AS d_value2
    """,
    # join_filters.q final statement under HIVE-0.8 CommonJoinOperator
    # semantics (the runner's r13 emulation; the reference golden's own
    # answer): the filter-tag padding bug drops unmatched right rows
    # instead of null-padding them, so the statement collapses to the
    # matched pairs only — results/clientpositive/join_filters.q.out ends
    # with exactly (100,100,100,100) and (200,200,200,200). The r13-era
    # oracle asserted the STANDARD null-padded answer (6 rows) and had
    # diverged from both the engine and the golden (caught by the r14
    # full sweep). smb_input2 = in1.txt ∪ in2.txt (key int, value int).
    "qfile_join_filters": f"""
        WITH si AS (
          SELECT * FROM read_csv('{DATA_DIR}/in1.txt', delim='\x01',
            header=false, columns={{'key': 'INT', 'value': 'INT'}})
          UNION ALL
          SELECT * FROM read_csv('{DATA_DIR}/in2.txt', delim='\x01',
            header=false, columns={{'key': 'INT', 'value': 'INT'}})
        )
        SELECT a.key AS a_key, a.value AS a_value,
               b.key AS b_key, b.value AS b_value
        FROM si a JOIN si b
          ON a.value = b.value AND a.key > 40 AND a.value > 50
             AND a.key = a.value AND b.key > 40 AND b.value > 50
             AND b.key = b.value
    """,
    # rcfile_null_value.q final statement: dest1_rc contents = right-outer
    # join of two src range slices (string-vs-int ranges compare as
    # DOUBLE), null-padded left side, c1/c3 cast to INT by the dest schema
    "qfile_rcfile_null_value": f"""{_W}
        SELECT CAST(a.c1 AS INT) AS c1, a.c2 AS c2,
               CAST(b.c3 AS INT) AS c3, b.c4 AS c4
        FROM (SELECT key AS c1, value AS c2 FROM src
              WHERE CAST(key AS DOUBLE) > 10 AND CAST(key AS DOUBLE) < 20) a
        RIGHT OUTER JOIN
             (SELECT key AS c3, value AS c4 FROM src
              WHERE CAST(key AS DOUBLE) > 15 AND CAST(key AS DOUBLE) < 25) b
          ON a.c1 = b.c3
    """,
    # groupby3.q aggregates (sum/avg/avg-distinct/max/min/std/stddev_samp/
    # variance/var_samp of substr(value,5) as DOUBLE), rounded to 6
    # decimals on both sides; Hive std/variance are the POPULATION forms
    "qfile_groupby3_rounded": f"""{_W},
        v AS (SELECT substr(value, 5) AS s,
                     CAST(substr(value, 5) AS DOUBLE) AS x FROM src)
        SELECT round(sum(x), 6) AS c1,
               round(avg(x), 6) AS c2,
               round(avg(DISTINCT x), 6) AS c3,
               round(CAST(max(s) AS DOUBLE), 6) AS c4,
               round(CAST(min(s) AS DOUBLE), 6) AS c5,
               round(stddev_pop(x), 6) AS c6,
               round(stddev_samp(x), 6) AS c7,
               round(var_pop(x), 6) AS c8,
               round(var_samp(x), 6) AS c9
        FROM v
    """,
}

def _golden_rows_oracle(qout: str, cols: list[str]) -> str | None:
    """DuckDB oracle pinned VERBATIM to a reference golden transcript's
    result rows — the strongest oracle form: the driver hash-checks our
    engine against the reference's own 2011 output. None when the
    transcript file is absent (the key then has no oracle)."""
    import os

    path = os.path.join(
        "/root/reference/ql/src/test/results/clientpositive", qout)
    if not os.path.exists(path):
        return None
    rows = []
    with open(path, errors="replace") as fh:
        for ln in fh:
            ln = ln.rstrip("\n")
            if "\t" in ln and not ln.startswith(("PREHOOK", "POSTHOOK")):
                vals = ln.split("\t")
                rows.append("(" + ", ".join(
                    "NULL" if v == "NULL" else "'" + v.replace("'", "''")
                    + "'" for v in vals) + ")")
    return (f"SELECT * FROM (VALUES {', '.join(rows)}) "
            f"t({', '.join(cols)})")


_rand_pruner1 = _golden_rows_oracle("rand_partitionpruner1.q.out",
                                    ["key", "value"])
if _rand_pruner1:
    ORACLE["qfile_rand_pruner1"] = _rand_pruner1
ORACLE["qfile_symlink_text"] = "SELECT CAST(16 AS BIGINT) AS cnt"

# knob-variant files run the identical query as their base file, so they
# share the base oracle verbatim
ORACLE["qfile_groupby1_map"] = ORACLE["qfile_groupby1"]
ORACLE["qfile_groupby1_noskew"] = ORACLE["qfile_groupby1"]
ORACLE["qfile_groupby2_map"] = ORACLE["qfile_groupby2"]
ORACLE["qfile_groupby6_map"] = ORACLE["qfile_groupby6"]
ORACLE["qfile_groupby1_map_nomap"] = ORACLE["qfile_groupby1"]
ORACLE["qfile_groupby1_map_skew"] = ORACLE["qfile_groupby1"]
ORACLE["qfile_groupby2_map_skew"] = ORACLE["qfile_groupby2"]
ORACLE["qfile_groupby2_noskew"] = ORACLE["qfile_groupby2"]
ORACLE["qfile_groupby4_map_skew"] = ORACLE["qfile_groupby4_map"]
ORACLE["qfile_groupby4_noskew"] = ORACLE["qfile_groupby4"]
ORACLE["qfile_groupby5_map_skew"] = ORACLE["qfile_groupby5_map"]
ORACLE["qfile_groupby5_noskew"] = ORACLE["qfile_groupby5"]
ORACLE["qfile_groupby6_map_skew"] = ORACLE["qfile_groupby6"]
ORACLE["qfile_groupby6_noskew"] = ORACLE["qfile_groupby6"]
ORACLE["qfile_groupby7_map"] = ORACLE["qfile_groupby7"]
ORACLE["qfile_groupby7_map_skew"] = ORACLE["qfile_groupby7"]
ORACLE["qfile_groupby7_noskew"] = ORACLE["qfile_groupby7"]
ORACLE["qfile_groupby8_map"] = ORACLE["qfile_groupby8"]
ORACLE["qfile_groupby8_map_skew"] = ORACLE["qfile_groupby8"]
ORACLE["qfile_groupby8_noskew"] = ORACLE["qfile_groupby8"]


def _qfile_lock_capture(qname: str, spark, sf_dir):
    """Run a lock qfile and return the UNION of every SHOW LOCKS
    statement's rows (lockmgr.py replay): the multiset equals the
    reference golden's lock rows, so the oracle pins the full
    lock/unlock/show sequence, not just the (empty) final listing.
    The run-dependent LOCK_QUERYID/LOCK_TIME detail fields are masked to
    the same placeholder the golden differ uses."""
    from functools import reduce

    from pyspark.sql import functions as F

    ensure_runtime_compat(spark)
    cap: list = []
    run_qfile(spark, qname, capture=cap)
    union = reduce(lambda a, b: a.unionAll(b), cap)
    return union.select(
        F.regexp_replace(
            "tab_name", r"LOCK_QUERYID:\S+ LOCK_TIME:\d+",
            "LOCK_QUERYID:<id> LOCK_TIME:<t>").alias("tab_name"),
        "mode")


QUERIES["qfile_lock2"] = partial(_qfile_lock_capture, "lock2.q")
# expected multiset hand-derived from lock2.q's statement sequence and
# value-matched against the reference's own lock2.q.out transcript
# (golden_diff: match) — 13 SHOW LOCKS statements over the lifecycle of
# a table SHARED, another table SHARED, and a partition EXCLUSIVE lock
ORACLE["qfile_lock2"] = (
    "SELECT * FROM (VALUES "
    + "('default@tstsrc', 'SHARED'), "
    + ", ".join(["('default@tstsrcpart', 'SHARED')"] * 4) + ", "
    + ", ".join(
        ["('default@tstsrcpart@ds=2008-04-08/hr=11', 'EXCLUSIVE')"] * 7)
    + ", ('LOCK_QUERYID:<id> LOCK_TIME:<t> LOCK_MODE:EXPLICIT ', ' ')"
    + ") t(tab_name, mode)")
