"""Negative-corpus parity (SURVEY §5 item 2): the reference asserts that
`clientnegative/*.q` files FAIL. A hand-picked must-raise set runs through
the same runner as the positive corpus — each must surface an error, not
silently succeed. (The full 285-file histogram incl. the documented
tolerated class comes from tools/qfile_negative_sweep.py.)"""

from __future__ import annotations

import os

import pytest

NEG_DIR = "/root/reference/ql/src/test/queries/clientnegative"

# error classes the engine must genuinely reject (no dialect tolerance
# applies): unresolved/ambiguous columns, parse errors, bad aggregate
# syntax, unknown UDF classes
MUST_RAISE = [
    "ambiguous_col.q",          # self-conflicting subquery alias
    "invalid_create_tbl2.q",    # plain syntax garbage
    "invalid_select_expression.q",
    "invalid_avg_syntax.q",     # avg(*)
    "create_unknown_genericudf.q",  # unloadable function class
    # IMPORT into an existing table with an incompatible schema
    # (`ImportSemanticAnalyzer.checkTable`; round-5 compat check)
    "exim_03_nonpart_noncompat_colschema.q",
    "exim_05_nonpart_noncompat_coltype.q",
    # round-6 real-semantics classes (one representative each)
    "lockneg1.q",               # EXCLUSIVE over held SHARED lock
    "protectmode_tbl_no_drop.q",  # NO_DROP blocks DROP TABLE
    "touch2.q",                 # TOUCH spec on unpartitioned table
    "duplicate_insert1.q",      # same multi-insert output twice
    "merge_negative_2.q",       # CONCATENATE needs a partition desc
    "create_view_failure7.q",   # all view outputs partitioned
    "drop_view_failure1.q",     # DROP VIEW on a base table
    "fs_default_name1.q",       # malformed fs.default.name
    "regex_col_1.q",            # uncompilable regex column ref
    "line_terminator.q",        # LINES TERMINATED BY ',' (non-newline)
    # round-7 statement-level validations (sources/negative_checks.py —
    # one representative per class)
    "invalid_t_create1.q",      # DATE column type (0.8 has none)
    "ctas.q",                   # CTAS cannot create EXTERNAL
    "subq_insert.q",            # INSERT inside a subquery
    "join2.q",                  # MAPJOIN hashes the preserved side
    "union.q",                  # top-level UNION needs a subquery
    "union3.q",                 # union branch column order mismatch
    "udtf_not_supported1.q",    # UDTF + second select expression
    "udtf_not_supported2.q",    # UDTF without AS clause
    "udtf_explode_not_supported1.q",  # UDTF with GROUP BY
    "split_sample_out_of_range.q",    # 105 PERCENT
    "groupby2_multi_distinct.q",      # multi-distinct with skewindata
    "uniquejoin3.q",            # UNIQUEJOIN mixed with JOIN
    "clustern3.q",              # CLUSTER BY column aliased away
    "default_partition_name.q",  # reserved partition substring
    "archive1.q",               # double ARCHIVE
    "archive2.q",               # UNARCHIVE of unarchived partition
    "archive4.q",               # ARCHIVE multiple partitions
    "dyn_part_merge.q",         # dyn-part merge needs CombineHIF
    "genericFileFormat.q",      # STORED AS foo
    "fileformat_void_output.q",  # non-Hive OutputFormat class
    "udf_case_type_wrong2.q",   # CASE THEN branch type mismatch
    "udf_when_type_wrong3.q",   # CASE ELSE branch type mismatch
    "create_or_replace_view1.q",  # partition cols frozen w/ partitions
    "nopart_load.q",            # LOAD without partition spec
    "load_wrong_noof_part.q",   # LOAD with underspecified spec
    "load_wrong_fileformat.q",  # text file into SEQUENCEFILE table
    "exim_06_nonpart_noncompat_storage.q",  # IMPORT storage mismatch
    "exim_10_nonpart_noncompat_bucketing.q",  # IMPORT bucketing mismatch
    "udf_reflect_neg.q",        # reflect() of a nonexistent class
    "union2.q",                 # union branch type incompatibility
    "alter_view_failure6.q",    # strict-mode view partition predicate
    "joinneg.q",                # invalid table alias in ON clause
    "external1.q",              # unknown LOCATION filesystem scheme
    "deletejar.q",              # serde jar deleted before CREATE
    "ddltime.q",                # HOLD_DDLTIME on nonexistent partition
    "dyn_part3.q",              # exceeds hive.exec.max.created.files
    "column_rename4.q",         # CHANGE ... AFTER nonexistent column
]


@pytest.mark.parametrize("qf", MUST_RAISE)
def test_negative_file_raises(spark, qf):
    from hive_nexr_spark.sources.qtest import run_qfile

    with pytest.raises(Exception):
        df = run_qfile(spark, f"{NEG_DIR}/{qf}")
        df.take(5)  # force execution for lazily-failing plans


PARSE_NEG_DIR = "/root/reference/ql/src/test/queries/negative"

# parser-level compile-error corpus (TestParseNegative) — one
# representative per round-7 class plus the analysis-error families
PARSE_MUST_RAISE = [
    "invalid_function_param2.q",  # substr(string, string) overload
    "invalid_list_index2.q",      # non-constant array index
    "invalid_map_index.q",        # int key on a string-keyed map
    "invalid_map_index2.q",       # non-constant map index
    "ambiguous_join_col.q",
    "unknown_function1.q",
    "wrong_distinct1.q",
]


@pytest.mark.parametrize("qf", PARSE_MUST_RAISE)
def test_parse_negative_file_raises(spark, qf):
    from hive_nexr_spark.sources.qtest import make_dest_tables, run_qfile

    make_dest_tables(spark)
    with pytest.raises(Exception):
        df = run_qfile(spark, f"{PARSE_NEG_DIR}/{qf}")
        df.take(5)


POSITIVE_SAMPLE3 = "/root/reference/ql/src/test/queries/positive/sample3.q"


@pytest.mark.skipif(
    not os.path.exists(POSITIVE_SAMPLE3),
    reason=f"needs {POSITIVE_SAMPLE3} from the Hive 0.8 source tree")
def test_parse_positive_sample3_runs(spark):
    """Post-clause TABLESAMPLE alias + multi-column ON hash
    (parser-corpus sample3.q)."""
    from hive_nexr_spark.sources.qtest import make_dest_tables, run_qfile

    make_dest_tables(spark)
    run_qfile(spark, POSITIVE_SAMPLE3)


def test_load_keys_only_partition_spec_parity(spark, tmp_path):
    """Keys-only LOAD spec `PARTITION (ds)` — TRACED reference behavior
    (no corpus file covers it; ADVICE r9): the spec parses as an
    all-dynamic DYNAMIC_PARTITION spec (BaseSemanticAnalyzer
    tableSpec:650-690), so strict dynamic-partition mode — the 0.8
    default — rejects it up front (ErrorMsg.DYNAMIC_PARTITION_STRICT_MODE);
    under nonstrict, analysis reaches Hive.getPartition whose
    Table.isValidSpec (metadata/Table.java:327-353) raises on the first
    null-valued partition key. The old guard extrapolated
    NEED_PARTITION_ERROR here, which the reference never emits for a
    non-empty spec (LoadSemanticAnalyzer.java:214-217)."""
    import pytest as _pytest

    from hive_nexr_spark.sources.qtest import run_qfile

    data = tmp_path / "kv1.txt"
    data.write_text("1\x012\n")

    q = tmp_path / "keys_only_strict.q"
    q.write_text(
        "create table keysonly_t (a string) partitioned by (ds string);\n"
        f"load data local inpath '{data}' into table keysonly_t "
        "partition (ds);\n")
    with _pytest.raises(Exception, match="Dynamic partition strict mode"):
        run_qfile(spark, str(q))

    q2 = tmp_path / "keys_only_nonstrict.q"
    q2.write_text(
        "set hive.exec.dynamic.partition.mode=nonstrict;\n"
        "create table keysonly_t2 (a string) partitioned by (ds string);\n"
        f"load data local inpath '{data}' into table keysonly_t2 "
        "partition (ds);\n")
    with _pytest.raises(Exception,
                        match=r"ds not found in table's partition spec"):
        run_qfile(spark, str(q2))

    spark.sql("DROP TABLE IF EXISTS keysonly_t")
    spark.sql("DROP TABLE IF EXISTS keysonly_t2")
