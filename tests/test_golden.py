"""Unit tests for the golden-transcript parser/differ (sources/golden.py)
— pure Python, no SparkSession. The transcript grammar under test is the
reference harness's own (`ql/src/test/templates/TestCliDriver.vm` via
QTestUtil's golden diff); fixtures below are verbatim excerpts of real
`.q.out` shapes."""

import os

import pytest

from hive_nexr_spark.sources.golden import (
    canon_df_row, canon_golden_row, golden_selects, is_result_query,
    parse_qout, rows_equal)

REF_GOLDEN = "/root/reference/ql/src/test/results/clientpositive"
GROUPBY1_OUT = os.path.join(REF_GOLDEN, "groupby1.q.out")
needs_groupby1_out = pytest.mark.skipif(
    not os.path.exists(GROUPBY1_OUT),
    reason=f"needs {GROUPBY1_OUT} from the Hive 0.8 source tree")


def test_parse_qout_blocks(tmp_path):
    p = tmp_path / "x.q.out"
    p.write_text(
        "PREHOOK: query: CREATE TABLE t (a INT)\n"
        "PREHOOK: type: CREATETABLE\n"
        "POSTHOOK: query: CREATE TABLE t (a INT)\n"
        "POSTHOOK: type: CREATETABLE\n"
        "POSTHOOK: Output: default@t\n"
        "PREHOOK: query: SELECT a\n"
        "FROM t\n"
        "PREHOOK: type: QUERY\n"
        "PREHOOK: Input: default@t\n"
        "POSTHOOK: query: SELECT a\n"
        "FROM t\n"
        "POSTHOOK: type: QUERY\n"
        "POSTHOOK: Lineage: t.a SIMPLE []\n"
        "1\t2\n"
        "3\t4\n")
    entries = parse_qout(str(p))
    assert len(entries) == 2
    assert entries[0] == ("CREATE TABLE t (a INT)", [])
    # multi-line query text joins with spaces; rows exclude metadata lines
    assert entries[1] == ("SELECT a FROM t", ["1\t2", "3\t4"])
    sel = golden_selects(entries)
    assert sel == [("SELECT a FROM t", ["1\t2", "3\t4"])]


def test_is_result_query_classification():
    assert is_result_query("SELECT * FROM src")
    assert is_result_query("FROM src SELECT src.key")
    assert not is_result_query("FROM src INSERT OVERWRITE TABLE d SELECT 1")
    assert not is_result_query("EXPLAIN SELECT 1")
    assert not is_result_query("INSERT OVERWRITE DIRECTORY 'x' SELECT 1")
    assert not is_result_query("DESCRIBE src")
    assert not is_result_query("SHOW TABLES")


def test_numeric_canonicalization_java_vs_python():
    # Java Double.toString writes 200.0 / 1.0E8; values must compare
    # equal regardless of rendering
    assert canon_golden_row("200.0\t1.0E8") == ("200", "100000000")
    assert canon_df_row((200.0, 1e8)) == ("200", "100000000")
    assert canon_golden_row("0.8333333333333334") == \
        canon_df_row((0.8333333333333334,))
    # strings stay verbatim, NULL maps to None
    assert canon_golden_row("val_86\tNULL") == ("val_86", "NULL")
    assert canon_df_row(("val_86", None)) == ("val_86", "NULL")
    assert canon_df_row((True, False)) == ("true", "false")


def test_rows_equal_is_order_insensitive():
    assert rows_equal([(1, "a"), (2, "b")], ["2\tb", "1\ta"])
    assert not rows_equal([(1, "a")], ["1\ta", "1\ta"])  # multiset


@needs_groupby1_out
def test_real_golden_groupby1():
    # the reference's own groupby1.q.out: one result query, 309 groups
    entries = parse_qout(GROUPBY1_OUT)
    sel = golden_selects(entries)
    assert len(sel) == 1
    q, rows = sel[0]
    assert q.startswith("SELECT dest_g1.*")
    assert len(rows) == 309
    assert rows[0] == "0\t0.0"


@needs_groupby1_out
def test_real_golden_explain_excluded():
    # groupby1.q.out's EXPLAIN block (MapReduce plan text) must not
    # surface as a result query
    entries = parse_qout(GROUPBY1_OUT)
    assert not any(q.lower().startswith("explain")
                   for q, _ in golden_selects(entries))


def test_stale_transcript_tolerance_is_exact():
    """The stale-transcript allowlist must absorb ONLY the pinned diff:
    the exact escape1 residual passes, any other divergence in the same
    file still fails. (udf_get_json_object.q.out left this list in r9 —
    the transcript was never stale; the engine now emulates UDFJson's
    numeric-index quirk bit-for-bit instead.)"""
    from hive_nexr_spark.sources.golden import (STALE_TRANSCRIPT_TOLERANCES,
                                                _stale_tolerated)

    assert "udf_get_json_object.q.out" not in STALE_TRANSCRIPT_TOLERANCES

    esc = STALE_TRANSCRIPT_TOLERANCES["escape1.q.out"]
    ours = [("1", "1", "\t"), ("1", "1", "^"), ("1", "1", "a")]
    theirs = ["1\t1\t\t", "1\t1\ta"]
    assert _stale_tolerated(esc, 1, ours, theirs, None)
    # an extra unexpected row must NOT be absorbed
    assert not _stale_tolerated(esc, 1, ours + [("9", "9", "z")],
                                theirs, None)
    # wrong select index must NOT be absorbed
    assert not _stale_tolerated(esc, 0, ours, theirs, None)


def test_hive_get_json_object_quirk_parity():
    """UDFJson.java:190-225 numeric-index-after-[*] quirk, emulated
    bit-for-bit by _py_hive_get_json_object (ADVICE r9 high finding)."""
    from hive_nexr_spark.functions.hive_compat import (
        _py_hive_get_json_object as g)

    doc = ('{"store":{"basket":[[1,2,{"b":"y"}],[3,4],[5,6]],'
           '"book":[{"category":"ref"}]},"owner":"amy"}')
    # the bug: [*][0] indexes only the FIRST sub-array → scalar 1
    assert g(doc, "$.store.basket[*][0]") == "1"
    # standard paths unaffected
    assert g(doc, "$.store.basket[0][1]") == "2"
    assert g(doc, "$.owner") == "amy"
    assert g(doc, "$.store.basket[*]") == '[[1,2,{"b":"y"}],[3,4],[5,6]]'
    assert g(doc, "$.store.basket[0][*]") == '[1,2,{"b":"y"}]'
    # [*][*] flattens fully (assignment after the loop — no quirk)
    assert g(doc, "$.store.basket[*][*]") == '[1,2,{"b":"y"},3,4,5,6]'
    # out-of-range numeric subscript → JSONException → null
    assert g(doc, "$.store.book[10]") is None
    # missing key / unsupported recursive descent → null
    assert g(doc, "$.non_exist_key") is None
    assert g(doc, "$..no_recursive") is None
