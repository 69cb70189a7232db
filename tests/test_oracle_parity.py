"""Spark-vs-DuckDB oracle parity at sf0.001 for a fast representative subset.

The full 70-query sweep at sf0.01 runs via tools/verify_local.py; this keeps
a cheap regression tripwire inside pytest.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from hive_nexr_spark.io import TABLES, table_path
from hive_nexr_spark.sources.qtest import QFILE_DIR

SUBSET = [
    "agg_q1",
    "join_multiway",
    "join_left_outer",
    "subquery_from",
    "union_all",
    "window_topk_per_group",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_token_counts",
    "events_window_batch",
    "qfile_groupby2",
    "qfile_join2",
    "qfile_input12",
    "qfile_sample2",
    "qfile_load_dyn_part1",
    "dedup_simhash",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _key(rows):
    return sorted(tuple(_norm(c) for c in r) for r in rows)


# qfile_* keys run the Hive 0.8 clientpositive corpus, which only a host
# with the source tree has
_needs_corpus = pytest.mark.skipif(
    not os.path.isdir(QFILE_DIR),
    reason=f"needs {QFILE_DIR} from the Hive 0.8 source tree")


@pytest.mark.parametrize("name", [
    pytest.param(n, marks=_needs_corpus) if n.startswith("qfile_") else n
    for n in SUBSET])
def test_matches_oracle(spark, sf_dir, duck, name):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    sdf = qs[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(oracles[name])
    dcols = [d[0].lower() for d in cur.description]
    drows = cur.fetchall()
    scols = [c.lower() for c in sdf.columns]
    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    if scols != dcols:
        idx = [dcols.index(c) for c in scols]
        drows = [tuple(r[i] for i in idx) for r in drows]
    assert len(srows) == len(drows), f"{name}: row count"
    assert _key(srows) == _key(drows), f"{name}: values differ"
