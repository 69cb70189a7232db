"""Driver-environment parity (round-7 regression guard).

The verification driver runs declared queries on a STOCK
``SparkSession.builder.getOrCreate()`` — no Hive catalog, no repo conf
pins, arbitrary cwd. Rounds 5-6 shipped queries that passed on the repo's
``get_session`` (Hive-enabled) but failed under the driver: Spark's script
transform serializes its INPUT with ``\\x01`` field delimiters on a
non-Hive session but ``\\t`` on a Hive one, so ``TRANSFORM ... USING
'/bin/cat'`` (input14.q) and ``USING 'tr \\t _'`` (insert_into1-6.q)
returned different bytes per session type. The fix pins an explicit input
``ROW FORMAT`` in the qfile rewrite; this test replays the affected
queries in a SUBPROCESS whose session is built exactly like the driver's
(stock builder, scratch cwd) so any session-dependent plan regression
fails here before it fails under the driver.

A subprocess is required: the in-process test session is Hive-enabled and
SparkSessions are process-global singletons.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from hive_nexr_spark.sources.qtest import QFILE_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the round-6 driver-red set: script-transform qfiles whose results
# depended on the session type before the input-row-format pin
DRIVER_RED_R6 = [
    "qfile_input14",
    "qfile_insert_into1",
    "qfile_insert_into4",
]

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import hashlib

import __spark_entry__ as entry_mod

qs = entry_mod.queries()
for name in {names!r}:
    df = qs[name](spark, "/root/testdata/sf0.001")
    rows = sorted(tuple(str(c) for c in r) for r in df.collect())
    digest = hashlib.md5(repr(rows).encode()).hexdigest()
    print("RESULT", name, len(rows), digest, flush=True)
"""


@pytest.mark.slow
@pytest.mark.skipif(not os.path.isdir(QFILE_DIR),
                    reason=f"the qfile_* keys read {QFILE_DIR} from the "
                           "Hive 0.8 source tree")
def test_driver_red_queries_match_under_vanilla_session(tmp_path, spark):
    """The r6 driver-red queries must return IDENTICAL rows on a stock
    non-Hive session (scratch cwd) and on the repo's pinned session."""
    # expected rows from the in-process (Hive-enabled, pinned) session
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    expected = {}
    for name in DRIVER_RED_R6:
        df = qs[name](spark, "/root/testdata/sf0.001")
        expected[name] = sorted(
            tuple(str(c) for c in r) for r in df.collect())

    script = _SCRIPT.format(repo=REPO, names=DRIVER_RED_R6)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,  # scratch cwd: no repo files, no stale warehouse
        capture_output=True, text=True, timeout=900,
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    import hashlib

    got = {}
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            _, name, nrows, h = line.split()
            got[name] = (int(nrows), h)
    for name in DRIVER_RED_R6:
        assert name in got, f"{name} missing from vanilla-session run"
        exp = (len(expected[name]),
               hashlib.md5(repr(expected[name]).encode()).hexdigest())
        assert got[name] == exp, (
            f"{name}: vanilla-session result diverges from pinned-session "
            f"result (rows/hash {got[name]} vs {exp})")


def _physical_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def test_default_driver_heap_fits_physical_memory(monkeypatch):
    """Without SPARK_GRAFT_DRIVER_MEM the driver heap is half of the
    host's physical memory, never more than 16g; the variable, when set,
    wins."""
    from hive_nexr_spark import session

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = session._driver_memory()
    assert mem.endswith("m"), mem
    heap = int(mem[:-1]) << 20
    assert 0 < heap <= min(_physical_bytes() // 2, 16 << 30), mem

    monkeypatch.setattr(session.os, "sysconf",
                        lambda name: {"SC_PAGE_SIZE": 4096,
                                      "SC_PHYS_PAGES": (256 << 30) // 4096,
                                      }[name])
    assert session._driver_memory() == f"{16 << 10}m"

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_memory() == "3g"


_UDF_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from hive_nexr_spark.queries.datapipe_q import QUERIES
from hive_nexr_spark.session import get_session

spark = get_session(shuffle_partitions=2)
df = QUERIES["multimodal_phash_dedup"](spark, {sf_dir!r})
print("ROWS", len(df.collect()), flush=True)
"""


def test_python_udf_key_runs_outside_the_repo(tmp_path, sf_dir):
    """A tool that finds the package through its own `sys.path`, started
    from a directory outside the repo with no PYTHONPATH, runs a key
    whose plan has a Python UDF: `get_session` hands the package's path
    to the JVM and so to its Python workers."""
    proc = subprocess.run(
        [sys.executable, "-c", _UDF_SCRIPT.format(repo=REPO, sf_dir=sf_dir)],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
        env={**os.environ, "PYTHONPATH": "", "SPARK_GRAFT_CPUS": "2",
             "SPARK_GRAFT_DRIVER_MEM": "1g",
             "SPARK_GRAFT_HIVE_METASTORE": "0"})
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert any(ln.startswith("ROWS ") and int(ln.split()[1]) > 0
               for ln in proc.stdout.splitlines()), proc.stdout
