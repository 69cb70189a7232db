"""The benchmark's own tests: seeded operation lists, the percentile,
interval and self-time arithmetic, the lakehouse model, and one short
run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import common  # noqa: E402
import datagen  # noqa: E402
import lakehouse  # noqa: E402
import serve  # noqa: E402


# -- seeded inputs -------------------------------------------------------

def test_serve_ops_repeat_per_seed():
    assert serve.make_ops(7, 40) == serve.make_ops(7, 40)
    assert serve.make_ops(7, 40) != serve.make_ops(8, 40)


def test_lakehouse_ops_repeat_per_seed():
    assert lakehouse.make_ops(7, 2) == lakehouse.make_ops(7, 2)
    assert lakehouse.make_ops(7, 2) != lakehouse.make_ops(8, 2)


def test_serve_shares():
    for ops in serve.make_ops(3, 50):
        kinds = [op["kind"] for op in ops]
        n_w = round(50 * serve.WRITE_SHARE)
        assert len(ops) == 50
        assert kinds.count("write") == n_w
        assert kinds.count("readback") == n_w
        reads = [op for op in ops if op["kind"] == "read"]
        assert sum(op["fresh"] for op in reads) == (50 - 2 * n_w) // 2
        assert reads[0]["fresh"]
        # every write is followed by the read-back of its partition
        for i, op in enumerate(ops):
            if op["kind"] == "write":
                assert ops[i + 1]["kind"] == "readback"
                assert ops[i + 1]["path"] == op["path"]
        # a repeat names a statement the same client sent earlier
        sent: set[str] = set()
        for op in ops:
            if op["kind"] == "read" and not op["fresh"]:
                assert op["sql"] in sent
            sent.add(op["sql"])


def test_serve_fresh_statements_are_new():
    lists = serve.make_ops(5, 60)
    fresh = [op["sql"] for ops in lists for op in ops
             if op["kind"] == "read" and op["fresh"]]
    warm = {q for q, _ in serve.warmup_reads(5)}
    assert len(fresh) == len(set(fresh))
    assert not warm & set(fresh)


def test_lakehouse_versions_are_consistent():
    ops = lakehouse.make_ops(11, 3)
    version = 0
    for op in ops:
        if op["kind"] in ("append", "delete", "upsert", "compact",
                          "compact_partition"):
            version += 1
        elif op["kind"] in ("read", "time_travel"):
            assert 1 <= op["version"] <= version
        elif op["kind"] == "changes":
            assert op["from"] < op["to"] == version
    assert [op["kind"] for op in ops][-4:] == [
        "expire", "orphans", "read", "time_travel"]


@pytest.mark.parametrize("rounds", [1, 3])
def test_lakehouse_index_stream_and_datapipe_ops(rounds):
    for seed in range(1, 6):
        kinds = [op["kind"] for op in lakehouse.make_ops(seed, rounds)]
        assert kinds[:1] == list(lakehouse.BUILDS)
        # the IVF-PQ query sees the add and the delete before it
        assert [k for k in kinds if k.startswith("ivf_")][1:] == list(
            lakehouse.IVF_OPS)
        assert kinds.count("stream_ingest") == 1
        # the LSH ops work on the index the stream builds
        first_lsh = min(kinds.index(k) for k in lakehouse.LSH_OPS)
        assert kinds.index("stream_ingest") < first_lsh
        keys = [op["key"] for op in lakehouse.make_ops(seed, rounds)
                if op["kind"] == "datapipe"]
        assert sorted(keys) == sorted(lakehouse.DATAPIPE_KEYS)


def test_datagen_repeats_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    datagen.generate(str(a), 4, ["orders", "embeddings"])
    datagen.generate(str(b), 4, ["embeddings", "orders", "nation"])
    datagen.generate(str(c), 5, ["orders", "embeddings"])
    for t in ("orders.parquet", "embeddings.parquet"):
        assert (a / t).read_bytes() == (b / t).read_bytes()
        assert (a / t).read_bytes() != (c / t).read_bytes()


# -- arithmetic ----------------------------------------------------------

def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert common.percentile(vals, 50) == 50
    assert common.percentile(vals, 90) == 90
    assert common.percentile(vals, 100) == 100
    assert common.percentile([3.0], 90) == 3.0
    assert common.percentile([5, 1, 4, 2, 3], 90) == 5
    with pytest.raises(ValueError):
        common.percentile([], 50)


def test_union_and_clipping():
    assert common.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert common.union_length([]) == 0
    assert common.clipped([(0, 2), (4, 9)], 1, 5) == [(1, 2), (4, 5)]


def test_self_time_subtracts_covered_child_time():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},   # overlaps 2
        {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # runs past 1
        {"id": 5, "parent": 2, "start": 2.0, "end": 3.0},   # grandchild
    ]
    st = common.self_times(spans)
    assert st[1] == pytest.approx(10 - (5 + 1))
    assert st[2] == pytest.approx(3 - 1)
    assert st[5] == pytest.approx(1)


def test_tracer_nests_and_disables():
    tr = common.Tracer(True)
    with tr.span("outer", op="x"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert inner["parent"] == outer["id"] and inner["op"] == "x"
    off = common.Tracer(False)
    with off.span("nothing") as sp:
        assert sp is None
    assert off.spans == []


def test_rows_equal_tolerates_float_order_only():
    assert common.rows_equal([[1, 0.1 + 0.2]], [(1, 0.3)])
    assert not common.rows_equal([[1, 0.3]], [(1, 0.31)])
    assert not common.rows_equal([[1]], [(1,), (2,)])


def test_row_sets_equal_ignores_row_order():
    assert common.row_sets_equal([(2, "b"), (1, "a")], [(1, "a"), (2, "b")])
    assert common.row_sets_equal([(1, 0.1 + 0.2)], [(1, 0.3)])
    assert not common.row_sets_equal([(1, "a")], [(1, "a"), (1, "a")])


# -- lakehouse model -----------------------------------------------------

def test_table_model_changes_follow_sequenced_tombstones():
    m = lakehouse.TableModel()
    cents = {k: 100 + k for k in range(10)}
    m.apply({"kind": "append", "lo": 0, "hi": 5}, cents)           # v1
    m.apply({"kind": "append", "lo": 5, "hi": 10}, cents)          # v2
    m.apply({"kind": "delete", "keys": [1, 6]}, cents)             # v3
    m.apply({"kind": "upsert", "rows": [(2, 7), (99, 8)]}, cents)  # v4
    assert m.snaps[4] == {0: 100, 2: 7, 3: 103, 4: 104, 5: 105, 7: 107,
                          8: 108, 9: 109, 99: 8}
    ins, dele = m.changes(1, 4)
    # v2's key 6 was deleted inside the window; the upsert's own rows stay
    assert ins == {5: 105, 7: 107, 8: 108, 9: 109, 2: 7, 99: 8}
    assert dele == {1: 101, 2: 102}


# -- end to end ----------------------------------------------------------

@pytest.mark.parametrize("workload", ["serve_mixed", "lakehouse_ingest"])
@pytest.mark.parametrize("trace", [0, 1])
def test_short_run(workload, trace):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "4", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0, out.stderr[-4000:]
    names = [m["name"] for m in
             spec["per_layer" if trace else "end_to_end"]]
    assert list(res["metrics"]) == names
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_runs"))
