"""bench.py output-framing contract.

Round-8 regression: embedding the per-query `metrics` fingerprint dict in
the single stdout summary line pushed it to ~9,280 chars; the driver keeps
only a 2,000-char tail of stdout, so BENCH_r08.json recorded parsed:null
and round 8 lost its authoritative wall-time record. The fix keeps the
FINAL stdout line the compact summary (metric/value/unit/queries/sf) and
emits the fingerprints on an earlier line + the BENCH_METRICS.json sidecar.
These tests pin that framing as the HEADLINE set grows.
"""

from __future__ import annotations

import json

import pytest

import bench


def _final_line_for(headline: list[str]) -> str:
    # Worst-case realistic rendering: every query at a 4-digit wall time
    # with 3 decimals (8 chars per value — wider than anything observed).
    # Must mirror bench.main()'s actual rendering, which uses compact
    # separators since round 13 (52 keys no longer fit the tail with the
    # default ", "/": " rendering).
    payload = {
        "metric": "headline_queries_total_wall",
        "value": 99999.999,
        "unit": "sec",
        "queries": {name: 9999.999 for name in headline},
        "sf": 0.1,
    }
    return json.dumps(payload, separators=(",", ":"))


def test_final_line_uses_compact_separators():
    """Pin that bench.main()'s final json.dumps really is compact — the
    worst-case length computed in _final_line_for is only valid if so."""
    import inspect

    src = inspect.getsource(bench.main)
    assert "json.dumps" in src, "bench.main no longer contains 'json.dumps'"
    final_dump = src[src.rindex("json.dumps"):]
    assert 'separators=(",", ":")' in final_dump


def test_final_line_fits_driver_tail():
    """The driver parses the last line from a 2,000-char stdout tail; keep
    headroom (<1,800) so a few more headline queries never break parsing."""
    line = _final_line_for(bench.HEADLINE)
    assert len(line) < 1800, (
        f"final bench line is {len(line)} chars with {len(bench.HEADLINE)} "
        "headline queries — trim HEADLINE or move data to the metrics line"
    )


def test_headline_names_unique_and_known():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    import __spark_entry__ as entry_mod

    missing = [n for n in bench.HEADLINE if n not in entry_mod.queries()]
    assert not missing, missing


def test_metrics_not_in_final_payload_source():
    """The LAST json.dumps in main() (the line the driver parses) must not
    carry the metrics dict — the exact round-8 regression. Pinned against
    the real source, not a reconstruction."""
    import inspect

    src = inspect.getsource(bench.main)
    for anchor in ("json.dumps", "metrics_payload"):
        assert anchor in src, f"bench.main no longer contains {anchor!r}"
    final_dump = src[src.rindex("json.dumps"):]
    assert '"metrics"' not in final_dump and "metrics_payload" not in final_dump
    # and the metrics line/sidecar must still exist earlier in main()
    assert "BENCH_METRICS.json" in src
    assert src.index("metrics_payload") < src.rindex("json.dumps")
    # r10 verdict #2: official-sf runs must ALSO write the round-stamped
    # committed sidecar so fingerprint history survives round-over-round
    assert "BENCH_METRICS_r{" in src or "BENCH_METRICS_r" in src


def test_round_metrics_sidecar_covers_headline():
    """The committed round-stamped fingerprint sidecar (written by bench.py
    at sf>=0.1, committed each round per the r10 verdict) must exist for
    the latest recorded round and carry a fingerprint for every HEADLINE
    key at the official bench sf. Skips cleanly before the first r11
    recording exists."""
    import glob
    import os
    import re

    root = os.path.dirname(os.path.abspath(bench.__file__))
    paths = glob.glob(os.path.join(root, "BENCH_METRICS_r*.json"))
    if not paths:
        import pytest

        pytest.skip("no round-stamped bench sidecar recorded yet")
    latest = max(
        paths,
        key=lambda p: int(
            re.search(r"_r(\d+)", os.path.basename(p)).group(1)),
    )
    with open(latest) as fh:
        payload = json.load(fh)
    assert payload.get("sf") == 0.1, latest
    missing = [n for n in bench.HEADLINE if n not in payload["metrics"]]
    assert not missing, (latest, missing)


class _FakeDF:
    """Stands in for a key's DataFrame: records the write chain run_key
    drives and refuses count(), the action the bench stopped timing."""

    def __init__(self, calls: list) -> None:
        self.calls = calls

    def count(self):
        raise AssertionError("count() is not the bench action")

    @property
    def write(self):
        return self

    def format(self, fmt):
        self.calls.append(("format", fmt))
        return self

    def mode(self, mode):
        self.calls.append(("mode", mode))
        return self

    def save(self):
        self.calls.append(("save",))


def test_timed_action_is_noop_sink(spark, sf_dir, monkeypatch):
    """r14 methodology: the timed materialization is the guide-§1.4 noop
    sink (computes every column of every row), never count() (lets
    Catalyst prune columns and under-time wide-output keys), and it runs
    after the previous key's tracked persists are released."""
    from hive_nexr_spark import measure

    calls: list = []
    monkeypatch.setattr(measure, "release_tracked",
                        lambda: calls.append(("release",)))
    monkeypatch.setattr(measure, "collect_all", lambda: (
        {"fake": lambda s, d: _FakeDF(calls)}, {}))
    _, rec = measure.run_key(spark, "fake", sf_dir, measure.StreamTotals())
    assert calls == [("release",), ("format", "noop"),
                     ("mode", "overwrite"), ("save",)]
    assert rec["metrics"] == dict.fromkeys(measure.FINGERPRINT, 0)


def test_status_store_read_error_raises(spark, sf_dir, monkeypatch):
    """A fingerprint the store cannot give is an error, never an empty or
    partial dict: here every stage of the key reads as evicted."""
    from py4j.protocol import Py4JJavaError

    from hive_nexr_spark import measure

    class _EvictedStages:
        def __init__(self, store) -> None:
            self.store = store

        def jobsList(self, statuses):  # noqa: N802
            return self.store.jobsList(statuses)

        def lastStageAttempt(self, sid):  # noqa: N802
            return self.store.lastStageAttempt(-1)

    real_store = measure._store
    monkeypatch.setattr(measure, "_store",
                        lambda s: _EvictedStages(real_store(s)))
    monkeypatch.setattr(measure, "collect_all", lambda: (
        {"one": lambda s, d: s.range(10).groupBy().count()}, {}))
    with pytest.raises(Py4JJavaError):
        measure.run_key(spark, "one", sf_dir, measure.StreamTotals())


def test_bench_and_every_tool_measure_through_run_key(
        spark, sf_dir, tmp_path, monkeypatch):
    """bench.main and each tools/measure.py subcommand time keys only
    through measure.run_key; `ab` puts the conf back; a bad round label
    fails before the first key runs."""
    import importlib.util
    import os

    from hive_nexr_spark import io, measure, session

    ran: list[str] = []

    def fake_run_key(spark_, name, sf, listener):
        ran.append(name)
        return spark_.range(1), {
            "wall": 0.5, "driver_gap": 0.1, "jobs": [],
            "metrics": dict.fromkeys(measure.FINGERPRINT, 1), "stream": {}}

    monkeypatch.setattr(measure, "run_key", fake_run_key)
    monkeypatch.setattr(measure, "warm_up",
                        lambda s, d: measure.StreamTotals())
    monkeypatch.setattr(session, "get_session", lambda **kw: spark)
    monkeypatch.setattr(io, "DEFAULT_SF_DIR", sf_dir)
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    bench.main()
    assert ran == bench.HEADLINE
    assert (tmp_path / "BENCH_METRICS.json").exists()

    monkeypatch.setattr(io, "DEFAULT_SF_DIR", "/root/testdata/sf0.1")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ROUND", "next")
    ran.clear()
    with pytest.raises(ValueError):
        bench.main()
    assert ran == []
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ROUND")

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "measure.py")
    spec = importlib.util.spec_from_file_location("measure_tool", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    monkeypatch.setattr(tool, "PLANS", str(tmp_path / "plans"))
    monkeypatch.setattr(tool, "DEFAULT_SF_DIR", sf_dir)
    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    for argv, expect in (
            (["run", "-n", "2", "agg_q1"], ["agg_q1"] * 2),
            (["ab", "-n", "1", conf, "3", "5", "agg_q1"], ["agg_q1"] * 2),
            (["plans", "t", "agg_q1"], ["agg_q1"])):
        ran.clear()
        tool.main(argv)
        assert ran == expect, argv
    assert spark.conf.get(conf) == before
    assert (tmp_path / "plans" / f"r{measure.round_no()}"
            / "agg_q1_t.txt").read_text().strip()
