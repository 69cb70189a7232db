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


def test_timed_action_is_noop_sink():
    """r14 methodology: the timed materialization must be the guide-§1.4
    noop sink (computes every column of every row), not count() (lets
    Catalyst prune columns and under-time wide-output keys)."""
    import inspect

    src = inspect.getsource(bench.main)
    for anchor in ("for name in HEADLINE", "sf = "):
        assert anchor in src, f"bench.main no longer contains {anchor!r}"
    loop = src[src.index("for name in HEADLINE"):src.index("sf = ")]
    assert 'format("noop")' in loop
    assert "df.count()" not in loop
