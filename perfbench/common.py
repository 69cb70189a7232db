"""Arithmetic and bookkeeping shared by the workloads: percentiles,
interval unions, in-memory spans with self time, disk bytes and the
RSS high-water mark. Nothing here touches Spark."""

from __future__ import annotations

import itertools
import json
import math
import os
import threading
import time
from contextlib import contextmanager


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample:
    the smallest value with at least q% of the sample at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> list[tuple[float, float]]:
    """The parts of `intervals` that fall inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


class Tracer:
    """Spans kept in memory and written out once, at the end of a run.

    A span has an id, a name, an operation id, a parent span id, start
    and end (perf_counter seconds) and the thread it ran on. When
    `enabled` is false, `span` records nothing and costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op: str | None = None,
             parent: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        outer = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "op": op if op is not None else (outer or {}).get("op"),
               "parent": parent if parent is not None
               else (outer or {}).get("id"),
               "thread": threading.get_ident(),
               "start": time.perf_counter(), "end": None}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, op: str | None, parent: int | None,
            start: float, end: float) -> int:
        """Record a span whose interval was measured elsewhere."""
        with self._lock:
            sid = next(self._ids)
            self.spans.append({"id": sid, "name": name, "op": op,
                               "parent": parent, "thread": None,
                               "start": start, "end": end})
        return sid

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                fh.write(json.dumps(rec) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part of its interval that its direct
    children cover (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        covered = union_length(clipped(kids.get(sp["id"], []),
                                       sp["start"], sp["end"]))
        out[sp["id"]] = (sp["end"] - sp["start"]) - covered
    return out


def run_beside(tasks: list) -> None:
    """Run each callable on a thread of its own, wait for all of them,
    then re-raise the first error any of them raised."""
    errors: list[BaseException] = []

    def guarded(task) -> None:
        try:
            task()
        except BaseException as exc:  # re-raised below
            errors.append(exc)

    threads = [threading.Thread(target=guarded, args=(t,)) for t in tasks]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def seconds_by_kind(results: list[dict]) -> dict[str, float]:
    """Summed wall time of recorded operations, per operation kind."""
    out: dict[str, float] = {}
    for r in results:
        k = r["op"]["kind"]
        out[k] = out.get(k, 0.0) + r["end"] - r["start"]
    return out


def dir_bytes(root: str) -> int:
    """Bytes of every regular file under `root` (0 when absent)."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def vm_hwm_kb(pid: int | str = "self") -> int:
    """VmHWM (peak resident set) of one process, in kB. Raises when the
    field is missing: a silent 0 would read as a memory win."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"/proc/{pid}/status has no VmHWM line")


def _norm(v):
    import datetime as dt
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return str(v)
    return v


def values_equal(a, b) -> bool:
    a, b = _norm(a), _norm(b)
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def rows_equal(got: list, want: list) -> bool:
    """Ordered row lists equal, floats to 1e-9 relative (summation order
    differs between engines)."""
    return len(got) == len(want) and all(
        len(g) == len(w) and all(values_equal(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


def row_sets_equal(got: list, want: list) -> bool:
    """Row lists equal in any order: both sorted by their text form, then
    compared as `rows_equal` does."""
    def key(row):
        return tuple(str(_norm(v)) for v in row)

    return rows_equal(sorted(got, key=key), sorted(want, key=key))
