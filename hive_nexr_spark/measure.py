"""The one measurement path of `bench.py` and `tools/measure.py`.

`warm_up` absorbs one-time costs and registers the stream listener;
`run_key` times one declared key under its own job group with the
noop-sink action and reads the key's jobs and plan fingerprint from the
same AppStatusStore the Spark UI uses. Wall time drifts with the host;
the fingerprint counters only move when the plan (or data) changes, so a
real regression stays visible inside uniform host drift (BENCH_NOTES.md,
round-8 comparison rule).

No package module imports this one, so the engine code perfbench runs
does not depend on it.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from .datapipe._cache import release_tracked
from .queries import _next_round_no, collect_all
from .queries.base import ensure_views

FINGERPRINT = ("shuffle_write_bytes", "shuffle_read_bytes",
               "shuffle_write_records", "input_bytes", "input_records",
               "n_tasks", "n_stages")


class StreamTotals(StreamingQueryListener):
    """Micro-batch progress totals of every streaming query.

    Streaming jobs run under the stream's own runId job group, so the
    key's job group cannot see them; these totals give `events_stream_*`
    keys a fingerprint too (BENCH_NOTES.md round-9)."""

    def __init__(self) -> None:
        self.totals = {"stream_input_rows": 0, "stream_batches": 0,
                       "stream_state_rows": 0}

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.totals["stream_input_rows"] += int(p.numInputRows)
        self.totals["stream_batches"] += 1
        for so in p.stateOperators:
            self.totals["stream_state_rows"] += int(so.numRowsTotal)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def warm_up(spark: SparkSession, sf_dir: str) -> StreamTotals:
    """Absorb one-time costs before any key is timed: JVM/codegen warm-up
    and the testdata view registration (parquet footer reads), which
    would otherwise land on whichever key touches each table first.
    Returns the registered stream listener that `run_key` reads."""
    listener = StreamTotals()
    spark.streams.addListener(listener)
    spark.range(1).count()
    for df in ensure_views(spark, sf_dir).values():
        df.count()
    return listener


def round_no() -> int:
    """Round label of the bench sidecar and of plan captures:
    $SPARK_GRAFT_BENCH_ROUND when the recording chain knows it, else the
    next driver round. The inference depends on sweep ordering: a re-run
    after the round's CORRECTNESS file lands would mislabel it."""
    env = os.environ.get("SPARK_GRAFT_BENCH_ROUND")
    return int(env) if env else _next_round_no()


def _store(spark: SparkSession):
    """The AppStatusStore once the listener bus has delivered every event
    posted so far, so the key's last job and its stream progress are in."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore()


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        total += max(0.0, e - max(s, end))
        end = max(end, e)
    return total


def run_key(spark: SparkSession, name: str, sf_dir: str,
            listener: StreamTotals):
    """Run one declared key once and return `(df, record)`.

    Tracked persists of earlier keys are released first, outside the
    timed region: Spark's CacheManager would otherwise substitute them
    into any later key whose subtree matches (r14: bpe_train_merges ran
    871 tasks in a fresh process but 223 mid-sweep). The timed action is
    the noop sink, which computes every column of every row; `count()`
    lets Catalyst prune columns and under-times wide outputs (r14).

    The record holds the wall; the driver gap, which is the wall minus
    the union of the intervals of every job that ran inside it (with one
    key at a time, a job under a foreign group, such as a stream's
    micro-batch, belongs to the key it ran inside); each such job's name,
    wall, completed tasks and whether it carried the key's group; the
    stage-total fingerprint of the key's group; and the stream totals
    the key added. Any status-store error propagates."""
    fn = collect_all()[0][name]
    release_tracked()
    stream_before = dict(listener.totals)
    group = f"measure:{name}:{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, name)
    start = time.time()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    sc.setJobGroup("measure:idle", "idle")

    store = _store(spark)
    end = start + wall
    jl = store.jobsList(None)  # newest job first
    jobs, intervals, sids = [], [], set()
    for i in range(jl.size()):
        j = jl.apply(i)
        e = j.completionTime().get().getTime() / 1e3
        if e < start:
            break
        s = j.submissionTime().get().getTime() / 1e3
        g = j.jobGroup()
        own = g.isDefined() and g.get() == group
        jobs.append({"id": int(j.jobId()), "name": j.name(),
                     "wall": round(e - s, 3),
                     "tasks": int(j.numCompletedTasks()), "in_group": own})
        if min(e, end) > max(s, start):
            intervals.append((max(s, start), min(e, end)))
        if own:
            ids = j.stageIds()
            sids.update(int(ids.apply(k)) for k in range(ids.size()))
    fp = dict.fromkeys(FINGERPRINT, 0)
    for sid in sids:
        st = store.lastStageAttempt(sid)
        fp["shuffle_write_bytes"] += st.shuffleWriteBytes()
        fp["shuffle_read_bytes"] += st.shuffleReadBytes()
        fp["shuffle_write_records"] += st.shuffleWriteRecords()
        fp["input_bytes"] += st.inputBytes()
        fp["input_records"] += st.inputRecords()
        fp["n_tasks"] += st.numCompleteTasks()
        fp["n_stages"] += 1
    stream = {k: v - stream_before[k] for k, v in listener.totals.items()
              if v > stream_before[k]}
    return df, {"wall": round(wall, 3),
                "driver_gap": round(wall - _union(intervals), 3),
                "jobs": sorted(jobs, key=lambda j: j["id"]),
                "metrics": fp, "stream": stream}
