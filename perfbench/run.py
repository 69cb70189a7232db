"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 20 \\
        --trace 0

Each run is one fresh process with its own Derby home, warehouse,
SPARK_LOCAL_DIRS, temp dir and table/index scratch under
`.perfbench_runs/` in the checkout, all removed at exit. The seed makes
the input tables and the operation list. `--trace 0` prints the
end-to-end metrics, `--trace 1` the per-layer ones (and writes the spans
to the `--spans` file when given). The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

from lakehouse import DATAPIPE_KEYS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "wall_s": "s", "read_p50_ms": "ms",
              "read_p90_ms": "ms", "write_p50_ms": "ms", "write_amp": "B/B",
              "space_amp": "B/B", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "metastore.init_s": "s",
    "io.views_s": "s", "hiveql.init_s": "s",
    "hiveql.spark_path_calls": "count", "hiveql.local_path_calls": "count",
    "hiveql.rewritten_calls": "count",
    "hiveql.bucket_sample_rewrites": "count",
    "hiveql.sql_p50_ms": "ms", "server.overhead_p50_ms": "ms",
    "serve.repeat_p50_ms": "ms", "serve.fresh_p50_ms": "ms",
    "serve.shared_overwrite_failures": "count",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "metastore.client_calls": "count", "metastore.files_discovered": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B", "spark.spill_bytes": "B",
    "spark.driver_gap_s": "s",
    "sources.append_ms": "ms", "sources.delete_ms": "ms",
    "sources.upsert_ms": "ms", "sources.compact_ms": "ms",
    "sources.expire_ms": "ms", "sources.orphans_ms": "ms",
    "sources.read_ms": "ms", "sources.time_travel_ms": "ms",
    "sources.changes_ms": "ms", "sources.read_plan_ms": "ms",
    "sources.files_per_commit": "count", "sources.bytes_per_commit": "B",
    "sources.manifest_bytes": "B", "sources.dirs_per_read": "count",
    "lsh_index.add_ms": "ms",
    "lsh_index.delete_ms": "ms", "lsh_index.compact_ms": "ms",
    "lsh_index.query_ms": "ms",
    "ivf_pq.build_ms": "ms", "ivf_pq.add_ms": "ms", "ivf_pq.delete_ms": "ms",
    "ivf_pq.query_ms": "ms",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.addBatch_ms": "ms", "streaming.walCommit_ms": "ms",
    "streaming.queryPlanning_ms": "ms", "streaming.getBatch_ms": "ms",
    **{f"datapipe.{k}.{m}": u for k in DATAPIPE_KEYS
       for m, u in (("wall_s", "s"), ("tasks", "count"),
                    ("shuffle_write_bytes", "B"))},
    "trace.wall_s": "s", "trace.spans": "count",
}
# Layers a workload never enters read zero there by design; any other
# missing per-layer metric is a harness bug and fails the run.
NOT_RUN = {"serve_mixed": ("sources.", "lsh_index.", "ivf_pq.",
                           "streaming.", "datapipe."),
           "lakehouse_ingest": ("hiveql.", "server.", "serve.")}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(NOT_RUN))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", default=None,
                    help="file for the traced run's spans (JSON lines)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hive_nexr_spark")):
        print(f"no hive_nexr_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.append(ROOT)
    import engine

    runs = os.path.join(ROOT, ".perfbench_runs")
    run_root = os.path.join(
        runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    dirs = engine.run_dirs(run_root)
    engine.isolate_env(dirs)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, dirs)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass  # another run still owns a directory there
    print(json.dumps(result))
    return 0


def run(args, dirs: dict[str, str]) -> dict:
    import engine
    from common import Tracer, percentile, seconds_by_kind, vm_hwm_kb

    phases = [("start", time.perf_counter())]
    if args.workload == "serve_mixed":
        from serve import ServeWorkload as W
    else:
        from lakehouse import LakehouseWorkload as W
    subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"),
                    dirs["data"], str(args.seed), ",".join(W.tables)],
                   check=True, timeout=120)

    tracer = Tracer(bool(args.trace))
    eng = engine.Engine(dirs, serve=W.serve)
    try:
        phases.append(("datagen", time.perf_counter()))
        # from the engine package's first import to session, metastore
        # and views ready (and the server listening)
        setup = eng.setup()
        phases.append(("setup", time.perf_counter()))
        wl = W(eng, args.seed, args.seconds, tracer)
        wl.prepare()
        phases.append(("prepare", time.perf_counter()))
        spark = eng.spark
        if tracer.enabled:
            cg0 = engine.codegen_counters(spark)
            ms0 = engine.metastore_counters(spark)
        epoch = time.time() - time.perf_counter()
        t0 = time.perf_counter()
        wl.run()
        t1 = time.perf_counter()
        peak_mb = (vm_hwm_kb() + vm_hwm_kb(eng.jvm_pid())) / 1024.0
        if tracer.enabled:
            cg1 = engine.codegen_counters(spark)
            ms1 = engine.metastore_counters(spark)
            jobs = [j for j in engine.status_jobs(spark)
                    if j["start"] >= epoch + t0 - 0.01
                    and j["end"] <= epoch + t1 + 0.01]
        phases.append(("timed", time.perf_counter()))
        failures = wl.check(dirs["data"])
        amp = wl.amplification(dirs["data"], dirs["tmp"])
        phases.append(("check", time.perf_counter()))
    finally:
        eng.shutdown()
    phases.append(("shutdown", time.perf_counter()))
    print("# phases " + " ".join(
        f"{n}={t - p:.1f}s" for (_, p), (n, t) in zip(phases, phases[1:])),
        file=sys.stderr)

    by_kind = seconds_by_kind(wl.results)
    print("# seconds by operation kind (L: builds untimed): " + " ".join(
        f"{k}={v:.2f}" for k, v in sorted(by_kind.items())), file=sys.stderr)
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    known = wl.known_defects()
    for f in known:
        print(f"KNOWN-DEFECT {f}", file=sys.stderr)
    failed = len({f.split(":", 1)[0] for f in failures})
    lat = wl.latencies()
    if not tracer.enabled:
        vals = {"setup_s": setup["total_s"], "wall_s": wl.wall(),
                "read_p50_ms": median(lat["read"]),
                "read_p90_ms": percentile(lat["read"], 90),
                "write_p50_ms": median(lat["write"]),
                "write_amp": amp["write_amp"], "space_amp": amp["space_amp"],
                "peak_rss_mb": peak_mb}
        units = END_TO_END
        print(f"# {args.workload} seed {args.seed}: fail_ratio "
              f"{failed / wl.attempted():.4f} ({failed}/{wl.attempted()}), "
              f"{len(lat['read'])} reads, {len(lat['write'])} writes, "
              f"{len(known)} known-defect failures outside the timed phase")
    else:
        vals = {"session.start_s": setup["session_s"],
                "metastore.init_s": setup["metastore_s"],
                "io.views_s": setup["views_s"],
                "hiveql.init_s": setup.get("hiveql_init_s", 0.0),
                "codegen.compiles": cg1[0] - cg0[0],
                "codegen.compile_ms": cg1[1] - cg0[1],
                "metastore.client_calls": ms1["client_calls"]
                - ms0["client_calls"],
                "metastore.files_discovered": ms1["files_discovered"]
                - ms0["files_discovered"],
                "trace.wall_s": wl.wall()}
        vals.update(wl.layer_metrics(jobs))
        vals.update({f"spark.{k}": v
                     for k, v in engine.job_totals(jobs).items()})
        vals["spark.driver_gap_s"] = driver_gap(
            wl.handlers, jobs, epoch, sequential=not W.serve)
        vals["trace.spans"] = len(tracer.spans)
        if args.spans:
            tracer.write(args.spans)
        units = PER_LAYER
        for name in units:
            if name not in vals:
                if not name.startswith(NOT_RUN[args.workload]):
                    raise RuntimeError(f"per-layer metric {name} missing")
                vals[name] = 0.0
    return {"correct": not failures, "attempted": wl.attempted(),
            "failed": failed,
            "metrics": {k: {"value": vals[k], "unit": u}
                        for k, u in units.items()}}


def driver_gap(handlers, jobs, epoch: float, sequential: bool) -> float:
    """Σ over operations of (operation wall − union of its jobs'
    intervals). A job belongs to the operation whose job group it
    carries; with one operation at a time, a job under a foreign group
    belongs to the operation it ran inside."""
    from common import clipped, union_length

    by_group: dict[str, list] = {}
    foreign = []
    for j in jobs:
        iv = (j["start"] - epoch, j["end"] - epoch)
        if j["group"] and j["group"].startswith("pb-"):
            by_group.setdefault(j["group"], []).append(iv)
        else:
            foreign.append(iv)
    gap = 0.0
    for gid, s, e in handlers:
        ivs = by_group.get(gid, []) + (foreign if sequential else [])
        gap += (e - s) - union_length(clipped(ivs, s, e))
    return gap


if __name__ == "__main__":
    sys.exit(main())
