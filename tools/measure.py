"""Run, A/B or plan-capture declared keys with the bench's own measurement
(`hive_nexr_spark.measure.run_key`: tracked persists released, one job
group per run, noop-sink action) in ONE session at $SPARK_GRAFT_SF_DIR.

  python tools/measure.py run [-n N] KEY...
      N runs per key, keys in order. One JSON record per run (wall,
      driver gap, per-job walls and tasks, fingerprint, stream totals),
      then the min wall per key. `run K` in a fresh process is the cold
      per-key fingerprint; several keys reproduce sweep-order effects;
      the min over N runs is the steady-state wall for paired probes
      (BENCH_NOTES.md round-8 comparison rule).
  python tools/measure.py ab [-n N] CONF A B KEY...
      N interleaved runs per value (A B A B ...) per key; walls and task
      counts per value. CONF gets its previous value back at the end.
  python tools/measure.py plans TAG [KEY...]
      Run each key (default: bench.HEADLINE) and write its
      explain('formatted') to plans/r<round>/<key>_<TAG>.txt; the round
      is the bench sidecar's (SPARK_GRAFT_BENCH_ROUND, else the next
      driver round).
"""
from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from hive_nexr_spark import measure  # noqa: E402
from hive_nexr_spark.io import DEFAULT_SF_DIR  # noqa: E402

PLANS = os.path.join(ROOT, "plans")


def _run(spark, listener, args) -> None:
    for name in args.keys:
        walls = []
        for i in range(args.n):
            _, rec = measure.run_key(spark, name, DEFAULT_SF_DIR, listener)
            walls.append(rec["wall"])
            print(json.dumps({"key": name, "run": i, **rec}), flush=True)
        print(json.dumps({"key": name, "min_wall": min(walls)}), flush=True)


def _ab(spark, listener, args) -> None:
    prev = spark.conf.get(args.conf, None)
    try:
        for name in args.keys:
            walls = {args.a: [], args.b: []}
            tasks = {args.a: [], args.b: []}
            for _ in range(args.n):
                for val in (args.a, args.b):
                    spark.conf.set(args.conf, val)
                    _, rec = measure.run_key(spark, name, DEFAULT_SF_DIR,
                                             listener)
                    walls[val].append(rec["wall"])
                    tasks[val].append(rec["metrics"]["n_tasks"])
            for val in (args.a, args.b):
                print(f"AB {name} {args.conf}={val}: min={min(walls[val]):.2f}"
                      f" runs={walls[val]} tasks={tasks[val]}", flush=True)
    finally:
        if prev is None:
            spark.conf.unset(args.conf)
        else:
            spark.conf.set(args.conf, prev)


def _plans(spark, listener, args) -> None:
    import bench

    out_dir = os.path.join(PLANS, f"r{measure.round_no()}")
    os.makedirs(out_dir, exist_ok=True)
    formatted = (spark._jvm.org.apache.spark.sql.execution.ExplainMode
                 .fromString("formatted"))
    for name in args.keys or bench.HEADLINE:
        df, _ = measure.run_key(spark, name, DEFAULT_SF_DIR, listener)
        plan = df._jdf.queryExecution().explainString(formatted)
        with open(os.path.join(out_dir, f"{name}_{args.tag}.txt"), "w") as fh:
            fh.write(plan)
        print("captured", name, flush=True)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("run")
    p.add_argument("-n", type=int, default=1)
    p.add_argument("keys", nargs="+")
    p.set_defaults(fn=_run)
    p = sub.add_parser("ab")
    p.add_argument("-n", type=int, default=2)
    p.add_argument("conf")
    p.add_argument("a")
    p.add_argument("b")
    p.add_argument("keys", nargs="+")
    p.set_defaults(fn=_ab)
    p = sub.add_parser("plans")
    p.add_argument("tag")
    p.add_argument("keys", nargs="*")
    p.set_defaults(fn=_plans)
    args = ap.parse_args(argv)

    from hive_nexr_spark.session import get_session

    spark = get_session(app_name=f"measure-{args.cmd}")
    listener = measure.warm_up(spark, DEFAULT_SF_DIR)
    args.fn(spark, listener, args)


if __name__ == "__main__":
    main()
