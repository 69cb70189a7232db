"""Run each workload on several seeds and report, per end-to-end metric,
the median and the interquartile range as a share of the median — the
spread rule BENCHMARK.json's bounds are checked against.

    python3 perfbench/steadiness.py --runs 10 [--workload serve_mixed]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    names = args.workload or [w["name"] for w in spec["workloads"]]
    for name in names:
        vals: dict[str, list[float]] = {}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.perf_counter()
            out = subprocess.run(
                ["python3", "perfbench/run.py", "--workload", name,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=900)
            if out.returncode != 0:
                print(out.stderr[-3000:], file=sys.stderr)
                return 1
            res = json.loads(out.stdout.strip().splitlines()[-1])
            print(f"{name} seed {seed} ({time.perf_counter() - t0:.0f}s) "
                  f"correct={res['correct']} failed={res['failed']}/"
                  f"{res['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}"
                      for k, v in res["metrics"].items()), flush=True)
            for k, v in res["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
        if args.runs < 4:
            continue
        for k, v in vals.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(k)
            flag = "" if bound is None else (
                " ok" if spread < bound / 3 else
                " WITHIN-BOUND" if spread <= bound else " OVER")
            print(f"  {name} {k}: median {med:.4g} iqr/median {spread:.3f}"
                  + ("" if bound is None else f" bound {bound}") + flag,
                  flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
