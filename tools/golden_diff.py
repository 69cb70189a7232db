"""Diff the engine's SELECT results against the reference's own golden
`.q.out` transcripts, across the whole clientpositive corpus.

For each .q file that executes, capture every result statement's rows
(run_qfile's `capture` hook) and compare them — order-insensitively,
numerically canonicalized — against the golden file's result blocks
(`sources/golden.py`). This turns the reference's own 810 pinned test
transcripts into an automated value-level oracle, on top of the DuckDB
oracles the declared queries carry.

Statuses:
  match                  every SELECT's rows equal the golden rows
  no_selects             file has no result statements (pure DDL) — runs
                         clean with empty output on both sides
  value_mismatch         at least one SELECT's rows differ
  select_count_mismatch  a rewrite changed how many result statements
                         execute (e.g. statements this engine handles as
                         metadata no-ops) — order pairing impossible
  run_error              file failed to execute

Usage: python tools/golden_diff.py [max_files] [name_filter]
Writes JSON summary to stdout, per-file TSV to /tmp/golden_diff.tsv.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_nexr_spark.sources.qtest import QFILE_DIR, run_qfile  # noqa: E402
from hive_nexr_spark.sources.golden import diff_file  # noqa: E402

GOLDEN_DIR = os.path.join(
    os.path.dirname(QFILE_DIR.rstrip("/")).replace("queries", "results"),
    "clientpositive")
# QFILE_DIR = .../ql/src/test/queries/clientpositive
GOLDEN_DIR = QFILE_DIR.replace("/queries/", "/results/")


def main() -> None:
    from hive_nexr_spark.session import get_session

    max_files = int(sys.argv[1]) if len(sys.argv) > 1 else 10**9
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""

    spark = get_session(shuffle_partitions=4)
    spark.conf.set("spark.sql.crossJoin.enabled", "true")
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:")
    for d in os.listdir(warehouse) if os.path.isdir(warehouse) else []:
        if d.startswith(("qt_", "default__")) or d.endswith(".db"):
            shutil.rmtree(os.path.join(warehouse, d), ignore_errors=True)

    files = sorted(f for f in os.listdir(QFILE_DIR) if f.endswith(".q"))
    if name_filter:
        files = [f for f in files if name_filter in f]
    files = files[:max_files]

    counts: dict[str, int] = {}
    rows = []
    t_start = time.time()
    for i, qf in enumerate(files):
        golden = os.path.join(GOLDEN_DIR, qf + ".out")
        t0 = time.time()
        if not os.path.exists(golden):
            counts["no_golden"] = counts.get("no_golden", 0) + 1
            rows.append((qf, "no_golden", "", 0.0))
            continue
        captured: list = []
        try:
            run_qfile(spark, qf, capture=captured)
            res = diff_file(captured, golden)
            status = res.pop("status")
            detail = json.dumps(res, sort_keys=True)[:300]
        except Exception:
            tb = traceback.format_exc()
            status, detail = "run_error", tb.splitlines()[-1][:200]
        counts[status] = counts.get(status, 0) + 1
        rows.append((qf, status, detail, round(time.time() - t0, 1)))
        if (i + 1) % 25 == 0:
            print(
                f"... {i+1}/{len(files)} match={counts.get('match', 0)} "
                f"no_sel={counts.get('no_selects', 0)} "
                f"[{time.time()-t_start:.0f}s]",
                file=sys.stderr)

    with open("/tmp/golden_diff.tsv", "w") as f:
        for qf, status, detail, dt in rows:
            f.write(f"{qf}\t{status}\t{detail}\t{dt}\n")
    print(json.dumps({"total": len(files), "counts": counts},
                     sort_keys=True))


if __name__ == "__main__":
    main()
