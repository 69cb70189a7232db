"""Sweep the reference's whole clientpositive .q corpus through the
qtest runner and categorize outcomes.

Not a correctness gate (no oracle) — a breadth probe: how many of the
reference's own 810 test files execute end-to-end on this engine, and why
the rest don't. Writes a JSON summary to stdout and a per-file CSV to
/tmp/qfile_sweep.csv.

Usage: python tools/qfile_sweep.py [max_files] [name_filter]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_nexr_spark.sources.qtest import QFILE_DIR, run_qfile  # noqa: E402


def classify(exc_text: str) -> str:
    t = exc_text
    if "PARSE_SYNTAX_ERROR" in t or "ParseException" in t:
        return "parse_error"
    if "TABLE_OR_VIEW_NOT_FOUND" in t:
        m = re.search(r"The table or view `?(\w+)`? cannot be found", t)
        return f"missing_fixture:{m.group(1) if m else '?'}"
    if "UNRESOLVED_ROUTINE" in t or "Undefined function" in t:
        m = re.search(r"routine `?(\w+)`?", t)
        return f"missing_function:{m.group(1) if m else '?'}"
    if "no SELECT statement" in t:
        return "no_result_select"
    if "LOAD DATA" in t or "LOAD_DATA" in t:
        return "load_data"
    if "UNRESOLVED_COLUMN" in t:
        return "unresolved_column"
    if "NOT_SUPPORTED" in t or "unsupported" in t.lower():
        return "unsupported"
    return "other_error"


def main() -> None:
    from hive_nexr_spark.session import get_session

    max_files = int(sys.argv[1]) if len(sys.argv) > 1 else 10**9
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""

    spark = get_session(shuffle_partitions=4)
    spark.conf.set("spark.sql.crossJoin.enabled", "true")
    # start from a clean slate: stale table dirs from prior sweeps block
    # CREATE TABLE (the in-memory catalog forgot them, the dirs persist)
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
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
        t0 = time.time()
        try:
            df = run_qfile(spark, qf)
            n = len(df.take(10001))
            cat, detail = "ok", f"{n}{'+' if n > 10000 else ''} rows"
        except Exception:
            tb = traceback.format_exc()
            cat, detail = classify(tb), tb.splitlines()[-1][:200]
        counts[cat.split(":")[0]] = counts.get(cat.split(":")[0], 0) + 1
        rows.append((qf, cat, detail, round(time.time() - t0, 1)))
        if (i + 1) % 25 == 0:
            print(
                f"... {i+1}/{len(files)} "
                f"ok={counts.get('ok', 0)} [{time.time()-t_start:.0f}s]",
                file=sys.stderr,
            )

    with open("/tmp/qfile_sweep.csv", "w") as f:
        for qf, cat, detail, dt in rows:
            f.write(f"{qf}\t{cat}\t{detail}\t{dt}\n")
    print(json.dumps({"total": len(files), "counts": counts}, sort_keys=True))


if __name__ == "__main__":
    main()
