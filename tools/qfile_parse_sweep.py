"""Sweep the reference's PARSER-level test corpora (SURVEY §5 item 3):
`ql/src/test/queries/positive` (44 compile-golden files — TestParse
diffs their ASTs/plans; we run them outright, which is strictly
stronger) and `ql/src/test/queries/negative` (31 compile-error files —
TestParseNegative asserts they fail semantic analysis).

The corpora INSERT into dest1-dest4 fixture tables TestParse pre-creates
(`QTestUtil.java:545-562`) — `make_dest_tables` replays that setup.

Usage: python tools/qfile_parse_sweep.py
Writes a JSON summary to stdout and a per-file CSV to
/tmp/qfile_parse_sweep.csv.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_nexr_spark.sources.qtest import make_dest_tables, run_qfile  # noqa: E402

BASE = "/root/reference/ql/src/test/queries"


def main() -> None:
    from hive_nexr_spark.session import get_session

    spark = get_session(shuffle_partitions=4)
    spark.conf.set("spark.sql.crossJoin.enabled", "true")
    make_dest_tables(spark)

    rows = []
    counts = {"pos_ok": 0, "pos_fail": 0, "neg_raises": 0,
              "neg_tolerated": 0}
    for f in sorted(os.listdir(f"{BASE}/negative")):
        if not f.endswith(".q"):
            continue
        try:
            run_qfile(spark, f"{BASE}/negative/{f}").take(3)
            counts["neg_tolerated"] += 1
            rows.append((f"negative/{f}", "tolerated", ""))
        except Exception as exc:
            counts["neg_raises"] += 1
            rows.append((f"negative/{f}", "raises",
                         str(exc).splitlines()[0][:160] if str(exc)
                         else ""))
    for f in sorted(os.listdir(f"{BASE}/positive")):
        if not f.endswith(".q"):
            continue
        try:
            run_qfile(spark, f"{BASE}/positive/{f}").take(3)
            counts["pos_ok"] += 1
            rows.append((f"positive/{f}", "ok", ""))
        except Exception as exc:
            counts["pos_fail"] += 1
            rows.append((f"positive/{f}", "fail",
                         str(exc).splitlines()[0][:160] if str(exc)
                         else ""))

    with open("/tmp/qfile_parse_sweep.csv", "w") as fh:
        for r in rows:
            fh.write("\t".join(r) + "\n")
    print(json.dumps({"counts": counts}, sort_keys=True))


if __name__ == "__main__":
    main()
