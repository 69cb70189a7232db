"""Run a few named qfiles through run_qfile and print outcome + traceback
tail. Safe to run alongside a full sweep: point SPARK_GRAFT_WAREHOUSE at a
scratch dir first (the full sweep owns the default warehouse).

Usage: SPARK_GRAFT_WAREHOUSE=/tmp/hnw_probe python tools/qfile_probe.py f1.q f2.q ...
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_nexr_spark.sources.qtest import run_qfile  # noqa: E402


def main() -> None:
    from hive_nexr_spark.session import get_session

    spark = get_session(shuffle_partitions=4)
    spark.conf.set("spark.sql.crossJoin.enabled", "true")
    for qf in sys.argv[1:]:
        t0 = time.time()
        try:
            df = run_qfile(spark, qf)
            n = len(df.take(10001))
            print(f"OK    {qf}: {n} rows [{time.time()-t0:.1f}s]")
        except Exception:
            tb = traceback.format_exc().splitlines()
            print(f"FAIL  {qf} [{time.time()-t0:.1f}s]")
            for line in tb[-12:]:
                print("   ", line)


if __name__ == "__main__":
    main()
