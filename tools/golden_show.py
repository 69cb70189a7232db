"""Show the per-statement golden diff for ONE qfile: side-by-side canon
rows (ours vs golden) for each mismatched result statement.

Usage: python tools/golden_show.py <file.q> [max_rows_shown]
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_nexr_spark.sources.golden import (canon_df_row, canon_golden_row,
                                            float_col_indexes,
                                            golden_selects, parse_qout)
from hive_nexr_spark.sources.qtest import QFILE_DIR, run_qfile

GOLDEN_DIR = QFILE_DIR.replace("/queries/", "/results/")


def main() -> None:
    from hive_nexr_spark.session import get_session

    qf = sys.argv[1]
    max_show = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_session(shuffle_partitions=4)
    spark.conf.set("spark.sql.crossJoin.enabled", "true")
    captured: list = []
    run_qfile(spark, qf, capture=captured)
    sel = golden_selects(parse_qout(os.path.join(GOLDEN_DIR, qf + ".out")))
    print(f"{qf}: {len(sel)} golden selects, {len(captured)} captured")
    for i, ((q, rows), df) in enumerate(zip(sel, captured)):
        fc = float_col_indexes(df)
        ours = Counter(canon_df_row(r, fc) for r in df.collect())
        gold = Counter(canon_golden_row(ln, fc) for ln in rows)
        if ours == gold:
            print(f"  [{i}] OK ({sum(gold.values())} rows): {q[:90]}")
            continue
        print(f"  [{i}] MISMATCH: {q[:160]}")
        only_ours = list((ours - gold).elements())[:max_show]
        only_gold = list((gold - ours).elements())[:max_show]
        print(f"      ours={sum(ours.values())} golden={sum(gold.values())}")
        for r in only_ours:
            print(f"      OURS   {r}")
        for r in only_gold:
            print(f"      GOLDEN {r}")


if __name__ == "__main__":
    main()
