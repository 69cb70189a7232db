"""Local replica of the driver's correctness gate.

Runs every declared query on Spark and its oracle on DuckDB at the given
scale factor, then compares: row count, column names, and order-insensitive
values (exact match, with a small float tolerance fallback reported
separately so near-misses are visible before the driver's hash check).

Usage: python tools/verify_local.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def rows_key(rows):
    return sorted(
        [tuple(str(norm_cell(c)) for c in r) for r in rows]
    )


def approx_equal(a, b):
    if len(a) != len(b):
        return False
    for ra, rb in zip(sorted(map(tuple, a), key=str), sorted(map(tuple, b), key=str)):
        if len(ra) != len(rb):
            return False
        for ca, cb in zip(ra, rb):
            if isinstance(ca, float) and isinstance(cb, float):
                if not math.isclose(ca, cb, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif str(ca) != str(cb):
                return False
    return True


def main():
    import os

    import duckdb

    from hive_nexr_spark.io import TABLES, table_path

    import __spark_entry__ as entry_mod

    if os.environ.get("VERIFY_PLAIN"):
        # replicate the driver: a stock SparkSession (ANSI on, no compat
        # confs) — the query surface must pin what it needs at runtime
        from pyspark.sql import SparkSession

        spark = (SparkSession.builder.master("local[8]")
                 .config("spark.sql.shuffle.partitions", "8")
                 .config("spark.ui.enabled", "false").getOrCreate())
    else:
        from hive_nexr_spark.session import get_session

        spark = get_session(shuffle_partitions=8)
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_DIR, t)}')"
        )

    results = {"pass": [], "approx": [], "fail": [], "error": [], "rows_only": []}
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            srows = [tuple(r) for r in sdf.collect()]
            scols = [c.lower() for c in sdf.columns]
        except Exception:
            print(f"ERROR  {name} (spark)\n{traceback.format_exc()}")
            results["error"].append(name)
            continue
        if name not in oracles:
            print(f"rows   {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            results["rows_only"].append(name)
            continue
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0].lower() for d in cur.description]
            drows = cur.fetchall()
        except Exception:
            print(f"ERROR  {name} (duckdb)\n{traceback.format_exc()}")
            results["error"].append(name)
            continue
        dt = time.time() - t0
        if scols != dcols:
            # driver sorts columns by name; order mismatch is fine, name set isn't
            if sorted(scols) != sorted(dcols):
                print(f"FAIL   {name}: columns {scols} vs {dcols}")
                results["fail"].append(name)
                continue
            # reorder duckdb rows to spark column order
            idx = [dcols.index(c) for c in scols]
            drows = [tuple(r[i] for i in idx) for r in drows]
        if len(srows) != len(drows):
            print(f"FAIL   {name}: rowcount {len(srows)} vs {len(drows)} [{dt:.1f}s]")
            results["fail"].append(name)
            continue
        if rows_key(srows) == rows_key(drows):
            print(f"PASS   {name}: {len(srows)} rows [{dt:.1f}s]")
            results["pass"].append(name)
        elif approx_equal(srows, drows):
            print(f"APPROX {name}: {len(srows)} rows (float-tolerance only!) [{dt:.1f}s]")
            for i, (a, b) in enumerate(zip(rows_key(srows), rows_key(drows))):
                if a != b:
                    print(f"   spark  {a}\n   duckdb {b}")
                    if i > 2:
                        break
            results["approx"].append(name)
        else:
            print(f"FAIL   {name}: values differ [{dt:.1f}s]")
            sk, dk = rows_key(srows), rows_key(drows)
            shown = 0
            for a, b in zip(sk, dk):
                if a != b:
                    print(f"   spark  {a}\n   duckdb {b}")
                    shown += 1
                    if shown >= 3:
                        break
            results["fail"].append(name)

    print("\n=== SUMMARY ===")
    for k, v in results.items():
        print(f"{k}: {len(v)}" + (f" {v}" if k in ("fail", "error", "approx") and v else ""))
    return 1 if results["fail"] or results["error"] else 0


if __name__ == "__main__":
    sys.exit(main())
