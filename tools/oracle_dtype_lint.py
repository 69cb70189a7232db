"""Oracle/engine dtype-compatibility lint.

The driver compares Spark results (collect() -> Python values) against
DuckDB oracles materialized via ``.df()`` (pandas).  Two failure classes
slipped past value-level local verification in rounds 6-7:

* r6 ``qfile_udf_bitmap_or`` — a raw array column crashed / mis-rendered
  the driver's canonicalization (fix: stringify array columns on BOTH
  sides).
* r7 ``events_json_props_stats`` — DuckDB ``sum(INT)`` returns HUGEINT,
  which ``.df()`` materializes as float64 (``99111.0``) while Spark's
  ``sum(int)`` is bigint (``99111``) — identical values, different hash.

This lint retires the class: for every declared (query, oracle) pair it
materializes BOTH sides to pandas (``sdf.toPandas()`` vs duckdb
``.df()``) and compares each column's *kind*.  Materializing both sides
matters: NULL-bearing integer columns promote to float64 on BOTH sides
(symmetric — the driver accepts those, e.g. the outer-join queries), so
only genuinely asymmetric renderings flag:

* int-vs-float kind mismatches where one side stays integral (the
  HUGEINT case: duckdb sum(INT) -> float64 while Spark stays int64),
* complex (array/map/struct) result columns that were not
  pre-stringified,
* decimal values reaching the canon (cast to DOUBLE on both sides).

Run directly (``python tools/oracle_dtype_lint.py [sf_dir]``) or via
``tests/test_oracle_dtypes.py``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pandas_kind(dtype, series) -> str:
    """Collapse a pandas dtype (from duckdb .df()) to a comparison kind."""
    import numpy as np

    if np.issubdtype(dtype, np.integer):
        return "int"
    if np.issubdtype(dtype, np.floating):
        return "float"
    if np.issubdtype(dtype, np.bool_):
        return "bool"
    if np.issubdtype(dtype, np.datetime64):
        return "timestamp"
    if dtype == object:
        # peek at the first non-null value: lists/dicts/Decimal are the
        # driver-canon hazards; str/date/None are fine
        import datetime
        import decimal

        for v in series:
            if v is None:
                continue
            if isinstance(v, (list, dict, tuple)) or type(v).__module__ == "numpy" and getattr(v, "ndim", 0) > 0:
                return "complex"
            if isinstance(v, decimal.Decimal):
                return "decimal"
            if isinstance(v, datetime.datetime):
                return "timestamp"
            if isinstance(v, datetime.date):
                return "date"
            return "other"
        return "other"  # all-null object column
    return "other"


# kind pairs (spark_pandas, duck_pandas) that hash-render identically
_COMPATIBLE = {
    ("int", "int"),
    ("float", "float"),
    ("bool", "bool"),
    ("timestamp", "timestamp"),
    ("date", "date"),
    ("other", "other"),
}


def lint(sf_dir: str, only: set[str] | None = None):
    """Return (failures, checked) where failures is a list of message strings."""
    import duckdb

    import __spark_entry__ as entry_mod
    from hive_nexr_spark.io import TABLES, table_path
    from hive_nexr_spark.session import get_session

    spark = get_session(shuffle_partitions=4)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures: list[str] = []
    checked: list[str] = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue  # rows-only by design — no hash to protect
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 — report, keep linting
            failures.append(f"{name}: spark query raised {type(exc).__name__}: {exc}")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: duckdb oracle raised {type(exc).__name__}: {exc}")
            continue
        scols = {c.lower(): c for c in spdf.columns}
        dcols = {c.lower(): c for c in ddf.columns}
        if sorted(scols) != sorted(dcols):
            failures.append(
                f"{name}: column names differ spark={sorted(scols)} duck={sorted(dcols)}"
            )
            continue
        for col in scols:
            sser = spdf[scols[col]]
            dser = ddf[dcols[col]]
            if sser.isna().all() or dser.isna().all():
                continue  # all-NULL columns are kind-neutral in the canon
            sk = pandas_kind(sser.dtype, sser)
            dk = pandas_kind(dser.dtype, dser)
            if "complex" in (sk, dk):
                failures.append(
                    f"{name}.{col}: nested value reaches the driver canon "
                    f"(spark kind={sk}/{sser.dtype}, duck kind={dk}/{dser.dtype}) — "
                    "stringify array/map columns on BOTH sides"
                )
            elif "decimal" in (sk, dk):
                failures.append(
                    f"{name}.{col}: decimal reaches the driver canon "
                    f"(spark kind={sk}/{sser.dtype}, duck kind={dk}/{dser.dtype}) — "
                    "CAST both sides to DOUBLE"
                )
            elif (sk, dk) not in _COMPATIBLE:
                failures.append(
                    f"{name}.{col}: kind mismatch spark={sk} ({sser.dtype}) vs "
                    f"duck={dk} ({dser.dtype}) — values hash-render differently "
                    "(e.g. 99111 vs 99111.0); CAST the oracle (or engine) so kinds agree"
                )
        checked.append(name)
    return failures, checked


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:]) or None
    failures, checked = lint(sf_dir, only)
    print(f"checked {len(checked)} (query, oracle) pairs at {sf_dir}")
    for f in failures:
        print("FAIL", f)
    print(f"{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
