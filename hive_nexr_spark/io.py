"""Testdata loaders / catalog registration.

Plays the role of the reference's table-directory + SerDe scan path
(`exec/MapOperator.java:62`, `serde2/lazy/LazySimpleSerDe.java:62`): here a
table is a parquet file (columnar like RCFile, `ql/io/RCFile.java:148`, but
with pushdown + column pruning for free) registered as a temp view.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Runtime-settable SQL confs the query surface depends on. Set here (not only
# in session.get_session) so the inventory runs on ANY SparkSession — e.g. the
# verification driver's stock `SparkSession.builder.getOrCreate()`:
#   * nanosAsLong: events.parquet stores TIMESTAMP(NANOS); without this the
#     read throws PARQUET_TYPE_ILLEGAL. _fix_nanos_ts converts the long back
#     to a microsecond timestamp.
#   * ansi.enabled=false: Hive-0.8 semantics (cast('x' as int) → NULL,
#     x/0 → NULL; `ql/exec/FunctionRegistry.java:356` cast family).
#   * session.timeZone=UTC: tz-naive timestamps, matching the DuckDB oracle.
_RUNTIME_COMPAT_CONF = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_runtime_compat(spark: SparkSession) -> None:
    """Pin runtime-settable Hive-parity confs on an arbitrary session."""
    for k, v in _RUNTIME_COMPAT_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # a conf may be marked static on some builds; reads below may
            # still succeed, so never let the pin itself sink a query
            pass


def local_frame(spark: SparkSession, data, schema) -> DataFrame:
    """The one way the engine turns driver-held values into a frame:
    `data` (a pyarrow Table, or a list of row tuples) under `schema` (a
    StructType or a DDL string) as a JVM `LocalRelation`, planned as
    `LocalTableScan`. A frame built from Python rows by
    `createDataFrame(rows, schema)` is a pickled `PythonRDD` leaf
    (`Scan ExistingRDD`): every scan of it starts Python-worker tasks,
    and it carries no size statistics. This leaf never leaves the JVM,
    has size statistics, and a command that only returns it runs no
    Spark job. Values are carried verbatim (Arrow doubles are exact).
    pyarrow is imported here, not at module top, to keep it off the
    session-start path."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not isinstance(data, pa.Table):
        arrow = to_arrow_schema(schema)
        data = pa.Table.from_arrays(
            [pa.array([row[i] for row in data], type=f.type)
             for i, f in enumerate(arrow)], schema=arrow)
    return spark.createDataFrame(data, schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_runtime_compat(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    return _fix_nanos_ts(df)


def _fix_nanos_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a session-TZ TIMESTAMP.

    The testdata generator has shipped ``ts`` two ways across rounds:
      * parquet TIMESTAMP(NANOS) — read as long under
        ``spark.sql.legacy.parquet.nanosAsLong``; converted JVM-side with
        ``timestamp_micros(ts div 1000)`` (lossless for whole-microsecond
        values);
      * parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) — read as
        TIMESTAMP_NTZ; cast to TIMESTAMP (session TZ is pinned UTC, so the
        wall-clock values are unchanged and watermarks/event-time ops work).
    The DuckDB oracle reads the same file natively with identical values.
    """
    from pyspark.sql import functions as F  # local import keeps module light
    from pyspark.sql.types import LongType, TimestampNTZType

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif field.name == "ts" and isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every testdata table and register it as a temp view.

    Views are re-registered per call, so one SparkSession can serve queries
    against multiple scale factors sequentially (the driver does sf0.001
    smoke then sf0.01 correctness).
    """
    ensure_runtime_compat(spark)
    dfs: dict[str, DataFrame] = {}
    errors: dict[str, Exception] = {}
    for name in TABLES:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        try:
            df = _fix_nanos_ts(spark.read.parquet(path))
            df.createOrReplaceTempView(name)
            dfs[name] = df
        except Exception as exc:  # fault-isolate: one unreadable table must
            errors[name] = exc    # not sink queries over unrelated tables
    if errors and not dfs:
        raise next(iter(errors.values()))
    return dfs


# (sf_dir, name) → parquet schema: static testdata metadata, memoized so
# repeated stream constructions skip the per-call footer-read job (each
# one is a small driver-side job; stream-heavy keys build several).
_STREAM_SCHEMA_CACHE: dict = {}


def read_table_stream(spark: SparkSession, sf_dir: str,
                      name: str) -> DataFrame:
    """Structured-Streaming file source over one testdata table: the
    directory is the basePath, `pathGlobFilter` narrows to the table's
    file, and the schema comes from a batch read of the same file. The
    shared reader behind the events/documents/embeddings streams (one
    convention, one place — r9 review finding). Timestamp normalization
    (`_fix_nanos_ts`) is the caller's concern — only events needs it."""
    ensure_runtime_compat(spark)
    ck = (os.path.abspath(sf_dir), name)
    raw_schema = _STREAM_SCHEMA_CACHE.get(ck)
    if raw_schema is None:
        raw_schema = spark.read.parquet(table_path(sf_dir, name)).schema
        _STREAM_SCHEMA_CACHE[ck] = raw_schema
    return (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(os.path.abspath(sf_dir))
    )
