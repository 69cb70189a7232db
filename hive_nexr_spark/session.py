"""SparkSession factory pinned to reference-compatible semantics.

The reference engine (Hive 0.8: ``ql/src/java/org/apache/hadoop/hive/ql/Driver.java:111``)
evaluates expressions with non-ANSI semantics: bad casts and division by zero
return NULL instead of raising, and timestamps are timezone-naive. Spark 4
defaults to ANSI mode, so we explicitly pin the Hive-compatible behavior here.

Scale posture: these settings are chosen for a real cluster, then overridden
by env for local runs — AQE handles runtime coalescing / skew joins, shuffle
partitions default to the core count locally (driver sets SPARK_GRAFT_CPUS).
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from . import cds

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _driver_memory() -> str:
    """The driver heap: SPARK_GRAFT_DRIVER_MEM if set, else half of the
    host's physical memory capped at 16g. The heap fills towards its
    limit over a long run, so a limit above what the host has ends in
    the kernel killing the JVM instead of a garbage collection."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 << 10, phys // 2 >> 20)}m"


def _warehouse_dir() -> str:
    """Warehouse path: SPARK_GRAFT_WAREHOUSE if set (persistent, never
    auto-removed — cross-invocation table sharing, one writer at a time),
    else a per-PID /tmp dir that is removed at process exit so repeated
    runs don't accumulate."""
    env = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if env:
        return env
    path = f"/tmp/hive_nexr_spark_warehouse_{os.getpid()}"
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _derby_home() -> str:
    """Derby metastore home: SPARK_GRAFT_DERBY if set (persistent), else
    a per-PID /tmp dir removed at process exit (embedded Derby is
    single-process; see the builder comment)."""
    env = os.environ.get("SPARK_GRAFT_DERBY")
    if env:
        return env
    path = f"/tmp/hive_nexr_spark_derby_{os.getpid()}"
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _export_package_path() -> None:
    """Put this package's parent directory on the PYTHONPATH the driver
    JVM and its Python workers inherit. A caller that found the package
    through its own `sys.path` (a tool started outside the repo root)
    otherwise runs UDFs in workers that cannot import it."""
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
             if p]
    if parent not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([parent, *paths])


def get_session(
    app_name: str = "hive-nexr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the configured SparkSession.

    Semantics pins (required for oracle parity — SURVEY.md §2.9 casts,
    §7.3 timestamps):

    * ``spark.sql.ansi.enabled=false``  — cast('x' as int) → NULL, x/0 → NULL,
      matching Hive 0.8 (`exec/FunctionRegistry.java:356-374` cast family).
    * ``spark.sql.session.timeZone=UTC`` — Hive 0.8 timestamps are tz-naive;
      the DuckDB oracle reads the same parquet as UTC-naive.
    * ``spark.sql.icu.caseMappings.enabled=false`` — ``lower``/``upper`` use
      Java ``String`` case mapping, as Hive 0.8's UDFs do; the ICU mapper
      costs over a second of class loading on the first ``lower()`` in a JVM.

    Scale pins (100 TB posture):

    * AQE on, with partition coalescing and skew-join handling — replaces the
      reference's compile-time skew plans (`optimizer/physical/SkewJoinResolver.java:47`)
      and conditional map-join tasks (`optimizer/physical/CommonJoinResolver.java:55`).
    * Arrow transfer on for the few Pandas-UDF operators (the slow path).

    Cold start: when this call launches the driver JVM, the JVM maps its
    classes from a class-data-sharing archive, which the first process
    without one records at exit (``cds.DriverArchive``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- Hive-0.8 semantic parity ---
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long and
        # convert to micros timestamp in io.load_table (lossless: generator
        # emits whole-microsecond values)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- scale posture ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Hive-parity dynamic-partition overwrite: INSERT OVERWRITE with
        # a partial partition spec replaces only the produced partitions
        # (reference `Hive.loadDynamicPartitions`), not the whole table
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.adaptive.enabled", "true")
        # 52 headline queries x many large generated-code bodies thrash
        # the default 100-entry codegen cache mid-sweep (the unrolled
        # HOF training trees re-compile every time they fall out);
        # sized for the bench's working set, harmless elsewhere
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        # the warehouse defaults to a PER-PROCESS dir for the same reason
        # as the Derby home below: two concurrent runs (e.g. a sweep and a
        # verify) sharing one warehouse race on managed-table rewrites —
        # one process re-creates `src` while the other's scan still holds
        # the old file list. Set SPARK_GRAFT_WAREHOUSE to a fixed path
        # when cross-process table sharing is wanted (one writer at a
        # time). Per-PID defaults are removed at exit (_cleanup_at_exit);
        # an explicit SPARK_GRAFT_WAREHOUSE persists.
        .config("spark.sql.warehouse.dir", _warehouse_dir())
        # embedded Derby is single-process, so the metastore home defaults
        # to a PER-PROCESS dir: a CLI/server/bench running alongside a
        # sweep would otherwise die on the Derby db.lck. Set
        # SPARK_GRAFT_DERBY to a fixed path when cross-process DDL
        # persistence is wanted (and only one JVM runs at a time).
        .config("spark.driver.extraJavaOptions",
                "-Dderby.system.home=" + _derby_home())
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    # Hive-metastore-backed catalog ON BY DEFAULT (the reference's metastore
    # surface: `metastore/if/hive_metastore.thrift:226-416`; BASELINE.json
    # names "Spark SQL + Hive metastore integration" as the approach). DDL
    # persists across sessions in the embedded Derby metastore, and LOAD
    # DATA / Hive-serde DDL run natively. Opt OUT with
    # SPARK_GRAFT_HIVE_METASTORE=0 when two JVMs must share the warehouse
    # concurrently (embedded Derby is single-process).
    if os.environ.get("SPARK_GRAFT_HIVE_METASTORE", "1") != "0":
        builder = builder.enableHiveSupport()
    archive = None
    if SparkContext._gateway is None and \
            "PYSPARK_GATEWAY_PORT" not in os.environ:
        # this call launches the driver JVM: start it on the class-data
        # archive (or record one). defaultJavaOptions, because callers
        # such as perfbench replace extraJavaOptions; set only with an
        # archive flag, so a spark-defaults.conf value otherwise applies.
        archive = cds.DriverArchive(_find_spark_home())
        _export_package_path()
        if archive.java_options:
            builder = builder.config("spark.driver.defaultJavaOptions",
                                     archive.java_options)
    try:
        spark = builder.getOrCreate()
    except PySparkRuntimeError as e:
        if archive is None or not archive.mapping or \
                e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        archive.rejected()
        spark = builder.config("spark.driver.defaultJavaOptions",
                               archive.java_options).getOrCreate()
    if archive is not None:
        archive.started(SparkContext._gateway.proc)
    spark.sparkContext.setLogLevel("WARN")
    return spark
