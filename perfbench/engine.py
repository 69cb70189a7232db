"""Engine set-up and tear-down for one benchmark run, plus the readers of
the JVM-side counters (Spark status store, codegen and Hive-catalog
metric registries).

Every reader fails loudly: a counter that cannot be read raises, so a
run never reports a silent zero as a measurement.
"""

from __future__ import annotations

import os
import time

# Status-store retention: the per-layer job/stage totals need every job of
# the timed phase, and the default (1,000) would evict the early ones.
_STATUS_CONF = {"spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000"}


def run_dirs(root: str) -> dict[str, str]:
    """Per-run directories, all under `root`; created here."""
    dirs = {k: os.path.join(root, k) for k in
            ("data", "derby", "warehouse", "local", "tmp", "tables",
             "scratch")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    return dirs


def isolate_env(dirs: dict[str, str]) -> None:
    """Point every place the engine writes to at this run's directories.
    Must run before pyspark or tempfile pick their defaults."""
    os.environ.update({
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DERBY": dirs["derby"],
        "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
        "SPARK_GRAFT_HIVE_METASTORE": "1",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        # every JVM the launcher starts: no /tmp/hsperfdata_<user> file,
        # temp files under this run
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
    })


def _session_conf(dirs: dict[str, str]) -> dict[str, str]:
    java = (f"-Dderby.system.home={dirs['derby']} "
            f"-Djava.io.tmpdir={dirs['tmp']} "
            f"-Dderby.stream.error.file={dirs['tmp']}/derby.log")
    return {**_STATUS_CONF,
            "spark.driver.extraJavaOptions": java,
            "spark.hadoop.hive.exec.scratchdir": dirs["tmp"] + "/hive",
            "spark.hadoop.hive.exec.local.scratchdir": dirs["tmp"] + "/hivel",
            "spark.hadoop.hive.downloaded.resources.dir":
                dirs["tmp"] + "/hiveres"}


class Engine:
    """One SparkSession with its Derby metastore, views and (optionally)
    the HiveQL server, set up from this run's directories."""

    def __init__(self, dirs: dict[str, str], serve: bool):
        self.dirs = dirs
        self.serve = serve
        self.spark = None
        self.server = None

    def setup(self) -> dict[str, float]:
        """Session → Derby metastore → views (→ server listening).
        Returns the seconds spent in each step."""
        t0 = time.perf_counter()
        from hive_nexr_spark import scratch
        from hive_nexr_spark.queries.base import ensure_views
        from hive_nexr_spark.session import get_session

        # process-scratch dirs (module-managed index scratch) land
        # under this run's root instead of a shared /tmp path
        scratch._ROOT = self.dirs["scratch"]
        t1 = time.perf_counter()
        self.spark = get_session(app_name="perfbench",
                                 extra_conf=_session_conf(self.dirs))
        t2 = time.perf_counter()
        self.spark.sql("SHOW DATABASES").collect()
        t3 = time.perf_counter()
        # io.register_views, kept in the package's per-session view cache
        # that the datapipe and streaming entry points read through
        ensure_views(self.spark, self.dirs["data"])
        t4 = time.perf_counter()
        out = {"import_s": t1 - t0, "session_s": t2 - t1,
               "metastore_s": t3 - t2, "views_s": t4 - t3}
        if self.serve:
            from hive_nexr_spark.server import HiveQLServer

            self.server = HiveQLServer(self.spark)
            self.server.serve_background()
            out["hiveql_init_s"] = time.perf_counter() - t4
        out["total_s"] = time.perf_counter() - t0
        return out

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        pid = SparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/comm") as fh:
            comm = fh.read().strip()
        if comm != "java":
            raise RuntimeError(f"gateway process {pid} is {comm!r}, not java")
        return pid

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.server is not None:
            self.server.shutdown()
            self.server = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# -- JVM counters --------------------------------------------------------

def codegen_counters(spark) -> tuple[int, float]:
    """(compiles so far, total compile ms so far) from Spark's
    CodegenMetrics histogram. The histogram keeps every sample while it
    holds at most its reservoir size (1,028); past that the total is
    estimated as count × mean."""
    h = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    count = int(h.getCount())
    snap = h.getSnapshot()
    if count <= int(snap.size()):
        total = float(sum(snap.getValues()))
    else:
        total = float(snap.getMean()) * count
    return count, total


def metastore_counters(spark) -> dict[str, int]:
    m = spark._jvm.org.apache.spark.metrics.source.HiveCatalogMetrics
    return {"client_calls": int(m.METRIC_HIVE_CLIENT_CALLS().getCount()),
            "files_discovered": int(m.METRIC_FILES_DISCOVERED().getCount())}


def status_jobs(spark) -> list[dict]:
    """Every job in the status store with its group, interval (epoch s)
    and stage totals. Raises if the store evicted a job."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = {}
    gw = spark.sparkContext._gateway
    sl = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                         None)
    for i in range(sl.size()):
        st = sl.apply(i)
        sid = int(st.stageId())
        if sid in stages and stages[sid]["attempt"] > int(st.attemptId()):
            continue
        stages[sid] = {
            "attempt": int(st.attemptId()),
            "tasks": int(st.numCompleteTasks()),
            "executor_run_s": st.executorRunTime() / 1e3,
            "executor_cpu_s": st.executorCpuTime() / 1e9,
            "gc_s": st.jvmGcTime() / 1e3,
            "shuffle_write_bytes": int(st.shuffleWriteBytes()),
            "input_bytes": int(st.inputBytes()),
            "spill_bytes": int(st.memoryBytesSpilled())
            + int(st.diskBytesSpilled()),
            "ran": str(st.status()) != "SKIPPED",
        }
    jl = store.jobsList(None)
    jobs = []
    for i in range(jl.size()):
        j = jl.apply(i)
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isEmpty() or done.isEmpty():
            raise RuntimeError(f"job {j.jobId()} has no complete interval")
        grp = j.jobGroup()
        sids = [int(j.stageIds().apply(k)) for k in range(j.stageIds().size())]
        jobs.append({"id": int(j.jobId()),
                     "group": grp.get() if grp.isDefined() else None,
                     "start": sub.get().getTime() / 1e3,
                     "end": done.get().getTime() / 1e3,
                     "stages": [stages[s] for s in sids
                                if s in stages and stages[s]["ran"]]})
    ids = sorted(j["id"] for j in jobs)
    if ids and len(ids) != ids[-1] + 1:
        raise RuntimeError(f"status store holds {len(ids)} of "
                           f"{ids[-1] + 1} jobs: raise spark.ui.retainedJobs")
    return jobs


def job_totals(jobs: list[dict]) -> dict[str, float]:
    tot = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
           "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
           "input_bytes": 0, "spill_bytes": 0}
    for j in jobs:
        for st in j["stages"]:
            tot["stages"] += 1
            for k in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                      "shuffle_write_bytes", "input_bytes", "spill_bytes"):
                tot[k] += st[k]
    return tot
