"""The driver JVM's class-data-sharing archive (``hive_nexr_spark/cds.py``).

The key, the conf-directory rule and the lock are checked without a JVM.
The record → use lifecycle runs ``get_session`` in subprocesses, because
a process launches its driver JVM once and the test session's may be up
already; each subprocess points ``cds._ROOT`` at a temporary directory.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from hive_nexr_spark import cds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter: argv = archive root, mode, spark home.
# Package warnings go to stderr with a marker, also those logged at exit.
_CHILD = r"""
import json, logging, os, sys
sys.path.insert(0, {root!r})
logging.basicConfig(format="CDSLOG %(levelname)s %(message)s")
from hive_nexr_spark import cds
cds._ROOT, mode, spark_home = sys.argv[1:4]
if mode == "decide":
    a = cds.DriverArchive(spark_home)
    print(json.dumps({{"options": a.java_options, "mapping": a.mapping}}))
    sys.exit(0)
if mode == "corrupt":
    key = cds.archive_key(spark_home, cds._java_home())
    os.makedirs(cds._ROOT, exist_ok=True)
    with open(os.path.join(cds._ROOT, key + ".jsa"), "wb") as fh:
        fh.write(os.urandom(1 << 16))
from pyspark import SparkContext
from hive_nexr_spark.session import get_session
spark = get_session(shuffle_partitions=1)
rows = [list(r) for r in spark.sql("SELECT 1").collect()]
jvm = spark._jvm
mx = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
print(json.dumps({{"rows": rows, "jvm_pid": SparkContext._gateway.proc.pid,
                  "shared": mx.getVMOption("SharedArchiveFile").getValue()}}))
"""


def _child(root, mode, spark_home=None, timeout=300):
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, "-c", _CHILD.format(root=ROOT), str(root), mode,
         spark_home or _spark_home()],
        capture_output=True, text=True, env=env, timeout=timeout)
    assert out.returncode == 0, out.stderr[-3000:]
    warnings = [ln for ln in out.stderr.splitlines()
                if ln.startswith("CDSLOG WARNING")]
    return out.stdout, warnings


def _spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def _fake_spark_home(tmp_path, conf_files=()):
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "a.jar").write_bytes(b"a" * 10)
    (home / "conf").mkdir()
    for name in conf_files:
        (home / "conf" / name).write_text("")
    return home


def test_key_changes_with_jar_size_or_mtime(tmp_path):
    home = _fake_spark_home(tmp_path)
    jdk = tmp_path / "jdk"
    jdk.mkdir()
    (jdk / "release").write_text('JAVA_RUNTIME_VERSION="17.0.20+8"\n')
    jar = home / "jars" / "a.jar"
    mtime = jar.stat().st_mtime_ns
    key = cds.archive_key(str(home), str(jdk))
    assert cds.archive_key(str(home), str(jdk)) == key

    jar.write_bytes(b"a" * 11)
    os.utime(jar, ns=(mtime, mtime))
    assert cds.archive_key(str(home), str(jdk)) != key  # size alone

    jar.write_bytes(b"a" * 10)
    os.utime(jar, ns=(mtime, mtime))
    assert cds.archive_key(str(home), str(jdk)) == key
    os.utime(jar, ns=(mtime, mtime + 10**9))
    assert cds.archive_key(str(home), str(jdk)) != key  # mtime alone

    os.utime(jar, ns=(mtime, mtime))
    (jdk / "release").write_text('JAVA_RUNTIME_VERSION="17.0.21+1"\n')
    assert cds.archive_key(str(home), str(jdk)) != key


@pytest.mark.parametrize("files, swapped", [
    ((), True),
    (("spark-defaults.conf.template", "log4j2.properties.template"), True),
    (("spark-defaults.conf.template", "spark-defaults.conf"), False),
    (("hive-site.xml",), False),
])
def test_conf_dir_swapped_only_when_templates_only(tmp_path, monkeypatch,
                                                    files, swapped):
    monkeypatch.setattr(cds, "_ROOT", str(tmp_path / "cds"))
    home = _fake_spark_home(tmp_path, files)
    conf = str(home / "conf")
    monkeypatch.setenv("SPARK_CONF_DIR", conf)
    # an archive under the current key, so the decision maps it and
    # takes no lock
    key = cds.archive_key(str(home), cds._java_home())
    os.makedirs(cds._ROOT)
    open(os.path.join(cds._ROOT, key + ".jsa"), "wb").close()

    archive = cds.DriverArchive(str(home))

    if swapped:
        assert os.environ["SPARK_CONF_DIR"] == os.path.join(cds._ROOT, "conf")
        assert os.listdir(os.environ["SPARK_CONF_DIR"]) == []
        assert archive.mapping
        assert "-XX:SharedArchiveFile=" in archive.java_options
    else:
        assert os.environ["SPARK_CONF_DIR"] == conf
        assert (archive.java_options, archive.mapping) == ("", False)


def test_lock_held_by_live_process_runs_plain(tmp_path):
    root = tmp_path / "cds"
    root.mkdir()
    home = _fake_spark_home(tmp_path)
    key = cds.archive_key(str(home), cds._java_home())
    lock = root / (key + ".lock")
    lock.write_text(str(os.getpid()))  # this test process is alive

    out, warnings = _child(root, "decide", str(home))

    assert json.loads(out) == {"options": "", "mapping": False}
    assert len(warnings) == 1 and "another process" in warnings[0]
    assert lock.read_text() == str(os.getpid())
    assert sorted(os.listdir(root)) == sorted(["conf", key + ".lock"])


def test_lock_of_dead_process_is_taken_over(tmp_path):
    root = tmp_path / "cds"
    root.mkdir()
    home = _fake_spark_home(tmp_path)
    key = cds.archive_key(str(home), cds._java_home())
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    (root / (key + ".lock")).write_text(str(dead.pid))
    (root / f"{key}.{dead.pid}.part").write_bytes(b"unfinished dump")

    out, warnings = _child(root, "decide", str(home))

    decided = json.loads(out)
    assert "-XX:ArchiveClassesAtExit=" in decided["options"]
    assert len(warnings) == 1 and "recording" in warnings[0]
    # the stale dump went at take-over, the new lock at the child's exit
    assert os.listdir(root) == ["conf"]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def test_corrupt_archive_is_rejected_then_recorded_then_used(tmp_path):
    root = tmp_path / "cds"
    key = cds.archive_key(_spark_home(), cds._java_home())
    try:
        # corrupt archive: same answer, one warning, and this process
        # records a fresh archive at exit
        out, warnings = _child(root, "corrupt")
        lines = out.splitlines()
        assert len(lines) == 1, out  # no JVM output on stdout
        first = json.loads(lines[0])
        assert first["rows"] == [[1]]
        assert first["shared"] == ""
        assert len(warnings) == 1 and "rejected" in warnings[0], warnings
        # no JVM outlives its process; the dump was renamed into place
        assert not _alive(first["jvm_pid"])
        assert not [n for n in os.listdir(root) if n.endswith((".part",
                                                                 ".lock"))]
        archive = root / (key + ".jsa")
        assert archive.stat().st_size > 1 << 20

        # the next process maps it, silently
        out, warnings = _child(root, "use")
        lines = out.splitlines()
        assert len(lines) == 1, out
        second = json.loads(lines[0])
        assert second["rows"] == [[1]]
        assert second["shared"] == str(archive)
        assert warnings == []
    finally:
        shutil.rmtree(root, ignore_errors=True)
