"""Class-data-sharing archive for the driver JVM.

Loading the classes of Spark's jars is most of a session's cold start. A
JDK dynamic AppCDS archive (JEP 350) recorded from one run lets every
later JVM map those classes instead of loading them. Nothing builds the
archive beforehand: the first process that finds none for this JDK and
jar set records it at exit, and later processes map it.

Files under ``_ROOT`` (outside any checkout, so checkouts share them):

* ``<key>.jsa`` -- the archive; ``key`` hashes the JDK release and the
  name, size and mtime of every jar under ``$SPARK_HOME/jars``, so a
  stale archive is never used.
* ``<key>.lock`` -- created ``O_EXCL`` by the one process recording,
  holding its pid; other processes start without an archive meanwhile.
* ``<key>.<pid>.part`` -- the dump in progress, renamed to ``<key>.jsa``
  only when the JVM exits 0.
* ``conf/`` -- an empty ``SPARK_CONF_DIR`` (see ``_conf_dir``).

A missing, locked or rejected archive gives the same answers plus one
warning. Deleting ``_ROOT`` forces a new recording.
"""

from __future__ import annotations

import atexit
import hashlib
import logging
import os
import shutil
import subprocess

_ROOT = os.path.join(os.path.expanduser("~"), ".cache", "hive_nexr_spark",
                     "cds")
# a dump took about 9 s and wrote ~210 MB on a 4-core host; a JVM still
# dumping after this long is killed and its dump discarded
_DUMP_TIMEOUT_S = 300
# VM output and unified logging go to stderr: by default the JVM prints
# them (a rejected archive's warning among them) on stdout, which
# server.py, the CLI and perfbench's final JSON line own. The [cds]
# warnings are the dump's per-class skip notes (signed jars, old class
# files), hundreds of lines that need no action.
_JVM_LOG = ("-XX:+DisplayVMOutputToStderr -Xlog:disable "
            "-Xlog:all=warning,cds=error:stderr")

log = logging.getLogger(__name__)


def _java_home() -> str:
    """The JDK that Spark's launcher runs: ``$JAVA_HOME``, else the
    ``java`` on ``PATH``."""
    home = os.environ.get("JAVA_HOME")
    if home:
        return home
    java = shutil.which("java")
    if java is None:
        raise FileNotFoundError("no JAVA_HOME and no java on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def archive_key(spark_home: str, java_home: str) -> str:
    """Hash of the JDK release file and the name, size and mtime of every
    jar under ``<spark_home>/jars``."""
    h = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as fh:
        h.update(fh.read())
    jars = os.path.join(spark_home, "jars")
    for dirpath, dirnames, filenames in os.walk(jars):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".jar"):
                st = os.stat(os.path.join(dirpath, name))
                rel = os.path.relpath(os.path.join(dirpath, name), jars)
                h.update(f"{rel}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:24]


def _conf_dir(spark_home: str) -> str | None:
    """The fixed empty directory to use as ``SPARK_CONF_DIR``, or None to
    start without an archive.

    Spark's launcher puts ``$SPARK_CONF_DIR`` first on the classpath, and
    the JVM refuses to dump a classpath holding a non-empty directory. A
    conf directory of ``*.template`` files configures nothing, so it is
    swapped for the empty one, which also keeps the classpath identical
    between recording and use. Real configuration keeps applying, and
    that case runs without an archive."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home,
                                                            "conf")
    try:
        names = os.listdir(conf)
    except FileNotFoundError:
        names = []
    if any(not n.endswith(".template") for n in names):
        return None
    return os.path.join(_ROOT, "conf")


def _dead_holder(lock: str) -> int | None:
    """The pid in ``lock`` if it names no live process (a recording that
    was killed), else None. An unreadable lock belongs to a recorder that
    is still starting."""
    try:
        with open(lock) as fh:
            pid = int(fh.read())
        os.kill(pid, 0)
    except ProcessLookupError:
        return pid
    except (OSError, ValueError):
        pass
    return None


class DriverArchive:
    """The archive decision for one driver-JVM launch: the Java options
    to start it with, and, when this process records, the wait for the
    JVM's dump at interpreter exit."""

    def __init__(self, spark_home: str):
        self.java_options = ""
        self.mapping = False
        self._conf = _conf_dir(spark_home)
        if self._conf is None:
            log.info("SPARK_CONF_DIR holds configuration files: "
                     "starting the driver JVM without a class-data archive")
            return
        try:
            self._base = os.path.join(
                _ROOT, archive_key(spark_home, _java_home()))
            os.makedirs(self._conf, exist_ok=True)
        except OSError as e:
            log.warning("no class-data archive for the driver JVM: %s", e)
            return
        self._lock = self._base + ".lock"
        self._part = f"{self._base}.{os.getpid()}.part"
        self._proc = None
        if os.path.exists(self._base + ".jsa"):
            self._use(f"-XX:SharedArchiveFile={self._base}.jsa -Xshare:on",
                      mapping=True)
        else:
            self._record("no class-data archive for this JDK and jar set")

    def _use(self, flags: str, mapping: bool) -> None:
        os.environ["SPARK_CONF_DIR"] = self._conf
        self.java_options = f"{flags} {_JVM_LOG}"
        self.mapping = mapping

    def _record(self, why: str) -> None:
        """Record the archive from this process unless another one is."""
        try:
            locked = self._take_lock()
        except OSError as e:
            locked, why = False, f"{why}; cannot take its lock ({e})"
        else:
            if not locked:
                why += "; another process is recording it"
        if not locked:
            log.warning("%s, so this JVM starts without one", why)
            self.java_options, self.mapping = "", False
            return
        log.warning("%s; recording %s.jsa from this process (its exit "
                    "waits ~10 s for the dump)", why, self._base)
        atexit.register(self._finish)
        self._use(f"-XX:ArchiveClassesAtExit={self._part}", mapping=False)

    def _take_lock(self) -> bool:
        """Create the lock. A lock whose holder is gone is removed with
        that holder's unfinished dump, once."""
        for _ in range(2):
            try:
                fd = os.open(self._lock,
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
            except FileExistsError:
                dead = _dead_holder(self._lock)
                if dead is None:
                    return False
                _remove(f"{self._base}.{dead}.part")
                _remove(self._lock)
                continue
            with os.fdopen(fd, "w") as fh:
                fh.write(str(os.getpid()))
            return True
        return False

    def rejected(self) -> None:
        """The JVM refused to start on the archive (``-Xshare:on`` makes
        any mismatch or corruption fatal): delete it and record a new
        one, logging one warning in all."""
        why = f"the JVM rejected the class-data archive {self._base}.jsa"
        try:
            _remove(self._base + ".jsa")
        except OSError as e:
            why += f" and it could not be deleted ({e})"
        self._record(why)

    def started(self, proc: subprocess.Popen) -> None:
        """The driver JVM is up; a recording one is waited for at exit."""
        self._proc = proc

    def _finish(self) -> None:
        """Stop the session, end the gateway JVM through its stdin and
        wait for it to write the dump; keep the dump only if it exited
        0. Without the wait the JVM would outlive this process. The lock
        goes in every case, also when no JVM started."""
        from pyspark import SparkContext

        try:
            if self._proc is None:
                return
            try:
                sc = SparkContext._active_spark_context
                if sc is not None:
                    sc.stop()
                gw = SparkContext._gateway
                if gw is not None and gw.proc is self._proc:
                    gw.shutdown()
                    SparkContext._gateway = None
                    SparkContext._jvm = None
            except Exception:
                log.exception("stopping the session before the "
                              "class-data dump")
            self._proc.stdin.close()  # the gateway server exits on EOF
            try:
                rc = self._proc.wait(timeout=_DUMP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                rc = self._proc.wait()
            if rc == 0 and os.path.exists(self._part):
                os.replace(self._part, self._base + ".jsa")
            else:
                log.warning("the driver JVM exited %d: class-data archive "
                            "not recorded", rc)
        finally:
            _remove(self._part)
            _remove(self._lock)


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass
