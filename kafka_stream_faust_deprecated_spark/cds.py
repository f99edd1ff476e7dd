"""Class-data sharing for the local driver JVM.

Most of a cold local session's start-up CPU is the JVM loading, parsing
and verifying Spark's classes. A JDK dynamic AppCDS archive holds those
classes already parsed and verified, and a JVM that maps it skips that
work. ``get_spark``'s local branch launches its JVM through ``prepare``
and ``start``:

* if a valid archive exists for the install, the JVM maps it
  (``-XX:SharedArchiveFile``);
* otherwise the JVM records one when it exits normally
  (``-XX:ArchiveClassesAtExit``, to ``<key>.tmp.<pid>``), and a later
  session publishes it with ``os.replace`` once that process is gone and
  a ``-Xshare:on`` probe of the file exits 0. Concurrent first sessions
  each record their own temp, so they cannot race.

The key covers the JDK, the Spark jar set and whether the heap size
lets the JVM compress object pointers (below 32 GiB), which decides the
base archive a dynamic one extends. The archive lives in
``${XDG_CACHE_HOME:-~/.cache}/spark-graft/``, not in a temporary
directory, which benchmarks and test runs delete after every run.
Publishing prunes the archives of every other JDK or jar set.

Archived classes are loaded as already-verified class data, so only
files this user wrote are used: the cache directory is mode 0700, and an
archive that another uid owns, or that group or others may write, is
never mapped. Every archive is probed before it is mapped, because the
JDK does not reject a damaged one cleanly: a truncated archive crashes
the JVM (SIGBUS) and a random file silently turns off the JDK's own
base archive too.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import stat
import subprocess
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

#: Environment that puts more than the Spark jars and the conf directory
#: on the driver's class path (as ``spark.driver.extraClassPath`` does);
#: CDS is skipped when any is set.
_CLASSPATH_ENV = ("SPARK_PREPEND_CLASSES", "SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
#: The CDS log goes to stderr: the JDK writes it to stdout by default,
#: which the driver process inherits and which carries its results.
#: Recording logs errors only, since it warns about every class it skips.
_MAP_LOG = "-Xlog:cds*=off -Xlog:cds*=warning:stderr"
_RECORD_LOG = "-Xlog:cds*=off -Xlog:cds*=error:stderr"
#: Bytes per unit of a JVM size (``-Xmx``).
_UNITS = {"": 1, "k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
#: The cache's empty directory, which the launcher puts on the class
#: path in place of a conf dir that holds only templates.
_EMPTY_CONF = "conf"
#: Seconds an exiting recorder waits for its JVM to write the archive.
_RECORD_WAIT_S = 300


@dataclass
class Launch:
    """One driver JVM's archive: it maps ``archive``, recorded on
    ``classpath``, or, when ``classpath`` is None, records ``archive``
    at exit."""

    cache: str
    archive: str
    classpath: str | None = None

    @property
    def java_options(self) -> str:
        if self.classpath is None:
            return f"-XX:ArchiveClassesAtExit={self.archive} {_RECORD_LOG}"
        return f"-XX:SharedArchiveFile={self.archive} -Xshare:auto {_MAP_LOG}"


def cache_dir() -> str | None:
    """The archive directory, created 0700; None if another uid owns it
    or it is not a directory."""
    root = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(root):
        root = os.path.join(os.path.expanduser("~"), ".cache")
    path = os.path.join(root, "spark-graft")
    try:
        os.makedirs(path, mode=0o700, exist_ok=True)
        st = os.lstat(path)
        if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid():
            return None
        if st.st_mode & 0o077:
            os.chmod(path, 0o700)
    except OSError:
        return None
    return path


def trusted(path: str) -> bool:
    """``path`` is a regular file of this uid that group and others
    cannot write."""
    try:
        st = os.lstat(path)
    except OSError:
        return False
    return stat.S_ISREG(st.st_mode) and st.st_uid == os.getuid() and not st.st_mode & 0o022


def probe(java: str, heap: str, archive: str, classpath: str) -> bool:
    """Whether a JVM with this heap and class path maps ``archive``:
    ``-Xshare:on`` makes it exit 1 on an archive it cannot use."""
    cmd = [java, f"-Xmx{heap}", "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
           "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash", "-Xlog:disable",
           "-cp", classpath, "-version"]
    try:
        return subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL, timeout=60).returncode == 0
    except (OSError, subprocess.SubprocessError):
        return False


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _read(path: str) -> str:
    with open(path) as fh:
        return fh.read()


def _remove(*paths: str) -> None:
    for p in paths:
        try:
            os.remove(p)
        except OSError:
            pass


def _classpath_file(archive: str) -> str:
    """The file holding the class path ``archive`` was recorded on."""
    return archive + ".cp"


def _recording_pid(name: str) -> int | None:
    """The recorder's pid of a temp archive's file name, else None."""
    stem, _, pid = name.rpartition(".tmp.")
    return int(pid) if stem and pid.isdigit() else None


def publish(cache: str, key: str, java: str, heap: str) -> None:
    """Publish a finished recording of ``key``: one whose process has
    ended and whose archive passes the probe, with the class path its
    JVM ran on. Other finished recordings of ``key`` are deleted, and once
    one is published, so is every file of another install (recordings
    still running are left alone)."""
    published = False
    for name in sorted(os.listdir(cache)):
        pid = _recording_pid(name)
        if not name.startswith(f"{key}.tmp.") or pid is None or _alive(pid):
            continue
        tmp = os.path.join(cache, name)
        cp = _classpath_file(tmp)
        if (not published and trusted(tmp) and trusted(cp)
                and probe(java, heap, tmp, _read(cp))):
            jsa = os.path.join(cache, f"{key}.jsa")
            try:
                os.replace(cp, _classpath_file(jsa))
                os.replace(tmp, jsa)
                published = True
            except OSError:  # a concurrent session published it first
                pass
        else:
            _remove(tmp, cp)
    if not published:
        return
    install = key.split("-")[0]
    for name in os.listdir(cache):
        pid = _recording_pid(name.removesuffix(".cp"))
        if (name.split("-")[0] == install or name == _EMPTY_CONF
                or (pid is not None and _alive(pid))):
            continue
        _remove(os.path.join(cache, name))


def select(cache: str, key: str, java: str, heap: str) -> Launch:
    """Map ``key``'s archive if it is trusted and passes the probe, else
    record a new one. An archive that fails the probe is deleted; one
    that is not trusted is left for a new recording to replace."""
    publish(cache, key, java, heap)
    jsa = os.path.join(cache, f"{key}.jsa")
    cp = _classpath_file(jsa)
    if trusted(jsa) and trusted(cp):
        classpath = _read(cp)
        if probe(java, heap, jsa, classpath):
            return Launch(cache, jsa, classpath)
        _remove(jsa, cp)
    return Launch(cache, os.path.join(cache, f"{key}.tmp.{os.getpid()}"))


def _java() -> str | None:
    """The java that Spark's launch scripts run."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def _key(java: str, jars: str, heap: str) -> str:
    """``<install>-<oops>``: a digest of the JDK (its binary and runtime
    image) and the jar set, and the JVM's object-pointer mode for
    ``-Xmx{heap}``, compressed below 32 GiB. A dynamic archive extends
    the JDK's base archive of its mode, so every heap of one mode shares
    an archive."""
    java = os.path.realpath(java)
    files = [java, os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules")]
    files += sorted(e.path for e in os.scandir(jars) if e.name.endswith(".jar"))
    h = hashlib.sha256()
    for f in files:
        st = os.stat(f)
        h.update(f"{f} {st.st_size} {st.st_mtime_ns}\n".encode())
    m = re.fullmatch(r"(\d+)([kmgt]?)", heap.lower())
    coops = m is not None and int(m[1]) * _UNITS[m[2]] < 32 * _UNITS["g"]
    return f"{h.hexdigest()[:20]}-{'coops' if coops else 'oops'}"


def prepare(heap: str, conf: dict[str, str]) -> Launch | None:
    """CDS for a local driver JVM about to launch with ``-Xmx{heap}``
    and session conf ``conf``, or None to launch it as is: when this
    process already has a JVM, when anything but the Spark jars and a
    conf directory of templates only would be on its class path, or when
    no trusted cache directory is at hand."""
    # A JVM already running, or one that spark-submit launched, took its
    # options already.
    if (SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ
            or any(k in os.environ for k in _CLASSPATH_ENV)
            or "spark.driver.extraClassPath" in conf):
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        names = []
    except OSError:
        return None
    # The JDK refuses to record with a non-empty directory on the class
    # path, and the launcher always puts the conf dir there; one holding
    # only templates is swapped for an empty one.
    if not all(n.endswith(".template") for n in names):
        return None
    java, cache = _java(), cache_dir()
    if java is None or cache is None or any(c.isspace() or c in "\"'\\" for c in cache):
        return None
    try:
        os.makedirs(_conf_dir(cache), mode=0o700, exist_ok=True)
        if os.listdir(_conf_dir(cache)):
            return None
        return select(cache, _key(java, os.path.join(spark_home, "jars"), heap), java, heap)
    except OSError:
        return None


def _conf_dir(cache: str) -> str:
    return os.path.join(cache, _EMPTY_CONF)


def start(launch: Launch | None, get_or_create):
    """``get_or_create()`` with ``SPARK_CONF_DIR`` pointing at the empty
    conf directory (``os.environ`` is restored after). A mapped archive
    recorded on another class path than the JVM's is deleted: the JVM
    did not use it. When the JVM records, its class path is saved for
    the probe, and this process waits at exit until the JVM has written
    the archive, so that a finished process means a finished recording."""
    if launch is None:
        return get_or_create()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = _conf_dir(launch.cache)
    try:
        spark = get_or_create()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    gateway = SparkContext._gateway
    classpath = gateway.jvm.System.getProperty("java.class.path")
    cp = _classpath_file(launch.archive)
    if launch.classpath is not None:
        if classpath != launch.classpath:
            _remove(launch.archive, cp)
        return spark
    try:
        fd = os.open(cp, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o600)
        with os.fdopen(fd, "w") as fh:
            fh.write(classpath)
    except OSError:
        return spark
    atexit.register(_await_record, gateway.proc)
    return spark


def _await_record(proc) -> None:
    """Stop the session if it is still running, close the JVM's stdin,
    which makes PySpark's gateway exit, and wait while the JVM writes the
    archive."""
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=_RECORD_WAIT_S)
    except subprocess.TimeoutExpired:
        pass
