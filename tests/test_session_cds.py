"""The local driver JVM's class-data-sharing archive (``cds.py``).

Each session test runs ``get_spark`` in a fresh Python process with
``XDG_CACHE_HOME`` in ``tmp_path`` and launches at most two JVMs: a
fresh cache records the archive at the first session's exit and the
second session maps it; a stale or truncated archive neither breaks a
session nor reaches its stdout, and is replaced; ``os.environ`` and the
caller's ``spark.driver.extraJavaOptions`` survive ``get_spark``; a
cluster session gets no CDS flag. The refusal tests need no session: an
archive that another uid owns, or that group or others may write, is
never mapped.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

from kafka_stream_faust_deprecated_spark import cds
from kafka_stream_faust_deprecated_spark.session import _ENGINE_PARENT

HEAP = "1g"

#: Starts a session, runs a job, and prints one JSON line: the JVM's
#: input arguments and class path, the session conf, and the names of
#: the ``os.environ`` entries that changed.
SESSION = """
import json, os, sys
from kafka_stream_faust_deprecated_spark import get_spark
before = dict(os.environ)
spark = get_spark(app_name="cds-test", extra_conf=json.loads(sys.argv[1]))
assert spark.range(100).selectExpr("sum(id)").collect()[0][0] == 4950
jvm = spark.sparkContext._jvm
print(json.dumps({
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
                 .getInputArguments()),
    "classpath": jvm.System.getProperty("java.class.path"),
    "conf": dict(spark.sparkContext.getConf().getAll()),
    "environ_changed": sorted(k for k in before.keys() | os.environ.keys()
                              if before.get(k) != os.environ.get(k)),
}))
"""


def _session(tmp_path, extra_conf=None, **env):
    """Run SESSION in a new process; returns (its JSON line, stdout)."""
    child_env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "xdg"),
                     SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM=HEAP, **env)
    for k in ("MASTER", "SPARK_LOCAL_MASTER", "SPARK_CONF_DIR"):
        if k not in env:
            child_env.pop(k, None)
    # Files, not pipes: the JVM inherits them, and reading a pipe to its
    # end would wait for the JVM even when the Python process does not.
    out, err = tmp_path / "stdout.txt", tmp_path / "stderr.txt"
    with open(out, "w") as o, open(err, "w") as e:
        proc = subprocess.run(
            [sys.executable, "-c", SESSION, json.dumps(extra_conf or {})],
            cwd=_ENGINE_PARENT, env=child_env, stdout=o, stderr=e, timeout=600,
        )
    assert proc.returncode == 0, err.read_text()[-3000:]
    stdout = out.read_text()
    return json.loads(stdout.splitlines()[-1]), stdout


def _cache(tmp_path) -> str:
    return str(tmp_path / "xdg" / "spark-graft")


def _key() -> str:
    return cds._key(cds._java(), os.path.join(cds._find_spark_home(), "jars"), HEAP)


def _flags(args, flag):
    return [a for a in args if a.startswith(flag)]


def _stale_archive(path):
    """A real dynamic archive, recorded on a class path no session has
    (the Spark launcher's jar alone)."""
    jar = glob.glob(os.path.join(cds._find_spark_home(), "jars", "spark-launcher*.jar"))[0]
    subprocess.run([cds._java(), f"-XX:ArchiveClassesAtExit={path}", "-Xlog:disable",
                    "-cp", jar, "org.apache.spark.launcher.Main"],
                   capture_output=True, timeout=120)
    assert os.path.getsize(path) > 0
    return jar


def test_fresh_cache_records_then_maps(tmp_path):
    first, _ = _session(tmp_path)
    cache = _cache(tmp_path)
    (rec,) = _flags(first["args"], "-XX:ArchiveClassesAtExit=")
    tmp = rec.split("=", 1)[1]
    assert os.path.dirname(tmp) == cache and ".tmp." in tmp
    assert not _flags(first["args"], "-XX:SharedArchiveFile=")
    # the first process waited at exit until its JVM had written the archive
    with open(tmp + ".cp") as fh:
        assert cds.probe(cds._java(), HEAP, tmp, fh.read())
    assert cds.trusted(tmp)
    assert oct(os.stat(cache).st_mode & 0o777) == "0o700"

    log = tmp_path / "classload.txt"
    second, _ = _session(
        tmp_path, {"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"})
    assert _flags(second["args"], "-XX:SharedArchiveFile=") == [
        f"-XX:SharedArchiveFile={cache}/{_key()}.jsa"]
    assert not _flags(second["args"], "-XX:ArchiveClassesAtExit=")
    assert sorted(os.listdir(cache)) == [f"{_key()}.jsa", f"{_key()}.jsa.cp", "conf"]
    loads = log.read_text()
    assert "org.apache.spark.SparkContext source: shared objects file (top)" in loads
    assert loads.count("source: shared objects file (top)") > 1000


@pytest.mark.parametrize("damage", ["stale", "truncated"])
def test_bad_archive_is_replaced_without_output(tmp_path, damage):
    """A truncated archive fails the probe and is never mapped (mapping
    one crashes the JVM). A stale one, recorded on another class path,
    passes a probe on that class path; the JVM then refuses it with a
    warning that must go to stderr, not to the driver's stdout, and the
    session deletes it."""
    cache = _cache(tmp_path)
    os.makedirs(cache, mode=0o700)
    jsa = os.path.join(cache, f"{_key()}.jsa")
    jar = _stale_archive(jsa)
    if damage == "truncated":
        os.chmod(jsa, 0o600)
        with open(jsa, "r+b") as fh:
            fh.truncate(os.path.getsize(jsa) // 2)
    with open(jsa + ".cp", "w") as fh:
        fh.write(jar)

    out, stdout = _session(tmp_path)
    assert stdout.splitlines() == [json.dumps(out)]  # no JVM line on stdout
    assert not os.path.exists(jsa)
    if damage == "stale":
        assert _flags(out["args"], "-XX:SharedArchiveFile=") == [f"-XX:SharedArchiveFile={jsa}"]
        out, stdout = _session(tmp_path)
        assert stdout.splitlines() == [json.dumps(out)]
    assert _flags(out["args"], "-XX:ArchiveClassesAtExit=")
    # the recording is published in place of the bad archive and maps
    launch = cds.select(cache, _key(), cds._java(), HEAP)
    assert launch.archive == jsa and launch.classpath == out["classpath"]


def test_environ_and_caller_java_options_survive(tmp_path):
    """A conf dir of templates only is swapped for the cache's empty one
    while the JVM launches, and ``SPARK_CONF_DIR`` is restored after."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    opts = "-Djava.io.tmpdir=/tmp -XX:-UsePerfData"
    out, _ = _session(tmp_path, {"spark.driver.extraJavaOptions": opts},
                      SPARK_CONF_DIR=str(conf))
    # only pyspark's own settings for its Python workers may appear
    assert set(out["environ_changed"]) <= {"SPARK_AUTH_SOCKET_TIMEOUT", "SPARK_BUFFER_SIZE"}
    # Spark prepends its own module options; the caller's follow unchanged
    assert out["conf"]["spark.driver.extraJavaOptions"].endswith(" " + opts)
    assert {"-Djava.io.tmpdir=/tmp", "-XX:-UsePerfData"} <= set(out["args"])
    assert _flags(out["args"], "-XX:ArchiveClassesAtExit=")
    # the launcher put the empty conf dir on the class path, not $SPARK_HOME/conf
    assert out["classpath"].split(os.pathsep)[0].rstrip("/") == os.path.join(_cache(tmp_path), "conf")


def test_cluster_session_gets_no_cds(tmp_path):
    out, _ = _session(tmp_path, MASTER="local[1]")
    assert not [a for a in out["args"] if "Archive" in a or "Xshare" in a]
    assert "spark.driver.defaultJavaOptions" not in out["conf"]
    assert not os.path.exists(tmp_path / "xdg")


# ------------------------------------------------- without a session


def test_heaps_of_one_pointer_mode_share_a_key():
    """Heaps below 32 GiB compress object pointers and extend the JDK's
    compressed-oops base archive; larger ones extend the other."""
    jars = os.path.join(cds._find_spark_home(), "jars")
    keys = {h: cds._key(cds._java(), jars, h) for h in ("512m", "1g", "31g", "32g", "48g")}
    assert keys["512m"] == keys["1g"] == keys["31g"] != keys["32g"] == keys["48g"]


def test_publish_prunes_other_installs(tmp_path, monkeypatch):
    """A finished recording is published; then every file of another
    install goes, except a recording still running."""
    monkeypatch.setattr(cds, "probe", lambda *a: True)
    ended = subprocess.Popen(["true"])
    ended.wait()
    live = os.getpid()
    names = [f"a-coops.tmp.{ended.pid}", "a-oops.jsa", "b-coops.jsa", f"b-coops.tmp.{live}"]
    for name in names:
        for path in (tmp_path / name, tmp_path / (name + ".cp")):
            path.write_text("x")
    (tmp_path / "conf").mkdir()
    cds.publish(str(tmp_path), "a-coops", "java", HEAP)
    assert sorted(os.listdir(tmp_path)) == [
        "a-coops.jsa", "a-coops.jsa.cp", "a-oops.jsa", "a-oops.jsa.cp",
        f"b-coops.tmp.{live}", f"b-coops.tmp.{live}.cp", "conf"]


# ------------------------------------------------------------ refusals


@pytest.fixture
def planted(tmp_path, monkeypatch):
    """A cache holding a published archive, with the probe passing any
    archive, so that only the trust checks decide whether it is mapped."""
    cache = str(tmp_path / "cache")
    os.makedirs(cache, mode=0o700)
    jsa = os.path.join(cache, "k.jsa")
    for path in (jsa, jsa + ".cp"):
        with open(path, "w") as fh:
            fh.write("x")
        os.chmod(path, 0o444)
    monkeypatch.setattr(cds, "probe", lambda *a: True)
    return cache, jsa


def _maps(cache) -> bool:
    return cds.select(cache, "k", "java", HEAP).classpath is not None


def test_own_archive_is_mapped(planted):
    cache, _ = planted
    assert _maps(cache)


def test_foreign_owned_archive_is_refused(planted, monkeypatch):
    cache, jsa = planted
    uid = os.getuid()
    monkeypatch.setattr(cds.os, "getuid", lambda: uid + 1)
    assert not _maps(cache)
    assert os.path.exists(jsa)  # left for a new recording to replace


@pytest.mark.parametrize("mode", [0o464, 0o446], ids=["group", "others"])
def test_archive_writable_by_others_is_refused(planted, mode):
    cache, jsa = planted
    os.chmod(jsa, mode)
    assert not _maps(cache)


def test_cache_dir_is_private(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    os.makedirs(tmp_path / "spark-graft", mode=0o755)
    os.chmod(tmp_path / "spark-graft", 0o755)
    assert cds.cache_dir() == str(tmp_path / "spark-graft")
    assert os.stat(tmp_path / "spark-graft").st_mode & 0o777 == 0o700
    uid = os.getuid()
    monkeypatch.setattr(cds.os, "getuid", lambda: uid + 1)
    assert cds.cache_dir() is None


def test_stale_archive_warning_goes_to_stderr(tmp_path):
    """Without the log flags the JDK prints "Unable to use shared
    archive" on stdout; with them the line goes to stderr and the JVM
    keeps the JDK's base archive."""
    jsa = str(tmp_path / "stale.jsa")
    _stale_archive(jsa)
    other = os.path.join(cds._find_spark_home(), "jars")
    launch = cds.Launch(str(tmp_path), jsa, "unused")
    proc = subprocess.run(
        [cds._java(), *launch.java_options.split(), "-cp", other + "/*", "-version"],
        capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0
    assert proc.stdout == ""
    assert "Unable to use shared archive" in proc.stderr
    assert "sharing" in proc.stderr.splitlines()[-1]
