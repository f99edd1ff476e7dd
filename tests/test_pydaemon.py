"""The engine's Python worker daemon (``pydaemon``): lazy zip-cache
invalidation, and local sessions' workers running under it.

The backport patches ``zipimport`` for the whole interpreter, so its unit
tests run in a fresh subprocess and this test process stays unpatched.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql.functions import pandas_udf

from kafka_stream_faust_deprecated_spark import pydaemon, session

REPO = Path(__file__).resolve().parents[1]
PYDAEMON = Path(pydaemon.__file__)
IN_RANGE = (3, 10) <= sys.version_info[:2] < (3, 13)

#: Loads pydaemon by path (not through the engine package, so pyspark is
#: not imported), optionally under a faked interpreter version, installs
#: the backport and reports what it did; with an archive path it also
#: imports from a zip, invalidates, rewrites the zip and imports again,
#: counting directory reads through a wrapped ``zipimport._read_directory``.
_PROBE = textwrap.dedent(
    """
    import importlib, importlib.util, json, sys, zipfile, zipimport

    pydaemon_path, archive, fake_version = sys.argv[1], sys.argv[2], sys.argv[3]
    if fake_version:
        sys.version_info = tuple(int(x) for x in fake_version.split(".")) + ("final", 0)
    spec = importlib.util.spec_from_file_location("pydaemon", pydaemon_path)
    pydaemon = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pydaemon)

    original = zipimport.zipimporter.invalidate_caches
    out = {"patched": pydaemon.install_lazy_zip_invalidation()}
    out["untouched"] = (
        zipimport.zipimporter.invalidate_caches is original
        and not isinstance(vars(zipimport.zipimporter).get("_files"), property)
    )
    if archive:
        reads = []
        read_directory = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counted

        def write_zip(files):
            with zipfile.ZipFile(archive, "w") as zf:
                for name in files:
                    zf.writestr(name, f"NAME = {name!r}\\n")

        write_zip(["a.py", "pkg/__init__.py", "pkg/s.py"])
        sys.path.insert(0, archive)
        import a, pkg.s  # two zipimporters: the archive and its pkg/ prefix
        out["reads_on_import"] = len(reads)
        del reads[:]
        importlib.invalidate_caches()
        out["reads_on_bare_invalidate"] = len(reads)
        write_zip(["a.py", "b.py", "pkg/__init__.py", "pkg/s.py", "pkg/c.py"])
        importlib.invalidate_caches()
        import b, pkg.c
        out["reads_after_change"] = len(reads)
        out["new_modules"] = [b.NAME, pkg.c.NAME]
    print(json.dumps(out))
    """
)


def _probe(tmp_path, archive: bool = True, fake_version: str = "") -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", _PROBE, str(PYDAEMON),
         str(tmp_path / "lib.zip") if archive else "", fake_version],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr
    return json.loads(res.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(sys.version_info < (3, 10), reason="zipimporter has no invalidate_caches before 3.10")
def test_invalidate_is_lazy_and_still_sees_a_changed_archive(tmp_path):
    out = _probe(tmp_path)
    assert out["patched"] is IN_RANGE
    assert out["reads_on_import"] == 1
    # Invalidating without a later lookup reads nothing (unpatched 3.11
    # re-reads the archive once per zipimporter here).
    assert out["reads_on_bare_invalidate"] == 0
    # The rewritten archive is read once for both of its zipimporters,
    # and the modules it gained import.
    assert out["reads_after_change"] == 1
    assert out["new_modules"] == ["b.py", "pkg/c.py"]


@pytest.mark.parametrize("version", ["3.9.18", "3.13.0"])
def test_outside_3_10_to_3_12_zipimporter_is_untouched(tmp_path, version):
    out = _probe(tmp_path, archive=False, fake_version=version)
    assert out == {"patched": False, "untouched": True}


def test_worker_path_keeps_engine_dir():
    engine = str(REPO)
    assert session._with_engine_path(None) == engine
    assert session._with_engine_path("") == engine
    assert session._with_engine_path(f"/x{os.pathsep}/y") == os.pathsep.join(["/x", "/y", engine])
    assert session._with_engine_path(f"{engine}{os.pathsep}/x") == f"{engine}{os.pathsep}/x"


def test_spark_workers_run_under_engine_daemon(spark):
    """Workers of a pandas UDF report the module their daemon ran as and
    whether ``zipimporter.invalidate_caches`` is the daemon's."""

    @pandas_udf("string")
    def report(ids: pd.Series) -> pd.Series:
        import zipimport

        main = sys.modules["__main__"]
        spec = getattr(main, "__spec__", None)
        patched = zipimport.zipimporter.invalidate_caches is getattr(
            main, "_invalidate_caches", None
        )
        return ids.map(lambda _: f"{spec.name if spec else None}|{patched}")

    rows = spark.range(0, 8, numPartitions=4).select(report("id").alias("r")).collect()
    assert {r.r for r in rows} == {f"kafka_stream_faust_deprecated_spark.pydaemon|{IN_RANGE}"}


def test_workers_start_outside_checkout_without_pythonpath(tmp_path):
    """The driver's cwd is not the checkout and its environment has no
    PYTHONPATH: workers still find the daemon module, and a PYTHONPATH
    set through extra_conf keeps both its own entry and the engine's."""
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "worker_side_helper.py").write_text("VALUE = 'from-extra'\n")
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from kafka_stream_faust_deprecated_spark import get_spark

        spark = get_spark(
            app_name="pydaemon-cwd",
            extra_conf={{"spark.executorEnv.PYTHONPATH": {str(extra)!r}}},
        )

        @pandas_udf("string")
        def probe(ids: pd.Series) -> pd.Series:
            import worker_side_helper
            spec = sys.modules["__main__"].__spec__
            return ids.map(lambda _: spec.name + "|" + worker_side_helper.VALUE)

        print("ROWS", sorted({{r[0] for r in spark.range(4).select(probe("id")).collect()}}))
        print("PATH", spark.conf.get("spark.executorEnv.PYTHONPATH"))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    lines = dict(line.split(" ", 1) for line in res.stdout.splitlines()
                 if line.startswith(("ROWS ", "PATH ")))
    assert lines["ROWS"] == str(["kafka_stream_faust_deprecated_spark.pydaemon|from-extra"])
    assert lines["PATH"] == os.pathsep.join([str(extra), str(REPO)])
