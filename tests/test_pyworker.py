"""The Python worker daemon (``legate_pandas_spark.pyworker``): a zip on the
import path is re-read on ``importlib.invalidate_caches()`` only when the
archive changed, and ``get_spark`` sessions fork their workers from it."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from legate_pandas_spark import pyworker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for module, value in modules.items():
            z.writestr(f"{module}.py", f"VALUE = {value!r}\n")


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="lazy zip invalidation")
def test_zip_reread_only_when_archive_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    first, second = "_pyworker_probe_first", "_pyworker_probe_second"
    _write_zip(archive, {first: 1})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    try:
        assert importlib.import_module(first).VALUE == 1
        importlib.invalidate_caches()  # never stamped: read and stamp
        n = reads.count(archive)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(archive) == n, "an unchanged archive was re-read"

        # A second entry changes the size too, so the rewrite shows even
        # where two writes share one coarse mtime tick.
        _write_zip(archive, {first: 1, second: 2})
        importlib.invalidate_caches()
        assert reads.count(archive) == n + 1
        assert importlib.import_module(second).VALUE == 2
    finally:
        for name in (first, second):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        pyworker._stamps.pop(archive, None)


def test_session_workers_fork_from_pyworker(spark):
    """A ``get_spark`` session names the daemon module; below Python 3.12 a
    task sees the patched ``zipimporter.invalidate_caches`` in its worker."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "legate_pandas_spark.pyworker"

    def report(batches):
        import zipimport

        code = getattr(zipimport.zipimporter.invalidate_caches, "__code__", None)
        for _ in batches:
            yield pd.DataFrame({"f": [code.co_filename if code else ""]})

    files = {r.f for r in spark.range(0, 4, 1, 2).mapInPandas(report, "f string").collect()}
    if sys.version_info < (3, 12):
        assert {os.path.realpath(f) for f in files} == {os.path.realpath(pyworker.__file__)}
    else:
        assert files.isdisjoint({pyworker.__file__})


def test_session_started_elsewhere_runs_python_tasks(tmp_path):
    """The daemon imports the package before any task adds files, so a
    session started outside the package's directory, with the package on
    ``sys.path`` only, must still run Python tasks."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(pyworker.__file__)))
    script = (
        f"import sys; sys.path.insert(0, {root!r})\n"
        "from legate_pandas_spark.session import get_spark\n"
        "spark = get_spark('elsewhere', cpus=1)\n"
        "print('rows', spark.range(4).mapInPandas(lambda it: it, 'id long').count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert "rows 4" in out.stdout, out.stderr[-2000:]
