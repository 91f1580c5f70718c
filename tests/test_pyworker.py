"""The Python worker daemon's import-cache rule (``tmapreduce_spark.pyworker``):
an unchanged zip archive on ``sys.path`` is not re-read at task start; a
rewritten one is."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

from tmapreduce_spark import pyworker

REPO = str(Path(__file__).resolve().parents[1])


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"first_mod.py": "X = 1\n"})
    importers = [zipimport.zipimporter(str(archive)) for _ in range(3)]
    pyworker.invalidate_caches(importers[0])  # the first call records the version

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    for _ in range(3):
        for imp in importers:
            pyworker.invalidate_caches(imp)
    assert reads == []
    assert zipimport.zipimporter.invalidate_caches is not pyworker.invalidate_caches

    # A rewritten archive is read again, once, and its new module is found.
    _write_zip(archive, {"first_mod.py": "X = 1\n", "second_mod.py": "Y = 2\n"})
    assert importers[1].find_spec("second_mod") is None
    for imp in importers:
        pyworker.invalidate_caches(imp)
    assert reads == [str(archive)]
    for imp in importers:
        spec = imp.find_spec("second_mod")
        assert spec is not None and spec.loader is imp


def test_python_tasks_keep_zip_directories(spark):
    """Inside a Python task the engine's wrapper is installed, and two
    ``importlib.invalidate_caches()`` calls (PySpark makes one per task)
    replace no archive's directory."""

    def probe(_):
        import importlib
        import zipimport as zi

        from tmapreduce_spark import pyworker as pw

        before = dict(zi._zip_directory_cache)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        after = zi._zip_directory_cache
        yield (
            sorted(before),
            all(after.get(k) is v for k, v in before.items()),
            zi.zipimporter.invalidate_caches is pw.invalidate_caches,
        )

    [(archives, kept, installed)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    assert any(a.endswith("pyspark.zip") for a in archives)
    assert kept
    assert installed


def test_python_tasks_run_with_package_only_on_driver_path(tmp_path):
    """A driver started outside the repo, with the package only on its own
    ``sys.path`` and no ``PYTHONPATH``, still runs Python tasks: a lambda and
    a pandas UDF."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from tmapreduce_spark.session import get_spark

        spark = get_spark(app_name="pyworker-path", master="local[1]")
        spark.sparkContext.setLogLevel("ERROR")
        assert spark.sparkContext.parallelize([1, 2], 1).map(lambda x: x + 1).collect() == [2, 3]

        @F.pandas_udf("long")
        def inc(s: pd.Series) -> pd.Series:
            return s + 1

        assert [r[0] for r in spark.range(2).select(inc("id")).collect()] == [1, 2]
        spark.stop()
        """
    )
    env = dict(os.environ, PYTHONPATH="", SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
