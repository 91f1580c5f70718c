"""Python worker daemon of this engine's Spark sessions
(``spark.python.daemon.module``, set by :func:`tmapreduce_spark.session.get_spark`).

PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every Python task. On
CPython 3.11 that makes every ``zipimport.zipimporter`` on ``sys.path``
re-read its archive's whole central directory in pure Python, once per
importer instance: about ten instances over ``pyspark.zip`` (3.5 MB) and two
over the spark-core jar, 120–380 ms per task on 4 vCPUs before any user code
runs, even on a reused worker.

:func:`invalidate_caches` re-reads an archive only when its file version
(inode, size, mtime) differs from the one it last read, the key
:func:`tmapreduce_spark.sources.catalog.file_version` gives parquet schemas.
A changed or unreadable archive goes through the original method unchanged.
Run as the daemon module, this module installs it and then runs PySpark's own
daemon, so every forked worker inherits it.
"""

from __future__ import annotations

import zipimport

from tmapreduce_spark.sources.catalog import file_version

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> file version of its last read; process-wide, like
# zipimport's own directory cache that it guards.
_read_versions: dict[str, tuple] = {}


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    archive = importer.archive
    version = file_version(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if version is not None and files is not None and _read_versions.get(archive) == version:
        importer._files = files
        return
    # Stat before the read: an archive rewritten in between is recorded with
    # its older version, so the next call reads it again.
    _reread(importer)
    if version is not None:
        _read_versions[archive] = version


if __name__ == "__main__":
    import importlib

    from pyspark.daemon import manager

    # Install the importable twin of this __main__ module, so tasks can see
    # (and tests can check) the installed function by its module path.
    from tmapreduce_spark import pyworker

    zipimport.zipimporter.invalidate_caches = pyworker.invalidate_caches
    # Record every archive's version once here, so forked workers start warm.
    importlib.invalidate_caches()
    manager()
