"""Python worker daemon for the pipeline's sessions: ``pyspark.daemon``
with zip-archive cache invalidation made lazy.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``, so that ``--py-files``
archives added mid-application become importable).  On CPython 3.11
``zipimporter.invalidate_caches`` re-reads its archive's whole zip
directory eagerly, and a worker holds importers for the Spark core jar
(~5.4k entries, on the worker path through
``PythonUtils.sparkPythonPath``) and for ``pyspark.zip`` (~1.3k
entries) plus one more per pyspark subpackage imported from it.  That
re-read cost each task 0.1-0.4 s before its first row.

Here an archive is re-read only when its ``(st_mtime_ns, st_size)``
differs from the stamp taken just before its last read, so a rewritten
or newly added archive still reloads and an unchanged one keeps its
directory.  The daemon installs the patch and reads every archive once
before it forks; workers inherit both.

    spark.python.daemon.module=cc_extract.pydaemon

needs ``cc_extract`` importable by the worker's interpreter before any
``--py-files`` arrive (cc_extract.session sets it for every session).
"""

from __future__ import annotations

import os
import zipimport

_read = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken before the read now in
# zipimport._zip_directory_cache; process-wide, like that cache
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while
    the archive's stamp is unchanged.  Importers of one archive share
    the cached directory, as they do after construction."""
    archive = importer.archive
    stamp = _stamp(archive)
    files = zipimport._zip_directory_cache.get(archive)
    unchanged = stamp is not None and stamp == _stamps.get(archive)
    if unchanged and files is not None:
        importer._files = files
        return
    _read(importer)
    # stamped before the read: a write racing the read leaves a stale
    # stamp, and the next call reads again
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


if __name__ == "__main__":
    import importlib

    from pyspark.daemon import manager  # imports the worker first

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # read and stamp every archive once
    manager()
