"""Python worker daemon for the pipeline's sessions: `pyspark.daemon` with an
archive guard.

Spark starts this module (`python -m logport_spark.worker_daemon
pyspark.worker`, via `spark.python.daemon.module`, set by
`session.get_spark`) and forks every Python worker from it. Before each
task, `pyspark.worker_util.setup_spark_files` calls
`importlib.invalidate_caches()`. On CPython 3.11 that makes every
`zipimport.zipimporter` on the worker's path re-read its archive's central
directory at once (3.12 made the re-read lazy, gh-103200). The worker path
holds `pyspark.zip` (1,328 entries, 12 importers), the spark-core jar
(5,359 entries, 2 importers) and py4j's zip (2 importers), so each Python
task paid about 80 ms of CPU before it touched a row (4-core VM, Spark
4.1.2, CPython 3.11.7).

`invalidate_caches` below re-reads an archive only when its
`(st_mtime_ns, st_size)` changed since the last read: one `stat` per importer
per task, and an archive that really changed is still re-read. The patch is
installed only here, in the daemon and the workers it forks, never in the
driver.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_stats: dict[str, tuple[int, int]] = {}  # archive -> stat at its last read


def _stat(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """`zipimporter.invalidate_caches` that keeps the cached directory of an
    archive whose (st_mtime_ns, st_size) is the same as at its last read.

    The stat is taken before the read, so an archive rewritten during the
    read differs from the recorded stat at the next call and is read again."""
    archive = importer.archive
    stat = _stat(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if stat is not None and files is not None and _read_stats.get(archive) == stat:
        importer._files = files
        return
    _reread(importer)
    if stat is not None and archive in zipimport._zip_directory_cache:
        _read_stats[archive] = stat
    else:
        _read_stats.pop(archive, None)


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # pyspark.daemon reads sys.argv[1] (the worker module) when imported
    from pyspark import daemon

    # read each archive once here, so forked workers start with its stat
    importlib.invalidate_caches()
    daemon.manager()
