"""The Python worker daemon's archive guard (logport_spark/worker_daemon.py):
an archive's cached zip directory is re-read only when the archive's
(st_mtime_ns, st_size) changed, in the unit and inside the session's
workers."""

from __future__ import annotations

import os
import zipfile
import zipimport

from logport_spark import worker_daemon


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as zf:
        for n in names:
            zf.writestr(n, "X = 1\n")


def test_guard_rereads_only_a_changed_archive(tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, ["a.py"])
    imp = zipimport.zipimporter(archive)
    cache = zipimport._zip_directory_cache

    # first sight of the archive: read it and record its stat
    worker_daemon.invalidate_caches(imp)
    first = cache[archive]
    assert imp._files is first and set(first) == {"a.py"}

    # unchanged: the cached directory is kept, marker and all
    first["marker"] = None
    worker_daemon.invalidate_caches(imp)
    assert cache[archive] is first and imp._files is first

    # rewritten with another entry (size differs): read again
    _write_zip(archive, ["a.py", "b.py"])
    worker_daemon.invalidate_caches(imp)
    assert set(cache[archive]) == {"a.py", "b.py"} and imp._files is cache[archive]

    # same size, new mtime: read again
    kept = cache[archive]
    kept["marker"] = None
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    worker_daemon.invalidate_caches(imp)
    assert "marker" not in cache[archive] and imp._files is cache[archive]

    # gone: the importer forgets it, as the unguarded call does
    os.remove(archive)
    worker_daemon.invalidate_caches(imp)
    assert archive not in cache and imp._files == {}


def test_workers_keep_pysparks_directory_between_tasks(spark):
    """A marker put into pyspark.zip's cached directory by one job is still
    there for the next job on the same worker: the per-task
    importlib.invalidate_caches() no longer re-reads the unchanged archive.
    The driver's zipimporter is not patched."""
    assert zipimport.zipimporter.invalidate_caches is worker_daemon._reread

    def probe(_):
        import os
        import zipimport

        archive = next(a for a in zipimport._zip_directory_cache
                       if a.endswith("pyspark.zip"))
        files = zipimport._zip_directory_cache[archive]
        seen = "logport_marker" in files
        files["logport_marker"] = None
        return os.getpid(), seen

    sc = spark.sparkContext
    marked = set()
    for _ in range(40):  # one-task jobs, until one lands on a marked worker
        pid, seen = sc.parallelize([0], 1).map(probe).collect()[0]
        if pid in marked:
            assert seen, f"worker {pid} re-read pyspark.zip between tasks"
            return
        marked.add(pid)
    raise AssertionError(f"no worker ran two of 40 jobs: {sorted(marked)}")
