"""The Python worker daemon every session of ``session.get_spark`` runs.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Under Python 3.11 that
makes each ``zipimport.zipimporter`` re-read its archive's directory, and
a worker holds about 16 of them over ``pyspark.zip`` (1,328 entries): some
270 ms of CPU per task before the task's own code runs.

Run as ``python -m`` (``spark.python.daemon.module``), this module first
installs one rule and then starts ``pyspark.daemon.manager()``: a zip
archive's directory is re-read only when the archive's
``(st_mtime_ns, st_size)`` differs from the stamp of its last read. An
archive that cannot be stat'ed is re-read as before. Forked workers
inherit the rule. Directory finders are untouched, so the files a task's
``setup_spark_files`` or ``addPyFile`` adds are still picked up.

Importing this module (from the driver or a test) installs nothing.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches

# archive path -> (stat stamp, directory read under that stamp)
_read_at: dict[str, tuple[tuple[int, int], dict]] = {}


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """Re-read ``importer``'s archive directory only if the archive changed."""
    archive = importer.archive
    try:
        st = os.stat(archive)
    except OSError:
        _reread(importer)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    seen = _read_at.get(archive)
    if seen is not None and seen[0] == stamp:
        importer._files = seen[1]
        zipimport._zip_directory_cache[archive] = seen[1]
        return
    # stat before the read: an archive rewritten in between carries a
    # newer stamp than the one recorded, so the next call re-reads it
    _reread(importer)
    _read_at[archive] = (stamp, importer._files)


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    daemon.manager()
