"""The Python workers' daemon: ``pyspark.daemon`` with a stat-guarded
zip-directory cache.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task.
On CPython < 3.12 each ``zipimporter`` then re-reads its archive's whole
central directory, and a reused worker holds 16 of them (pyspark.zip and its
subpackages, the py4j zip, the spark-core jar): about 27k entries and
0.17-0.24 s of every task (SCALE.md, pathology 7). ``invalidate_if_changed``
re-reads an archive only when its ``(st_mtime_ns, st_size)`` moved since its
last read.

``get_spark`` names this module as ``spark.python.daemon.module`` for local
masters. Importing it patches nothing; running it patches the daemon, and
every worker it forks inherits the patch.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive -> stat taken before its last read. Keyed by archive, as
# zipimport's own directory cache is: pyspark.zip's 13 importers share one
# directory, so a worker reads each archive once, not once per importer.
_stamps: dict[str, tuple[int, int]] = {}


def invalidate_if_changed(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive's stat matches the one taken before its last read. An archive
    that cannot be stat'ed goes through the stdlib re-read."""
    try:
        st = os.stat(importer.archive)
    except OSError:
        return _reread(importer)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(importer.archive)
    if files is not None and _stamps.get(importer.archive) == stamp:
        importer._files = files
    else:
        _reread(importer)
        _stamps[importer.archive] = stamp


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    importlib.invalidate_caches()  # one read per archive, before the fork
    daemon.manager()
