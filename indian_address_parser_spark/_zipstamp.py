"""Re-read a zip importer's archive only when the archive changed (CPython < 3.12).

PySpark calls ``importlib.invalidate_caches()`` at the start of every Python
task, in reused workers too (``pyspark.worker_util.setup_spark_files``). On
CPython 3.11 ``zipimporter.invalidate_caches()`` re-parses its archive's
whole central directory in pure Python, and a worker holds one zip importer
per imported subpackage of ``pyspark.zip`` (14 on PySpark 4.1) plus the py4j
zip and the spark-core jar (5,359 entries). Measured inside a worker
(PySpark 4.1.2, CPython 3.11.7), the call took 0.17-0.27 s per task, before
the task read a row. CPython 3.12 made the invalidation lazy (gh-103200);
there :func:`install` does nothing.

The fix keeps, per archive path, the ``(st_mtime_ns, st_size)`` stamp taken
just before its directory was last read, with the directory that read
produced. ``invalidate_caches`` calls the original method when the
archive's current stamp differs, when there is no stamp (the archive was
read before the fix was installed), when ``os.stat`` raises, or when the
cached directory is not the one that read produced; otherwise the importer
takes the cached directory.

Invariant: archives on a worker's path are not rewritten in place. A
rewrite that keeps both the size and the nanosecond mtime goes unseen —
that is the known gap. A file replaced or rewritten by an ordinary write
gets a new mtime and is re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (its stamp taken just before the read, the directory read)
_reads: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Patch ``zipimport`` in this interpreter. Called once, at package
    import; a no-op on CPython 3.12 and later."""
    if sys.version_info >= (3, 12):
        return
    read_directory = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches

    def _read_directory_stamped(archive):
        # stat before the read: a change between the two leaves the older
        # stamp, so the next invalidation reads again
        _reads.pop(archive, None)
        stamp = _stamp(archive)
        files = read_directory(archive)
        if stamp is not None:
            _reads[archive] = (stamp, files)
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        last = _reads.get(self.archive)
        # skip only while the cached directory is the one the last read
        # produced and the archive still has that read's stamp
        if last is not None and files is last[1] and _stamp(self.archive) == last[0]:
            # importers of one archive (its root and each subpackage)
            # share its directory, so one re-read serves them all
            self._files = files
        else:
            invalidate(self)

    # both zipimporter.__init__ and the original invalidate_caches look
    # _read_directory up in the module at call time
    zipimport._read_directory = _read_directory_stamped
    zipimport.zipimporter.invalidate_caches = invalidate_caches
