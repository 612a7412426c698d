"""Cheap import-cache flushes for PySpark's Python workers.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``) so that files shipped with
``addFile`` / ``--py-files`` become importable. That flush reaches every
``zipimport.zipimporter`` in ``sys.path_importer_cache``, and on CPython 3.10+
each one re-reads its archive's whole central directory. A worker holds one
importer per package it imported from ``pyspark.zip`` (plus py4j's zip and,
under ``spark-submit``, the job's own archives), so every task re-parses tens
of thousands of directory entries — about 0.25 s of CPU per task with
PySpark 4.1 on CPython 3.11 (4-vCPU x86-64 VM), whatever the task's input
size.

``install()`` swaps in a flush that re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since the last read, or when it cannot be
stat'ed; an unchanged archive keeps the directory already read. A rewritten
or newly added zip is still picked up, which is what the flush exists for.
The stamp is taken BEFORE the read, so an archive rewritten during a read is
read again at the next flush.

Python workers are reused across tasks, so the executor closure that calls
``install()`` first thing makes every later task in that worker cheap.
"""

from __future__ import annotations

import os
import zipimport

# the stock method; a second copy of this module, imported after another
# copy installed, must wrap it rather than the other copy's wrapper
_reread = getattr(zipimport.zipimporter.invalidate_caches, "__wrapped__",
                  zipimport.zipimporter.invalidate_caches)

# archive path -> (st_mtime_ns, st_size) as stat'ed just before its last read
# through ``_invalidate_caches``; process-wide, like zipimport's own
# ``_zip_directory_cache`` it guards.
_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        _stamps.pop(archive, None)
        _reread(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _stamps.get(archive) == stamp:
        # several importers share one archive (one per package imported
        # from it): the first flush after a change re-reads it, the rest
        # take that read
        self._files = files
        return
    _reread(self)
    _stamps[archive] = stamp


_invalidate_caches.__wrapped__ = _reread


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` in this process. Idempotent:
    installing again leaves the one wrapper in place."""
    if zipimport.zipimporter.invalidate_caches is not _invalidate_caches:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
