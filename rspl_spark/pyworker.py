"""Python-worker set-up for the DSL's Python boundaries.

Every Python task in a PySpark worker starts with
``pyspark/worker_util.py::setup_spark_files``, which ends in
``importlib.invalidate_caches()``. Before CPython 3.13 that call makes
every ``zipimport.zipimporter`` re-read its archive's directory
eagerly. A worker holds one importer per package directory imported
from ``pyspark.zip`` and the py4j zip: 14 of them after a DSL task on
CPython 3.12, each re-reading the 1,328-entry ``pyspark.zip``
directory in 11.6 ms, so the call costs ~0.16 s of CPU (16 importers
and 120–240 ms per call on CPython 3.11 at ``local[4]``, 4 vCPU). A
reused worker pays it again on every task: one ``interpret_batch``
task per partition, one keyed-state task per partition per
micro-batch. CPython 3.13 made zipimport invalidation lazy
(gh-103200); :func:`prepare_worker` gives the worker the same
behaviour on 3.10–3.12.

It replaces ``zipimporter.invalidate_caches`` with a stat-keyed
version: an archive's directory is read again only when its
``(st_mtime_ns, st_size)`` differs from the last read, and that one
read serves every importer of the archive through
``zipimport._zip_directory_cache``. A changed archive is still picked
up; an unchanged one is not parsed once per importer per task. The
first task of a fresh worker still pays the eager call once (it runs
before the task's function); later tasks of that worker pay one stat
per importer.

Rejected alternatives:

- ``spark.python.daemon.module`` pointing at a daemon that patches
  zipimport first: that needs ``rspl_spark`` importable on the
  workers, which is not guaranteed. It is why the closure-bearing
  modules, this one included, are pickled by value.
- A ``sitecustomize`` on the worker ``PYTHONPATH``: it shadows the
  site's own ``sitecustomize``.
"""

from __future__ import annotations

import os
import zipimport

# Attribute set on the installed ``invalidate_caches``. The marker
# lives on the function, not in this module's globals: a by-value
# function gets fresh globals with every task, so a module-level flag
# would install one more wrapper per task.
MARKER = "rspl_stat_keyed"


def prepare_worker() -> None:
    """Install the stat-keyed ``zipimporter.invalidate_caches`` in this
    process, once. A no-op where zipimport already invalidates lazily
    (CPython 3.13+, which has ``zipimporter._get_files``).

    Archives already cached are read once here, so the stamp of each
    is taken before the directory it vouches for."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or getattr(cls.invalidate_caches, MARKER, False):
        return
    original = cls.invalidate_caches
    cache = zipimport._zip_directory_cache
    read_at: dict[str, tuple[int, int]] = {}  # archive -> stamp of its last read

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size)
        if read_at.get(self.archive) == stamp and self.archive in cache:
            self._files = cache[self.archive]
            return
        original(self)
        read_at[self.archive] = stamp

    for archive in list(cache):
        try:
            st = os.stat(archive)
            cache[archive] = zipimport._read_directory(archive)
        except (OSError, zipimport.ZipImportError):
            continue
        read_at[archive] = (st.st_mtime_ns, st.st_size)

    setattr(invalidate_caches, MARKER, True)
    cls.invalidate_caches = invalidate_caches
