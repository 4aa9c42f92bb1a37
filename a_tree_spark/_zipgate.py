"""Stat-gated ``zipimport.zipimporter.invalidate_caches``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark/worker_util.py::setup_spark_files``). On CPython 3.11
that makes every ``zipimporter`` re-read its archive's whole central
directory; a worker holds one importer per package path inside
``pyspark.zip`` (1,328 entries), so each task paid about 0.2 CPU-s
(4 vCPU) before running any of its own code.

``install()`` replaces the method, once per process, by one that calls
the original only when the archive's ``(st_mtime_ns, st_size)`` differs
from the stamp taken at *that importer's* last re-read (each importer
holds its own ``_files``). A missing or unreadable archive always
falls through to the original, and an importer with no stamp (a new
path, e.g. a zip from ``addPyFile``) is read as before. So an importer
is never left with an older directory than the stdlib would give it,
unless the archive is rewritten to the same size within one mtime
tick. Importers that exist at install time are re-read once through
the gate, so every importer's stamp dates from a real re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

rereads = 0  # calls of the original method made through the gate


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if getattr(original, "_stat_gated", False):
        return

    def invalidate_caches(self):
        global rereads
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_zipgate_stamp", None):
            rereads += 1
            original(self)
            self._zipgate_stamp = stamp

    invalidate_caches._stat_gated = True
    cls.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()
