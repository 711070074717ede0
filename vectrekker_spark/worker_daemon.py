"""PySpark worker daemon that skips re-reading unchanged zip archives.

Every Python task starts with ``worker_util.setup_spark_files``, which ends
in ``importlib.invalidate_caches()``. On CPython that makes each
``zipimporter`` on ``sys.path`` re-read its archive's central directory —
for ``pyspark.zip`` 1,328 entries, sixteen times per task, whether or not
the file changed. This module wraps ``zipimporter.invalidate_caches`` so
an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size, st_ino)`` stamp differs from the one it last
read, then runs ``pyspark.daemon`` unchanged (its worker-module argument
passes through ``sys.argv``). A rewritten archive is still re-read, and
paths added later (``addPyFile``) get fresh importers, so imports resolve
exactly as before.

Selected by ``spark.python.daemon.module`` (see ``session.get_spark``).
"""

import os
import runpy
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self):
    """Re-read ``self.archive`` only if it changed since this importer last
    read it. The stamp is taken before the read, so a rewrite racing the
    read leaves a stale stamp and the next call reads again. An archive
    that cannot be stat'ed always goes to the original, which keeps its
    ``ZipImportError`` handling."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _read_archive(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    runpy.run_module("pyspark.daemon", run_name="__main__")
