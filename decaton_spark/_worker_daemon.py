"""Spark's Python worker daemon, minus the per-task re-read of every zip.

``get_spark`` names this module as ``spark.python.daemon.module``.
PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``) so that files
``addPyFile`` just copied into the task's files dir become importable.
On Python 3.11 that call also makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole directory: the
``spark-core`` jar on ``PYTHONPATH`` (5k entries), ``pyspark.zip`` once
per imported subpackage, the py4j zip — 150-200 ms per task.

Before it runs PySpark's daemon, this module replaces
``zipimporter.invalidate_caches`` with one that re-reads an archive only
when its ``(st_mtime_ns, st_size, st_ino)`` differs from the last read,
and shares that read among all importers of the archive. Workers fork
from the daemon, so every worker inherits it. Directory finders are
still invalidated on every task, and a zip that is rewritten or replaced
is still re-read.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (stat stamp taken before its last read, directory read);
# process-wide, like zipimport's own directory cache
_last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _last_read.pop(self.archive, None)
        _reread(self)
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    last = _last_read.get(self.archive)
    if last is not None and last[0] == stamp:
        self._files = last[1]
        return
    _reread(self)
    _last_read[self.archive] = (stamp, self._files)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    # read each archive once here, so forked workers start with its stamp
    importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
