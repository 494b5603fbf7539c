"""Stat-guarded ``zipimporter.invalidate_caches`` for the Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``setup_spark_files``, ``pyspark/worker_util.py`` inside
``pyspark.zip``), so that ``--py-files`` shipped since the last task become
importable.  On CPython 3.11 and 3.12.1 each ``zipimporter.invalidate_caches``
eagerly re-parses its archive's whole central directory, and a worker holds
one zipimporter per package it imported from ``pyspark.zip`` (16 once a
pandas UDF has run).  cProfile of ``pyspark.worker.main`` at local[4] put
94% of a trivial task's ~0.25 s in that call; the task's own executor CPU
was ~3 ms.  CPython 3.13 reads the directory lazily
(``zipimporter._get_files``) and needs nothing here.

Where that lazy read is missing, the wrapper below re-reads an archive only
when its ``(st_mtime_ns, st_size, st_ino)`` differs from the value taken
just before this importer's last real read, or when ``os.stat`` fails.  An
unchanged archive keeps its already-correct file table; a rewritten, added
or removed one is re-read exactly as the stock method does.  Importing the
package installs it: every worker that runs one of the package's UDFs
unpickles a function from the package and so imports it, under
``spark-submit --py-files`` too.
"""

from __future__ import annotations

import os
import zipimport


def _install(cls: type) -> None:
    if hasattr(cls, "_get_files") or cls.invalidate_caches.__module__ == __name__:
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            seen = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            seen = None
        if seen is None or seen != getattr(self, "_archive_stat", None):
            reread(self)
            self._archive_stat = seen

    cls.invalidate_caches = invalidate_caches


_install(zipimport.zipimporter)
