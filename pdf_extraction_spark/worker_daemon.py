"""Python worker daemon: ``pyspark.daemon`` with change-aware zipimport
invalidation.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``) so that files shipped with the task
become importable. On CPython 3.11 that makes every ``zipimporter`` re-read
its archive's central directory, eagerly (gh-103200): the ~16 importers on
``pyspark.zip`` cost ~0.25 s per task before the task does any work.

``install`` replaces ``zipimporter.invalidate_caches`` with a version that
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed since
THIS importer last read it. The stamp is per importer, not per archive:
importers of one archive each hold their own ``_files`` dict. A failing
``stat`` falls through to the stock re-read, so a missing archive behaves
as before. Run as a module, it installs the patch, stamps the importers the
daemon already holds (the children it forks inherit them) and runs the
stock ``pyspark.daemon.manager``; ``session.build_session`` selects it with
``spark.python.daemon.module`` on local masters.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stat(archive: str):
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    try:
        stamp = _stat(self.archive)
    except OSError:
        return _stock_invalidate(self)
    if self.__dict__.get("_stamp") != stamp:
        _stock_invalidate(self)
        self._stamp = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            try:
                imp._stamp = _stat(imp.archive)
            except OSError:
                pass


if __name__ == "__main__":
    from pyspark.daemon import manager  # imports the worker: its importers get stamped

    # by the package name, so the patch is the same object tests and tasks see
    from pdf_extraction_spark.worker_daemon import install as _install

    _install()
    manager()
