"""PySpark's worker daemon, minus the per-task reread of zip archives.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Before CPython 3.13 that
makes each zipimporter re-read its archive's central directory on the
spot; workers import pyspark and py4j from zips under ``$SPARK_HOME``,
so every task re-reads them about 16 times (~0.3 s per task on a
4-core host).  Here an importer re-reads only when its archive's
``(st_mtime_ns, st_size)`` changed since its last read, so an archive
that is rewritten, or added by ``addPyFile``, still reloads.

Run as ``python -m kafka_metrics_exporter_spark.worker_daemon``;
``session.get_spark`` names it in ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    if stamp is None or stamp != self.__dict__.get("_stamp"):
        _reread(self)
        self._stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and stamp the importers
    that already exist (their directories were read at creation)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._stamp = _stamp(finder.archive)


if __name__ == "__main__":
    import pyspark.daemon  # imports the worker, and so most zipimporters

    install()
    pyspark.daemon.manager()
