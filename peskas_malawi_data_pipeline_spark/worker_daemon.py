"""Python worker daemon whose archive finders survive cache invalidation.

Spark starts this module in place of ``pyspark.daemon`` (through
``spark.python.daemon.module``, set in ``core/session.py``). PySpark's worker
calls ``importlib.invalidate_caches()`` once per task, so that files shipped
with ``addPyFile`` become importable. On Python 3.11 and 3.12 that makes
every cached ``zipimport.zipimporter`` re-read its whole archive directory:
one per package path inside ``pyspark.zip``, the py4j zip and the
spark-core jar, about 0.2 CPU s per task before the task does any work.

An archive on a worker's path does not change while the worker lives (Spark
never overwrites a file it already serves under that name), so the finders
made here skip that re-read. Directory finders keep their
invalidation, which is how a shipped ``.py`` file becomes visible, and a
newly shipped archive is a new path that gets a fresh finder.
"""

import sys
import zipimport

from pyspark import daemon


class _ArchiveFinder(zipimport.zipimporter):
    def invalidate_caches(self):
        pass


def _install() -> None:
    """Make every archive finder an ``_ArchiveFinder``: swap the path hook,
    then drop the finders the imports so far have cached, so that the next
    import rebuilds them from the directory cache without re-reading it."""
    sys.path_hooks[:] = [_ArchiveFinder if hook is zipimport.zipimporter
                         else hook for hook in sys.path_hooks]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[path]


if __name__ == "__main__":
    _install()
    daemon.manager()
