"""PySpark worker daemon (``spark.python.daemon.module``) that reads each zip
importer's archive directory once per worker process, not once per task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, and on CPython 3.11 that makes every cached ``zipimporter``
re-parse its whole archive directory (``pyspark.zip`` once per subpackage
path, the py4j zip, the Spark jar). Here an importer re-reads only when its
archive's ``(st_mtime_ns, st_size)`` differs from its last read; a missing
archive takes the original path. Forked workers inherit the wrapped method.
"""

import os
import zipimport

_read_directory = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _read_directory(self)
        self._archive_stamp = stamp


# ``python -m`` runs this file as ``__main__``; name the wrapper by its module
invalidate_caches.__module__ = __spec__.name

if __name__ == "__main__":
    import pyspark.daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    pyspark.daemon.manager()
