"""PySpark-native search/analytics engine (rebuild of zerowei/Search-Engine capabilities).

Importing the package also gives zip-archive import-cache invalidation the
semantics of CPython 3.13 on older interpreters (3.12 and below): an
archive's directory is re-read only when the archive has changed.

Why: every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (~1,300 entries), and before 3.13
``zipimport.zipimporter.invalidate_caches`` re-reads the whole archive
directory once for each importer of that zip (one per imported package
directory, 16-30 in a worker), on every task: a no-op single-task job takes
0.26-0.30 s with those re-reads and 0.13-0.14 s without them (p50,
local[2], 4-vCPU host). The wrapper below keeps a per-archive
``(st_mtime_ns, st_size)`` signature; an unchanged archive whose directory
is already cached is not re-read, so a worker pays one read per archive
instead of 16-30 per task. A changed or replaced archive is re-read as
before. Every Python UDF of this package
unpickles a package function, so a worker installs this during its first
task and every later task on it starts without the re-reads. That relies
on Python-worker reuse (``spark.python.worker.reuse``, Spark's default).
"""

import functools
import os
import sys
import zipimport


def _install_lazy_zip_invalidation() -> None:
    original = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if (
        sys.version_info >= (3, 13)
        or original is None
        or hasattr(original, "_archive_signatures")
    ):
        return
    signatures: dict[str, tuple[int, int]] = {}

    @functools.wraps(original)
    def invalidate_caches(self):
        # stat before the read: an archive rewritten during the read keeps an
        # old signature and is read again next time
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and files is not None and signatures.get(self.archive) == sig:
            self._files = files
            return
        original(self)
        if sig is not None:
            signatures[self.archive] = sig

    invalidate_caches._archive_signatures = signatures
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_lazy_zip_invalidation()
