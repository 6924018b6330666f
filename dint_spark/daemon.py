"""Custom PySpark worker daemon: warm imports, and zip directories read once.

PySpark forks one python worker per concurrent task from a daemon process.
The daemon here does three jobs before any fork, so every worker inherits
the result through copy-on-write fork memory.

1. Preload the heavy libraries. With the stock daemon each forked worker
   imports numpy/pandas/pyarrow (and this package) on its first task: ~2s
   of CPU and disk I/O per worker, which at local[32] turns the first
   pandas stage after any idle period into a 30-80s import storm
   (measured; workers are also culled after an idle timeout, so the storm
   repeats between JVM-heavy phases of the index build). Importing
   everything here drops worker startup to milliseconds.

2. Stop each task re-reading the zip archives on the worker's sys.path.
   Every task runs pyspark.worker_util.setup_spark_files, which calls
   importlib.invalidate_caches(). Before Python 3.13,
   zipimport.zipimporter.invalidate_caches re-reads the archive's whole
   zip directory right away. A worker holds about 16 zip importers: the
   pyspark.zip root plus one per imported sub-package (6-10 ms each) and
   two for the spark-core jar (5,359 entries, 30-38 ms each). That was
   120-400 ms of serial CPU before every task's user function, most of the
   fixed cost of a Spark job here. The replacement below re-reads an
   archive only when its (st_mtime_ns, st_size) changed since that
   importer last read it, so a rewritten --py-files archive is still
   picked up. From Python 3.13 the stdlib only drops the cache (the next
   lookup re-reads), so there the patch is not installed.

3. Keep the imports out of each task's garbage collection. A reused
   worker runs a full gc.collect() after every task (pyspark/daemon.py,
   PySpark 4.1.2: the `gc.collect()` after each `worker(sock, ...)` call),
   which walks every tracked object, the imported modules included:
   ~74k objects and ~20 ms of CPU per task on the imports alone.
   gc.freeze() right before manager() moves everything live into the
   permanent generation, which no collection walks. It is CPython's
   documented idiom before a fork: a collection also stops writing to
   the pages a worker shares with the daemon, so they stay shared. The query pins a worker loads later
   get the same treatment when they load (queries._pin_segs).

Activated by session.py via spark.python.daemon.module=dint_spark.daemon;
on a real cluster the package reaches executors with spark-submit
--py-files, so the same preload works there.
"""

import gc
import importlib
import os
import sys

import numpy  # noqa: F401
import pandas  # noqa: F401

try:  # pyarrow backs every Arrow-batched UDF in this engine
    import pyarrow  # noqa: F401
    import pyarrow.pandas_compat  # noqa: F401
except ImportError:  # pragma: no cover
    pass

try:  # warm this package's kernels too (cheap once numpy is in)
    import dint_spark.bm25  # noqa: F401
    import dint_spark.dint.codec  # noqa: F401
    import dint_spark.dint.dictionary  # noqa: F401
    import dint_spark.queries  # noqa: F401
except ImportError:  # pragma: no cover
    pass

from pyspark.daemon import manager

if sys.version_info < (3, 13):
    import zipimport

    def _invalidate_if_changed(
            self, _reread=zipimport.zipimporter.invalidate_caches):
        """Re-read this importer's archive only if the file changed."""
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_stamp", None):
            _reread(self)
            self._stamp = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

if __name__ == "__main__":
    # one read per importer here, so forked workers start stamped
    importlib.invalidate_caches()
    # job 3: forked workers never rescan the imports
    gc.collect()
    gc.freeze()
    manager()
