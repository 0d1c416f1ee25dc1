"""Python worker daemon: ``pyspark.daemon`` minus the per-task archive re-reads.

``get_spark`` points ``spark.python.daemon.module`` here. Before every
task a worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 each
``zipimporter`` then re-parses its archive's whole central directory in
pure Python: 12-14 importers over ``pyspark.zip``, 2 over the py4j zip
and 2 over the ``spark-core`` jar (on the path through
``PythonUtils.sparkPythonPath``), 27-30k entries and about 0.13 s a task.

The archives on ``sys.path`` when the daemon starts are the executor's
launch path: Spark's own ``pyspark.zip``, py4j zip and jar, plus the
``PYTHONPATH`` the session was started with. Nothing replaces them while
the executor runs, so their directories are kept (an archive rewritten in
place there needs a new session). An archive shipped later
(``SparkContext.addPyFile``) is not on that path and is re-read before
every task exactly as before, which is what the invalidation exists for.
"""

import sys
import zipimport

_STARTUP_PATH = frozenset(sys.path)
_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self):
    if self.archive not in _STARTUP_PATH:
        _reread(self)


zipimport.zipimporter.invalidate_caches = _invalidate_caches

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
