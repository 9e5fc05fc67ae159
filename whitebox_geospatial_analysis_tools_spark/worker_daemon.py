"""Python worker daemon for engine sessions (``spark.python.daemon.module``).

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``).  On Python 3.11 that makes
each ``zipimporter`` on the worker path re-read its archive's directory:
13 importers on ``pyspark.zip`` and 2 on the spark-core jar, about 0.25 s
per task on a 4-CPU host.  Those archives are the Spark install and never
change under a running worker, so this module makes the zipimporter
invalidation a no-op and then runs pyspark's own daemon; forked workers
inherit the patch.  ``FileFinder`` invalidation is left alone, so files
added with ``addPyFile`` are still seen.
"""

import zipimport


def _keep_directory(self) -> None:
    """The archive's directory as read at import time stays valid."""


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _keep_directory

    from pyspark import daemon

    daemon.manager()
