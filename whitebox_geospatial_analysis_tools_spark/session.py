"""SparkSession factory with the engine's standard scale-oriented config.

Sessions from get_spark run their Python workers under the engine's daemon
(``worker_daemon``): pyspark's worker re-reads the directory of every zip
archive on its path at the start of each task, about 0.25 s per task on a
4-CPU host, and the daemon turns that re-read off.  The workers find the
daemon (and the kernels' imports) through the package root, which
get_spark puts on their PYTHONPATH, so the driver may run from any
working directory.
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import SparkSession

# the directory holding this package, put on every Python worker's path
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The engine's SQL confs: every session it builds starts from this dict
# (get_spark, tools/standalone_job.py, tools/standalone_diag.py) and
# queries._ensure_session_conf pins from it.  Deployment values — master,
# shuffle partitions, driver memory, UI — stay with each caller.
SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # InferFiltersFromConstraints pushes isnotnull() predicates below the
    # geocode projections, re-inlining the whole derived-column expression
    # tree into one Filter; the generated method then exceeds janino's
    # 64KB limit and the ENTIRE stage silently runs interpreted (~15x
    # slower, observed).  Our derived columns are never null by
    # construction, so the inferred filters are pure downside.
    "spark.sql.constraintPropagation.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.session.timeZone": "UTC",
}


def cpus() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def best_of(fn: Callable[[], object], runs: int) -> float:
    """Min wall seconds over ``runs`` timed calls of ``fn`` — the timing
    protocol shared by bench.py and the standalone tools, whose callers make
    the warm call first."""
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def get_spark(app: str = "wgs-engine", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """The engine's session: SQL_CONF, ``shuffle_partitions`` (default
    cpus()) and ``worker_daemon`` as the Python daemon module, so tasks skip
    the per-task zip re-read (about 0.25 s each; module docstring).  The
    workers' PYTHONPATH starts with the package root, followed by any
    PYTHONPATH of the environment, so they import the package whatever the
    driver's working directory."""
    master = master or f"local[{cpus()}]"
    pypath = os.pathsep.join(filter(None, [_PKG_ROOT, os.environ.get("PYTHONPATH")]))
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config(map=SQL_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus()))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module",
                "whitebox_geospatial_analysis_tools_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", pypath)
    )
    return b.getOrCreate()
