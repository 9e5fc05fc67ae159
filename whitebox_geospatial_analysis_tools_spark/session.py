"""SparkSession factory with the engine's standard scale-oriented config."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpus() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(app: str = "wgs-engine", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    master = master or f"local[{cpus()}]"
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromConstraints pushes isnotnull() predicates below the
        # geocode projections, re-inlining the whole derived-column expression
        # tree into one Filter; the generated method then exceeds janino's
        # 64KB limit and the ENTIRE stage silently runs interpreted (~15x
        # slower, observed).  Our derived columns are never null by
        # construction, so the inferred filters are pure downside.
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus()))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return b.getOrCreate()
