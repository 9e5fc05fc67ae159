"""One-off diagnostic for the standalone paragraph_dedup anti-scaling:
runs the 2M-doc paragraph_dedup once on whatever master spark-submit gives
us, then dumps per-stage wall / shuffle / GC metrics from the driver's REST
API so the slow stage is identifiable.  Not part of the bench surface.
It keeps pyspark's own Python worker daemon, not get_spark's
``worker_daemon``: on a cluster the daemon starts before any ``pyFiles``
arrive, so the engine package is not importable there yet.
"""
from __future__ import annotations

import argparse
import json
import time
import urllib.request

from pyspark.sql import SparkSession, functions as F

from whitebox_geospatial_analysis_tools_spark.session import SQL_CONF


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=2_000_000)
    ap.add_argument("--shuffle-partitions", type=int, default=32)
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("wgs-diag")
        .config(map=SQL_CONF)
        .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        .config("spark.ui.enabled", "true")  # the REST metrics below need it
        .getOrCreate()
    )
    from whitebox_geospatial_analysis_tools_spark.operators import textops

    def _docs():
        return spark.range(args.docs).select(
            F.col("id").alias("doc_id"),
            F.expr("array_join(transform(sequence(id * 2, id * 2 + 39), "
                   "j -> concat('tok', j % 1000000)), ' ')").alias("text"))

    # warm
    textops.paragraph_dedup(_docs()).agg(F.sum("n_dup_blocks")).collect()
    t0 = time.time()
    textops.paragraph_dedup(_docs()).agg(F.sum("n_dup_blocks")).collect()
    wall = time.time() - t0

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages", timeout=10) as r:
        stages = json.load(r)
    rows = []
    for s in stages:
        if s.get("status") != "COMPLETE":
            continue
        rows.append({
            "id": s["stageId"],
            "name": s["name"][:60],
            "tasks": s["numCompleteTasks"],
            "wall_s": round((s.get("executorRunTime", 0)) / 1e3, 2),
            "cpu_s": round(s.get("executorCpuTime", 0) / 1e9, 2),
            "gc_s": round(s.get("jvmGcTime", 0) / 1e3, 2),
            "sh_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
            "sh_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
            "sh_fetch_wait_s": round(s.get("shuffleFetchWaitTime", 0) / 1e3, 2),
            "sh_write_time_s": round(s.get("shuffleWriteTime", 0) / 1e9, 2),
            "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
            "submit": s.get("submissionTime", ""),
            "complete": s.get("completionTime", ""),
        })
    print("WGS_DIAG " + json.dumps(
        {"wall_s": round(wall, 2), "stages": rows}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
