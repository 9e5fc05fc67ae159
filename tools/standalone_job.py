"""spark-submit driver for the standalone-cluster evidence run.

Launched by tools/standalone_bench.py against a real local standalone
cluster (separate master / worker / executor JVMs), NOT local[*]: every
shuffle and broadcast crosses process boundaries with real serialization
and socket exchange, which is exactly what the local[*] bench numbers
assume away.  Measures

  * the flagship synthetic pipeline (same plan as ``bench.py --scaling``:
    geocode -> cells -> broadcast PIP join -> counts), warm best-of-3, and
  * the shuffle-heaviest headline queries at $SF_DIR, min-of-2 each,

and prints ONE line ``WGS_RESULT {...json...}`` for the orchestrator.

Master / executor topology comes from spark-submit; the SQL confs are
session.SQL_CONF, the ones get_spark uses, so wall times are comparable with
the local[*] bench.  Unlike get_spark, it keeps pyspark's own Python worker
daemon: on a cluster the daemon starts before any ``pyFiles`` arrive, so the
engine's ``worker_daemon`` module could not be imported there.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession

from whitebox_geospatial_analysis_tools_spark.session import SQL_CONF, best_of


def build_spark() -> SparkSession:
    return (
        SparkSession.builder.appName("wgs-standalone-bench")
        .config(map=SQL_CONF)
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-pages", type=int, default=512_000_000)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", default="find_polygon_chains,dedup_clusters,mass_flux")
    ap.add_argument("--para-docs", type=int, default=0,
                    help="also time paragraph_dedup over this many synthetic "
                         "chained-near-dup docs (tools/soak.py corpus) — an "
                         "at-SCALE shuffle query, unlike the sf0.1 fixtures")
    args = ap.parse_args()

    spark = build_spark()
    from pyspark.sql import functions as F
    from whitebox_geospatial_analysis_tools_spark.plans.pipeline import flagship_synthetic
    from whitebox_geospatial_analysis_tools_spark import queries as Q
    from whitebox_geospatial_analysis_tools_spark.operators import textops

    best = float("inf")
    if args.n_pages > 0:
        # flagship: warm once (JIT/codegen/python-worker fork), then best-of-3 —
        # identical protocol to bench.py --scaling so the local[*] ladder and
        # the standalone ladder are the same measurement with diff. executors.
        flagship_synthetic(spark, args.n_pages).count()
        best = best_of(lambda: flagship_synthetic(spark, args.n_pages).count(), 3)

    para_wall = None
    if args.para_docs > 0:
        # same chained-near-dup corpus as tools/soak.py: adjacent doc ids
        # share 38 of 40 tokens, so block hashes collide corpus-wide — the
        # explode -> block-hash shuffle -> doc_id shuffle all carry real data.
        def _docs():
            return spark.range(args.para_docs).select(
                F.col("id").alias("doc_id"),
                F.expr("array_join(transform(sequence(id * 2, id * 2 + 39), "
                       "j -> concat('tok', j % 1000000)), ' ')").alias("text"))
        def _dups():
            return textops.paragraph_dedup(_docs()).agg(
                F.sum("n_dup_blocks").alias("d")).collect()[0]["d"]
        assert _dups() > 0  # the warm call
        para_wall = best_of(_dups, 2)

    qs = Q.all_queries()
    walls = {}
    for name in [q for q in args.queries.split(",") if q]:
        fn = qs[name]
        fn(spark, args.sf).count()  # warm, then min of 2 timed runs
        walls[name] = round(best_of(lambda: fn(spark, args.sf).count(), 2), 3)

    out = {
        "metric": "standalone_cluster_bench",
        "flagship_pages_per_sec": (
            round(args.n_pages / best, 1) if args.n_pages > 0 else None),
        "flagship_n_pages": args.n_pages,
        "flagship_best_s": round(best, 3) if args.n_pages > 0 else None,
        "para_docs": args.para_docs,
        "para_wall_s": round(para_wall, 3) if para_wall is not None else None,
        "queries": walls,
        "sf": args.sf,
        "executors": spark.sparkContext.getConf().get("spark.cores.max", "?"),
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }
    print("WGS_RESULT " + json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
