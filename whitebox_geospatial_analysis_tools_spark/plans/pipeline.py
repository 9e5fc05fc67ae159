"""End-to-end north-star pipeline compositions.

flagship(spark, sf_dir): pages-as-points -> deterministic geocode -> tile +
hierarchical cell assignment -> broadcast polygon cell-index join -> exact
even-odd ray-cast refinement -> per-polygon counts.  This is the single query
the whole architecture is judged on (BASELINE.md benchmark definition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cells import with_cells
from ..operators.spatial_join import pip_counts, pip_join
from ..sources.pages import geocoded_pages, points_from_documents


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = points_from_documents(spark, sf_dir)
    return pip_counts(pts, spark)


def flagship_synthetic(spark: SparkSession, n_pages: int) -> DataFrame:
    """Same pipeline over the synthetic url-keyed pages table (bench path):
    geocode(xxhash64(url)) -> cells -> PIP join -> counts + tile assignment."""
    pts = geocoded_pages(spark, n_pages)
    pairs = pip_join(pts.withColumn("doc_id", F.abs(F.xxhash64("url"))), spark,
                     keep=("url",))
    return pairs.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n_pages"))


def run_north_star(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """The complete north-star job as one resumable, lineage-tracked run:

      pages-as-points -> geocode -> tile + res 7-9 cell assignment ->
      broadcast classified-cell PIP join (spatial LEFT join: unmatched pages
      keep null poly_id) -> per-tile output partitions committed with
      per-partition lineage rows (plans/lineage.py) -> per-polygon counts.

    One key scan (``groupBy(tile_y).count()``) gives the rows per output
    partition, and the write commits them in row-budgeted batches
    (``lineage.BATCH_ROWS``): a run under the budget is one data job, one
    join and one manifest.  Re-running after a partial failure resumes from
    the last committed batch; output is partition-count invariant
    (tests/test_properties).
    Returns {'summary': lineage summary dict, 'counts': [(poly_id, n)]}.
    """
    from ..operators.spatial_join import pip_join
    from . import lineage as L

    pts = with_cells(points_from_documents(spark, sf_dir))
    # spatial left join keeps every page; result carries all point columns
    # (tile/cell assignments) + poly_id
    joined = pip_join(pts, spark, keep=("doc_id",), how="left").select(
        "doc_id", "tile_id", "tile_y", "cell7", "cell8", "cell9", "poly_id"
    )
    key_rows = {r.tile_y: r["count"] for r in pts.groupBy("tile_y").count().collect()}
    summary = L.run_resumable(
        spark, joined, out_dir, "tile_y", key_rows,
        input_desc=f"documents@{sf_dir}",
    )
    out = spark.read.parquet(f"{out_dir}/{L.DATA_DIR}")
    counts = (
        out.where(F.col("poly_id").isNotNull())
        .groupBy("poly_id").agg(F.count(F.lit(1)).alias("n_pages"))
        .orderBy("poly_id").collect()
    )
    return {"summary": summary, "counts": [(r.poly_id, r.n_pages) for r in counts]}
