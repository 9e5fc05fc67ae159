"""Cost-distance accumulation (operators/cost.py): the tile-local Dijkstra
rounds reproduce the single-tile solve exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from whitebox_geospatial_analysis_tools_spark.operators import raster as R
from whitebox_geospatial_analysis_tools_spark.operators.cost import cost_distance


def test_cost_allocation_tile_invariance(spark):
    """cdist and the winning source agree bit-for-bit between 16-cell
    tiles (several halo rounds) and one tile covering the grid."""
    cells = (
        R.explode_cells(R.synth_raster(spark, 48, 64))
        .where(F.col("value") != R.NODATA)
        .select("row", "col", (F.lit(1.0) + F.col("value") / 64.0).alias("cost"),
                ((F.col("row") * 7 + F.col("col") * 3) % 97 == 0).alias("is_src"))
    )

    def run(tile):
        return (cost_distance(cells, tile=tile, alloc=True).toPandas()
                .sort_values(["row", "col"]).reset_index(drop=True))

    a, b = run(16), run(256)
    assert len(a) == len(b) > 0
    assert a.equals(b)
    assert a["alloc"].nunique() > 1  # several sources compete
