"""Zonal statistics, binning aggregations, point->raster gridding, IDW.

Reference semantics:
  - zonal stats set mean/min/max/range/stddev/total (+count)
    (StatsTools/src/plugins/ExtractStatistics.java:303-443 — two passes there,
    ONE partial-aggregated groupBy here)
  - points->raster collision policies min/max/sum/first/last/mean/range
    (ConversionTools/src/plugins/VectorPointsToRaster.java:315-473)
  - hex binning counts (Scripts/HexBinning.groovy:202-215)
  - point density over neighborhoods (RasterCreation/src/plugins/PointDensity.java)
  - IDW interpolation sum(z/d^w)/sum(1/d^w) within radius
    (RasterCreation/src/plugins/InterpolationIDW.java:547-561)

All are map-side-combinable groupBys on cell keys — the shuffle moves only
partial aggregates, never raw pages.  'first'/'last' are pinned to min/max
key order (min_by/max_by) — deterministic, unlike arrival-order first().

Float determinism policy: SUM/AVG/STDDEV over doubles depend on reduction
order, so cross-engine checks would be knife-edge.  The value column is
milli-scaled to exact integers (`val = val_milli / 1000.0`); all moments are
aggregated as exact BIGINTs, and every float statistic is DERIVED from those
integer moments by a fixed expression — bit-identical on any engine, any
partitioning, any scale.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def solve_rbf(sx, sy, sv, cd, *, c2: float) -> float:
    """Multiquadric RBF interpolation estimate (phi(h) = sqrt(h^2 + c^2))
    by the same pivot-free Gaussian elimination as the kriging solver —
    fixed IEEE op sequence, mirrored verbatim by the generated oracle SQL
    (queries_spatial._rbf_oracle_sql).  phi(0) = c > 0 keeps the pivots
    usable at the fixture scale; determinism matters more than conditioning
    here (both engines evaluate the identical chain)."""
    n = len(sx)
    a = [[0.0] * n for _ in range(n)]
    b = [0.0] * n
    for i in range(n):
        for j in range(n):
            dx = sx[i] - sx[j]
            dy = sy[i] - sy[j]
            a[i][j] = math.sqrt(dx * dx + dy * dy + c2)
        b[i] = sv[i]
    for ks in range(n - 1):
        for i in range(ks + 1, n):
            f = a[i][ks] / a[ks][ks]
            for j in range(ks, n):
                a[i][j] = a[i][j] - f * a[ks][j]
            b[i] = b[i] - f * b[ks]
    x = [0.0] * n
    x[n - 1] = b[n - 1] / a[n - 1][n - 1]
    for i in range(n - 2, -1, -1):
        s = b[i]
        for j in range(i + 1, n):
            s = s - a[i][j] * x[j]
        x[i] = s / a[i][i]
    est = 0.0
    for i in range(n):
        est = est + x[i] * math.sqrt(cd[i] * cd[i] + c2)
    return est


def rbf_at_cell_centers(df: DataFrame, *, k: int = 6, c2: float = 16.0) -> DataFrame:
    """Multiquadric RBF interpolation at occupied tile centers
    (RadialBasisFunctionInterpolation semantics): k nearest candidates from
    the 3x3 ring, exact n x n solve per center."""
    import numpy as np
    import pandas as pd

    from ..functions.cells import explode_k_ring

    pts = df.select(
        F.col("tile_id").alias("p_tile"), F.col("lon").alias("p_lon"),
        F.col("lat").alias("p_lat"), F.col("val").alias("p_val"),
        F.col("doc_id").alias("p_id"),
    )
    centers = (
        df.select("tile_x", "tile_y", "tile_id").distinct()
        .withColumn("cx", (F.col("tile_x") + 0.5) * exprs.TILE_SIZE)
        .withColumn("cy", (F.col("tile_y") + 0.5) * exprs.TILE_SIZE)
    )
    cand = explode_k_ring(centers, 1).join(
        pts, F.col("nbr_tile_id") == F.col("p_tile"), "inner"
    ).select("tile_id", "cx", "cy", "p_id", "p_lon", "p_lat", "p_val")

    def kernel(key, pdf):
        tid = int(key[0])
        cx, cy = float(pdf["cx"].iloc[0]), float(pdf["cy"].iloc[0])
        px = pdf["p_lon"].to_numpy()
        py = pdf["p_lat"].to_numpy()
        pv = pdf["p_val"].to_numpy()
        pid = pdf["p_id"].to_numpy()
        d = np.sqrt((px - cx) * (px - cx) + (py - cy) * (py - cy))
        order = np.lexsort((pid, d))[:k]
        if len(order) < 2:
            return pd.DataFrame({
                "tile_id": pd.Series([], dtype="int64"),
                "rbf": pd.Series([], dtype="float64"),
                "n_used": pd.Series([], dtype="int64"),
            })
        est = solve_rbf(
            [float(v) for v in px[order]], [float(v) for v in py[order]],
            [float(v) for v in pv[order]], [float(v) for v in d[order]],
            c2=c2,
        )
        return pd.DataFrame({
            "tile_id": [tid],
            "rbf": [math.floor(est * 1e6 + 0.5) / 1e6],
            "n_used": [len(order)],
        })

    return (
        cand.groupBy("tile_id")
        .applyInPandas(kernel, "tile_id long, rbf double, n_used long")
        .orderBy("tile_id")
    )


def solve_ok_kriging(sx, sy, sv, cd, *, vrange: float, sill: float) -> float:
    """Ordinary-kriging estimate in covariance form by pivot-free Gaussian
    elimination — a FIXED deterministic IEEE op sequence, mirrored verbatim
    by the generated DuckDB oracle SQL (queries_spatial._kriging_oracle_sql).
    Any change here must change the SQL generator identically."""
    n = len(sx)
    m = n + 1

    def gam(h: float) -> float:
        hn = h / vrange
        if hn > 1.0:
            hn = 1.0
        return sill * (1.5 * hn - 0.5 * hn * hn * hn)

    a = [[0.0] * m for _ in range(m)]
    b = [0.0] * m
    for i in range(n):
        for j in range(n):
            dx = sx[i] - sx[j]
            dy = sy[i] - sy[j]
            a[i][j] = sill - gam(math.sqrt(dx * dx + dy * dy))
        a[i][n] = 1.0
        b[i] = sill - gam(cd[i])
    for j in range(n):
        a[n][j] = 1.0
    a[n][n] = 0.0
    b[n] = 1.0
    for ks in range(m - 1):
        for i in range(ks + 1, m):
            f = a[i][ks] / a[ks][ks]
            for j in range(ks, m):
                a[i][j] = a[i][j] - f * a[ks][j]
            b[i] = b[i] - f * b[ks]
    x = [0.0] * m
    x[m - 1] = b[m - 1] / a[m - 1][m - 1]
    for i in range(m - 2, -1, -1):
        s = b[i]
        for j in range(i + 1, m):
            s = s - a[i][j] * x[j]
        x[i] = s / a[i][i]
    est = 0.0
    for i in range(n):
        est = est + x[i] * sv[i]
    return est

from ..functions import exprs
from ..functions.cells import explode_k_ring, with_hex

# derived-statistic SQL expressions over exact integer moments (shared
# verbatim with the DuckDB oracles — see queries_spatial.py)
MEAN_EXPR = "CAST(sum_milli AS DOUBLE) / n / 1000e0"
STD_EXPR = (
    "CASE WHEN n > 1 THEN "
    "sqrt((CAST(sumsq_milli AS DOUBLE) - CAST(sum_milli AS DOUBLE) * sum_milli / n) / (n - 1)) / 1000e0 "
    "END"
)


def _milli(df: DataFrame, value: str = "val") -> DataFrame:
    return df.withColumn("val_milli", F.expr(f"CAST(round({value} * 1000e0) AS BIGINT)"))


def zonal_stats(df: DataFrame, zone: str = "tile_id", value: str = "val") -> DataFrame:
    v = F.col(value)
    base = _milli(df, value).groupBy(zone).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("val_milli").alias("sum_milli"),
        F.sum(F.col("val_milli") * F.col("val_milli")).alias("sumsq_milli"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
        (F.max(v) - F.min(v)).alias("vrange"),
    )
    return base.select(
        zone, "n", "sum_milli",
        F.expr(MEAN_EXPR).alias("mean"),
        "vmin", "vmax", "vrange",
        F.expr(STD_EXPR).alias("vstd"),
    ).orderBy(zone)


def points_to_raster(df: DataFrame, cell: str = "tile_id", value: str = "val",
                     key: str = "doc_id") -> DataFrame:
    """All seven collision policies at once, one combinable aggregate each."""
    v, k = F.col(value), F.col(key)
    base = _milli(df, value).groupBy(cell).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
        F.sum("val_milli").alias("sum_milli"),
        (F.max(v) - F.min(v)).alias("vrange"),
        F.min_by(v, k).alias("vfirst"),
        F.max_by(v, k).alias("vlast"),
    )
    return base.select(
        cell, "n", "vmin", "vmax", "sum_milli",
        F.expr(MEAN_EXPR).alias("vmean"),
        "vrange", "vfirst", "vlast",
    ).orderBy(cell)


def hexbin_counts(df: DataFrame) -> DataFrame:
    return (
        with_hex(df)
        .groupBy("hex_q", "hex_r")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("hex_q", "hex_r")
    )


def cell_rollup(df: DataFrame) -> DataFrame:
    """Hierarchical counts at res 9/8/7 — one groupBy at the finest level,
    parents aggregated from children (no second scan of the input)."""
    c9 = df.groupBy("cell7", "cell8", "cell9").agg(F.count(F.lit(1)).alias("n"))
    l9 = c9.select(F.lit(9).alias("res"), F.col("cell9").alias("cell"), "n")
    c8 = c9.groupBy("cell7", "cell8").agg(F.sum("n").alias("n"))
    l8 = c8.select(F.lit(8).alias("res"), F.col("cell8").alias("cell"), "n")
    l7 = c8.groupBy("cell7").agg(F.sum("n").alias("n")).select(
        F.lit(7).alias("res"), F.col("cell7").alias("cell"), "n"
    )
    return l9.unionByName(l8).unionByName(l7).orderBy("res", "cell")


def point_density(df: DataFrame, radius: int = 1) -> DataFrame:
    """Count per cell smoothed over the k-ring neighborhood (PointDensity
    semantics: events within a radius of each output cell), normalized by
    neighborhood area.  Aggregate-then-smooth: the ring join runs on the
    per-cell COUNTS (tiny), never on raw points."""
    counts = df.groupBy("tile_x", "tile_y", "tile_id").agg(F.count(F.lit(1)).alias("n"))
    ring = explode_k_ring(counts, radius)
    return (
        ring.groupBy("nbr_tile_id")
        .agg(F.sum("n").alias("n_nbr"), F.count(F.lit(1)).alias("n_cells"))
        .select(
            F.col("nbr_tile_id").alias("tile_id"),
            F.col("n_nbr"),
            # exact ints -> one fixed float expression: deterministic
            (F.col("n_nbr").cast("double")
             / (F.col("n_cells") * float(exprs.TILE_SIZE) ** 2)).alias("density"),
        )
        .orderBy("tile_id")
    )


def idw_at_cell_centers(df: DataFrame) -> DataFrame:
    """IDW (power=2) at each occupied tile's center from points in the 3x3
    ring: sum(z * w)/sum(w) with w = 1/d2, d2 > 0.

    The reference searches a kd-tree per output cell
    (InterpolationIDW.java:547-561); here candidates come from the same
    k-ring equi-join as kNN, weights are plain column math.  The weighted
    sums are order-dependent in the last ulp, so the estimate is rounded to
    4 decimals for cross-engine comparison.
    """
    pts = df.select(
        F.col("tile_id").alias("p_tile"), F.col("lon").alias("p_lon"),
        F.col("lat").alias("p_lat"), F.col("val").alias("p_val"),
    )
    centers = (
        df.select("tile_x", "tile_y", "tile_id").distinct()
        .withColumn("cx", (F.col("tile_x") + 0.5) * exprs.TILE_SIZE)
        .withColumn("cy", (F.col("tile_y") + 0.5) * exprs.TILE_SIZE)
    )
    cand = explode_k_ring(centers, 1).join(
        pts, F.col("nbr_tile_id") == F.col("p_tile"), "inner"
    )
    d2 = (
        (F.col("cx") - F.col("p_lon")) * (F.col("cx") - F.col("p_lon"))
        + (F.col("cy") - F.col("p_lat")) * (F.col("cy") - F.col("p_lat"))
    )
    return (
        cand.withColumn("d2", d2)
        .where(F.col("d2") > 0)
        .withColumn("w", F.lit(1.0) / F.col("d2"))
        .groupBy("tile_id")
        .agg(
            F.round(F.sum(F.col("w") * F.col("p_val")) / F.sum("w"), 4).cast("double").alias("idw"),
            F.count(F.lit(1)).alias("n_nbr"),
        )
        .orderBy("tile_id")
    )


def kriging_at_cell_centers(df: DataFrame, *, k: int = 6, vrange: float = 12.0,
                            sill: float = 1.0) -> DataFrame:
    """Ordinary kriging at occupied tile centers (Kriging.java semantics,
    spherical variogram, fixed parameters, k nearest neighbors).

    Candidates come from the same 3x3 k-ring equi-join as IDW; the per-center
    Lagrange system solves in an Arrow-batched kernel — dimension-bounded
    work per center, never per input point.

    Cross-engine exactness: the system is solved in COVARIANCE form
    (C = sill - gamma, positive diagonal), where forward Gaussian
    elimination WITHOUT pivoting is valid (C is positive-definite for
    distinct points, and the final Schur pivot -1'C^-1 1 is nonzero), so
    the elimination runs as a fixed deterministic op sequence that the
    DuckDB oracle replays verbatim as generated SQL (one unrolled variant
    per candidate count n = 2..k) — the full value-hash oracle the driver
    checks.  Unbiasedness and exact interpolation stay property-tested in
    tests/test_kriging.py.
    """
    import numpy as np
    import pandas as pd

    pts = df.select(
        F.col("tile_id").alias("p_tile"), F.col("lon").alias("p_lon"),
        F.col("lat").alias("p_lat"), F.col("val").alias("p_val"),
        F.col("doc_id").alias("p_id"),
    )
    centers = (
        df.select("tile_x", "tile_y", "tile_id").distinct()
        .withColumn("cx", (F.col("tile_x") + 0.5) * exprs.TILE_SIZE)
        .withColumn("cy", (F.col("tile_y") + 0.5) * exprs.TILE_SIZE)
    )
    cand = explode_k_ring(centers, 1).join(
        pts, F.col("nbr_tile_id") == F.col("p_tile"), "inner"
    ).select("tile_id", "cx", "cy", "p_id", "p_lon", "p_lat", "p_val")

    def kernel(key, pdf):
        tid = int(key[0])
        cx, cy = float(pdf["cx"].iloc[0]), float(pdf["cy"].iloc[0])
        px = pdf["p_lon"].to_numpy()
        py = pdf["p_lat"].to_numpy()
        pv = pdf["p_val"].to_numpy()
        pid = pdf["p_id"].to_numpy()
        d = np.sqrt((px - cx) * (px - cx) + (py - cy) * (py - cy))
        order = np.lexsort((pid, d))[:k]
        if len(order) < 2:
            return pd.DataFrame({
                "tile_id": pd.Series([], dtype="int64"),
                "krig": pd.Series([], dtype="float64"),
                "n_used": pd.Series([], dtype="int64"),
            })
        sx = [float(v) for v in px[order]]
        sy = [float(v) for v in py[order]]
        sv = [float(v) for v in pv[order]]
        cd = [float(v) for v in d[order]]
        est = solve_ok_kriging(sx, sy, sv, cd, vrange=vrange, sill=sill)
        n = len(order)
        return pd.DataFrame({
            "tile_id": [tid],
            "krig": [math.floor(est * 1e6 + 0.5) / 1e6],
            "n_used": [n],
        })

    return (
        cand.groupBy("tile_id")
        .applyInPandas(kernel, "tile_id long, krig double, n_used long")
        .orderBy("tile_id")
    )
