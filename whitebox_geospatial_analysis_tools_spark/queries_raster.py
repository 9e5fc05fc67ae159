"""Raster query registry entries + DuckDB oracles.

The synthetic raster is deterministic and DYADIC-valued (operators/raster.py
cell_value_sql), so sums/means/moments are exact in both engines and results
compare bit-for-bit; only transcendental outputs (slope/hillshade) round to
6 decimals.  Oracles compute over the exploded (row, col, value) relational
view built from the same shared formula via DuckDB ``range()``.

Raster ops covered (SURVEY.md §2):
  stats/histogram        — ImageAverage/Total/StdDev, Histogram (§2.4)
  map/zip algebra        — MathTools family + RasterCalculator fusion (§2.8)
  focal mean/min/max/
  range/stddev/total     — Filter* sliding windows (§2.5)
  slope / hillshade      — 3x3 terrain derivatives (§2.5)
  downsample             — Aggregate (§2.4)
  reclass                — Reclass (§2.2)
  minmax contrast        — ContrastStretch family (§2.13)
  two-band index         — NDVI-shape band arithmetic (§2.13)
  raster -> points       — RasterToVectorPoints (§2.10)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import queries as Q
from .operators import raster as R
from .functions.exprs import A, C, M
from .operators.raster import NODATA, cell_value_sql

ROWS, COLS = 240, 360
_ND = R.NODATA

_VAL = cell_value_sql("r.r", "c.c", 0, COLS)
_VAL1 = cell_value_sql("r.r", "c.c", 1, COLS)

_RAS = (
    f"ras AS (SELECT r.r AS row, c.c AS col, {_VAL} AS value "
    f"FROM range(0, {ROWS}) r(r), range(0, {COLS}) c(c))"
)
_RAS2 = (
    f"ras2 AS (SELECT r.r AS row, c.c AS col, {_VAL1} AS value "
    f"FROM range(0, {ROWS}) r(r), range(0, {COLS}) c(c))"
)
_NDF = f"value != {R.NODATA!r}e0"


def _dem(spark, band: int = 0):
    return R.synth_raster(spark, ROWS, COLS, band=band)


FROWS, FCOLS = 120, 180
_FVAL = cell_value_sql("r.r", "c.c", 0, FCOLS)
_RASF = (
    f"ras AS (SELECT r.r AS row, c.c AS col, {_FVAL} AS value "
    f"FROM range(0, {FROWS}) r(r), range(0, {FCOLS}) c(c))"
)


def _demf(spark):
    return R.synth_raster(spark, FROWS, FCOLS)



# -- whole-raster stats (§2.4) ------------------------------------------------
@Q.register(
    "raster_stats",
    f"WITH {_RAS} SELECT COUNT(*) AS n, "
    "CAST(ROUND(SUM(value) / COUNT(*), 6) AS DOUBLE) AS mean_val, "
    "MIN(value) AS min_val, MAX(value) AS max_val, "
    "CAST(ROUND(SQRT((SUM(value * value) - SUM(value) * SUM(value) / COUNT(*)) "
    "/ (COUNT(*) - 1)), 6) AS DOUBLE) AS stddev_val "
    f"FROM ras WHERE {_NDF}",
)
def q_raster_stats(spark, sf):
    return R.raster_stats(_dem(spark))


@Q.register(
    "raster_histogram",
    f"WITH {_RAS} SELECT CAST(FLOOR(value / 20e0) AS BIGINT) AS bin, COUNT(*) AS n "
    f"FROM ras WHERE {_NDF} GROUP BY 1 ORDER BY 1",
)
def q_raster_histogram(spark, sf):
    cells = R.explode_cells(_dem(spark))
    return (
        cells.where(F.col("value") != _ND)
        .groupBy(F.expr("CAST(FLOOR(value / 20e0) AS BIGINT)").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bin")
    )


# -- raster algebra (§2.8): fused unary expression ---------------------------
@Q.register(
    "raster_algebra",
    f"WITH {_RAS} SELECT row, col, "
    f"CASE WHEN value = {R.NODATA!r}e0 THEN {R.NODATA!r}e0 "
    "ELSE value * 2e0 + 100e0 END AS value "
    "FROM ras ORDER BY row, col",
)
def q_raster_algebra(spark, sf):
    out = R.map_algebra(_dem(spark), "v * 2e0 + 100e0")
    return R.explode_cells(out).orderBy("row", "col")


@Q.register(
    "raster_zip_add",
    f"WITH {_RAS}, {_RAS2} SELECT a.row, a.col, "
    f"CASE WHEN a.value = {R.NODATA!r}e0 OR b.value = {R.NODATA!r}e0 "
    f"THEN {R.NODATA!r}e0 ELSE a.value + b.value END AS value "
    "FROM ras a JOIN ras2 b USING (row, col) ORDER BY a.row, a.col",
)
def q_raster_zip_add(spark, sf):
    out = R.zip_algebra(_dem(spark, 0), _dem(spark, 1), "x + y")
    return R.explode_cells(out).orderBy("row", "col")


# -- focal windows (§2.5) -----------------------------------------------------
_NBR = (
    "nbr AS (SELECT a.row AS row, a.col AS col, a.value AS av, b.value AS bv "
    "FROM ras a JOIN ras b ON b.row BETWEEN a.row - 1 AND a.row + 1 "
    "AND b.col BETWEEN a.col - 1 AND a.col + 1 "
    f"WHERE a.value != {R.NODATA!r}e0)"
)


@Q.register(
    "focal_mean",
    f"WITH {_RASF}, {_NBR} SELECT row, col, "
    f"SUM(CASE WHEN bv = {R.NODATA!r}e0 THEN 0e0 ELSE bv END) "
    f"/ COUNT(*) FILTER (bv != {R.NODATA!r}e0) AS value "
    f"FROM nbr GROUP BY 1, 2 HAVING COUNT(*) FILTER (bv != {R.NODATA!r}e0) > 0 "
    "ORDER BY row, col",
)
def q_focal_mean(spark, sf):
    out = R.focal(_demf(spark), "mean")
    return (
        R.explode_cells(out).where(F.col("value") != _ND).orderBy("row", "col")
    )


@Q.register(
    "focal_stats",
    f"WITH {_RASF}, {_NBR}, live AS (SELECT row, col, bv FROM nbr WHERE bv != {R.NODATA!r}e0) "
    "SELECT row, col, MIN(bv) AS min_v, MAX(bv) AS max_v, "
    "MAX(bv) - MIN(bv) AS range_v, SUM(bv) AS total_v, "
    "CASE WHEN COUNT(*) < 2 THEN NULL ELSE "
    "SQRT((SUM(bv * bv) - SUM(bv) * SUM(bv) / COUNT(*)) / (COUNT(*) - 1)) END AS std_v "
    "FROM live GROUP BY 1, 2 ORDER BY row, col",
)
def q_focal_stats(spark, sf):
    dem = _demf(spark)
    parts = {s: R.explode_cells(R.focal(dem, s), f"{s}_v") for s in
             ("min", "max", "range", "total", "stddev")}
    out = parts["min"]
    for s in ("max", "range", "total"):
        out = out.join(parts[s], ["row", "col"])
    std = parts["stddev"].withColumnRenamed("stddev_v", "std_v")
    out = out.join(std, ["row", "col"])
    out = out.where(F.col("min_v") != _ND).withColumn(
        "std_v", F.when(F.col("std_v") == _ND, None).otherwise(F.col("std_v"))
    )
    return out.orderBy("row", "col")


_SLOPE_SQL = (
    "DEGREES(ATAN(SQRT("
    "POW((ne + 2e0 * ev + se - nw - 2e0 * wv - sw) / 8e0, 2) + "
    "POW((sw + 2e0 * ss + se - nw - 2e0 * nn - ne) / 8e0, 2))))"
)
_W9 = (
    "w9 AS (SELECT a.row AS row, a.col AS col, a.value AS cv, "
    "MAX(CASE WHEN b.row = a.row - 1 AND b.col = a.col - 1 THEN b.value END) AS nw, "
    "MAX(CASE WHEN b.row = a.row - 1 AND b.col = a.col     THEN b.value END) AS nn, "
    "MAX(CASE WHEN b.row = a.row - 1 AND b.col = a.col + 1 THEN b.value END) AS ne, "
    "MAX(CASE WHEN b.row = a.row     AND b.col = a.col - 1 THEN b.value END) AS wv, "
    "MAX(CASE WHEN b.row = a.row     AND b.col = a.col + 1 THEN b.value END) AS ev, "
    "MAX(CASE WHEN b.row = a.row + 1 AND b.col = a.col - 1 THEN b.value END) AS sw, "
    "MAX(CASE WHEN b.row = a.row + 1 AND b.col = a.col     THEN b.value END) AS ss, "
    "MAX(CASE WHEN b.row = a.row + 1 AND b.col = a.col + 1 THEN b.value END) AS se "
    "FROM ras a JOIN ras b ON b.row BETWEEN a.row - 1 AND a.row + 1 "
    "AND b.col BETWEEN a.col - 1 AND a.col + 1 "
    "GROUP BY 1, 2, 3)"
)


@Q.register(
    "slope",
    f"WITH {_RASF}, {_W9} SELECT row, col, "
    f"(FLOOR(({_SLOPE_SQL}) * 1e6 + 0.5e0) / 1e6) AS value FROM w9 "
    f"WHERE cv != {R.NODATA!r}e0 AND {R.NODATA!r}e0 NOT IN (nw, nn, ne, wv, ev, sw, ss, se) "
    "AND nw IS NOT NULL AND nn IS NOT NULL AND ne IS NOT NULL AND wv IS NOT NULL "
    "AND ev IS NOT NULL AND sw IS NOT NULL AND ss IS NOT NULL AND se IS NOT NULL "
    "ORDER BY row, col",
)
def q_slope(spark, sf):
    out = R.focal(_demf(spark), "slope")
    return (
        R.explode_cells(out).where(F.col("value") != _ND).orderBy("row", "col")
    )


# -- downsample (§2.4 Aggregate) ---------------------------------------------
@Q.register(
    "raster_downsample",
    f"WITH {_RAS} SELECT CAST(FLOOR(row / 4e0) AS BIGINT) AS brow, "
    "CAST(FLOOR(col / 4e0) AS BIGINT) AS bcol, "
    "CAST(ROUND(AVG(value), 6) AS DOUBLE) AS mean_val, COUNT(*) AS n "
    f"FROM ras WHERE {_NDF} GROUP BY 1, 2 ORDER BY 1, 2",
)
def q_raster_downsample(spark, sf):
    return R.downsample(_dem(spark), 4).orderBy("brow", "bcol")


# -- reclass (§2.2) -----------------------------------------------------------
@Q.register(
    "raster_reclass",
    f"WITH {_RAS} SELECT CASE WHEN value < 50e0 THEN 1 WHEN value < 100e0 THEN 2 "
    "WHEN value < 150e0 THEN 3 ELSE 4 END AS cls, COUNT(*) AS n "
    f"FROM ras WHERE {_NDF} GROUP BY 1 ORDER BY 1",
)
def q_raster_reclass(spark, sf):
    out = R.map_algebra(
        _dem(spark),
        "CASE WHEN v < 50e0 THEN 1e0 WHEN v < 100e0 THEN 2e0 "
        "WHEN v < 150e0 THEN 3e0 ELSE 4e0 END",
    )
    return (
        R.explode_cells(out).where(F.col("value") != _ND)
        .groupBy(F.col("value").cast("int").alias("cls"))
        .agg(F.count(F.lit(1)).alias("n")).orderBy("cls")
    )


# -- raster -> vector points (§2.10) ------------------------------------------
@Q.register(
    "raster_to_points",
    f"WITH {_RAS} SELECT row, col, value FROM ras WHERE {_NDF} AND value > 150e0 "
    "ORDER BY row, col",
)
def q_raster_to_points(spark, sf):
    cells = R.explode_cells(_dem(spark))
    return (
        cells.where((F.col("value") != _ND) & (F.col("value") > 150e0))
        .orderBy("row", "col")
    )


# -- clump: connected-component labeling (§2.4; Clump.java) -------------------
_CROWS, _CCOLS = 60, 90
_CVAL = cell_value_sql("r.r", "c.c", 0, _CCOLS)
_CBASE = (
    f"cells AS (SELECT r.r AS row, c.c AS col, {_CVAL} AS v "
    f"FROM range(0, {_CROWS}) r(r), range(0, {_CCOLS}) c(c)), "
    f"base AS (SELECT row, col, CAST(FLOOR(v / 50e0) AS BIGINT) AS cls, "
    f"row * {_CCOLS} + col AS id FROM cells WHERE v != {NODATA!r}e0), "
    "adj AS (SELECT a.id AS id, b.id AS nid FROM base a JOIN base b "
    "ON a.cls = b.cls AND ABS(a.row - b.row) + ABS(a.col - b.col) <= 1), "
    "reach(id, rid) AS (SELECT id, id FROM base UNION "
    "SELECT r.id, a.nid FROM reach r JOIN adj a ON a.id = r.rid), "
    "lab AS (SELECT id, MIN(rid) AS label FROM reach GROUP BY 1)"
)


@Q.register(
    "clump_sizes",
    f"WITH RECURSIVE {_CBASE} "
    "SELECT b.cls, l.label, COUNT(*) AS n_cells FROM base b JOIN lab l USING (id) "
    "GROUP BY 1, 2 ORDER BY 1, 2",
)
def q_clump_sizes(spark, sf):
    from .operators.clump import clump_sizes

    cells = (
        R.explode_cells(R.synth_raster(spark, _CROWS, _CCOLS))
        .where(F.col("value") != _ND)
        .select("row", "col", F.expr("CAST(FLOOR(value / 50e0) AS BIGINT)").alias("cls"))
    )
    return clump_sizes(cells, _CCOLS).orderBy("cls", "label")


# -- vector lines -> raster cells (§2.10; VectorLinesToRaster.java) -----------
_NLINES, _LSTEPS = 24, 256
# deterministic endpoints from the LCG chain (dyadic-free; pure arithmetic)
_LX1 = f"((({{i}} * {A} + {C}) % {M}) % 360000) / 1000e0"
_LY1 = f"(((({{i}} + 7) * {A} + {C}) % {M}) % 180000) / 1000e0"
_LX2 = f"(((({{i}} + 13) * {A} + {C}) % {M}) % 360000) / 1000e0"
_LY2 = f"(((({{i}} + 29) * {A} + {C}) % {M}) % 180000) / 1000e0"


@Q.register(
    "lines_to_raster",
    f"""WITH lines AS (SELECT t.i AS line_id,
  {_LX1.format(i='t.i')} AS x1, {_LY1.format(i='t.i')} AS y1,
  {_LX2.format(i='t.i')} AS x2, {_LY2.format(i='t.i')} AS y2
  FROM range(0, {_NLINES}) t(i)),
steps AS (SELECT line_id, x1, y1, x2, y2, unnest(generate_series(0, {_LSTEPS})) AS s FROM lines),
cells AS (SELECT DISTINCT line_id,
  CAST(FLOOR((x1 + s * (x2 - x1) / {_LSTEPS}e0) / 6e0) AS BIGINT) AS cx,
  CAST(FLOOR((y1 + s * (y2 - y1) / {_LSTEPS}e0) / 6e0) AS BIGINT) AS cy
  FROM steps)
SELECT line_id, COUNT(*) AS n_cells, MIN(cy * 60 + cx) AS min_cell, MAX(cy * 60 + cx) AS max_cell
FROM cells GROUP BY 1 ORDER BY 1""",
)
def q_lines_to_raster(spark, sf):
    x1, y1 = _LX1.format(i="id"), _LY1.format(i="id")
    x2, y2 = _LX2.format(i="id"), _LY2.format(i="id")
    lines = spark.range(_NLINES).select(
        F.col("id").alias("line_id"),
        F.expr(x1).alias("x1"), F.expr(y1).alias("y1"),
        F.expr(x2).alias("x2"), F.expr(y2).alias("y2"),
    )
    cells = (
        lines.withColumn("s", F.explode(F.sequence(F.lit(0), F.lit(_LSTEPS))))
        .select(
            "line_id",
            F.expr(f"CAST(FLOOR((x1 + s * (x2 - x1) / {_LSTEPS}e0) / 6e0) AS BIGINT)").alias("cx"),
            F.expr(f"CAST(FLOOR((y1 + s * (y2 - y1) / {_LSTEPS}e0) / 6e0) AS BIGINT)").alias("cy"),
        )
        .distinct()
    )
    return (
        cells.groupBy("line_id")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.min(F.col("cy") * 60 + F.col("cx")).alias("min_cell"),
            F.max(F.col("cy") * 60 + F.col("cx")).alias("max_cell"),
        )
        .orderBy("line_id")
    )


# -- mosaic of two rasters with priority resolve (§2.7; Mosaic.java) ----------
@Q.register(
    "mosaic",
    f"WITH {_RAS}, {_RAS2} SELECT COUNT(*) AS n, "
    "CAST(ROUND(SUM(CASE WHEN a.value != " + f"{NODATA!r}e0 THEN a.value ELSE b.value END), 6) AS DOUBLE) AS total "
    "FROM ras a JOIN ras2 b USING (row, col) "
    f"WHERE a.value != {NODATA!r}e0 OR b.value != {NODATA!r}e0",
)
def q_mosaic(spark, sf):
    merged = R.explode_cells(_dem(spark, 0)).withColumnRenamed("value", "a").join(
        R.explode_cells(_dem(spark, 1)).withColumnRenamed("value", "b"), ["row", "col"]
    )
    return (
        merged.where((F.col("a") != _ND) | (F.col("b") != _ND))
        .select(F.when(F.col("a") != _ND, F.col("a")).otherwise(F.col("b")).alias("v"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 6).cast("double").alias("total"))
    )


# -- hydrology slice (§2.12): D8 pointer, flow accumulation, streams ----------
_HROWS, _HCOLS = 60, 90
_HVAL = cell_value_sql("r.r", "c.c", 0, _HCOLS)
_SQ2 = "1.4142135623730951e0"
_HYD_BASE = (
    f"cells AS (SELECT r.r AS row, c.c AS col, {_HVAL} AS v "
    f"FROM range(0, {_HROWS}) r(r), range(0, {_HCOLS}) c(c)), "
    f"live AS (SELECT row, col, NULLIF(v, {NODATA!r}e0) AS v FROM cells), "
    "w9 AS (SELECT a.row, a.col, a.v AS cv, "
    "MAX(CASE WHEN b.row = a.row - 1 AND b.col = a.col - 1 THEN b.v END) AS n0, "
    "MAX(CASE WHEN b.row = a.row - 1 AND b.col = a.col     THEN b.v END) AS n1, "
    "MAX(CASE WHEN b.row = a.row - 1 AND b.col = a.col + 1 THEN b.v END) AS n2, "
    "MAX(CASE WHEN b.row = a.row     AND b.col = a.col - 1 THEN b.v END) AS n3, "
    "MAX(CASE WHEN b.row = a.row     AND b.col = a.col + 1 THEN b.v END) AS n4, "
    "MAX(CASE WHEN b.row = a.row + 1 AND b.col = a.col - 1 THEN b.v END) AS n5, "
    "MAX(CASE WHEN b.row = a.row + 1 AND b.col = a.col     THEN b.v END) AS n6, "
    "MAX(CASE WHEN b.row = a.row + 1 AND b.col = a.col + 1 THEN b.v END) AS n7 "
    "FROM live a JOIN live b ON b.row BETWEEN a.row - 1 AND a.row + 1 "
    "AND b.col BETWEEN a.col - 1 AND a.col + 1 AND b.v IS NOT NULL "
    "WHERE a.v IS NOT NULL GROUP BY 1, 2, 3), "
    "rates AS (SELECT row, col, "
    f"COALESCE((cv - n0) / {_SQ2}, -1e30) AS r0, COALESCE(cv - n1, -1e30) AS r1, "
    f"COALESCE((cv - n2) / {_SQ2}, -1e30) AS r2, COALESCE(cv - n3, -1e30) AS r3, "
    f"COALESCE(cv - n4, -1e30) AS r4, COALESCE((cv - n5) / {_SQ2}, -1e30) AS r5, "
    f"COALESCE(cv - n6, -1e30) AS r6, COALESCE((cv - n7) / {_SQ2}, -1e30) AS r7 "
    "FROM w9), "
    "d8 AS (SELECT row, col, CASE "
    "WHEN GREATEST(r0,r1,r2,r3,r4,r5,r6,r7) <= 0e0 THEN 0 "
    "WHEN r0 = GREATEST(r0,r1,r2,r3,r4,r5,r6,r7) THEN 1 "
    "WHEN r1 = GREATEST(r0,r1,r2,r3,r4,r5,r6,r7) THEN 2 "
    "WHEN r2 = GREATEST(r0,r1,r2,r3,r4,r5,r6,r7) THEN 4 "
    "WHEN r3 = GREATEST(r0,r1,r2,r3,r4,r5,r6,r7) THEN 8 "
    "WHEN r4 = GREATEST(r0,r1,r2,r3,r4,r5,r6,r7) THEN 16 "
    "WHEN r5 = GREATEST(r0,r1,r2,r3,r4,r5,r6,r7) THEN 32 "
    "WHEN r6 = GREATEST(r0,r1,r2,r3,r4,r5,r6,r7) THEN 64 "
    "ELSE 128 END AS code FROM rates)"
)
_HYD_EDGES = (
    "edges AS (SELECT row * 1000000 + col AS id, "
    "(row + CASE CAST(log2(code) AS INT) WHEN 0 THEN -1 WHEN 1 THEN -1 WHEN 2 THEN -1 "
    "WHEN 3 THEN 0 WHEN 4 THEN 0 WHEN 5 THEN 1 WHEN 6 THEN 1 ELSE 1 END) * 1000000 + "
    "(col + CASE CAST(log2(code) AS INT) WHEN 0 THEN -1 WHEN 1 THEN 0 WHEN 2 THEN 1 "
    "WHEN 3 THEN -1 WHEN 4 THEN 1 WHEN 5 THEN -1 WHEN 6 THEN 0 ELSE 1 END) AS nid "
    "FROM d8 WHERE code > 0), "
    "reach(id, nid) AS (SELECT id, nid FROM edges UNION "
    "SELECT r.id, e.nid FROM reach r JOIN edges e ON e.id = r.nid), "
    "acc AS (SELECT d.row, d.col, 1 + COALESCE(c.n_up, 0) AS accum FROM d8 d "
    "LEFT JOIN (SELECT nid, COUNT(*) AS n_up FROM reach GROUP BY 1) c "
    "ON d.row * 1000000 + d.col = c.nid)"
)


def _hydem(spark):
    return R.synth_raster(spark, _HROWS, _HCOLS)


@Q.register(
    "flow_d8",
    f"WITH {_HYD_BASE} SELECT row, col, CAST(code AS BIGINT) AS code FROM d8 ORDER BY row, col",
)
def q_flow_d8(spark, sf):
    from .operators.hydro import flow_pointer_d8

    return flow_pointer_d8(_hydem(spark)).orderBy("row", "col")


@Q.register(
    "flow_accum",
    f"WITH RECURSIVE {_HYD_BASE}, {_HYD_EDGES} "
    "SELECT row, col, CAST(accum AS BIGINT) AS accum FROM acc ORDER BY row, col",
)
def q_flow_accum(spark, sf):
    from .operators.hydro import flow_accum, flow_pointer_d8

    return (
        flow_accum(flow_pointer_d8(_hydem(spark)))
        .select("row", "col", F.col("accum").cast("long").alias("accum"))
        .orderBy("row", "col")
    )


@Q.register(
    "extract_streams",
    f"WITH RECURSIVE {_HYD_BASE}, {_HYD_EDGES} "
    "SELECT row, col, CAST(accum AS BIGINT) AS accum FROM acc WHERE accum >= 20 "
    "ORDER BY row, col",
)
def q_extract_streams(spark, sf):
    from .operators.hydro import extract_streams, flow_pointer_d8

    return (
        extract_streams(flow_pointer_d8(_hydem(spark)), 20)
        .select("row", "col", F.col("accum").cast("long").alias("accum"))
        .orderBy("row", "col")
    )


# -- zonal stats with a RASTER zone layer (§2.3 raster-raster alignment) ------
@Q.register(
    "zonal_raster",
    f"WITH {_RAS}, {_RAS2} SELECT CAST(FLOOR(b.value / 30e0) AS BIGINT) AS zone, "
    "COUNT(*) AS n, CAST(ROUND(SUM(a.value) / COUNT(*), 6) AS DOUBLE) AS mean_val, "
    "MIN(a.value) AS min_val, MAX(a.value) AS max_val "
    "FROM ras a JOIN ras2 b USING (row, col) "
    f"WHERE a.value != {NODATA!r}e0 AND b.value != {NODATA!r}e0 "
    "GROUP BY 1 ORDER BY 1",
)
def q_zonal_raster(spark, sf):
    a = R.explode_cells(_dem(spark, 0)).withColumnRenamed("value", "a")
    b = R.explode_cells(_dem(spark, 1)).withColumnRenamed("value", "b")
    j = a.join(b, ["row", "col"]).where((F.col("a") != _ND) & (F.col("b") != _ND))
    return (
        j.groupBy(F.expr("CAST(FLOOR(b / 30e0) AS BIGINT)").alias("zone"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("a") / F.count(F.lit(1)), 6).cast("double").alias("mean_val"),
            F.min("a").alias("min_val"),
            F.max("a").alias("max_val"),
        )
        .orderBy("zone")
    )


# -- focal median (FilterMedian.java) and aspect (Aspect.java) ----------------
@Q.register(
    "focal_median",
    f"WITH {_RASF}, {_NBR} SELECT row, col, "
    f"MEDIAN(bv) FILTER (bv != {NODATA!r}e0) AS value "
    f"FROM nbr GROUP BY 1, 2 HAVING COUNT(*) FILTER (bv != {NODATA!r}e0) > 0 "
    "ORDER BY row, col",
)
def q_focal_median(spark, sf):
    out = R.focal(_demf(spark), "median")
    return R.explode_cells(out).where(F.col("value") != _ND).orderBy("row", "col")


_ASPECT_SQL = (
    "CASE WHEN DEGREES(ATAN2((sw + 2e0 * ss + se - nw - 2e0 * nn - ne) / 8e0, "
    "-((ne + 2e0 * ev + se - nw - 2e0 * wv - sw) / 8e0))) < 0e0 "
    "THEN DEGREES(ATAN2((sw + 2e0 * ss + se - nw - 2e0 * nn - ne) / 8e0, "
    "-((ne + 2e0 * ev + se - nw - 2e0 * wv - sw) / 8e0))) + 360e0 "
    "ELSE DEGREES(ATAN2((sw + 2e0 * ss + se - nw - 2e0 * nn - ne) / 8e0, "
    "-((ne + 2e0 * ev + se - nw - 2e0 * wv - sw) / 8e0))) END"
)


@Q.register(
    "aspect",
    f"WITH {_RASF}, {_W9} SELECT row, col, "
    f"(FLOOR(({_ASPECT_SQL}) * 1e6 + 0.5e0) / 1e6) AS value FROM w9 "
    f"WHERE cv != {NODATA!r}e0 AND {NODATA!r}e0 NOT IN (nw, nn, ne, wv, ev, sw, ss, se) "
    "AND nw IS NOT NULL AND nn IS NOT NULL AND ne IS NOT NULL AND wv IS NOT NULL "
    "AND ev IS NOT NULL AND sw IS NOT NULL AND ss IS NOT NULL AND se IS NOT NULL "
    "ORDER BY row, col",
)
def q_aspect(spark, sf):
    out = R.focal(_demf(spark), "aspect")
    return R.explode_cells(out).where(F.col("value") != _ND).orderBy("row", "col")


# -- Sobel edge magnitude (FilterSobel.java) ----------------------------------
_SOBEL_SQL = (
    "SQRT(POW(ne + 2e0 * ev + se - nw - 2e0 * wv - sw, 2) + "
    "POW(sw + 2e0 * ss + se - nw - 2e0 * nn - ne, 2))"
)


@Q.register(
    "sobel",
    f"WITH {_RASF}, {_W9} SELECT row, col, "
    f"(FLOOR(({_SOBEL_SQL}) * 1e6 + 0.5e0) / 1e6) AS value FROM w9 "
    f"WHERE cv != {NODATA!r}e0 AND {NODATA!r}e0 NOT IN (nw, nn, ne, wv, ev, sw, ss, se) "
    "AND nw IS NOT NULL AND nn IS NOT NULL AND ne IS NOT NULL AND wv IS NOT NULL "
    "AND ev IS NOT NULL AND sw IS NOT NULL AND ss IS NOT NULL AND se IS NOT NULL "
    "ORDER BY row, col",
)
def q_sobel(spark, sf):
    out = R.focal(_demf(spark), "sobel")
    return R.explode_cells(out).where(F.col("value") != _ND).orderBy("row", "col")


# -- weighted overlay (§2.7; WeightedSum.java / WeightedOverlay.java) ---------
@Q.register(
    "weighted_overlay",
    f"WITH {_RAS}, {_RAS2} SELECT COUNT(*) AS n, "
    "CAST(ROUND(SUM(0.75e0 * a.value + 0.25e0 * b.value), 6) AS DOUBLE) AS total, "
    "MIN(0.75e0 * a.value + 0.25e0 * b.value) AS min_v, "
    "MAX(0.75e0 * a.value + 0.25e0 * b.value) AS max_v "
    "FROM ras a JOIN ras2 b USING (row, col) "
    f"WHERE a.value != {NODATA!r}e0 AND b.value != {NODATA!r}e0",
)
def q_weighted_overlay(spark, sf):
    out = R.zip_algebra(_dem(spark, 0), _dem(spark, 1), "0.75e0 * x + 0.25e0 * y")
    cells = R.explode_cells(out).where(F.col("value") != _ND)
    return cells.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 6).cast("double").alias("total"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


# -- raster cross-tabulation (§2.4; CrossTabulation.java:228-268) -------------
@Q.register(
    "raster_crosstab",
    f"WITH {_RAS}, {_RAS2} SELECT CAST(FLOOR(a.value / 50e0) AS BIGINT) AS c1, "
    "CAST(FLOOR(b.value / 50e0) AS BIGINT) AS c2, COUNT(*) AS n "
    "FROM ras a JOIN ras2 b USING (row, col) "
    f"WHERE a.value != {NODATA!r}e0 AND b.value != {NODATA!r}e0 "
    "GROUP BY 1, 2 ORDER BY 1, 2",
)
def q_raster_crosstab(spark, sf):
    a = R.explode_cells(_dem(spark, 0)).withColumnRenamed("value", "a")
    b = R.explode_cells(_dem(spark, 1)).withColumnRenamed("value", "b")
    j = a.join(b, ["row", "col"]).where((F.col("a") != _ND) & (F.col("b") != _ND))
    return (
        j.groupBy(
            F.expr("CAST(FLOOR(a / 50e0) AS BIGINT)").alias("c1"),
            F.expr("CAST(FLOOR(b / 50e0) AS BIGINT)").alias("c2"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("c1", "c2")
    )


# -- trend surface: OLS plane fit z = a + b x + c y (§2.9; TrendSurface.java) -
_TS_SUMS = (
    "s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(lon) AS sx, SUM(lat) AS sy, "
    "SUM(val) AS sz, SUM(lon * lon) AS sxx, SUM(lon * lat) AS sxy, "
    "SUM(lat * lat) AS syy, SUM(lon * val) AS sxz, SUM(lat * val) AS syz FROM pts)"
)
_TS_DET = "(n * (sxx * syy - sxy * sxy) - sx * (sx * syy - sxy * sy) + sy * (sx * sxy - sxx * sy))"
_TS_A = "(sz * (sxx * syy - sxy * sxy) - sx * (sxz * syy - sxy * syz) + sy * (sxz * sxy - sxx * syz))"
_TS_B = "(n * (sxz * syy - sxy * syz) - sz * (sx * syy - sxy * sy) + sy * (sx * syz - sxz * sy))"
_TS_C = "(n * (sxx * syz - sxz * sxy) - sx * (sx * syz - sxz * sy) + sz * (sx * sxy - sxx * sy))"


@Q.register(
    "trend_surface",
    f"WITH {Q.pts_cte()}, {_TS_SUMS} "
    f"SELECT CAST(ROUND({_TS_A} / {_TS_DET}, 4) AS DOUBLE) AS a, "
    f"CAST(ROUND({_TS_B} / {_TS_DET}, 4) AS DOUBLE) AS b, "
    f"CAST(ROUND({_TS_C} / {_TS_DET}, 4) AS DOUBLE) AS c FROM s",
)
def q_trend_surface(spark, sf):
    pts = Q._points(spark, sf)
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("lon").alias("sx"), F.sum("lat").alias("sy"), F.sum("val").alias("sz"),
        F.sum(F.col("lon") * F.col("lon")).alias("sxx"),
        F.sum(F.col("lon") * F.col("lat")).alias("sxy"),
        F.sum(F.col("lat") * F.col("lat")).alias("syy"),
        F.sum(F.col("lon") * F.col("val")).alias("sxz"),
        F.sum(F.col("lat") * F.col("val")).alias("syz"),
    )
    return s.selectExpr(
        f"CAST(ROUND({_TS_A} / {_TS_DET}, 4) AS DOUBLE) AS a",
        f"CAST(ROUND({_TS_B} / {_TS_DET}, 4) AS DOUBLE) AS b",
        f"CAST(ROUND({_TS_C} / {_TS_DET}, 4) AS DOUBLE) AS c",
    )


# -- quadratic trend surface: z = c00 + c10 u + c01 v + c20 u^2 + c11 uv
# + c02 v^2 (§2.9; TrendSurface.java polyOrder=2 path — the reference builds
# the Vandermonde normal equations and dense-solves them,
# TerrainAnalysisTools/src/plugins/TrendSurface.java:216-268).  Coordinates
# normalize to u=(lon-180)/180, v=(lat-90)/90 so the 6x6 normal matrix stays
# O(n)-conditioned — raw degree-4 power sums of magnitudes up to 360 would
# amplify last-ulp sum-order noise past the round-4 grid.  The pivot-free
# Gaussian elimination runs as ONE shared SQL text on both engines (fixed
# IEEE op sequence, the kriging policy); pivoting is safe because the matrix
# is the Gram matrix of 6 independent monomials over >6 distinct points,
# hence positive-definite.  Coefficients are reported in the normalized
# (u, v) basis (exactly descalable by the caller).
_TS2_EXP = [(0, 0), (1, 0), (0, 1), (2, 0), (1, 1), (0, 2)]


def _ts2_sql(src: str) -> str:
    def mono(p: int, q: int) -> str:
        f = ["u"] * p + ["v"] * q
        return " * ".join(f) if f else "1e0"

    pows = sorted({(pi + pj, qi + qj) for pi, qi in _TS2_EXP for pj, qj in _TS2_EXP})
    sums = ["CAST(COUNT(*) AS DOUBLE) AS s0_0"] + [
        f"SUM({mono(p, q)}) AS s{p}_{q}" for p, q in pows if (p, q) != (0, 0)
    ] + [f"SUM({mono(p, q)} * w) AS t{p}_{q}" for p, q in _TS2_EXP]
    init = [
        f"s{_TS2_EXP[i][0] + _TS2_EXP[j][0]}_{_TS2_EXP[i][1] + _TS2_EXP[j][1]} AS a{i}_{j}"
        for i in range(6) for j in range(6)
    ] + [f"t{p}_{q} AS b{i}" for i, (p, q) in enumerate(_TS2_EXP)]
    ctes = [
        f"ts2p AS (SELECT ((lon - 180e0) / 180e0) AS u, "
        f"((lat - 90e0) / 90e0) AS v, val AS w FROM {src})",
        f"ts2s AS (SELECT {', '.join(sums)} FROM ts2p)",
        f"ts2m0 AS (SELECT {', '.join(init)} FROM ts2s)",
    ]
    m = 6
    for ks in range(m - 1):
        sel = []
        for i in range(m):
            for j in range(m):
                if i > ks and j >= ks:
                    sel.append(
                        f"a{i}_{j} - (a{i}_{ks} / a{ks}_{ks}) * a{ks}_{j} AS a{i}_{j}"
                    )
                else:
                    sel.append(f"a{i}_{j}")
            sel.append(
                f"b{i} - (a{i}_{ks} / a{ks}_{ks}) * b{ks} AS b{i}"
                if i > ks else f"b{i}"
            )
        ctes.append(f"ts2m{ks + 1} AS (SELECT {', '.join(sel)} FROM ts2m{ks})")
    ctes.append("ts2x5 AS (SELECT *, b5 / a5_5 AS x5 FROM ts2m5)")
    for i in range(4, -1, -1):
        terms = "".join(f" - a{i}_{j} * x{j}" for j in range(i + 1, 6))
        ctes.append(
            f"ts2x{i} AS (SELECT *, (b{i}{terms}) / a{i}_{i} AS x{i} FROM ts2x{i + 1})"
        )
    names = ["c00", "c10", "c01", "c20", "c11", "c02"]
    out = ", ".join(f"(FLOOR(x{i} * 1e4 + 0.5e0) / 1e4) AS {names[i]}" for i in range(6))
    return ", ".join(ctes) + f" SELECT {out} FROM ts2x0"


@Q.register("trend_surface2", f"WITH {Q.pts_cte()}, {_ts2_sql('pts')}")
def q_trend_surface2(spark, sf):
    Q._points(spark, sf).createOrReplaceTempView("ts2_pts")
    return spark.sql(f"WITH {_ts2_sql('ts2_pts')}")


# -- hillshade (TerrainAnalysisTools/src/plugins/Hillshade.java) --------------
_FX = "((ne + 2e0 * ev + se - nw - 2e0 * wv - sw) / 8e0)"
_FY = "((sw + 2e0 * ss + se - nw - 2e0 * nn - ne) / 8e0)"
_HS_SQL = (
    f"(SIN(RADIANS(30e0)) * COS(ATAN(SQRT({_FX} * {_FX} + {_FY} * {_FY}))) "
    f"+ COS(RADIANS(30e0)) * SIN(ATAN(SQRT({_FX} * {_FX} + {_FY} * {_FY}))) "
    f"* COS(RADIANS(315e0) - ATAN2(-{_FX}, {_FY})))"
)


@Q.register(
    "hillshade",
    f"WITH {_RASF}, {_W9} SELECT row, col, "
    f"(FLOOR(({_HS_SQL}) * 1e6 + 0.5e0) / 1e6) AS value FROM w9 "
    f"WHERE cv != {NODATA!r}e0 AND {NODATA!r}e0 NOT IN (nw, nn, ne, wv, ev, sw, ss, se) "
    "AND nw IS NOT NULL AND nn IS NOT NULL AND ne IS NOT NULL AND wv IS NOT NULL "
    "AND ev IS NOT NULL AND sw IS NOT NULL AND ss IS NOT NULL AND se IS NOT NULL "
    "ORDER BY row, col",
)
def q_hillshade(spark, sf):
    out = R.focal(_demf(spark), "hillshade")
    return R.explode_cells(out).where(F.col("value") != _ND).orderBy("row", "col")


# -- percent of stack greater than threshold (Scripts/PercentGreaterThan.groovy)
@Q.register(
    "percent_greater",
    f"WITH {_RAS}, {_RAS2} SELECT "
    "(CASE WHEN a.value > 100e0 THEN 50e0 ELSE 0e0 END "
    "+ CASE WHEN b.value > 100e0 THEN 50e0 ELSE 0e0 END) AS pct, COUNT(*) AS n "
    "FROM ras a JOIN ras2 b USING (row, col) "
    f"WHERE a.value != {NODATA!r}e0 AND b.value != {NODATA!r}e0 GROUP BY 1 ORDER BY 1",
)
def q_percent_greater(spark, sf):
    out = R.zip_algebra(
        _dem(spark, 0), _dem(spark, 1),
        "CASE WHEN x > 100e0 THEN 50e0 ELSE 0e0 END + CASE WHEN y > 100e0 THEN 50e0 ELSE 0e0 END",
    )
    return (
        R.explode_cells(out).where(F.col("value") != _ND)
        .groupBy(F.col("value").alias("pct")).agg(F.count(F.lit(1)).alias("n"))
        .orderBy("pct")
    )


# -- raster-to-raster OLS regression (ImageRegression.java:237-264) -----------
@Q.register(
    "raster_regression",
    f"WITH {_RAS}, {_RAS2}, j AS (SELECT a.value AS x, b.value AS y "
    "FROM ras a JOIN ras2 b USING (row, col) "
    f"WHERE a.value != {NODATA!r}e0 AND b.value != {NODATA!r}e0) "
    "SELECT CAST(ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y)) "
    "/ (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)), 6) AS DOUBLE) AS slope_b, "
    "CAST(ROUND((SUM(y) - (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y)) "
    "/ (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) * SUM(x)) / COUNT(*), 6) AS DOUBLE) AS intercept_a, "
    "COUNT(*) AS n FROM j",
)
def q_raster_regression(spark, sf):
    a = R.explode_cells(_dem(spark, 0)).withColumnRenamed("value", "x")
    b = R.explode_cells(_dem(spark, 1)).withColumnRenamed("value", "y")
    j = a.join(b, ["row", "col"]).where((F.col("x") != _ND) & (F.col("y") != _ND))
    n = F.count(F.lit(1))
    sb = (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")) / (
        n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
    )
    return j.agg(
        F.round(sb, 6).cast("double").alias("slope_b"),
        F.round((F.sum("y") - sb * F.sum("x")) / n, 6).cast("double").alias("intercept_a"),
        n.alias("n"),
    )


# -- change vector analysis (§2.13; ChangeVectorAnalysis.java) ----------------
# two dates x two bands; change magnitude per cell + 4-quadrant direction code.
# The two bands per date are INDEPENDENT synthetic bands (0/2 = date1,
# 1/3 = date2) so all four direction quadrants are genuinely exercised.
_VAL2 = cell_value_sql("r.r", "c.c", 2, COLS)
_VAL3 = cell_value_sql("r.r", "c.c", 3, COLS)
_RAS3 = (
    f"ras3 AS (SELECT r.r AS row, c.c AS col, {_VAL2} AS value "
    f"FROM range(0, {ROWS}) r(r), range(0, {COLS}) c(c))"
)
_RAS4 = (
    f"ras4 AS (SELECT r.r AS row, c.c AS col, {_VAL3} AS value "
    f"FROM range(0, {ROWS}) r(r), range(0, {COLS}) c(c))"
)


@Q.register(
    "change_vector",
    f"WITH {_RAS}, {_RAS2}, {_RAS3}, {_RAS4} SELECT "
    "(CASE WHEN b1.value >= a1.value THEN 1 ELSE 0 END "
    "+ CASE WHEN b2.value >= a2.value THEN 2 ELSE 0 END) AS quad, "
    "COUNT(*) AS n, "
    "CAST(ROUND(SUM(SQRT(POW(b1.value - a1.value, 2) + POW(b2.value - a2.value, 2))), 4) AS DOUBLE) AS total_mag "
    "FROM ras a1 JOIN ras2 b1 USING (row, col) JOIN ras3 a2 USING (row, col) "
    "JOIN ras4 b2 USING (row, col) "
    f"WHERE a1.value != {NODATA!r}e0 AND b1.value != {NODATA!r}e0 "
    f"AND a2.value != {NODATA!r}e0 AND b2.value != {NODATA!r}e0 "
    "GROUP BY 1 ORDER BY 1",
)
def q_change_vector(spark, sf):
    a1 = R.explode_cells(_dem(spark, 0)).withColumnRenamed("value", "a1")
    b1 = R.explode_cells(_dem(spark, 1)).withColumnRenamed("value", "b1")
    a2 = R.explode_cells(_dem(spark, 2)).withColumnRenamed("value", "a2")
    b2 = R.explode_cells(_dem(spark, 3)).withColumnRenamed("value", "b2")
    j = (
        a1.join(b1, ["row", "col"]).join(a2, ["row", "col"]).join(b2, ["row", "col"])
        .where((F.col("a1") != _ND) & (F.col("b1") != _ND)
               & (F.col("a2") != _ND) & (F.col("b2") != _ND))
    )
    quad = (
        F.when(F.col("b1") >= F.col("a1"), 1).otherwise(0)
        + F.when(F.col("b2") >= F.col("a2"), 2).otherwise(0)
    )
    mag = F.sqrt(
        F.pow(F.col("b1") - F.col("a1"), 2) + F.pow(F.col("b2") - F.col("a2"), 2)
    )
    return (
        j.groupBy(quad.alias("quad"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum(mag), 4).cast("double").alias("total_mag"))
        .orderBy("quad")
    )


# -- SnapPourPoints (§2.3/§2.12; SnapPourPoints.java:407): arg-max window ----
_SNAP_PP = [(0, 10, 20), (1, 30, 45), (2, 50, 70)]
_SNAP_R = 3


@Q.register(
    "snap_pour",
    f"WITH RECURSIVE {_HYD_BASE}, {_HYD_EDGES} "
    "SELECT pp_id, row AS srow, col AS scol, CAST(accum AS BIGINT) AS accum FROM ("
    "SELECT p.pp_id, a.row, a.col, a.accum, "
    "ROW_NUMBER() OVER (PARTITION BY p.pp_id ORDER BY a.accum DESC, a.row, a.col) AS rn "
    f"FROM (VALUES {', '.join(f'({i},{r},{c})' for i, r, c in _SNAP_PP)}) p(pp_id, r, c) "
    f"JOIN acc a ON a.row BETWEEN p.r - {_SNAP_R} AND p.r + {_SNAP_R} "
    f"AND a.col BETWEEN p.c - {_SNAP_R} AND p.c + {_SNAP_R}"
    ") WHERE rn = 1 ORDER BY pp_id",
)
def q_snap_pour(spark, sf):
    from .operators.hydro import flow_accum, flow_pointer_d8, snap_pour_points

    acc = flow_accum(flow_pointer_d8(_hydem(spark))).select(
        "row", "col", F.col("accum").cast("long").alias("accum")
    )
    pour = spark.createDataFrame(_SNAP_PP, "pp_id long, row long, col long")
    return snap_pour_points(pour, acc, radius=_SNAP_R)


# -- stream link labeling (StreamNetworkAnalysisTools StreamLinkID.java) ------
# stream cells (accum >= 5) labeled into 8-connected links
@Q.register(
    "stream_links",
    f"WITH RECURSIVE {_HYD_BASE}, {_HYD_EDGES}, "
    "stream AS (SELECT row, col FROM acc WHERE accum >= 5), "
    "sbase AS (SELECT row, col, row * 1000000 + col AS id FROM stream), "
    "sadj AS (SELECT a.id AS id, b.id AS nid FROM sbase a JOIN sbase b "
    "ON ABS(a.row - b.row) <= 1 AND ABS(a.col - b.col) <= 1), "
    "sreach(id, rid) AS (SELECT id, id FROM sbase UNION "
    "SELECT r.id, a.nid FROM sreach r JOIN sadj a ON a.id = r.rid), "
    "slab AS (SELECT id, MIN(rid) AS label FROM sreach GROUP BY 1) "
    "SELECT label, COUNT(*) AS n_cells FROM slab GROUP BY 1 ORDER BY 1",
)
def q_stream_links(spark, sf):
    from .operators.clump import clump
    from .operators.hydro import flow_accum, flow_pointer_d8

    acc = flow_accum(flow_pointer_d8(_hydem(spark)))
    stream = acc.where(F.col("accum") >= 5).select("row", "col", F.lit(1).alias("cls"))
    return (
        clump(stream, 1_000_000, connectivity=8)
        .groupBy("label").agg(F.count(F.lit(1)).alias("n_cells"))
        .orderBy("label")
    )


# -- raster -> vector polygons (§2.10; RasterToVectorPolygons.java:217-445) ---
# patch summary is oracle-checked (labels + perimeter from a neighbor join);
# the traced rings themselves are verified by the exact signed-area == cell
# count property test (tests/test_vectorize.py).
@Q.register(
    "raster_to_polygons",
    f"WITH RECURSIVE {_CBASE}, "
    "nbr4 AS (SELECT a.id AS id, COUNT(*) AS nsame FROM base a JOIN base b "
    "ON b.cls = a.cls AND ABS(a.row - b.row) + ABS(a.col - b.col) = 1 GROUP BY 1), "
    "segs AS (SELECT b.id, l.label, 4 - COALESCE(n.nsame, 0) AS nseg "
    "FROM base b JOIN lab l USING (id) LEFT JOIN nbr4 n ON n.id = b.id) "
    "SELECT label, COUNT(*) AS n_cells, CAST(SUM(nseg) AS BIGINT) AS n_segments "
    "FROM segs GROUP BY 1 ORDER BY 1",
)
def q_raster_to_polygons(spark, sf):
    from .operators.vectorize import patch_stats

    cells = (
        R.explode_cells(R.synth_raster(spark, _CROWS, _CCOLS))
        .where(F.col("value") != _ND)
        .select("row", "col", F.expr("CAST(FLOOR(value / 50e0) AS BIGINT)").alias("cls"))
    )
    return patch_stats(cells, _CCOLS)


# -- contour crossings (§2.10; Contour.java vertex extraction) ----------------
# a contour at level L crosses a 4-neighbor cell edge iff the endpoint values
# straddle L; the interpolated crossing offset t = (L - a)/(b - a) is each
# contour-polyline vertex.  Per level: vertex count + exact offset sum
# (dyadic ratio -> deterministic; round 6 for the division).
@Q.register(
    "contour_crossings",
    f"""WITH {_RASF}, live AS (SELECT * FROM ras WHERE {_NDF}),
e AS (
  SELECT a.value AS av, b.value AS bv FROM live a JOIN live b
  ON (b.row = a.row AND b.col = a.col + 1) OR (b.row = a.row + 1 AND b.col = a.col)
),
lv AS (SELECT * FROM (VALUES (50e0), (100e0), (150e0)) t(lev))
SELECT CAST(lev AS DOUBLE) AS level, COUNT(*) AS n_vertices,
  CAST(ROUND(SUM((lev - av) / (bv - av)), 6) AS DOUBLE) AS t_sum
FROM e JOIN lv ON (av < lev) != (bv < lev)
GROUP BY 1 ORDER BY 1""",
)
def q_contour_crossings(spark, sf):
    live = R.explode_cells(_demf(spark)).where(F.col("value") != _ND)
    right = live.select(
        F.col("row"), (F.col("col") - 1).alias("col"), F.col("value").alias("bv")
    )
    down = live.select(
        (F.col("row") - 1).alias("row"), F.col("col"), F.col("value").alias("bv")
    )
    e = (
        live.join(right, ["row", "col"], "inner")
        .unionByName(live.join(down, ["row", "col"], "inner"))
        .select(F.col("value").alias("av"), "bv")
    )
    lv = spark.createDataFrame([(50.0,), (100.0,), (150.0,)], "lev double")
    return (
        e.crossJoin(F.broadcast(lv))
        .where((F.col("av") < F.col("lev")) != (F.col("bv") < F.col("lev")))
        .groupBy(F.col("lev").cast("double").alias("level"))
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.round(F.sum((F.col("lev") - F.col("av")) / (F.col("bv") - F.col("av"))), 6)
            .cast("double").alias("t_sum"),
        )
        .orderBy("level")
    )


# -- contour polyline assembly (§2.10; Contour.java isoline stitching) --------
# marching-squares segments per 2x2 block (shared case->segment VALUES map),
# stitched into polylines on the doubled grid; per level: segment count,
# line count, closed-loop count, summed Euclidean length.
def _contour_lines_sql() -> str:
    from .operators.vectorize import ms_segmap_values

    idm = 1_000_000
    return f"""WITH RECURSIVE {_RASF}, live AS (SELECT * FROM ras WHERE {_NDF}),
clv AS (SELECT * FROM (VALUES (50e0), (100e0), (150e0)) t(lev)),
blk AS (SELECT a.row, a.col, lev,
  (CASE WHEN a.value < lev THEN 1 ELSE 0 END)
  + 2 * (CASE WHEN b01.value < lev THEN 1 ELSE 0 END)
  + 4 * (CASE WHEN b10.value < lev THEN 1 ELSE 0 END)
  + 8 * (CASE WHEN b11.value < lev THEN 1 ELSE 0 END) AS b
  FROM live a
  JOIN live b01 ON b01.row = a.row AND b01.col = a.col + 1
  JOIN live b10 ON b10.row = a.row + 1 AND b10.col = a.col
  JOIN live b11 ON b11.row = a.row + 1 AND b11.col = a.col + 1
  CROSS JOIN clv),
sm AS (SELECT * FROM {ms_segmap_values()} t(b, dy1, dx1, dy2, dx2)),
segs AS MATERIALIZED (SELECT lev, 2 * row + dy1 AS y1, 2 * col + dx1 AS x1,
  2 * row + dy2 AS y2, 2 * col + dx2 AS x2 FROM blk JOIN sm USING (b)),
hp AS (SELECT lev, 2 * a.row AS py, 2 * a.col + 1 AS px,
  a.col + (lev - a.value) / (b.value - a.value) AS cx, CAST(a.row AS DOUBLE) AS cy
  FROM live a JOIN live b ON b.row = a.row AND b.col = a.col + 1 CROSS JOIN clv
  WHERE (a.value < lev) != (b.value < lev)),
vp AS (SELECT lev, 2 * a.row + 1 AS py, 2 * a.col AS px,
  CAST(a.col AS DOUBLE) AS cx, a.row + (lev - a.value) / (b.value - a.value) AS cy
  FROM live a JOIN live b ON b.row = a.row + 1 AND b.col = a.col CROSS JOIN clv
  WHERE (a.value < lev) != (b.value < lev)),
cpts AS MATERIALIZED (SELECT * FROM hp UNION ALL SELECT * FROM vp),
endp AS MATERIALIZED (SELECT lev, y1 * {idm} + x1 AS id FROM segs
  UNION ALL SELECT lev, y2 * {idm} + x2 FROM segs),
vert AS MATERIALIZED (SELECT DISTINCT lev, id FROM endp),
adjs AS MATERIALIZED (SELECT lev, y1 * {idm} + x1 AS id, y2 * {idm} + x2 AS nid FROM segs
  UNION ALL SELECT lev, y2 * {idm} + x2, y1 * {idm} + x1 FROM segs),
reach(lev, id, rid) AS (SELECT lev, id, id FROM vert UNION
  SELECT r.lev, r.id, a.nid FROM reach r JOIN adjs a ON a.lev = r.lev AND a.id = r.rid),
lab AS (SELECT lev, id, MIN(rid) AS label FROM reach GROUP BY 1, 2),
deg AS (SELECT lev, id, COUNT(*) AS d FROM endp GROUP BY 1, 2),
comp AS (SELECT l.lev, l.label, SUM(CASE WHEN d.d = 1 THEN 1 ELSE 0 END) AS n_deg1
  FROM lab l JOIN deg d ON d.lev = l.lev AND d.id = l.id GROUP BY 1, 2),
slen AS (SELECT s.lev,
  SQRT((p1.cx - p2.cx) * (p1.cx - p2.cx) + (p1.cy - p2.cy) * (p1.cy - p2.cy)) AS sl
  FROM segs s
  JOIN cpts p1 ON p1.lev = s.lev AND p1.py = s.y1 AND p1.px = s.x1
  JOIN cpts p2 ON p2.lev = s.lev AND p2.py = s.y2 AND p2.px = s.x2),
agg1 AS (SELECT lev, COUNT(*) AS n_segments,
  CAST(ROUND(COALESCE(SUM(sl), 0e0), 4) AS DOUBLE) AS total_length FROM slen GROUP BY 1),
agg2 AS (SELECT lev, COUNT(*) AS n_lines,
  CAST(SUM(CASE WHEN n_deg1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_closed
  FROM comp GROUP BY 1)
SELECT CAST(a.lev AS DOUBLE) AS level, n_segments, n_lines, n_closed, total_length
FROM agg1 a JOIN agg2 USING (lev) ORDER BY 1"""


@Q.register("contour_lines", _contour_lines_sql())
def q_contour_lines(spark, sf):
    from .operators.vectorize import contour_line_stats

    live = R.explode_cells(_demf(spark)).where(F.col("value") != _ND)
    return contour_line_stats(live, (50.0, 100.0, 150.0))


# -- feathered mosaic (§2.7; MosaicWithFeathering.java, 1027): linear
# distance-to-seam weights blend the overlap zone ----------------------------
@Q.register(
    "mosaic_feather",
    f"""WITH {_RAS}, {_RAS2},
ja AS (SELECT row, col, value FROM ras WHERE col < 240 AND value != {NODATA!r}e0),
jb AS (SELECT row, col, value FROM ras2 WHERE col >= 120 AND value != {NODATA!r}e0),
m AS (
  SELECT COALESCE(a.row, b.row) AS row, COALESCE(a.col, b.col) AS col,
    CASE WHEN a.value IS NULL THEN b.value
         WHEN b.value IS NULL THEN a.value
         ELSE ((240e0 - COALESCE(a.col, b.col)) / 120e0) * a.value
            + (1e0 - (240e0 - COALESCE(a.col, b.col)) / 120e0) * b.value END AS v
  FROM ja a FULL OUTER JOIN jb b ON a.row = b.row AND a.col = b.col
)
SELECT COUNT(*) AS n, CAST(ROUND(SUM(v), 4) AS DOUBLE) AS total FROM m""",
)
def q_mosaic_feather(spark, sf):
    a = (
        R.explode_cells(_dem(spark, 0)).where((F.col("col") < 240) & (F.col("value") != _ND))
        .withColumnRenamed("value", "av")
    )
    b = (
        R.explode_cells(_dem(spark, 1)).where((F.col("col") >= 120) & (F.col("value") != _ND))
        .withColumnRenamed("value", "bv")
    )
    m = a.join(b, ["row", "col"], "full_outer")
    wa = (240.0 - F.col("col")) / 120.0
    v = (
        F.when(F.col("av").isNull(), F.col("bv"))
        .when(F.col("bv").isNull(), F.col("av"))
        .otherwise(wa * F.col("av") + (1 - wa) * F.col("bv"))
    )
    return m.select(v.alias("v")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("v"), 4).cast("double").alias("total"),
    )


# -- horizon angle, east azimuth (§2.11; HorizonAngle.java / Viewshed family) -
@Q.register(
    "horizon_angle",
    f"WITH {_RASF}, live AS (SELECT * FROM ras WHERE {_NDF}) "
    "SELECT a.row, a.col, "
    "(FLOOR(DEGREES(ATAN(MAX((b.value - a.value) / (b.col - a.col)))) * 1e6 + 0.5e0) / 1e6) AS horizon_deg "
    "FROM live a JOIN live b ON b.row = a.row AND b.col > a.col "
    "GROUP BY 1, 2 ORDER BY 1, 2",
)
def q_horizon_angle(spark, sf):
    """Per-row scan kernel: max elevation-angle toward the east horizon —
    one applyInPandas per raster row (the distributed form of the
    reference's per-profile scan).

    O(n) right-to-left upper-hull stack (VERDICT r3 next-round #3; was an
    O(n^2) per-i suffix slice): the max slope from the leftmost point of a
    point set is exactly the slope of its upper-hull edge, so each cell's
    answer is the slope to the adjacent hull vertex at insertion time.
    Pops use the exact cross-product test (dyadic z, integer cols ->
    products exact in double), and the emitted value is the same
    correctly-rounded division the brute max would pick, so the SQL
    oracle's MAX over all pairs matches bit-for-bit.  ~48 ms per 1e5-col
    row vs ~minutes for the suffix-slice form."""
    import numpy as np
    import pandas as pd

    live = R.explode_cells(_demf(spark)).where(F.col("value") != _ND)

    def kernel(key, pdf):
        pdf = pdf.sort_values("col")
        xs = pdf["col"].to_numpy(dtype="float64").tolist()
        zs = pdf["value"].to_numpy().tolist()
        n = len(zs)
        if n < 2:
            return pd.DataFrame(columns=["row", "col", "horizon_deg"]).astype(
                {"row": "int64", "col": "int64", "horizon_deg": "float64"})
        hx = [0.0] * n
        hz = [0.0] * n
        mx = [0.0] * (n - 1)
        hx[0] = xs[n - 1]
        hz[0] = zs[n - 1]
        m = 1
        for i in range(n - 2, -1, -1):
            x0 = xs[i]
            z0 = zs[i]
            while m >= 2:
                x1 = hx[m - 1]
                z1 = hz[m - 1]
                if (z1 - z0) * (hx[m - 2] - x0) <= (hz[m - 2] - z0) * (x1 - x0):
                    m -= 1
                else:
                    break
            mx[i] = (hz[m - 1] - z0) / (hx[m - 1] - x0)
            hx[m] = x0
            hz[m] = z0
            m += 1
        deg = np.degrees(np.arctan(np.array(mx)))
        return pd.DataFrame({
            "row": np.full(n - 1, int(key[0]), dtype="int64"),
            "col": np.asarray(xs[: n - 1], dtype="int64"),
            "horizon_deg": np.floor(deg * 1e6 + 0.5) / 1e6,
        })

    return (
        live.groupBy("row")
        .applyInPandas(kernel, "row long, col long, horizon_deg double")
        .orderBy("row", "col")
    )


# -- IHS -> RGB inverse transform (§2.13; IhsToRgb.java): the sector-based
# inverse of the rgb_to_hsi formulas, exercised as a roundtrip over the three
# synthetic bands (unrounded i/s/h in, rounded rgb out).
def _ihs_inv_exprs() -> dict:
    def leg(hh):
        return f"i * (1e0 + s * COS(RADIANS({hh})) / COS(RADIANS(60e0 - ({hh}))))"

    lo = "i * (1e0 - s)"
    a_r, a_b = leg("h"), lo
    a_g = f"3e0 * i - (({a_r}) + ({a_b}))"
    b_g, b_r = leg("h - 120e0"), lo
    b_b = f"3e0 * i - (({b_r}) + ({b_g}))"
    c_b, c_g = leg("h - 240e0"), lo
    c_r = f"3e0 * i - (({c_g}) + ({c_b}))"
    pick = (
        "CASE WHEN h < 120e0 THEN ({a}) WHEN h < 240e0 THEN ({b}) ELSE ({c}) END"
    )
    return {
        "r2": pick.format(a=a_r, b=b_r, c=c_r),
        "g2": pick.format(a=a_g, b=b_g, c=c_g),
        "b2": pick.format(a=a_b, b=b_b, c=c_b),
    }


_HSI_NUM2 = "(0.5e0 * ((rv - gv) + (rv - bv)))"
_HSI_DEN2 = "SQRT((rv - gv) * (rv - gv) + (rv - bv) * (gv - bv))"
_HSI_FWD = {
    "i": "(rv + gv + bv) / 3e0",
    "s": "1e0 - 3e0 * LEAST(rv, gv, bv) / (rv + gv + bv)",
    "h": (
        f"CASE WHEN {_HSI_DEN2} = 0e0 THEN 0e0 "
        f"WHEN bv > gv THEN 360e0 - DEGREES(ACOS(LEAST(GREATEST({_HSI_NUM2} / {_HSI_DEN2}, -1e0), 1e0))) "
        f"ELSE DEGREES(ACOS(LEAST(GREATEST({_HSI_NUM2} / {_HSI_DEN2}, -1e0), 1e0))) END"
    ),
}


@Q.register(
    "hsi_to_rgb",
    f"""WITH {_RAS}, {_RAS2}, ras3 AS (SELECT r.r AS row, c.c AS col, {_VAL2} AS value
FROM range(0, {ROWS}) r(r), range(0, {COLS}) c(c)),
hsix AS (SELECT r.row, r.col, {_HSI_FWD['i']} AS i, {_HSI_FWD['s']} AS s, {_HSI_FWD['h']} AS h
FROM (SELECT row, col, value AS rv FROM ras) r
JOIN (SELECT row, col, value AS gv FROM ras2) g USING (row, col)
JOIN (SELECT row, col, value AS bv FROM ras3) b USING (row, col)
WHERE rv != {NODATA!r}e0 AND gv != {NODATA!r}e0 AND bv != {NODATA!r}e0)
SELECT row, col,
  (FLOOR(({_ihs_inv_exprs()['r2']}) * 1e6 + 0.5e0) / 1e6) AS r2,
  (FLOOR(({_ihs_inv_exprs()['g2']}) * 1e6 + 0.5e0) / 1e6) AS g2,
  (FLOOR(({_ihs_inv_exprs()['b2']}) * 1e6 + 0.5e0) / 1e6) AS b2
FROM hsix ORDER BY row, col""",
)
def q_hsi_to_rgb(spark, sf):
    r = R.explode_cells(_dem(spark, 0)).withColumnRenamed("value", "rv")
    g = R.explode_cells(_dem(spark, 1)).withColumnRenamed("value", "gv")
    b = R.explode_cells(_dem(spark, 2)).withColumnRenamed("value", "bv")
    j = (
        r.join(g, ["row", "col"]).join(b, ["row", "col"])
        .where((F.col("rv") != _ND) & (F.col("gv") != _ND) & (F.col("bv") != _ND))
        .select(
            "row", "col",
            *[F.expr(e).alias(k) for k, e in _HSI_FWD.items()],
        )
    )
    inv = _ihs_inv_exprs()
    return j.select(
        "row", "col",
        *[
            F.expr(f"FLOOR(({e}) * 1e6 + 0.5e0) / 1e6").alias(k)
            for k, e in inv.items()
        ],
    ).orderBy("row", "col")


# -- IHS pan-sharpen (§2.13; PanSharpening.java IHS mode): transform RGB to
# IHS, substitute the intensity with the panchromatic band, inverse-transform
# back — pure composition of the shared _HSI_FWD / _ihs_inv_exprs fragments
# (Brovey mode is `pan_sharpen`).
@Q.register(
    "pan_sharpen_ihs",
    f"""WITH {_RAS}, {_RAS2}, ras3 AS (SELECT r.r AS row, c.c AS col, {_VAL2} AS value
FROM range(0, {ROWS}) r(r), range(0, {COLS}) c(c)), {_RAS4},
hsix AS (SELECT r.row, r.col, p.pv AS i, {_HSI_FWD['s']} AS s, {_HSI_FWD['h']} AS h
FROM (SELECT row, col, value AS rv FROM ras) r
JOIN (SELECT row, col, value AS gv FROM ras2) g USING (row, col)
JOIN (SELECT row, col, value AS bv FROM ras3) b USING (row, col)
JOIN (SELECT row, col, value AS pv FROM ras4) p USING (row, col)
WHERE rv != {NODATA!r}e0 AND gv != {NODATA!r}e0 AND bv != {NODATA!r}e0
  AND pv != {NODATA!r}e0)
SELECT row, col,
  (FLOOR(({_ihs_inv_exprs()['r2']}) * 1e6 + 0.5e0) / 1e6) AS r_sharp,
  (FLOOR(({_ihs_inv_exprs()['g2']}) * 1e6 + 0.5e0) / 1e6) AS g_sharp,
  (FLOOR(({_ihs_inv_exprs()['b2']}) * 1e6 + 0.5e0) / 1e6) AS b_sharp
FROM hsix ORDER BY row, col""",
)
def q_pan_sharpen_ihs(spark, sf):
    r = R.explode_cells(_dem(spark, 0)).withColumnRenamed("value", "rv")
    g = R.explode_cells(_dem(spark, 1)).withColumnRenamed("value", "gv")
    b = R.explode_cells(_dem(spark, 2)).withColumnRenamed("value", "bv")
    p = R.explode_cells(_dem(spark, 3)).withColumnRenamed("value", "pv")
    j = (
        r.join(g, ["row", "col"]).join(b, ["row", "col"]).join(p, ["row", "col"])
        .where(
            (F.col("rv") != _ND) & (F.col("gv") != _ND)
            & (F.col("bv") != _ND) & (F.col("pv") != _ND)
        )
        .select(
            "row", "col",
            F.col("pv").alias("i"),
            F.expr(_HSI_FWD["s"]).alias("s"),
            F.expr(_HSI_FWD["h"]).alias("h"),
        )
    )
    inv = _ihs_inv_exprs()
    return j.select(
        "row", "col",
        F.expr(f"FLOOR(({inv['r2']}) * 1e6 + 0.5e0) / 1e6").alias("r_sharp"),
        F.expr(f"FLOOR(({inv['g2']}) * 1e6 + 0.5e0) / 1e6").alias("g_sharp"),
        F.expr(f"FLOOR(({inv['b2']}) * 1e6 + 0.5e0) / 1e6").alias("b_sharp"),
    ).orderBy("row", "col")


# Tarboton 8-facet angle/slope SQL, parameterized by the 9-cell window CTE
_DINF_SQL_FACETS = [
    ("n4", "n2", 0, 1), ("n1", "n2", 1, -1), ("n1", "n0", 1, 1),
    ("n3", "n0", 2, -1), ("n3", "n5", 2, 1), ("n6", "n5", 3, -1),
    ("n6", "n7", 3, 1), ("n4", "n7", 4, -1),
]


def _dinf_facets_parts(src: str, emit_r: bool = False) -> tuple[str, str, str]:
    """(fct select body, max-slope expr, angle CASE) over window CTE `src`.
    emit_r additionally projects the clamped within-facet angles r0..r7
    (needed by the MDInf weight split)."""
    sq2 = "1.4142135623730951e0"
    cols = []
    for k, (e1, e2, ac, af) in enumerate(_DINF_SQL_FACETS):
        s1, s2 = f"(cv - {e1})", f"({e1} - {e2})"
        rr = f"ATAN2({s2}, {s1})"
        r = f"(CASE WHEN {rr} < 0e0 THEN 0e0 WHEN {rr} > PI() / 4e0 THEN PI() / 4e0 ELSE {rr} END)"
        s = (f"(CASE WHEN {rr} < 0e0 THEN {s1} "
             f"WHEN {rr} > PI() / 4e0 THEN (cv - {e2}) / {sq2} "
             f"ELSE SQRT({s1} * {s1} + {s2} * {s2}) END)")
        cols.append(f"{s} AS s{k}")
        cols.append(f"({af} * {r} + {ac} * PI() / 2e0) AS a{k}")
        if emit_r:
            cols.append(f"{r} AS r{k}")
    mx = "GREATEST(" + ", ".join(f"s{k}" for k in range(8)) + ")"
    angle_case = "CASE WHEN " + f"{mx} <= 0e0 THEN -1e0 " + " ".join(
        f"WHEN s{k} = {mx} THEN a{k}" for k in range(8)
    ) + " END"
    body = (
        "SELECT row, col, " + ", ".join(cols) + f" FROM {src} "
        "WHERE cv IS NOT NULL AND n0 IS NOT NULL AND n1 IS NOT NULL "
        "AND n2 IS NOT NULL AND n3 IS NOT NULL AND n4 IS NOT NULL "
        "AND n5 IS NOT NULL AND n6 IS NOT NULL AND n7 IS NOT NULL"
    )
    return body, mx, angle_case


# -- Zhang-Suen line thinning (§2.5; LineThinning.java) -----------------------
# fixed 8 sub-iteration pairs on both sides (past convergence for these
# shapes); deletion decisions via a shared 256-entry neighborhood-mask LUT.
_ZS_PAIRS = 8


def _zs_oracle() -> str:
    from .operators.vectorize import _ZS_OFFS, _zs_luts

    lut1, lut2 = _zs_luts()
    offs_vals = ", ".join(
        f"({dr}, {dc}, {1 << k})" for k, (dr, dc) in enumerate(_ZS_OFFS)
    )
    parts = [
        f"zoffs AS (SELECT * FROM (VALUES {offs_vals}) o(dr, dc, bit))",
        "zs0 AS MATERIALIZED (SELECT row, col FROM ras WHERE value > 100e0 "
        f"AND value != {NODATA!r}e0)",
    ]
    for i in range(_ZS_PAIRS * 2):
        lut = lut1 if i % 2 == 0 else lut2
        lut_lit = "[" + ", ".join(str(v) for v in lut) + "]"
        parts.append(
            f"zpr{i} AS (SELECT s.row - o.dr AS row, s.col - o.dc AS col, o.bit "
            f"FROM zs{i} s CROSS JOIN zoffs o)"
        )
        parts.append(
            f"zmk{i} AS MATERIALIZED (SELECT s.row, s.col, "
            f"COALESCE(SUM(p.bit), 0) AS m FROM zs{i} s "
            f"LEFT JOIN zpr{i} p ON p.row = s.row AND p.col = s.col GROUP BY 1, 2)"
        )
        parts.append(
            f"zs{i + 1} AS MATERIALIZED (SELECT row, col FROM zmk{i} "
            f"WHERE list_extract({lut_lit}, CAST(m AS INT) + 1) = 0)"
        )
    return ", ".join(parts)


@Q.register(
    "line_thinning",
    f"WITH {_RASF}, {_zs_oracle()} "
    f"SELECT row, col FROM zs{_ZS_PAIRS * 2} ORDER BY row, col",
)
def q_line_thinning(spark, sf):
    from .operators.vectorize import line_thinning

    cells = (
        R.explode_cells(_demf(spark))
        .where((F.col("value") > 100.0) & (F.col("value") != _ND))
        .select("row", "col")
    )
    return line_thinning(cells, pairs=_ZS_PAIRS).orderBy("row", "col")


# -- raster -> vector lines (§2.10; RasterToVectorLines.java:217-520) ---------
# polyline features from the thinned skeleton: junction cells (degree >= 3)
# cut the chain, remaining components are simple paths / loops.  The traced
# vertex ORDER is property-tested (tests/test_vectorize.py); the oracle
# checks the per-line structure: cell count, step-length sum, endpoints.
@Q.register(
    "raster_to_lines",
    f"""WITH RECURSIVE {_RASF}, {_zs_oracle()},
lc AS MATERIALIZED (SELECT row, col FROM zs{_ZS_PAIRS * 2}),
cand AS (
  SELECT a.row, a.col, b.row AS nr, b.col AS nc
  FROM lc a JOIN lc b ON (b.row = a.row AND b.col = a.col + 1)
                      OR (b.row = a.row + 1 AND b.col = a.col)
  UNION ALL
  SELECT a.row, a.col, b.row, b.col
  FROM lc a JOIN lc b ON b.row = a.row + 1 AND (b.col = a.col + 1 OR b.col = a.col - 1)
  WHERE NOT EXISTS (SELECT 1 FROM lc x WHERE x.row = a.row + 1 AND x.col = a.col)
    AND NOT EXISTS (SELECT 1 FROM lc x WHERE x.row = a.row AND x.col = b.col)
),
ed AS MATERIALIZED (SELECT * FROM cand UNION ALL SELECT nr, nc, row, col FROM cand),
degt AS (SELECT row, col, COUNT(*) AS d FROM ed GROUP BY 1, 2),
junc AS MATERIALIZED (SELECT row, col FROM degt WHERE d >= 3),
kept AS MATERIALIZED (SELECT e.* FROM ed e
  WHERE NOT EXISTS (SELECT 1 FROM junc j WHERE j.row = e.row AND j.col = e.col)
    AND NOT EXISTS (SELECT 1 FROM junc j WHERE j.row = e.nr AND j.col = e.nc)),
base AS MATERIALIZED (SELECT row, col, row * 1000000 + col AS id FROM lc),
adjk AS (SELECT (row * 1000000 + col) AS id, (nr * 1000000 + nc) AS nid FROM kept),
reach(id, rid) AS (SELECT id, id FROM base UNION
  SELECT r.id, a.nid FROM reach r JOIN adjk a ON a.id = r.rid),
lab AS (SELECT id, MIN(rid) AS label FROM reach GROUP BY 1),
bl AS MATERIALIZED (SELECT b.row, b.col, b.id, l.label FROM base b JOIN lab l USING (id)),
ncl AS (SELECT label, COUNT(*) AS n_cells FROM bl GROUP BY 1),
kept1 AS (SELECT * FROM kept WHERE row < nr OR (row = nr AND col < nc)),
len AS (SELECT l.label, CAST(ROUND(SUM(CASE WHEN k.row != k.nr AND k.col != k.nc
  THEN 1.4142135623730951e0 ELSE 1e0 END), 6) AS DOUBLE) AS length
  FROM kept1 k JOIN bl l ON l.row = k.row AND l.col = k.col GROUP BY 1),
kdeg AS (SELECT row, col, COUNT(*) AS kd FROM kept GROUP BY 1, 2),
ends AS (SELECT l.label, MIN(l.id) AS end1, MAX(l.id) AS end2
  FROM bl l LEFT JOIN kdeg d ON d.row = l.row AND d.col = l.col
  WHERE COALESCE(d.kd, 0) <= 1 GROUP BY 1)
SELECT n.label AS line_id, n.n_cells, COALESCE(e.length, 0e0) AS length,
       COALESCE(s.end1, -1) AS end1, COALESCE(s.end2, -1) AS end2
FROM ncl n LEFT JOIN len e USING (label) LEFT JOIN ends s USING (label)
ORDER BY line_id""",
)
def q_raster_to_lines(spark, sf):
    from .operators.vectorize import line_thinning, raster_to_lines

    cells = (
        R.explode_cells(_demf(spark))
        .where((F.col("value") > 100.0) & (F.col("value") != _ND))
        .select("row", "col")
    )
    return raster_to_lines(line_thinning(cells, pairs=_ZS_PAIRS))


@Q.register(
    "remove_spurs",
    f"""WITH RECURSIVE {_RASF}, {_zs_oracle()},
rs0 AS MATERIALIZED (SELECT row, col FROM zs{_ZS_PAIRS * 2}),
rsp0 AS (SELECT a.row, a.col, COUNT(*) AS d FROM rs0 a JOIN rs0 b
  ON NOT (a.row = b.row AND a.col = b.col)
  AND ABS(a.row - b.row) <= 1 AND ABS(a.col - b.col) <= 1 GROUP BY 1, 2),
rs1 AS MATERIALIZED (SELECT r.row, r.col FROM rs0 r JOIN rsp0 d USING (row, col) WHERE d.d >= 2),
rsp1 AS (SELECT a.row, a.col, COUNT(*) AS d FROM rs1 a JOIN rs1 b
  ON NOT (a.row = b.row AND a.col = b.col)
  AND ABS(a.row - b.row) <= 1 AND ABS(a.col - b.col) <= 1 GROUP BY 1, 2),
rs2 AS (SELECT r.row, r.col FROM rs1 r JOIN rsp1 d USING (row, col) WHERE d.d >= 2)
SELECT row, col FROM rs2 ORDER BY row, col""",
)
def q_remove_spurs(spark, sf):
    from .operators.vectorize import line_thinning, remove_spurs

    cells = (
        R.explode_cells(_demf(spark))
        .where((F.col("value") > 100.0) & (F.col("value") != _ND))
        .select("row", "col")
    )
    return remove_spurs(
        line_thinning(cells, pairs=_ZS_PAIRS), passes=2
    ).orderBy("row", "col")


# -- raster patch statistics (§2.4 patch-shape family over clump labels:
# GISTools RadiusOfGyration.java, LinearityIndex.java, PatchOrientation.java,
# EdgeProportion.java) — per-patch aggregates over the connected-component
# labeling; one clump pass + Catalyst-only moment aggregations (integer cell
# coords -> exact sums; only the final transcendental/ordered outputs round).
def _patch_cells(spark):
    from .operators.clump import clump

    cells = (
        R.explode_cells(R.synth_raster(spark, _CROWS, _CCOLS))
        .where(F.col("value") != _ND)
        .select("row", "col",
                F.expr("CAST(FLOOR(value / 50e0) AS BIGINT)").alias("cls"))
    )
    return clump(cells, _CCOLS)


@Q.register(
    "radius_gyration",
    f"WITH RECURSIVE {_CBASE}, "
    "pc AS (SELECT b.cls, l.label, b.row, b.col FROM base b JOIN lab l USING (id)), "
    "cent AS (SELECT cls, label, SUM(col) / COUNT(*) AS cx, "
    "SUM(row) / COUNT(*) AS cy, COUNT(*) AS n FROM pc GROUP BY 1, 2) "
    "SELECT p.cls, p.label, CAST(ROUND(SUM(SQRT((p.col - c.cx) * (p.col - c.cx) "
    "+ (p.row - c.cy) * (p.row - c.cy))) / MAX(c.n), 6) AS DOUBLE) AS gyradius "
    "FROM pc p JOIN cent c ON c.cls = p.cls AND c.label = p.label "
    "GROUP BY 1, 2 ORDER BY 1, 2",
)
def q_radius_gyration(spark, sf):
    """RadiusOfGyration.java:245-296: mean distance of patch cells from the
    patch centroid (integer coord sums exact; ordered sqrt-sum rounds 6)."""
    pc = _patch_cells(spark)
    cent = pc.groupBy("cls", "label").agg(
        (F.sum("col") / F.count(F.lit(1))).alias("cx"),
        (F.sum("row") / F.count(F.lit(1))).alias("cy"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        pc.join(cent, ["cls", "label"])
        .groupBy("cls", "label")
        .agg(F.round(
            F.sum(F.sqrt((F.col("col") - F.col("cx")) * (F.col("col") - F.col("cx"))
                         + (F.col("row") - F.col("cy")) * (F.col("row") - F.col("cy"))))
            / F.max("n"), 6).cast("double").alias("gyradius"))
        .orderBy("cls", "label")
    )


_PATCH_MOM = (
    "mom AS (SELECT cls, label, COUNT(*) AS n, SUM(col) AS sx, SUM(row) AS sy, "
    "SUM(col * row) AS sxy, SUM(col * col) AS sxx, SUM(row * row) AS syy "
    "FROM pc GROUP BY 1, 2)"
)
# central second moments (translation-invariant, so raw coords match the
# reference's min-offset coords exactly on integer sums)
_SXXC = "(sxx - CAST(sx AS DOUBLE) * sx / n)"
_SYYC = "(syy - CAST(sy AS DOUBLE) * sy / n)"
_SXYC = "(sxy - CAST(sx AS DOUBLE) * sy / n)"


@Q.register(
    "linearity_index",
    f"WITH RECURSIVE {_CBASE}, "
    "pc AS (SELECT b.cls, l.label, b.row, b.col FROM base b JOIN lab l USING (id)), "
    f"{_PATCH_MOM} "
    "SELECT cls, label, CAST(CASE WHEN n > 1 AND {sxx} * {syy} > 0e0 THEN "
    "ROUND(({sxy} / SQRT({sxx} * {syy})) * ({sxy} / SQRT({sxx} * {syy})), 6) "
    "ELSE 0e0 END AS DOUBLE) AS linearity "
    "FROM mom ORDER BY cls, label".format(sxx=_SXXC, syy=_SYYC, sxy=_SXYC),
)
def q_linearity_index(spark, sf):
    """LinearityIndex.java:280-321: r-squared of the patch-cell col~row
    regression (0 for single-cell or degenerate patches)."""
    pc = _patch_cells(spark)
    mom = pc.groupBy("cls", "label").agg(
        F.count(F.lit(1)).alias("n"), F.sum("col").alias("sx"),
        F.sum("row").alias("sy"),
        F.sum(F.col("col") * F.col("row")).alias("sxy"),
        F.sum(F.col("col") * F.col("col")).alias("sxx"),
        F.sum(F.col("row") * F.col("row")).alias("syy"),
    )
    expr = (
        "CAST(CASE WHEN n > 1 AND {sxx} * {syy} > 0e0 THEN "
        "ROUND(({sxy} / SQRT({sxx} * {syy})) * ({sxy} / SQRT({sxx} * {syy})), 6) "
        "ELSE 0e0 END AS DOUBLE)"
    ).format(sxx=_SXXC, syy=_SYYC, sxy=_SXYC)
    return mom.select("cls", "label", F.expr(expr).alias("linearity")) \
              .orderBy("cls", "label")


@Q.register(
    "patch_orientation",
    f"WITH RECURSIVE {_CBASE}, "
    "pc AS (SELECT b.cls, l.label, b.row, b.col FROM base b JOIN lab l USING (id)), "
    f"{_PATCH_MOM} "
    "SELECT cls, label, CAST(CASE WHEN n > 1 AND {sxx} > 0e0 THEN "
    "FLOOR((90e0 - DEGREES(ATAN(-({sxy}) / ({sxx})))) * 1e6 + 0.5e0) / 1e6 "
    "ELSE 0e0 END AS DOUBLE) AS orientation "
    "FROM mom ORDER BY cls, label".format(sxx=_SXXC, sxy=_SXYC),
)
def q_patch_orientation(spark, sf):
    """PatchOrientation.java:280-301 (raster regression form): long-axis
    orientation 90 - atan(-Sxy/Sxx) degrees; 0 for degenerate patches."""
    pc = _patch_cells(spark)
    mom = pc.groupBy("cls", "label").agg(
        F.count(F.lit(1)).alias("n"), F.sum("col").alias("sx"),
        F.sum("row").alias("sy"),
        F.sum(F.col("col") * F.col("row")).alias("sxy"),
        F.sum(F.col("col") * F.col("col")).alias("sxx"),
    )
    expr = (
        "CAST(CASE WHEN n > 1 AND {sxx} > 0e0 THEN "
        "FLOOR((90e0 - DEGREES(ATAN(-({sxy}) / ({sxx})))) * 1e6 + 0.5e0) / 1e6 "
        "ELSE 0e0 END AS DOUBLE)"
    ).format(sxx=_SXXC, sxy=_SXYC)
    return mom.select("cls", "label", F.expr(expr).alias("orientation")) \
              .orderBy("cls", "label")


@Q.register(
    "edge_proportion",
    f"WITH RECURSIVE {_CBASE}, "
    "pc AS (SELECT b.cls, l.label, b.row, b.col, b.id FROM base b JOIN lab l USING (id)), "
    "edge AS (SELECT p.cls, p.label, p.id, "
    "MAX(CASE WHEN q.id IS NULL OR ql.label != p.label THEN 1 ELSE 0 END) AS is_edge "
    "FROM pc p CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)) o(dr, dc) "
    f"LEFT JOIN base q ON q.row = p.row + o.dr AND q.col = p.col + o.dc "
    "LEFT JOIN lab ql ON ql.id = q.id "
    "GROUP BY 1, 2, 3) "
    "SELECT cls, label, CAST(SUM(is_edge) AS DOUBLE) / COUNT(*) AS edge_prop "
    "FROM edge GROUP BY 1, 2 ORDER BY 1, 2",
)
def q_edge_proportion(spark, sf):
    """EdgeProportion.java:213-248: fraction of patch cells with any
    8-neighbor outside the patch (off-grid / nodata neighbors count)."""
    pc = _patch_cells(spark)
    offs = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]
    o = F.explode(F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc")) for dr, dc in offs
    ])).alias("_o")
    probes = pc.select("cls", "label", "row", "col", o).select(
        "cls", "label", "row", "col",
        (F.col("row") + F.col("_o.dr")).alias("nr"),
        (F.col("col") + F.col("_o.dc")).alias("nc"),
    )
    nb = pc.select(F.col("row").alias("nr"), F.col("col").alias("nc"),
                   F.col("label").alias("nlabel"))
    edge = (
        probes.join(nb, ["nr", "nc"], "left")
        .groupBy("cls", "label", "row", "col")
        .agg(F.max(
            F.when(F.col("nlabel").isNull()
                   | (F.col("nlabel") != F.col("label")), 1).otherwise(0)
        ).alias("is_edge"))
    )
    return (
        edge.groupBy("cls", "label")
        .agg((F.sum("is_edge").cast("double") / F.count(F.lit(1))).alias("edge_prop"))
        .orderBy("cls", "label")
    )


# -- random field / random sample (§2.6 row 69; StatsTools RandomField.java
# / RandomSample.java) -- the reference fills a raster with java.util.Random
# draws; the engine's determinization is the shared integer LCG chain
# (functions/exprs.py), so both engines generate the IDENTICAL field and the
# sample is reproducible (the published tools' own outputs are not).
_RF_KEY = "(row * 1000003 + col)"
_RF_U = f"((({_RF_KEY} * {A} % {M}) + {C}) * {A}) % {M}"
_RF_EXPR = f"(CAST({_RF_U} AS DOUBLE) / {M}e0)"
_RS_N = 97


@Q.register(
    "random_field",
    f"WITH {_RASF} SELECT row, col, {_RF_EXPR} AS u FROM ras "
    "ORDER BY row, col",
)
def q_random_field(spark, sf):
    return (
        R.explode_cells(_demf(spark))
        .select("row", "col", F.expr(_RF_EXPR).alias("u"))
        .orderBy("row", "col")
    )


@Q.register(
    "random_sample",
    f"WITH {_RASF}, fld AS (SELECT row, col, {_RF_EXPR} AS u FROM ras), "
    f"pick AS (SELECT * FROM fld ORDER BY u, row, col LIMIT {_RS_N}) "
    "SELECT row, col, u FROM pick ORDER BY row, col",
)
def q_random_sample(spark, sf):
    # orderBy().limit() compiles to TakeOrderedAndProject — a distributed
    # top-k (per-partition heads + driver merge), not a global sort
    fld = (
        R.explode_cells(_demf(spark))
        .select("row", "col", F.expr(_RF_EXPR).alias("u"))
    )
    return fld.orderBy("u", "row", "col").limit(_RS_N).orderBy("row", "col")


# -- ChangeDataScale / ChangeDataType (§2.2 row 21; GISTools
# ChangeDataScale.java, ChangeDataType.java): linear rescale with nodata
# pass-through plus the integer-type conversion (half-up).  Scale 0.25 keeps
# the dyadic cell values exact; the int cast shares the floor(x+0.5) idiom.
@Q.register(
    "change_data_scale",
    f"WITH {_RASF} SELECT row, col, value * 0.25e0 + 100e0 AS scaled, "
    "CAST(FLOOR(value * 0.25e0 + 100e0 + 0.5e0) AS BIGINT) AS as_int "
    f"FROM ras WHERE {_NDF} ORDER BY row, col",
)
def q_change_data_scale(spark, sf):
    live = R.explode_cells(_demf(spark)).where(F.col("value") != _ND)
    return live.select(
        "row", "col",
        (F.col("value") * 0.25 + 100.0).alias("scaled"),
        F.floor(F.col("value") * 0.25 + 100.0 + 0.5).cast("long").alias("as_int"),
    ).orderBy("row", "col")


# -- ClipRasterToPolygon / Erase as named tools (§2.3 row 34, §2.7 row 74;
# GISTools ClipRasterToPolygon.java, Erase.java): keep (or blank) the cells
# whose CENTER falls inside the polygon layer — the reference's
# cell-center-in-polygon rule (VectorPolygonsToRaster.java:400-470 even-odd
# crossings).  Cell centers map onto the polygon extent exactly
# (lon = 2*col+1, lat = 1.5*row+0.75 — dyadic), and the big side routes
# through the broadcast classified cell index (pip_semi), never a shuffle.
_CLIP_CELLS = (
    f"cells AS (SELECT row, col, value, CAST(2 * col + 1 AS DOUBLE) AS lon, "
    f"1.5e0 * row + 0.75e0 AS lat FROM ras WHERE {_NDF})"
)
_CLIP_PIP = """
clip_pp AS (
  SELECT p.row, p.col, e.poly_id,
    SUM(CASE WHEN ((e.y1 > p.lat) != (e.y2 > p.lat))
             AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
        THEN 1 ELSE 0 END) % 2 AS pp
  FROM cells p JOIN edges e ON TRUE
  GROUP BY 1, 2, 3
),
clip_raw AS (SELECT row, col, MAX(pp) AS par FROM clip_pp GROUP BY 1, 2)"""


def _clip_cells_df(spark):
    live = R.explode_cells(_demf(spark)).where(F.col("value") != _ND)
    return live.select(
        "row", "col", "value",
        (2.0 * F.col("col") + 1.0).alias("lon"),
        (1.5 * F.col("row") + 0.75).alias("lat"),
        (F.col("row") * FCOLS + F.col("col")).alias("_cid"),
        F.lit(0).cast("long").alias("tile_id"),  # pip_join projects tile_id
    )


def _q_clip_raster(spark, negate: bool):
    from .operators.spatial_join import pip_semi

    kept = pip_semi(_clip_cells_df(spark), spark, "_cid", negate=negate)
    return kept.select("row", "col", "value").orderBy("row", "col")


from . import queries as _QQ  # noqa: E402  (edges_cte for the clip oracles)


@Q.register(
    "clip_raster_to_polygon",
    f"WITH {_RASF}, {_CLIP_CELLS}, {_QQ.edges_cte()}, {_CLIP_PIP} "
    "SELECT c.row, c.col, c.value FROM cells c JOIN clip_raw r "
    "ON r.row = c.row AND r.col = c.col WHERE r.par = 1 ORDER BY 1, 2",
)
def q_clip_raster_to_polygon(spark, sf):
    return _q_clip_raster(spark, negate=False)


@Q.register(
    "erase_raster",
    f"WITH {_RASF}, {_CLIP_CELLS}, {_QQ.edges_cte()}, {_CLIP_PIP} "
    "SELECT c.row, c.col, c.value FROM cells c JOIN clip_raw r "
    "ON r.row = c.row AND r.col = c.col WHERE r.par = 0 ORDER BY 1, 2",
)
def q_erase_raster(spark, sf):
    return _q_clip_raster(spark, negate=True)


# -- RGB colour composite (§2.13 row 113; ImageProcessingTools
# CreateColourComposite.java:279-300): per-band min-max stretch to 0..255
# (truncating int cast, clamped) packed as (255<<24)|(b<<16)|(g<<8)|r.
# Per-band extrema are broadcast scalars (one partial-agg exchange each);
# the pack is pure integer arithmetic.
# explicit FLOOR: the reference truncates via (int) cast; a bare CAST
# truncates in Spark but ROUNDS in DuckDB
_CC_CH = ("CAST(FLOOR(({v} - {lo}) / ({hi} - {lo}) * 255e0) AS BIGINT)")


def _cc_clamp(x: str) -> str:
    return f"LEAST(GREATEST({x}, 0), 255)"


@Q.register(
    "colour_composite",
    f"""WITH {_RAS}, {_RAS2}, {_RAS3},
j AS (SELECT r.row, r.col, r.value AS rv, g.value AS gv, b.value AS bv
      FROM ras r JOIN ras2 g USING (row, col) JOIN ras3 b USING (row, col)
      WHERE r.value != {NODATA!r}e0 AND g.value != {NODATA!r}e0 AND b.value != {NODATA!r}e0),
mm AS (SELECT MIN(rv) AS rlo, MAX(rv) AS rhi, MIN(gv) AS glo, MAX(gv) AS ghi,
       MIN(bv) AS blo, MAX(bv) AS bhi FROM j)
SELECT row, col, 4278190080 + {_cc_clamp(_CC_CH.format(v='bv', lo='blo', hi='bhi'))} * 65536
  + {_cc_clamp(_CC_CH.format(v='gv', lo='glo', hi='ghi'))} * 256
  + {_cc_clamp(_CC_CH.format(v='rv', lo='rlo', hi='rhi'))} AS argb
FROM j, mm ORDER BY row, col""",
)
def q_colour_composite(spark, sf):
    r = R.explode_cells(_dem(spark, 0)).withColumnRenamed("value", "rv")
    g = R.explode_cells(_dem(spark, 1)).withColumnRenamed("value", "gv")
    b = R.explode_cells(_dem(spark, 2)).withColumnRenamed("value", "bv")
    j = (
        r.join(g, ["row", "col"]).join(b, ["row", "col"])
        .where((F.col("rv") != _ND) & (F.col("gv") != _ND) & (F.col("bv") != _ND))
    )
    mm = j.agg(
        F.min("rv").alias("rlo"), F.max("rv").alias("rhi"),
        F.min("gv").alias("glo"), F.max("gv").alias("ghi"),
        F.min("bv").alias("blo"), F.max("bv").alias("bhi"),
    )
    ch = lambda v, lo, hi: F.expr(_cc_clamp(_CC_CH.format(v=v, lo=lo, hi=hi)))
    return (
        j.crossJoin(F.broadcast(mm))
        .select(
            "row", "col",
            (F.lit(4278190080) + ch("bv", "blo", "bhi") * 65536
             + ch("gv", "glo", "ghi") * 256 + ch("rv", "rlo", "rhi")).alias("argb"),
        )
        .orderBy("row", "col")
    )


# -- small named HydroTools: FillPits / FindNoFlowCells /
# NumInflowingNeighbours / FindParallelFlow / BurnStreams /
# JensonSnapPourPoints -----------------------------------------------------
_FP_EPS = "2.44140625e-4"  # 2^-12, dyadic (determinizes FillPits aSmallValue)
_D8_OUT = (
    "CASE WHEN {dr} = -1 AND {dc} = -1 THEN 1 WHEN {dr} = -1 AND {dc} = 0 THEN 2 "
    "WHEN {dr} = -1 AND {dc} = 1 THEN 4 WHEN {dr} = 0 AND {dc} = -1 THEN 8 "
    "WHEN {dr} = 0 AND {dc} = 1 THEN 16 WHEN {dr} = 1 AND {dc} = -1 THEN 32 "
    "WHEN {dr} = 1 AND {dc} = 0 THEN 64 ELSE 128 END"
)
_D8_TGT_DR = ("CASE WHEN code IN (1, 2, 4) THEN -1 WHEN code IN (8, 16) THEN 0 "
              "ELSE 1 END")
_D8_TGT_DC = ("CASE WHEN code IN (1, 8, 32) THEN -1 WHEN code IN (2, 64) THEN 0 "
              "ELSE 1 END")


# FillPits.java:208-230: raise each single-cell pit (every PRESENT neighbor
# strictly higher) to its lowest neighbor + eps; everything else unchanged.
@Q.register(
    "fill_pits",
    f"WITH {_HYD_BASE} SELECT row, col, "
    "CASE WHEN LEAST(n0, n1, n2, n3, n4, n5, n6, n7) > cv "
    f"THEN LEAST(n0, n1, n2, n3, n4, n5, n6, n7) + {_FP_EPS} ELSE cv END AS filled "
    "FROM w9 ORDER BY row, col",
)
def q_fill_pits(spark, sf):
    cells = R.explode_cells(_hydem(spark)).where(F.col("value") != _ND)
    mn = (
        R.explode_cells(R.focal(_hydem(spark), "minnbr"))
        .where(F.col("value") != _ND)
        .withColumnRenamed("value", "mn")
    )
    return (
        cells.join(mn, ["row", "col"], "left")
        .select(
            "row", "col",
            F.expr(f"CASE WHEN mn > value THEN mn + {_FP_EPS} "
                   "ELSE value END").alias("filled"),
        )
        .orderBy("row", "col")
    )


# FindNoFlowCells.java: cells whose D8 pointer is 0 (pits/flats)
@Q.register(
    "find_noflow",
    f"WITH {_HYD_BASE} SELECT row, col FROM d8 WHERE code = 0 ORDER BY row, col",
)
def q_find_noflow(spark, sf):
    from .operators.hydro import flow_pointer_d8

    return (
        flow_pointer_d8(_hydem(spark))
        .where(F.col("code") == 0).select("row", "col").orderBy("row", "col")
    )


# NumInflowingNeighbours.java: count of 8-neighbors whose pointer targets
# the cell — a groupBy on the DECODED pointer target (one shuffle on the
# target key; no neighborhood join at all)
@Q.register(
    "num_inflowing",
    f"WITH {_HYD_BASE}, tg AS (SELECT row + {_D8_TGT_DR} AS trow, "
    f"col + {_D8_TGT_DC} AS tcol FROM d8 WHERE code > 0), "
    "cnt AS (SELECT trow, tcol, COUNT(*) AS n FROM tg GROUP BY 1, 2) "
    "SELECT d.row, d.col, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_inflow "
    "FROM d8 d LEFT JOIN cnt c ON c.trow = d.row AND c.tcol = d.col "
    "ORDER BY d.row, d.col",
)
def q_num_inflowing(spark, sf):
    from .operators.hydro import flow_pointer_d8

    ptr = flow_pointer_d8(_hydem(spark))
    tg = ptr.where(F.col("code") > 0).select(
        (F.col("row") + F.expr(_D8_TGT_DR)).alias("trow"),
        (F.col("col") + F.expr(_D8_TGT_DC)).alias("tcol"),
    )
    cnt = tg.groupBy("trow", "tcol").agg(F.count(F.lit(1)).alias("n"))
    return (
        ptr.join(cnt, (F.col("trow") == F.col("row")) & (F.col("tcol") == F.col("col")), "left")
        .select("row", "col", F.coalesce("n", F.lit(0)).cast("long").alias("n_inflow"))
        .orderBy("row", "col")
    )


# FindParallelFlow.java:230-255: a cell flows parallel when some neighbor
# (that is neither its downslope target nor an inflowing cell) carries the
# SAME pointer code
_PF_OUT = _D8_OUT.format(dr="(b.row - a.row)", dc="(b.col - a.col)")
_PF_IN = _D8_OUT.format(dr="(a.row - b.row)", dc="(a.col - b.col)")


@Q.register(
    "find_parallel_flow",
    f"WITH {_HYD_BASE}, pf AS (SELECT a.row, a.col, "
    f"MAX(CASE WHEN b.code = a.code AND a.code != {_PF_OUT} "
    f"AND a.code != {_PF_IN} THEN 1 ELSE 0 END) AS parallel "
    "FROM d8 a JOIN d8 b ON b.row BETWEEN a.row - 1 AND a.row + 1 "
    "AND b.col BETWEEN a.col - 1 AND a.col + 1 "
    "AND NOT (b.row = a.row AND b.col = a.col) GROUP BY 1, 2) "
    "SELECT d.row, d.col, CAST(COALESCE(p.parallel, 0) AS INT) AS parallel "
    "FROM d8 d LEFT JOIN pf p ON p.row = d.row AND p.col = d.col "
    "ORDER BY d.row, d.col",
)
def q_find_parallel_flow(spark, sf):
    from .operators.hydro import flow_pointer_d8

    a = flow_pointer_d8(_hydem(spark)).alias("a")
    b = flow_pointer_d8(_hydem(spark)).alias("b")
    pf = (
        a.join(
            b,
            F.expr("b.row BETWEEN a.row - 1 AND a.row + 1 "
                   "AND b.col BETWEEN a.col - 1 AND a.col + 1 "
                   "AND NOT (b.row = a.row AND b.col = a.col)"),
        )
        .groupBy(F.col("a.row").alias("row"), F.col("a.col").alias("col"))
        .agg(F.max(F.expr(
            f"CASE WHEN b.code = a.code AND a.code != {_PF_OUT} "
            f"AND a.code != {_PF_IN} THEN 1 ELSE 0 END")).alias("parallel"))
    )
    return (
        flow_pointer_d8(_hydem(spark))
        .join(pf, ["row", "col"], "left")
        .select("row", "col",
                F.coalesce("parallel", F.lit(0)).cast("int").alias("parallel"))
        .orderBy("row", "col")
    )


# BurnStreams.java semantics (stream-cell DEM decrement; streams = the
# engine's accumulation >= 20 mask, depth = 8, both dyadic)
@Q.register(
    "burn_streams",
    f"WITH RECURSIVE {_HYD_BASE}, {_HYD_EDGES} "
    "SELECT c.row, c.col, CASE WHEN a.accum >= 20 THEN c.v - 8e0 ELSE c.v END AS burned "
    "FROM live c JOIN acc a ON a.row = c.row AND a.col = c.col "
    "WHERE c.v IS NOT NULL ORDER BY c.row, c.col",
)
def q_burn_streams(spark, sf):
    from .operators.hydro import flow_accum, flow_pointer_d8

    cells = R.explode_cells(_hydem(spark)).where(F.col("value") != _ND)
    acc = flow_accum(flow_pointer_d8(_hydem(spark)))
    return (
        cells.join(acc, ["row", "col"])
        .select(
            "row", "col",
            F.expr("CASE WHEN accum >= 20 THEN value - 8e0 ELSE value END")
            .alias("burned"),
        )
        .orderBy("row", "col")
    )


# JensonSnapPourPoints.java: snap each outlet to the NEAREST stream cell
# within the radius (min squared distance; (row, col) tie-break).  Radius 12
# (vs snap_pour's 3): the Jenson variant is meant to reach the stream network
_JSNAP_R = 12
@Q.register(
    "jenson_snap",
    f"WITH RECURSIVE {_HYD_BASE}, {_HYD_EDGES} "
    "SELECT pp_id, row AS srow, col AS scol FROM ("
    "SELECT p.pp_id, a.row, a.col, "
    "ROW_NUMBER() OVER (PARTITION BY p.pp_id ORDER BY "
    "(a.row - p.r) * (a.row - p.r) + (a.col - p.c) * (a.col - p.c), a.row, a.col) AS rn "
    f"FROM (VALUES {', '.join(f'({i},{r},{c})' for i, r, c in _SNAP_PP)}) p(pp_id, r, c) "
    f"JOIN acc a ON a.accum >= 10 AND a.row BETWEEN p.r - {_JSNAP_R} AND p.r + {_JSNAP_R} "
    f"AND a.col BETWEEN p.c - {_JSNAP_R} AND p.c + {_JSNAP_R}"
    ") WHERE rn = 1 ORDER BY pp_id",
)
def q_jenson_snap(spark, sf):
    from pyspark.sql import Window

    from .operators.hydro import flow_accum, flow_pointer_d8

    acc = flow_accum(flow_pointer_d8(_hydem(spark)))
    stream = acc.where(F.col("accum") >= 10).select("row", "col")
    pour = spark.createDataFrame(_SNAP_PP, "pp_id long, r long, c long")
    cand = pour.join(
        stream,
        (F.col("row").between(F.col("r") - _JSNAP_R, F.col("r") + _JSNAP_R))
        & (F.col("col").between(F.col("c") - _JSNAP_R, F.col("c") + _JSNAP_R)),
    )
    d2 = (F.col("row") - F.col("r")) ** 2 + (F.col("col") - F.col("c")) ** 2
    rn = F.row_number().over(
        Window.partitionBy("pp_id").orderBy(d2.asc(), "row", "col")
    )
    return (
        cand.withColumn("rn", rn).where(F.col("rn") == 1)
        .select("pp_id", F.col("row").alias("srow"), F.col("col").alias("scol"))
        .orderBy("pp_id")
    )


# -- FuzzyMembership (StatsTools FuzzyMembership.java:275-295, sigmoidal
# model): cos^2 ramp between thresholds p1<p2<=p3<p4.  Transcendental ->
# shared half-up round(6).
_FZ_P = (120.0, 150.0, 180.0, 210.0)


def _fuzzy_expr(v: str) -> str:
    p1, p2, p3, p4 = _FZ_P
    hp = "1.5707963267948966e0"  # pi/2
    r1, r2 = p2 - p1, p4 - p3
    return (
        f"CASE WHEN {v} <= {p1}e0 THEN 0e0 "
        f"WHEN {v} < {p2}e0 THEN FLOOR((1e0 - COS(({v} - {p1}e0) / {r1}e0 * {hp}) "
        f"* COS(({v} - {p1}e0) / {r1}e0 * {hp})) * 1e6 + 0.5e0) / 1e6 "
        f"WHEN {v} <= {p3}e0 THEN 1e0 "
        f"WHEN {v} < {p4}e0 THEN FLOOR(COS(({v} - {p3}e0) / {r2}e0 * {hp}) "
        f"* COS(({v} - {p3}e0) / {r2}e0 * {hp}) * 1e6 + 0.5e0) / 1e6 "
        "ELSE 0e0 END"
    )


@Q.register(
    "fuzzy_membership",
    f"WITH {_RASF} SELECT row, col, {_fuzzy_expr('value')} AS membership "
    f"FROM ras WHERE {_NDF} ORDER BY row, col",
)
def q_fuzzy_membership(spark, sf):
    live = R.explode_cells(_demf(spark)).where(F.col("value") != _ND)
    return live.select(
        "row", "col", F.expr(_fuzzy_expr("value")).alias("membership")
    ).orderBy("row", "col")


# -- CompareImagesForDifferences (StatsTools
# CompareImagesForDifferences.java:328-334): paired-sample t statistic of
# two bands — the exact moment formulas from the reference, computed on
# milli-quantized integer sums (exact) with one final rounded division.
@Q.register(
    "compare_images",
    f"""WITH {_RAS}, {_RAS2},
d AS (SELECT CAST(ROUND(a.value * 1e3) AS BIGINT) AS z1,
             CAST(ROUND(b.value * 1e3) AS BIGINT) AS z2
      FROM ras a JOIN ras2 b USING (row, col)
      WHERE a.value != {NODATA!r}e0 AND b.value != {NODATA!r}e0),
m AS (SELECT COUNT(*) AS n, CAST(SUM(z1 - z2) AS BIGINT) AS s,
      CAST(SUM((z1 - z2) * (z1 - z2)) AS BIGINT) AS s2 FROM d)
SELECT n, FLOOR((CAST(s AS DOUBLE) / n) / 
  SQRT((n * CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (n * (n - 1e0)) / n)
  * 1e6 + 0.5e0) / 1e6 AS t_stat FROM m""",
)
def q_compare_images(spark, sf):
    a = R.explode_cells(_dem(spark, 0)).withColumnRenamed("value", "v1")
    b = R.explode_cells(_dem(spark, 1)).withColumnRenamed("value", "v2")
    d = (
        a.join(b, ["row", "col"])
        .where((F.col("v1") != _ND) & (F.col("v2") != _ND))
        .select(
            (F.round(F.col("v1") * 1e3).cast("long")
             - F.round(F.col("v2") * 1e3).cast("long")).alias("dz"),
        )
    )
    m = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dz").cast("long").alias("s"),
        F.sum(F.col("dz") * F.col("dz")).cast("long").alias("s2"),
    )
    t = (F.col("s").cast("double") / F.col("n")) / F.sqrt(
        (F.col("n") * F.col("s2").cast("double")
         - F.col("s").cast("double") * F.col("s").cast("double"))
        / (F.col("n") * (F.col("n") - F.lit(1.0))) / F.col("n")
    )
    return m.select(
        "n", (F.floor(t * 1e6 + 0.5) / 1e6).alias("t_stat")
    )


# -- SplitColourComposite (ImageProcessingTools SplitColourComposite.java):
# unpack the ARGB composite back into r/g/b channels (pure integer ops;
# the exact inverse of colour_composite's pack)
@Q.register(
    "split_composite",
    f"""WITH {_RAS}, {_RAS2}, {_RAS3},
j AS (SELECT r.row, r.col, r.value AS rv, g.value AS gv, b.value AS bv
      FROM ras r JOIN ras2 g USING (row, col) JOIN ras3 b USING (row, col)
      WHERE r.value != {NODATA!r}e0 AND g.value != {NODATA!r}e0 AND b.value != {NODATA!r}e0),
mm AS (SELECT MIN(rv) AS rlo, MAX(rv) AS rhi, MIN(gv) AS glo, MAX(gv) AS ghi,
       MIN(bv) AS blo, MAX(bv) AS bhi FROM j),
pk AS (SELECT row, col, 4278190080 + {_cc_clamp(_CC_CH.format(v='bv', lo='blo', hi='bhi'))} * 65536
  + {_cc_clamp(_CC_CH.format(v='gv', lo='glo', hi='ghi'))} * 256
  + {_cc_clamp(_CC_CH.format(v='rv', lo='rlo', hi='rhi'))} AS argb FROM j, mm)
SELECT row, col, argb % 256 AS r8, CAST(FLOOR(argb / 256e0) AS BIGINT) % 256 AS g8,
  CAST(FLOOR(argb / 65536e0) AS BIGINT) % 256 AS b8
FROM pk ORDER BY row, col""",
)
def q_split_composite(spark, sf):
    from . import queries as _Qr  # registry holds the plain fn

    comp = _Qr.all_queries()["colour_composite"](spark, sf)
    return comp.select(
        "row", "col",
        (F.col("argb") % 256).alias("r8"),
        (F.floor(F.col("argb") / 256.0).cast("long") % 256).alias("g8"),
        (F.floor(F.col("argb") / 65536.0).cast("long") % 256).alias("b8"),
    ).orderBy("row", "col")


# -- DirectDecorrelationStretch (ImageProcessingTools
# DirectDecorrelationStretch.java:240-284, k = 0.5): per-pixel achromatic
# subtraction r' = trunc(r - k*min(r,g,b)) clamped to [0,255], repacked as
# ARGB — applied to the engine's colour composite (pure integer ops).
def _dds_ch(ch: str) -> str:
    return (f"LEAST(GREATEST(CAST(FLOOR({ch} - 0.5e0 * mn) AS BIGINT), 0), 255)")


@Q.register(
    "dds_stretch",
    f"""WITH {_RAS}, {_RAS2}, {_RAS3},
j AS (SELECT r.row, r.col, r.value AS rv, g.value AS gv, b.value AS bv
      FROM ras r JOIN ras2 g USING (row, col) JOIN ras3 b USING (row, col)
      WHERE r.value != {NODATA!r}e0 AND g.value != {NODATA!r}e0 AND b.value != {NODATA!r}e0),
mm AS (SELECT MIN(rv) AS rlo, MAX(rv) AS rhi, MIN(gv) AS glo, MAX(gv) AS ghi,
       MIN(bv) AS blo, MAX(bv) AS bhi FROM j),
pk AS (SELECT row, col, {_cc_clamp(_CC_CH.format(v='rv', lo='rlo', hi='rhi'))} AS r8,
       {_cc_clamp(_CC_CH.format(v='gv', lo='glo', hi='ghi'))} AS g8,
       {_cc_clamp(_CC_CH.format(v='bv', lo='blo', hi='bhi'))} AS b8 FROM j, mm),
dm AS (SELECT row, col, r8, g8, b8, LEAST(r8, g8, b8) AS mn FROM pk)
SELECT row, col, 4278190080 + {_dds_ch('b8')} * 65536 + {_dds_ch('g8')} * 256
  + {_dds_ch('r8')} AS argb
FROM dm ORDER BY row, col""",
)
def q_dds_stretch(spark, sf):
    comp = Q.all_queries()["colour_composite"](spark, sf)
    unpack = comp.select(
        "row", "col",
        (F.col("argb") % 256).alias("r8"),
        (F.floor(F.col("argb") / 256.0).cast("long") % 256).alias("g8"),
        (F.floor(F.col("argb") / 65536.0).cast("long") % 256).alias("b8"),
    ).withColumn("mn", F.least("r8", "g8", "b8"))
    return unpack.select(
        "row", "col",
        (F.lit(4278190080) + F.expr(_dds_ch("b8")) * 65536
         + F.expr(_dds_ch("g8")) * 256 + F.expr(_dds_ch("r8"))).alias("argb"),
    ).orderBy("row", "col")


# -- ExtractValleysPeuckerAndDouglas (StreamNetworkAnalysisTools
# ExtractValleysPeuckerAndDouglas.java): mark the highest cell of every
# 2x2 window; valleys = never-marked cells.  Tie-break = first max in the
# window scan order (slot = 2*(row offset) + col offset).
@Q.register(
    "extract_valleys_pd",
    f"WITH {_RASF}, live AS (SELECT row, col, value FROM ras WHERE {_NDF}), "
    "blk AS (SELECT b.r AS br, b.c AS bc, l.row, l.col, l.value, "
    "(l.row - b.r) * 2 + (l.col - b.c) AS slot "
    f"FROM (SELECT r.r, c.c FROM range(0, {FROWS - 1}) r(r), range(0, {FCOLS - 1}) c(c)) b "
    "JOIN live l ON l.row BETWEEN b.r AND b.r + 1 AND l.col BETWEEN b.c AND b.c + 1), "
    "mk AS (SELECT br, bc, row, col, ROW_NUMBER() OVER (PARTITION BY br, bc "
    "ORDER BY value DESC, slot) AS rn, COUNT(*) OVER (PARTITION BY br, bc) AS nc "
    "FROM blk), "
    "marked AS (SELECT DISTINCT row, col FROM mk WHERE rn = 1 AND nc = 4) "
    "SELECT l.row, l.col, CASE WHEN m.row IS NULL THEN 1 ELSE 0 END AS valley "
    "FROM live l LEFT JOIN marked m ON m.row = l.row AND m.col = l.col "
    "ORDER BY l.row, l.col",
)
def q_extract_valleys_pd(spark, sf):
    live = R.explode_cells(_demf(spark)).where(F.col("value") != _ND)
    from pyspark.sql import Window

    # each live cell belongs to <= 4 2x2 blocks; explode the block ids it
    # joins (pure Catalyst), window-rank inside each block
    blk = live.select(
        "row", "col", "value",
        F.explode(F.expr(
            "filter(array(struct(row - 1 AS br, col - 1 AS bc), "
            "struct(row - 1 AS br, col AS bc), "
            "struct(row AS br, col - 1 AS bc), struct(row AS br, col AS bc)), "
            f"b -> b.br >= 0 AND b.bc >= 0 AND b.br < {FROWS - 1} AND b.bc < {FCOLS - 1})"
        )).alias("b"),
    ).select("row", "col", "value", "b.br", "b.bc")
    slot = (F.col("row") - F.col("br")) * 2 + (F.col("col") - F.col("bc"))
    w = Window.partitionBy("br", "bc")
    mk = blk.select(
        "row", "col",
        F.row_number().over(w.orderBy(F.col("value").desc(), slot.asc())).alias("rn"),
        F.count(F.lit(1)).over(w).alias("nc"),
    )
    marked = mk.where((F.col("rn") == 1) & (F.col("nc") == 4)) \
        .select("row", "col").distinct()
    return (
        live.join(marked.withColumn("_m", F.lit(1)), ["row", "col"], "left")
        .select("row", "col",
                F.when(F.col("_m").isNull(), 1).otherwise(0).alias("valley"))
        .orderBy("row", "col")
    )


# -- FindPatchOrClassEdgeCells (GISTools FindPatchOrClassEdgeCells.java,
# class mode): cells whose 4-neighborhood contains a different class or
# leaves the grid/nodata.
@Q.register(
    "find_edge_cells",
    f"WITH {_RASF}, cls AS (SELECT row, col, CAST(FLOOR(value / 50e0) AS BIGINT) AS c "
    f"FROM ras WHERE {_NDF}), "
    "nb AS (SELECT a.row, a.col, a.c, "
    "MAX(CASE WHEN b.c IS NULL OR b.c != a.c THEN 1 ELSE 0 END) AS edge "
    "FROM cls a JOIN (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)) o(dr, dc) ON TRUE "
    "LEFT JOIN cls b ON b.row = a.row + o.dr AND b.col = a.col + o.dc "
    "GROUP BY 1, 2, 3) "
    "SELECT row, col, c AS cls, CAST(edge AS INT) AS edge FROM nb ORDER BY row, col",
)
def q_find_edge_cells(spark, sf):
    live = R.explode_cells(_demf(spark)).where(F.col("value") != _ND)
    cls = live.select(
        "row", "col", F.expr("CAST(FLOOR(value / 50e0) AS BIGINT)").alias("c")
    )
    offs = F.expr(
        "explode(array(struct(-1 AS dr, 0 AS dc), struct(1 AS dr, 0 AS dc), "
        "struct(0 AS dr, -1 AS dc), struct(0 AS dr, 1 AS dc)))"
    )
    probes = cls.select("row", "col", "c", offs.alias("o")).select(
        "row", "col", "c",
        (F.col("row") + F.col("o.dr")).alias("nr"),
        (F.col("col") + F.col("o.dc")).alias("nc"),
    )
    nbc = cls.select(F.col("row").alias("nr"), F.col("col").alias("nc"),
                     F.col("c").alias("bc"))
    return (
        probes.join(nbc, ["nr", "nc"], "left")
        .groupBy("row", "col", "c")
        .agg(F.max(F.expr("CASE WHEN bc IS NULL OR bc != c THEN 1 ELSE 0 END"))
             .cast("int").alias("edge"))
        .select("row", "col", F.col("c").alias("cls"), "edge")
        .orderBy("row", "col")
    )


# -- ExtractValleysJohnstonAndRosenfeld (StreamNetworkAnalysisTools
# ExtractValleysJohnstonAndRosenfeld.java:195-215): valley when the N-S
# pair OR the E-W pair are BOTH strictly higher (the dual of FindRidges).
@Q.register(
    "extract_valleys_jr",
    f"WITH {_RASF}, {_W9} SELECT row, col, "
    "CASE WHEN (nn IS NOT NULL AND ss IS NOT NULL AND nn > cv AND ss > cv) "
    "OR (wv IS NOT NULL AND ev IS NOT NULL AND wv > cv AND ev > cv) "
    "THEN 1 ELSE 0 END AS valley "
    f"FROM w9 WHERE cv != {R.NODATA!r}e0 ORDER BY row, col",
)
def q_extract_valleys_jr(spark, sf):
    live = R.explode_cells(_demf(spark)).where(F.col("value") != _ND)
    nb = {}
    for name, (dr, dc) in {"nn": (-1, 0), "ss": (1, 0), "wv": (0, -1),
                           "ev": (0, 1)}.items():
        nb[name] = live.select(
            (F.col("row") - dr).alias("row"), (F.col("col") - dc).alias("col"),
            F.col("value").alias(name),
        )
    out = live
    for name, df in nb.items():
        out = out.join(df, ["row", "col"], "left")
    return out.select(
        "row", "col",
        F.expr(
            "CASE WHEN (nn IS NOT NULL AND ss IS NOT NULL AND nn > value AND ss > value) "
            "OR (wv IS NOT NULL AND ev IS NOT NULL AND wv > value AND ev > value) "
            "THEN 1 ELSE 0 END"
        ).alias("valley"),
    ).orderBy("row", "col")


# -- CrispnessIndex (StatsTools CrispnessIndex.java:230-270) over the
# engine's fuzzy-membership image: C = sum((z - avg)^2) /
# ((total*(1-avg))^2 + avg^2*(N - total)).  Membership values are round-6
# quantized, so micro-integer moments make every sum exact; the final
# expression is one shared deterministic formula.
_CRISP_OUT = (
    "CAST(ROUND((CAST(s2 AS DOUBLE) / 1e12 - (CAST(s1 AS DOUBLE) / 1e6) "
    "* (CAST(s1 AS DOUBLE) / 1e6) / n) / "
    "((CAST(s1 AS DOUBLE) / 1e6 * (1e0 - CAST(s1 AS DOUBLE) / 1e6 / n)) "
    "* (CAST(s1 AS DOUBLE) / 1e6 * (1e0 - CAST(s1 AS DOUBLE) / 1e6 / n)) "
    "+ (CAST(s1 AS DOUBLE) / 1e6 / n) * (CAST(s1 AS DOUBLE) / 1e6 / n) "
    "* (n - CAST(s1 AS DOUBLE) / 1e6)), 6) AS DOUBLE)"
)


@Q.register(
    "crispness_index",
    f"WITH {_RASF}, fz AS (SELECT CAST(FLOOR(({_fuzzy_expr('value')}) * 1e6 + 0.5e0) AS BIGINT) AS zm "
    f"FROM ras WHERE {_NDF}), "
    "m AS (SELECT COUNT(*) AS n, CAST(SUM(zm) AS BIGINT) AS s1, "
    "CAST(SUM(zm * zm) AS BIGINT) AS s2 FROM fz) "
    f"SELECT n, {_CRISP_OUT} AS crispness FROM m",
)
def q_crispness_index(spark, sf):
    live = R.explode_cells(_demf(spark)).where(F.col("value") != _ND)
    fz = live.select(
        F.floor(F.expr(_fuzzy_expr("value")) * 1e6 + 0.5).cast("long").alias("zm")
    )
    m = fz.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("zm").cast("long").alias("s1"),
        F.sum(F.col("zm") * F.col("zm")).cast("long").alias("s2"),
    )
    return m.select("n", F.expr(_CRISP_OUT).alias("crispness"))


# -- FilterLocalContrastEnhancement (ImageProcessingTools
# FilterLocalContrastEnhancement.java:300-325): over the elliptical (here
# plus-shaped, 3x3/ellipse) window, yij = alpha*globalMean +
# (1-alpha)*localMean + (z - localMean)*(sigma0/(sigma + 1)); alpha = 0.5,
# sigma0 = 16, population sigma.  Dyadic sums + deterministic sqrt/div ->
# no rounding.
@Q.register(
    "local_contrast",
    f"""WITH {_RASF}, live AS (SELECT row, col, value FROM ras WHERE {_NDF}),
gm AS (SELECT SUM(value) / COUNT(*) AS g FROM live),
w5 AS (SELECT a.row, a.col, a.value AS z, COUNT(*) AS n,
  SUM(b.value) AS s1, SUM(b.value * b.value) AS s2
  FROM live a JOIN live b ON ABS(b.row - a.row) + ABS(b.col - a.col) <= 1
  GROUP BY 1, 2, 3),
st AS (SELECT row, col, z, n, s1 / n AS lm,
  SQRT(s2 / n - (s1 / n) * (s1 / n)) AS sd FROM w5 WHERE s2 / n - (s1 / n) * (s1 / n) > 0e0)
SELECT row, col,
  0.5e0 * g + 0.5e0 * lm + (z - lm) * (16e0 / (sd + 1e0)) AS value
FROM st, gm ORDER BY row, col""",
)
def q_local_contrast(spark, sf):
    live = R.explode_cells(_demf(spark)).where(F.col("value") != _ND)
    gm = live.agg((F.sum("value") / F.count(F.lit(1))).alias("g"))
    b = live.select(F.col("row").alias("br"), F.col("col").alias("bc"),
                    F.col("value").alias("bv"))
    w5 = (
        live.join(b, (F.abs(F.col("br") - F.col("row"))
                      + F.abs(F.col("bc") - F.col("col"))) <= 1)
        .groupBy("row", "col", "value")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("bv").alias("s1"),
             F.sum(F.col("bv") * F.col("bv")).alias("s2"))
    )
    var = F.col("s2") / F.col("n") - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n"))
    st = w5.where(var > 0).select(
        "row", "col", F.col("value").alias("z"),
        (F.col("s1") / F.col("n")).alias("lm"),
        F.sqrt(var).alias("sd"),
    )
    return (
        st.crossJoin(F.broadcast(gm))
        .select(
            "row", "col",
            (0.5 * F.col("g") + 0.5 * F.col("lm")
             + (F.col("z") - F.col("lm")) * (16.0 / (F.col("sd") + 1.0))).alias("value"),
        )
        .orderBy("row", "col")
    )


# -- Min/MaxAbsOverlay (§2.7; GISTools MaxAbsOverlay.java:208-232 and the
# Min/Max siblings): per cell across the stack, the FIRST band whose
# |z| (resp. z) is strictly extreme wins — strict compares preserve the
# earliest band on ties; nodata bands are skipped per cell.  Three-band
# stack; exact compares, no rounding.
_MAXABS_PICK = (
    "CASE WHEN {b} IS NOT NULL AND ({v} IS NULL OR {b} * {b} > {v} * {v}) "
    "THEN {b} ELSE {v} END"
)


@Q.register(
    "max_abs_overlay",
    f"""WITH {_RAS}, {_RAS2}, {_RAS3},
st AS (SELECT a.row, a.col,
  NULLIF(a.value, {R.NODATA!r}e0) AS v0,
  NULLIF(b.value, {R.NODATA!r}e0) AS v1,
  NULLIF(c.value, {R.NODATA!r}e0) AS v2
  FROM ras a JOIN ras2 b USING (row, col) JOIN ras3 c USING (row, col)),
p1 AS (SELECT row, col, v1, v2, {_MAXABS_PICK.format(b='v0', v='CAST(NULL AS DOUBLE)')} AS pk FROM st),
p2 AS (SELECT row, col, v2, {_MAXABS_PICK.format(b='v1', v='pk')} AS pk FROM p1),
p3 AS (SELECT row, col, {_MAXABS_PICK.format(b='v2', v='pk')} AS pk FROM p2)
SELECT row, col, pk AS value FROM p3 WHERE pk IS NOT NULL ORDER BY row, col""",
)
def q_max_abs_overlay(spark, sf):
    m = (
        R.explode_cells(_dem(spark, 0)).withColumnRenamed("value", "a")
        .join(R.explode_cells(_dem(spark, 1)).withColumnRenamed("value", "b"),
              ["row", "col"])
        .join(R.explode_cells(_dem(spark, 2)).withColumnRenamed("value", "c"),
              ["row", "col"])
        .select(
            "row", "col",
            F.expr(f"NULLIF(a, {R.NODATA!r}e0)").alias("v0"),
            F.expr(f"NULLIF(b, {R.NODATA!r}e0)").alias("v1"),
            F.expr(f"NULLIF(c, {R.NODATA!r}e0)").alias("v2"),
        )
    )
    pick0 = _MAXABS_PICK.format(b="v0", v="CAST(NULL AS DOUBLE)")
    pick1 = _MAXABS_PICK.format(b="v1", v=f"({pick0})")
    pick2 = _MAXABS_PICK.format(b="v2", v=f"({pick1})")
    return (
        m.select("row", "col", F.expr(pick2).alias("value"))
        .where(F.col("value").isNotNull())
        .orderBy("row", "col")
    )


# -- ConvertNoDataToZero (§2.2; ConversionTools ConvertNoDataToZero.java):
# nodata cells become 0, everything else passes through — full-extent
# output (the one raster query that does NOT filter nodata).
@Q.register(
    "nodata_to_zero",
    f"WITH {_RAS} SELECT row, col, "
    f"CASE WHEN value = {R.NODATA!r}e0 THEN 0e0 ELSE value END AS value "
    "FROM ras ORDER BY row, col",
)
def q_nodata_to_zero(spark, sf):
    # map_algebra's nodata passthrough is exactly what this tool REMOVES,
    # so the lambda applies to the raw values array directly
    out = _dem(spark).withColumn(
        "values",
        F.expr(f"transform(values, v -> CASE WHEN v = {R.NODATA!r}e0 "
               "THEN 0e0 ELSE v END)"),
    )
    return R.explode_cells(out).orderBy("row", "col")


# -- whole-raster CRS reprojection (§2.2; ConversionTools/src/plugins/
# CoordinateSystemTransformation.java:55 — the full-grid UTM<->LL remap with
# NN/bilinear resampling, VERDICT r3 missing #2).  Source = the fine LL grid
# (_RASF georeferenced lon = 30 + (col+0.5)*0.0125, lat = 41.5 - (row+0.5)*
# 0.0125); target = a 100x100 UTM grid (zone cm 33E).  Each target center
# inverse-transforms through the shared crs.INV_STAGES fragments, the
# fractional source position quantizes to 1e-6 BEFORE FLOOR (so a libm ulp
# can never flip the chosen source cell), then NN picks one cell and
# bilinear blends the 2x2 window — target cells whose window leaves the
# source grid (or touches nodata) drop identically in both engines.
from .functions import crs as _crs  # noqa: E402

_RP_LON0, _RP_DLON = "30e0", "0.0125e0"
_RP_LAT0, _RP_DLAT = "41.5e0", "0.0125e0"
_RP_TRC = 100
_RP_TGT_COLS = (
    "270000e0 + (tc + 0.5e0) * 1500e0 AS easting, "
    "4580000e0 - (tr + 0.5e0) * 1400e0 AS northing, "
    "RADIANS(33e0) AS lam0"
)
_RP_PX = (f"FLOOR(((DEGREES(lam2) - {_RP_LON0}) / {_RP_DLON} - 0.5e0) "
          "* 1e6 + 0.5e0) / 1e6")
_RP_PY = (f"FLOOR((({_RP_LAT0} - DEGREES(phi2)) / {_RP_DLAT} - 0.5e0) "
          "* 1e6 + 0.5e0) / 1e6")
_RP_BIL = ("(1e0 - fr) * (1e0 - fc) * v00 + (1e0 - fr) * fc * v01 "
           "+ fr * (1e0 - fc) * v10 + fr * fc * v11")


def _rp_idx_sql() -> str:
    base = (f"SELECT a.tr, b.tc, {_RP_TGT_COLS} "
            f"FROM range(0, {_RP_TRC}) a(tr), range(0, {_RP_TRC}) b(tc)")
    ctes, last = _crs.stages_sql(base, "rp_base", _crs.INV_STAGES, "rp")
    return (f"{ctes}, rp_pos AS (SELECT tr, tc, {_RP_PX} AS px, {_RP_PY} AS py "
            f"FROM {last}), "
            "rp_idx AS (SELECT tr, tc, "
            "CAST(FLOOR(px) AS BIGINT) AS c0, px - CAST(FLOOR(px) AS BIGINT) AS fc, "
            "CAST(FLOOR(py) AS BIGINT) AS r0, py - CAST(FLOOR(py) AS BIGINT) AS fr, "
            "CAST(FLOOR(px + 0.5e0) AS BIGINT) AS cn, "
            "CAST(FLOOR(py + 0.5e0) AS BIGINT) AS rn FROM rp_pos)")


def _rp_idx_df(spark):
    tgt = (
        spark.range(_RP_TRC).selectExpr("id AS tr")
        .crossJoin(spark.range(_RP_TRC).selectExpr("id AS tc"))
        .selectExpr("tr", "tc", *_RP_TGT_COLS.split(", "))
    )
    pos = _crs.apply_stages(tgt, _crs.INV_STAGES).selectExpr(
        "tr", "tc", f"{_RP_PX} AS px", f"{_RP_PY} AS py")
    return pos.selectExpr(
        "tr", "tc",
        "CAST(FLOOR(px) AS BIGINT) AS c0",
        "px - CAST(FLOOR(px) AS BIGINT) AS fc",
        "CAST(FLOOR(py) AS BIGINT) AS r0",
        "py - CAST(FLOOR(py) AS BIGINT) AS fr",
        "CAST(FLOOR(px + 0.5e0) AS BIGINT) AS cn",
        "CAST(FLOOR(py + 0.5e0) AS BIGINT) AS rn",
    )


@Q.register(
    "reproject_nn",
    f"WITH {_RASF}, {_rp_idx_sql()} "
    "SELECT i.tr, i.tc, v.value FROM rp_idx i "
    "JOIN ras v ON v.row = i.rn AND v.col = i.cn "
    f"WHERE v.value != {NODATA!r}e0 ORDER BY i.tr, i.tc",
)
def q_reproject_nn(spark, sf):
    cells = R.explode_cells(_demf(spark))
    idx = _rp_idx_df(spark)
    return (
        idx.join(cells, (F.col("row") == F.col("rn")) & (F.col("col") == F.col("cn")))
        .where(F.col("value") != _ND)
        .select("tr", "tc", "value")
        .orderBy("tr", "tc")
    )


@Q.register(
    "reproject_raster",
    f"WITH {_RASF}, {_rp_idx_sql()} "
    f"SELECT i.tr, i.tc, FLOOR(({_RP_BIL.replace('v00', 'v00.value').replace('v01', 'v01.value').replace('v10', 'v10.value').replace('v11', 'v11.value')}) * 1e6 + 0.5e0) / 1e6 AS value "
    "FROM rp_idx i "
    "JOIN ras v00 ON v00.row = i.r0 AND v00.col = i.c0 "
    "JOIN ras v01 ON v01.row = i.r0 AND v01.col = i.c0 + 1 "
    "JOIN ras v10 ON v10.row = i.r0 + 1 AND v10.col = i.c0 "
    "JOIN ras v11 ON v11.row = i.r0 + 1 AND v11.col = i.c0 + 1 "
    f"WHERE {NODATA!r}e0 NOT IN (v00.value, v01.value, v10.value, v11.value) "
    "ORDER BY i.tr, i.tc",
)
def q_reproject_raster(spark, sf):
    cells = R.explode_cells(_demf(spark))
    idx = _rp_idx_df(spark)

    def src(name, dr, dc):
        return cells.select(
            (F.col("row") - dr).alias("r0"), (F.col("col") - dc).alias("c0"),
            F.col("value").alias(name),
        )

    j = (
        idx.join(src("v00", 0, 0), ["r0", "c0"])
        .join(src("v01", 0, 1), ["r0", "c0"])
        .join(src("v10", 1, 0), ["r0", "c0"])
        .join(src("v11", 1, 1), ["r0", "c0"])
        .where((F.col("v00") != _ND) & (F.col("v01") != _ND)
               & (F.col("v10") != _ND) & (F.col("v11") != _ND))
    )
    return j.select(
        "tr", "tc",
        F.expr(f"FLOOR(({_RP_BIL}) * 1e6 + 0.5e0) / 1e6").alias("value"),
    ).orderBy("tr", "tc")


