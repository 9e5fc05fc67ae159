"""Spatial joins: point-in-polygon (the north-star join), spatial predicates.

Semantics from the reference:
  - containment = even-odd ray crossing
    (ConversionTools/src/plugins/VectorPolygonsToRaster.java:400-470)
  - spatial semi/anti filtering
    (VectorTools/src/plugins/IsolateVectorFeaturesByLocation.java:240-737)

Physical design for 10^12 rows (NOT the reference's nested loop):
  1. points carry a res-9 grid cell id (narrow map, codegen, no shuffle);
  2. the polygon layer is tiny -> its classified covering-cell index
     (cell_id -> poly_id, interior flag, boundary edge list) is a BROADCAST
     map;  the join is map-side, zero shuffle of the big side;
  3. interior cells resolve containment outright; boundary cells run the
     exact even-odd ray-cast as a Catalyst array aggregate inside the join
     condition (whole-stage codegen, no Python anywhere in the join).

The aggregate (counts per polygon) is a partial-aggregated groupBy over ~100
keys — negligible shuffle.  Skewed hot cells don't skew this join (broadcast
side is replicated); they matter for the later tile aggregations, which AQE
handles (salting helpers in operators/skew.py).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import exprs
from ..functions.geometry import classified_cells
from ..sources.polygons import edge_table

# refinement-index resolution: res-9 cells (2/3 deg).  Small enough that most
# matched points land in interior cells (pure-JVM containment), big enough
# that the classified index stays a few-MB broadcast at 100 polygons.
_REFINE_RES = 9


def classified_cell_index(spark: SparkSession, res: int = _REFINE_RES) -> DataFrame:
    """(cell_id, poly_id, interior, edges) broadcast index at res-`res` cells.

    interior=true rows resolve containment outright; boundary rows carry the
    polygon's full edge list as an array<struct<x1,y1,x2,y2>> so the exact
    even-odd ray-cast runs as a Catalyst ``aggregate()`` lambda — whole-stage
    codegen, no Python, no shuffle.  Interior rows carry an empty array.

    Built column-wise: the ``classified_cells`` triples become three numpy
    columns, and ``edges`` is one Arrow ``ListArray`` over the polygon-sorted
    edge table (``sources.polygons.edge_table``), each boundary row taking
    its polygon's slice.  The whole ``pyarrow.Table`` goes to Spark in one
    Arrow stream, so the cached relation sits on a ``LocalTableScan`` — no
    per-row Python, schema verification or pickled RDD.  It is persisted and
    counted once per (session, res): every query's build side is then the
    same ``InMemoryTableScan``.
    """
    # keyed on applicationId (stable per SparkSession lifetime) — id()-based
    # keys can alias after stop()+new session in one process (bench --scaling)
    app_id = spark.sparkContext.applicationId
    key = (app_id, res)
    hit = _INDEX_CACHE.get(key)
    if hit is not None:
        return hit
    for stale in [k for k in _INDEX_CACHE if k[0] != app_id]:
        _INDEX_CACHE.pop(stale)  # entries of stopped sessions: dead persists
    size = {7: 6.0, 8: 2.0, 9: 2.0 / 3.0}[res]
    cols = int(round(360.0 / size))
    cell_id, poly_id, interior = np.array(classified_cells(size, cols), np.int64).T
    interior = interior.astype(bool)
    # boundary row r lists edges [first[p], first[p] + n_edges[p]) of its
    # polygon p; offsets/gather are the ListArray over those slices
    et = edge_table()
    edge_poly = et["poly_id"].to_numpy()
    first = np.searchsorted(edge_poly, poly_id)
    n = np.where(interior, 0, np.searchsorted(edge_poly, poly_id, "right") - first)
    offsets = np.concatenate([[0], np.cumsum(n)])
    gather = np.repeat(first - offsets[:-1], n) + np.arange(offsets[-1])
    edge_structs = et.drop_columns("poly_id").to_struct_array()
    edges = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                     edge_structs.take(gather).combine_chunks())
    df = spark.createDataFrame(pa.table({
        "cell_id": cell_id, "poly_id": poly_id, "interior": interior, "edges": edges,
    })).persist()
    df.count()  # materialize once: repeated queries re-broadcast from the
    # cached JVM relation instead of re-sending the table from Python
    _INDEX_CACHE[key] = df
    return df


_INDEX_CACHE: dict = {}


# even-odd crossing count as a Catalyst higher-order function — the exact
# float expression of VectorPolygonsToRaster.java:400-445, identical to the
# numpy kernel (geometry._crossings) and the DuckDB oracle SQL.
_PARITY = (
    "((aggregate(edges, 0, (acc, e) -> acc + (CASE WHEN ((e.y1 > lat) != (e.y2 > lat))"
    " AND (lon < (e.x2 - e.x1) * (lat - e.y1) / (e.y2 - e.y1) + e.x1)"
    " THEN 1 ELSE 0 END)) % 2) = 1)"
)


def pip_join(points: DataFrame, spark: SparkSession, *,
             keep: tuple[str, ...] = (), how: str = "inner") -> DataFrame:
    """Exact point-in-polygon join: points(lon,lat) x polygon layer.

    Physical shape (the 100 TB design): ONE broadcast equi-join on the res-9
    cell id against the classified (interior/boundary) polygon index, with
    ``interior OR odd(crossings)`` as the join's extra condition, where the
    crossing count is a Catalyst array-aggregate over the broadcast edge
    list.  The big side is touched once, never shuffled, and never crosses
    into Python (the vectorized numpy ray-cast kernel remains in
    functions/geometry.py as the oracle for tests).  Skewed hot cells cost
    nothing here: the build side is replicated, so no key-based
    repartitioning of points occurs.

    ``how='inner'`` (default) returns one row per (point, containing
    polygon) with columns ``keep + (lon, lat, tile_id, poly_id)``.
    ``how='left'`` is the spatial left join: the same condition in a
    broadcast LEFT OUTER join, so the plan is one scan of ``points`` and a
    ``BroadcastHashJoin LeftOuter BuildRight`` with no Exchange.  It returns
    every column of ``points`` plus ``poly_id``, one row per containing
    polygon and one null-``poly_id`` row for a point in no polygon; input
    rows are never multiplied by repeated key values (``keep`` is unused).
    """
    if how == "inner":
        cols = list(dict.fromkeys([*keep, "lon", "lat", "tile_id", "poly_id"]))
    elif how == "left":
        cols = [*points.columns, "poly_id"]
    else:
        raise ValueError(f"unsupported how={how!r}")
    idx = classified_cell_index(spark)
    pts = points.withColumn("_c9", F.expr(exprs.cell_expr("lon", "lat", _REFINE_RES)))
    hit = (pts["_c9"] == idx["cell_id"]) & (F.col("interior") | F.expr(_PARITY))
    return pts.join(F.broadcast(idx), hit, how).select(*cols)


def pip_counts(points: DataFrame, spark: SparkSession, key: str = "doc_id") -> DataFrame:
    """Per-polygon page counts — the flagship north-star aggregate."""
    return (
        pip_join(points, spark, keep=(key,))
        .groupBy("poly_id")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .orderBy("poly_id")
    )


def pip_semi(points: DataFrame, spark: SparkSession, key: str, negate: bool = False) -> DataFrame:
    """IsolateVectorFeaturesByLocation intersects / not-intersects:
    keep points that fall in (or out of) ANY polygon — spatial semi/anti join."""
    hits = pip_join(points, spark, keep=(key,)).select(key).distinct()
    return points.join(hits, key, "left_anti" if negate else "left_semi")
