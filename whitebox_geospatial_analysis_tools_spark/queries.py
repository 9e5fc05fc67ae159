"""Query registry: every implemented operator as (spark_fn, oracle_sql) pairs.

The driver runs each Spark query and its DuckDB oracle side-by-side on the
same parquet tables and compares row count + schema + value hash.  The SQL
here therefore reproduces the ENGINE'S DEFINED SEMANTICS independently —
deterministic formulas shared via functions/exprs.py (bit-identical float
paths), polygon geometry inlined as exact literals, and round(x, 6) on any
aggregate whose float summation order is engine-dependent.

Column names are aligned on both sides (the driver hashes columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import exprs
from .session import SQL_CONF
from .sources import polygons

# ---------------------------------------------------------------------------
# shared oracle SQL fragments
# ---------------------------------------------------------------------------
LON = exprs.lon_expr("doc_id")
LAT = exprs.lat_expr("doc_id")
VAL = exprs.value_expr("doc_id")
TILE = exprs.tile_id_expr(LON, LAT)
TILE_X = exprs.tile_x_expr(LON)
TILE_Y = exprs.tile_y_expr(LAT)


def pts_cte(sf_dir_placeholder: str = "{sf}") -> str:
    """DuckDB CTE: the geocoded point layer derived from `documents`."""
    return (
        f"pts AS (SELECT doc_id, {LON} AS lon, {LAT} AS lat, {VAL} AS val, "
        f"{TILE} AS tile_id, {TILE_X} AS tile_x, {TILE_Y} AS tile_y FROM documents)"
    )


def edges_cte() -> str:
    return f"edges AS (SELECT * FROM {polygons.edges_sql_values()} t(poly_id, x1, y1, x2, y2))"


PIP_PAIRS_CTE = """
pip_raw AS (
  SELECT p.doc_id, e.poly_id,
    SUM(CASE WHEN ((e.y1 > p.lat) != (e.y2 > p.lat))
             AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
        THEN 1 ELSE 0 END) AS crossings
  FROM pts p JOIN edges e ON TRUE
  GROUP BY 1, 2
),
pip AS (SELECT doc_id, poly_id FROM pip_raw WHERE crossings % 2 = 1)
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------
SparkFn = Callable[[SparkSession, str], DataFrame]
_REGISTRY: dict[str, tuple[SparkFn, str | None]] = {}


def _ensure_session_conf(spark: SparkSession) -> None:
    """Self-defense for sessions not built by session.get_spark (plain
    spark-submit drivers, notebook sessions): with constraint propagation ON,
    Spark's InferFiltersFromConstraints re-inlines the geocode derived-column
    tree into one Filter, whose generated code crashes codegen outright
    (ArrayIndexOutOfBoundsException in the split-expression indexing) on the
    flagship plans.  The conf is runtime-settable, so every registered query
    pins it before declaring its plan."""
    key = "spark.sql.constraintPropagation.enabled"
    spark.conf.set(key, SQL_CONF[key])


def register(name: str, oracle: str | None = None):
    def deco(fn: SparkFn) -> SparkFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_session_conf(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = getattr(fn, "__name__", name)
        wrapped.__doc__ = fn.__doc__
        _REGISTRY[name] = (wrapped, oracle)
        return fn

    return deco


def all_queries() -> dict[str, SparkFn]:
    _ensure_loaded()
    return {k: v[0] for k, v in _REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}


def _ensure_loaded() -> None:
    from . import (  # noqa: F401
        queries_spatial, queries_relational, queries_text, queries_raster,
        queries_raster_focal, queries_raster_hydro, queries_raster_image,
        queries_raster_distance, queries_vector, queries_multimodal,
        queries_streaming,
    )


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.pages import points_from_documents

    return points_from_documents(spark, sf_dir)
