"""Point-in-polygon join: Spark pipeline vs independent numpy brute force,
plus the invariants demanded by FIXTURES.md (partition invariance, holes)."""

import re
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from whitebox_geospatial_analysis_tools_spark.functions.geometry import PipIndex, classified_cells
from whitebox_geospatial_analysis_tools_spark.operators.spatial_join import (
    classified_cell_index, pip_join, pip_semi,
)
from whitebox_geospatial_analysis_tools_spark.sources.pages import points_from_documents
from whitebox_geospatial_analysis_tools_spark.sources.polygons import make_polygon_layer

SF = "/root/testdata/sf0.001"
_REFINE_SIZE, _REFINE_COLS = 2.0 / 3.0, 540  # res-9 cells, the index default


def _brute_pairs(px, py, ids):
    idx = PipIndex()
    rows = []
    for contained, i in zip(idx.contains_all(px, py), ids):
        rows.extend((int(i), int(p)) for p in contained)
    return sorted(rows)


@pytest.fixture(scope="module")
def spark_pairs(spark):
    pts = points_from_documents(spark, SF)
    pdf = pts.select("doc_id", "lon", "lat").toPandas()
    pairs = (
        pip_join(pts, spark, keep=("doc_id",))
        .select("doc_id", "poly_id")
        .toPandas()
    )
    return pdf, sorted(map(tuple, pairs.to_numpy().tolist()))


def test_pip_matches_bruteforce(spark_pairs):
    pdf, got = spark_pairs
    want = _brute_pairs(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), pdf["doc_id"].to_numpy())
    assert got == want


def test_hole_flips_containment():
    """A point inside a polygon's interior hole is NOT contained (even-odd:
    VectorPolygonsToRaster.java:449-470 hole semantics)."""
    layer = make_polygon_layer()
    idx = PipIndex(layer)
    holed = [i for i in range(layer.n) if len(layer.rings[i]) > 1]
    assert holed
    for i in holed:
        shell, hole = layer.rings[i][0], layer.rings[i][1]
        hx = hole[:, 0].mean()
        hy = hole[:, 1].mean()
        inside = idx.contains_pairs(
            np.array([hx]), np.array([hy]), np.array([layer.poly_id[i]])
        )
        assert not inside[0]
        # 60% along the radial segment to the farthest shell vertex: inside
        # the star-convex shell by construction, outside the hole (hole
        # half-diag = hr*sqrt2 < 0.6 * min shell radius <= 0.6 * |v|)
        d = (shell[:, 0] - hx) ** 2 + (shell[:, 1] - hy) ** 2
        v = shell[int(np.argmax(d))]
        sx, sy = hx + 0.6 * (v[0] - hx), hy + 0.6 * (v[1] - hy)
        inside2 = idx.contains_pairs(
            np.array([sx]), np.array([sy]), np.array([layer.poly_id[i]])
        )
        assert inside2[0]


def test_partition_invariance(spark):
    """Join output must be identical at 1, 8, 32 partitions (FIXTURES.md)."""
    base = None
    for parts in (1, 8, 32):
        pts = points_from_documents(spark, SF).repartition(parts)
        pairs = (
            pip_join(pts, spark, keep=("doc_id",))
            .select("doc_id", "poly_id")
            .toPandas()
            .sort_values(["doc_id", "poly_id"])
            .reset_index(drop=True)
        )
        if base is None:
            base = pairs
        else:
            pd.testing.assert_frame_equal(base, pairs)


def test_text_passthrough_byte_identical(spark):
    """north_rule invariant: byte-identical text per url through the pipeline."""
    pts = points_from_documents(spark, SF)
    joined = pip_join(pts, spark, keep=("doc_id", "text"), how="left")
    inp = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    diff = (
        joined.select("doc_id", F.col("text").alias("out_text"))
        .dropDuplicates(["doc_id"])
        .join(inp, "doc_id")
        .where(F.md5(F.col("out_text")) != F.md5(F.col("text")))
        .count()
    )
    assert diff == 0


def test_left_join_single_pass(spark):
    """Spatial left join = inner pairs + anti-joined points with null poly_id
    (as a multiset), never multiplies duplicated input keys, and scans the
    points once: one parquet scan under a broadcast LEFT OUTER join, no
    shuffle and no sort-merge join."""
    pts = points_from_documents(spark, SF)
    left = pip_join(pts, spark, keep=("doc_id",), how="left")
    assert left.columns == [*pts.columns, "poly_id"]
    got = Counter(map(tuple, left.select("doc_id", "poly_id").collect()))
    inner = pip_join(pts, spark, keep=("doc_id",)).select("doc_id", "poly_id").collect()
    anti = pip_semi(pts, spark, "doc_id", negate=True).select("doc_id").collect()
    want = Counter(map(tuple, inner)) + Counter((r.doc_id, None) for r in anti)
    assert anti and got == want

    plan = left._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "SortMergeJoin" not in plan
    assert not re.search(r"(?<!Broadcast)Exchange ", plan)
    assert re.search(r"BroadcastHashJoin .*LeftOuter, BuildRight", plan)

    dup = pts.unionByName(pts.where(F.col("doc_id") % 7 == 0))
    got_dup = Counter(
        map(tuple, pip_join(dup, spark, keep=("doc_id",), how="left")
            .select("doc_id", "poly_id").collect()))
    assert got_dup == got + Counter({k: n for k, n in got.items() if k[0] % 7 == 0})


def test_classified_cell_index_arrow_build(spark):
    """The Arrow-built index equals, row for row, the plain-Python
    construction: each classified_cells triple, boundary rows holding their
    polygon's edges in layer order and interior rows holding []; its cached
    relation sits on a LocalTableScan (no pickled RDD), and a second call
    returns the memoized DataFrame."""
    idx = classified_cell_index(spark)
    assert classified_cell_index(spark) is idx

    layer = make_polygon_layer()
    edges_of = {}
    for p, *e in zip(layer.edge_poly, layer.x1, layer.y1, layer.x2, layer.y2):
        edges_of.setdefault(int(p), []).append(tuple(map(float, e)))
    want = [(c, p, i, [] if i else edges_of[p])
            for c, p, i in classified_cells(_REFINE_SIZE, _REFINE_COLS)]
    got = [(r.cell_id, r.poly_id, r.interior, [tuple(e) for e in r.edges])
           for r in idx.collect()]
    assert got == want

    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan and "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
