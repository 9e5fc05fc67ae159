"""Weak-hull candidate prefilter == exhaustive support test (VERDICT r3
wrong #4: convex_hull_edges was O(V^3) per feature)."""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import functions as F

from whitebox_geospatial_analysis_tools_spark.operators import vector


def _edges(df):
    pdf = df.toPandas()
    return set(map(tuple, pdf[["poly_id", "ax", "ay", "bx", "by"]].values))


def test_prefilter_matches_exhaustive_on_layer(spark):
    assert _edges(vector.convex_hull_edges(spark, prefilter=True)) == \
        _edges(vector.convex_hull_edges(spark, prefilter=False))


def test_candidates_degenerate_geometry(spark):
    """Collinear boundary runs, duplicated boundary coordinates, and strict
    interior points: candidates = exactly the weak-boundary vertex set the
    brute support test can use as endpoints."""
    pts = [
        # square with collinear mid-edge points and a duplicated corner
        (0, 0.0, 0.0), (1, 2.0, 0.0), (2, 4.0, 0.0),   # bottom run
        (3, 4.0, 2.0), (4, 4.0, 4.0),                  # right run
        (5, 2.0, 4.0), (6, 0.0, 4.0), (7, 0.0, 2.0),   # top + left runs
        (8, 0.0, 0.0),                                  # duplicate corner
        (9, 2.0, 2.0), (10, 1.0, 3.0),                  # strict interior
    ]
    v = spark.createDataFrame(
        pd.DataFrame(pts, columns=["vi", "x", "y"]).assign(poly_id=1),
        "vi int, x double, y double, poly_id long",
    ).select("poly_id", "vi", "x", "y")
    cand = set(vector.hull_boundary_candidates(v).toPandas()["vi"])
    assert cand == {0, 1, 2, 3, 4, 5, 6, 7, 8}

    # brute support-test endpoints on the same fixture must be a subset
    rows = [(x, y) for _, x, y in pts]
    endpoints = set()
    for ai, (ax, ay) in enumerate(rows):
        for bi, (bx, by) in enumerate(rows):
            if ai == bi:
                continue
            if all((bx - ax) * (wy - ay) - (by - ay) * (wx - ax) >= 0
                   for wx, wy in rows):
                endpoints.add(ai)
                endpoints.add(bi)
    assert endpoints <= cand


def test_duplicated_vertex_gives_no_zero_length_edge(spark):
    """A coordinate repeated at two vertex indices (here a doubled corner of
    a notched square) must not pair with itself into a zero-length edge, nor
    double the real edges it ends: both the candidate and the exhaustive
    support test return exactly the four square edges, once each."""
    ring = [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [4.0, 4.0], [0.0, 4.0], [2.0, 1.0]]
    polys = spark.createDataFrame(
        [(1, [ring])], "poly_id long, rings array<array<array<double>>>")
    verts = spark.createDataFrame(
        [(1, vi, x, y) for vi, (x, y) in enumerate(ring)],
        "poly_id long, vi int, x double, y double")
    square = Counter([(1, 0.0, 0.0, 4.0, 0.0), (1, 4.0, 0.0, 4.0, 4.0),
                      (1, 4.0, 4.0, 0.0, 4.0), (1, 0.0, 4.0, 0.0, 0.0)])
    for vc in (vector.hull_boundary_candidates_rows(polys), verts):
        got = Counter(map(tuple, vector.hull_support_edges(vc).collect()))
        assert got == square
