"""Property tests for the round-3 geometry operators (hull / MBB / DP /
location predicates) against independent numpy/scipy-free checks."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_hull_contains_all_vertices(spark):
    """Every shell vertex lies inside-or-on its polygon's hull (support
    test applied back against the reported hull edges)."""
    from whitebox_geospatial_analysis_tools_spark.operators.vector import (
        convex_hull_edges, shell_vertices,
    )

    he = convex_hull_edges(spark).toPandas()
    v = shell_vertices(spark).toPandas()
    for pid, grp in he.groupby("poly_id"):
        pts = v[v.poly_id == pid]
        for _, e in grp.iterrows():
            cross = (e.bx - e.ax) * (pts.y - e.ay) - (e.by - e.ay) * (pts.x - e.ax)
            assert (cross >= -1e-9).all(), f"vertex right of hull edge (poly {pid})"


def test_hull_area_vs_shoelace(spark):
    """Hull area >= polygon shell area (hull contains the shell) and the
    hull edge set closes (sum of edge vectors == 0)."""
    from whitebox_geospatial_analysis_tools_spark.operators.vector import (
        convex_hull_edges, convex_hull_metrics,
    )
    from whitebox_geospatial_analysis_tools_spark.sources.polygons import (
        make_polygon_layer,
    )

    layer = make_polygon_layer()
    hull = convex_hull_metrics(spark).toPandas().set_index("poly_id")
    he = convex_hull_edges(spark).toPandas()
    for i in range(layer.n):
        pid = int(layer.poly_id[i])
        shell = layer.rings[i][0]
        nxt = np.roll(shell, -1, axis=0)
        area = abs(np.sum(shell[:, 0] * nxt[:, 1] - nxt[:, 0] * shell[:, 1]) / 2)
        assert hull.loc[pid, "hull_area"] >= area - 1e-6
        g = he[he.poly_id == pid]
        assert abs((g.bx - g.ax).sum()) < 1e-9 and abs((g.by - g.ay).sum()) < 1e-9


def test_mbb_bounds_hull(spark):
    """The rotated minimum bounding box is at least the hull area and at
    most the axis-aligned bbox area."""
    from whitebox_geospatial_analysis_tools_spark.operators.vector import (
        convex_hull_metrics, minimum_bounding_box, shell_vertices,
    )

    hull = convex_hull_metrics(spark).toPandas().set_index("poly_id")
    mbb = minimum_bounding_box(spark).toPandas().set_index("poly_id")
    v = shell_vertices(spark).toPandas()
    for pid in mbb.index:
        pts = v[v.poly_id == pid]
        aabb = (pts.x.max() - pts.x.min()) * (pts.y.max() - pts.y.min())
        assert hull.loc[pid, "hull_area"] - 1e-6 <= mbb.loc[pid, "mbb_area"] \
            <= aabb + 1e-6


def test_simplify_preserves_anchors_and_tolerance(spark):
    """DP keeps both anchors and every DROPPED vertex is within tol of the
    kept chain (the Douglas-Peucker contract)."""
    from whitebox_geospatial_analysis_tools_spark.operators.vector import (
        shell_vertices, simplify_rings,
    )

    tol = 2.0
    kept = simplify_rings(spark, tol=tol).toPandas()
    v = shell_vertices(spark).toPandas()
    for pid, grp in v.groupby("poly_id"):
        k = kept[kept.poly_id == pid].sort_values("vi")
        n = len(grp)
        assert 0 in set(k.vi) and (n // 2) in set(k.vi)
        kv = list(k.vi) + [n]  # wrap gap back to vertex 0
        pts = grp.set_index("vi")
        for a, b in zip(kv[:-1], kv[1:]):
            ax, ay = pts.loc[a, ["x", "y"]]
            bx, by = pts.loc[b % n, ["x", "y"]]
            for w in range(a + 1, b):
                wx, wy = pts.loc[w, ["x", "y"]]
                num = abs((bx - ax) * (wy - ay) - (by - ay) * (wx - ax))
                den = np.hypot(bx - ax, by - ay)
                assert num / den <= tol + 1e-9, (pid, a, b, w)


def test_location_predicates_symmetry(spark):
    """contains/within orient consistently and touches pairs never report
    positive interior overlap."""
    from whitebox_geospatial_analysis_tools_spark.operators.overlay import (
        location_predicates,
    )
    from whitebox_geospatial_analysis_tools_spark.sources.parcels import (
        make_parcels,
    )

    df = location_predicates(spark).toPandas()
    rect = {p: (a, b, c, d) for p, a, b, c, d in make_parcels()}

    def area_i(pa, pb):
        a, b = rect[pa], rect[pb]
        w = min(a[2], b[2]) - max(a[0], b[0])
        h = min(a[3], b[3]) - max(a[1], b[1])
        return max(0, w) * max(0, h)

    for _, r in df.iterrows():
        ai = area_i(r.pid_a, r.pid_b)
        if r.predicate.startswith("touches") or r.predicate == "disjoint":
            assert ai == 0
        if r.predicate == "contains":
            xa, ya, Xa, Ya = rect[r.pid_a]
            xb, yb, Xb, Yb = rect[r.pid_b]
            assert xa <= xb and ya <= yb and Xa >= Xb and Ya >= Yb
        if r.predicate == "within":
            xa, ya, Xa, Ya = rect[r.pid_a]
            xb, yb, Xb, Yb = rect[r.pid_b]
            assert xb <= xa and yb <= ya and Xb >= Xa and Yb >= Ya


def _ramp(spark, rows, cols, steep_from, gentle, steep):
    """(cells, z): a rows x cols plane where every row drains east along
    its own D8 path (code 16 = E, 0 at the last column), z falling by
    ``gentle`` per cell up to column ``steep_from`` and by ``steep``
    after it (dyadic steps, so every drop is exact)."""
    c = np.arange(cols)
    z = 16.0 - gentle * np.minimum(c, steep_from) \
        - steep * np.maximum(c - steep_from, 0)
    pdf = [(r, int(j), float(z[j]), 16 if j < cols - 1 else 0)
           for r in range(rows) for j in c]
    return spark.createDataFrame(pdf, "row long, col long, z double, code long"), z


def _numpy_walk(nxt, stop):
    """Sequential D8 walk from every cell over next-cell array ``nxt``
    (-1 at a path's end), one hop per sweep, while ``stop(start, hop)`` is
    false: (last cell reached, steps taken)."""
    cur = np.arange(len(nxt))
    steps = np.zeros(len(nxt))
    live = np.ones(len(nxt), dtype=bool)
    while live.any():
        hop = nxt[cur]
        live &= (hop >= 0)
        live[live] = ~stop(np.flatnonzero(live), hop[live])
        cur = np.where(live, hop, cur)
        steps += live
    return cur, steps


def test_path_walks_reach_long_path_ends_and_raise_on_cycles(spark):
    """downslope_index, stream_relief and branch_length walk each D8 path
    to its end however long it is: a 1 x 1100 ramp that steepens past
    column 1050 (column 0 drops d = 4 only ~1080 cells downstream, past
    2^10 - 1) and a 2 x 4200 ramp (past 2^12 - 1 steps), each against a
    plain numpy walk; a 2-cell code cycle raises instead of returning."""
    from whitebox_geospatial_analysis_tools_spark.operators.hydro import (
        branch_length, downslope_index, stream_relief,
    )

    n, d = 1100, 4.0
    cells, z = _ramp(spark, 1, n, 1050, 2.0 ** -9, 2.0 ** -4)
    nxt = np.append(np.arange(1, n), -1)
    end, fl = _numpy_walk(nxt, lambda s, h: z[h] <= z[s] - d)
    hop = nxt[end]
    assert fl[0] > 2 ** 10
    with np.errstate(divide="ignore", invalid="ignore"):
        partial = (z[end] - (z - d)) / (z[end] - z[np.maximum(hop, 0)])
        want = np.where(hop >= 0, d / (fl + partial), (z - z[end]) / fl)
    got = downslope_index(cells, d=d).toPandas().sort_values("col")
    assert got["col"].tolist() == list(range(n - 1))
    assert np.abs(got["di"].to_numpy() - want[:-1]).max() < 1e-6

    stream = cells.where(F.col("col") == n - 1).select("row", "col")
    end, fl = _numpy_walk(nxt, lambda s, h: h == n - 1)
    got = stream_relief(cells, stream).toPandas().sort_values("col")
    assert got["col"].tolist() == list(range(n))
    assert np.array_equal(got["dist_to_stream"].to_numpy(),
                          np.append(fl[:-1] + 1, 0.0))
    assert np.array_equal(got["hand"].to_numpy(), z - z[-1])

    # branch_length: E pairs meet one step on, S/SE/SW pairs never meet
    # (each row has its own terminal), so a cell's bl is its full path
    # length
    n = 4200
    cells, _ = _ramp(spark, 2, n, n, 2.0 ** -10, 0.0)
    nxt = np.append(np.arange(1, n), -1)
    _, full = _numpy_walk(nxt, lambda s, h: np.zeros(len(s), dtype=bool))
    got = branch_length(cells.select("row", "col", "code")).toPandas() \
        .sort_values(["row", "col"])
    assert len(got) == 2 * n
    assert np.array_equal(got["bl"].to_numpy(), np.tile(full, 2))

    cyc = spark.createDataFrame(
        [(0, 0, 2.0, 16), (0, 1, 1.0, 8), (0, 2, 0.0, 0)],
        "row long, col long, z double, code long")
    for op in (lambda: downslope_index(cyc),
               lambda: stream_relief(cyc, cyc.where("col = 2").select("row", "col")),
               lambda: branch_length(cyc.select("row", "col", "code"))):
        with pytest.raises(RuntimeError, match="cycle"):
            op()
