"""Raster -> vector polygons (the vectorize side of §2.10).

Reference: ConversionTools/src/plugins/RasterToVectorPolygons.java:217-445 —
equal-valued 4-connected patches traced into boundary rings (shells + hole
rings, even-odd).

Distributed formulation:
  1. patch labels via the 2-pass tile clump (operators/clump.py);
  2. the BOUNDARY SEGMENT TABLE is pure Catalyst: one row per cell edge
     whose 4-neighbor has a different label (or is missing) — an equi-join
     on shifted coordinates, no Python;
  3. ring assembly traces each patch's segment set into closed rings in one
     ``applyInPandas`` per label (directed-edge convention keeps the patch
     interior on a fixed side, so shells and holes come out with opposite
     orientations and the signed areas sum EXACTLY to the patch cell count
     — the self-verifying property tests rely on this).  Per-patch segment
     sets are perimeter-sized; at extreme patch sizes the documented scale
     path is per-tile tracing + border-segment stitching.

Corner coordinates: x = col, y = row (y increases downward), so a unit cell
(r, c) spans [c, c+1] x [r, r+1].
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .clump import clump

# directed boundary edges per missing 4-neighbor (interior kept on a fixed
# side; see module docstring):    (dr, dc) missing ->  start,  end
#   top    (-1, 0): (c+1, r) -> (c, r)
#   bottom ( 1, 0): (c, r+1) -> (c+1, r+1)
#   left   ( 0,-1): (c, r)   -> (c, r+1)
#   right  ( 0, 1): (c+1, r+1) -> (c+1, r)
_EDGE_DEFS = [
    (-1, 0, "col + 1", "row", "col", "row"),
    (1, 0, "col", "row + 1", "col + 1", "row + 1"),
    (0, -1, "col", "row", "col", "row + 1"),
    (0, 1, "col + 1", "row + 1", "col + 1", "row"),
]


def boundary_segments(lab: DataFrame) -> DataFrame:
    """(label, x1, y1, x2, y2): directed boundary edges of every patch.

    lab: (row, col, label).  One shifted-coordinate equi-join per direction,
    unioned — all Catalyst."""
    t = lab.select("row", "col", "label")
    parts = []
    for dr, dc, sx, sy, ex, ey in _EDGE_DEFS:
        nbr = t.select(
            (F.col("row") - dr).alias("row"), (F.col("col") - dc).alias("col"),
            F.col("label").alias("_nl"),
        )
        parts.append(
            t.join(nbr, ["row", "col"], "left")
            .where(F.col("_nl").isNull() | (F.col("_nl") != F.col("label")))
            .select(
                "label",
                F.expr(sx).cast("long").alias("x1"), F.expr(sy).cast("long").alias("y1"),
                F.expr(ex).cast("long").alias("x2"), F.expr(ey).cast("long").alias("y2"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def patch_stats(cells: DataFrame, cols: int) -> DataFrame:
    """(label, n_cells, n_segments): the vectorize summary —
    n_segments is the patch perimeter in cell-edge units."""
    lab = clump(cells, cols)
    segs = boundary_segments(lab)
    nseg = segs.groupBy("label").agg(F.count(F.lit(1)).alias("n_segments"))
    ncell = lab.groupBy("label").agg(F.count(F.lit(1)).alias("n_cells"))
    return ncell.join(nseg, "label", "inner").orderBy("label")


_RING_SCHEMA = "label long, ring int, n_vertices int, signed_area double, verts string"


def trace_rings(lab: DataFrame) -> DataFrame:
    """Assemble each patch's boundary segments into closed rings.

    Returns (label, ring, n_vertices, signed_area, verts) where verts is the
    'x,y x,y ...' corner sequence after collinear-run merging, rotated so the
    lexicographically smallest vertex leads.  With the directed-edge
    convention, shells trace clockwise (negative shoelace in y-down coords)
    and holes counterclockwise, so -sum(signed_area) over a patch's rings ==
    its cell count exactly."""
    segs = boundary_segments(lab)

    def kernel(key, pdf):
        label = int(key[0])
        # outgoing edge map: start corner -> list of (end corner)
        outs: dict[tuple[int, int], list[tuple[int, int]]] = {}
        for x1, y1, x2, y2 in zip(pdf["x1"], pdf["y1"], pdf["x2"], pdf["y2"]):
            outs.setdefault((int(x1), int(y1)), []).append((int(x2), int(y2)))
        for v in outs.values():
            v.sort()
        used: set[tuple[tuple[int, int], tuple[int, int]]] = set()
        rows = []
        ring_i = 0
        starts = sorted(outs)
        for s in starts:
            for e0 in outs[s]:
                if (s, e0) in used:
                    continue
                # walk a ring; at 4-valent corners prefer the sharpest right
                # turn (keeps diagonally-touching patches as separate rings)
                ring = [s]
                cur, prv = e0, s
                used.add((s, e0))
                while cur != s:
                    ring.append(cur)
                    cands = [e for e in outs.get(cur, []) if (cur, e) not in used]
                    if not cands:
                        break  # defensive: malformed input
                    if len(cands) > 1:
                        din = (cur[0] - prv[0], cur[1] - prv[1])

                        def turn(e):
                            d = (e[0] - cur[0], e[1] - cur[1])
                            # cross>0 = left turn in y-down coords; prefer
                            # right turns (cross<0) first
                            return din[0] * d[1] - din[1] * d[0]

                        cands.sort(key=turn)
                    nxt = cands[0]
                    used.add((cur, nxt))
                    prv, cur = cur, nxt
                # merge collinear runs
                m = []
                n = len(ring)
                for i in range(n):
                    a, b, c = ring[i - 1], ring[i], ring[(i + 1) % n]
                    if (b[0] - a[0]) * (c[1] - b[1]) != (b[1] - a[1]) * (c[0] - b[0]):
                        m.append(b)
                # rotate to smallest vertex
                j = m.index(min(m))
                m = m[j:] + m[:j]
                x = np.array([p[0] for p in m], dtype=np.float64)
                y = np.array([p[1] for p in m], dtype=np.float64)
                area = float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y) / 2.0)
                rows.append((
                    label, ring_i, len(m), area,
                    " ".join(f"{p[0]},{p[1]}" for p in m),
                ))
                ring_i += 1
        return pd.DataFrame(
            rows, columns=["label", "ring", "n_vertices", "signed_area", "verts"]
        )

    return segs.groupBy("label").applyInPandas(kernel, _RING_SCHEMA)


def raster_to_polygons(cells: DataFrame, cols: int) -> DataFrame:
    """Full vectorize: patch labels -> traced rings."""
    return trace_rings(clump(cells, cols))


def dissolve_geometric(cells: DataFrame, cols: int) -> DataFrame:
    """Geometric Dissolve / Fuse (Scripts/Dissolve.groovy:81-202 union via
    buffer(0); VectorTools/src/plugins/Fuse.java): union of TOUCHING
    same-key polygons, not just the attribute rollup.

    cells: (row, col, grp) — the parcel layer decomposed to unit cells
    (each parcel an axis-aligned polygon of cells; the decomposition is the
    layer contract, the same way the engine rasterizes vector layers).
    Union of touching parcels = 4-connected components per key (the 2-pass
    tile clump) with boundary rings assembled by trace_rings.

    Returns per key: (grp, n_polys, area, n_rings, perimeter) —
      n_polys   dissolved (multi)polygon part count,
      area      exact union area (cell count; overlaps collapse by clump),
      n_rings   shell + hole rings over all parts (hole-preserving union,
                cross-checked by the oracle's Euler-characteristic count
                rings = 2 - (V - E + F) per component),
      perimeter boundary length in cell-edge units.
    """
    lab = clump(cells.select("row", "col", F.col("grp").alias("cls")), cols)
    rings = trace_rings(lab)
    comp_rings = rings.groupBy("label").agg(F.count(F.lit(1)).alias("n_rings"))
    segs = boundary_segments(lab).groupBy("label").agg(
        F.count(F.lit(1)).alias("n_seg")
    )
    comp = lab.groupBy("cls", "label").agg(F.count(F.lit(1)).alias("n_cells"))
    j = comp.join(comp_rings, "label").join(segs, "label")
    return (
        j.groupBy(F.col("cls").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_polys"),
            F.sum("n_cells").alias("area"),
            F.sum("n_rings").alias("n_rings"),
            F.sum("n_seg").alias("perimeter"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# raster -> vector lines (RasterToVectorLines.java:217-520)
# ---------------------------------------------------------------------------
def _line_edges(cells: DataFrame) -> DataFrame:
    """Undirected adjacency of a 1-wide line raster, directed both ways:
    4-adjacency always; diagonal adjacency only when NOT short-circuited by
    a shared 4-neighbor line cell (the standard skeleton-chaining rule —
    prevents double edges around corners)."""
    t = cells.select("row", "col")
    edges = None
    for dr, dc in [(0, 1), (1, 0), (1, 1), (1, -1)]:
        nbr = t.select(
            (F.col("row") - dr).alias("row"), (F.col("col") - dc).alias("col"),
            F.lit(True).alias("_hit"),
        )
        e = t.join(nbr, ["row", "col"], "left_semi").select(
            "row", "col",
            (F.col("row") + dr).alias("nr"), (F.col("col") + dc).alias("nc"),
        )
        if (dr, dc) in ((1, 1), (1, -1)):
            # drop the diagonal if either elbow cell is a line cell
            for er, ec in ((dr, 0), (0, dc)):
                elbow = t.select(
                    (F.col("row") - er).alias("row"),
                    (F.col("col") - ec).alias("col"),
                )
                e = e.join(elbow, ["row", "col"], "left_anti")
        edges = e if edges is None else edges.unionByName(e)
    back = edges.select(
        F.col("nr").alias("row"), F.col("nc").alias("col"),
        F.col("row").alias("nr"), F.col("col").alias("nc"),
    )
    return edges.unionByName(back)


def raster_to_lines(cells: DataFrame, *, idmul: int = 1_000_000) -> DataFrame:
    """(line_id, n_cells, length, end1, end2): polyline features from a
    1-cell-wide line raster (RasterToVectorLines.java semantics).

    Junction cells (degree >= 3) cut the chain — every incident edge is
    removed and the junction becomes its own 1-cell feature — so each
    remaining component is a simple path (or a closed loop).  length sums
    the step distances (1 / sqrt(2)); end1/end2 are the min/max flat ids of
    the component's degree-1 cells (-1 for loops / single cells).  The
    labeling is the 2-pass tile union-find (components_from_edges)."""
    from .clump import components_from_edges

    edges = _line_edges(cells)
    deg = edges.groupBy("row", "col").agg(F.count(F.lit(1)).alias("_d"))
    junc = deg.where(F.col("_d") >= 3).select("row", "col")
    kept = (
        edges.join(junc, ["row", "col"], "left_anti")
        .join(
            junc.select(F.col("row").alias("nr"), F.col("col").alias("nc")),
            ["nr", "nc"], "left_anti",
        )
    )
    # one direction suffices for the union-find edge list
    kept1 = kept.where(
        (F.col("row") < F.col("nr"))
        | ((F.col("row") == F.col("nr")) & (F.col("col") < F.col("nc")))
    )
    lab = components_from_edges(cells.select("row", "col"), kept1, idmul=idmul)
    n_cells = lab.groupBy("label").agg(F.count(F.lit(1)).alias("n_cells"))
    dist = F.when(
        (F.col("row") != F.col("nr")) & (F.col("col") != F.col("nc")),
        F.lit(1.4142135623730951),
    ).otherwise(F.lit(1.0))
    length = (
        kept1.join(lab, ["row", "col"], "inner")
        .groupBy("label")
        .agg(F.round(F.sum(dist), 6).cast("double").alias("length"))
    )
    kdeg = kept.groupBy("row", "col").agg(F.count(F.lit(1)).alias("_kd"))
    ends = (
        lab.join(kdeg, ["row", "col"], "left")
        .where(F.coalesce("_kd", F.lit(0)) <= 1)
        .groupBy("label")
        .agg(
            F.min(F.col("row") * idmul + F.col("col")).alias("end1"),
            F.max(F.col("row") * idmul + F.col("col")).alias("end2"),
        )
    )
    return (
        lab.groupBy("label").agg(F.count(F.lit(1)).alias("_n")).select("label")
        .join(n_cells, "label")
        .join(length, "label", "left")
        .join(ends, "label", "left")
        .select(
            F.col("label").alias("line_id"), "n_cells",
            F.coalesce("length", F.lit(0.0)).alias("length"),
            F.coalesce("end1", F.lit(-1)).alias("end1"),
            F.coalesce("end2", F.lit(-1)).alias("end2"),
        )
        .orderBy("line_id")
    )


# ---------------------------------------------------------------------------
# contour polyline assembly (Contour.java:217-1410, isoline stitching)
# ---------------------------------------------------------------------------
# Marching-squares over 2x2 cell blocks: corner bit b = 1*(v00<L) + 2*(v01<L)
# + 4*(v10<L) + 8*(v11<L); each case emits 0-2 segments joining the block's
# crossed edges.  Edge vertices live on the DOUBLED grid (H edge of (r,c) ->
# (2r, 2c+1), V edge -> (2r+1, 2c)) so isolines stitch with the standard
# grid-components machinery.  Saddles (cases 6/9) resolve by the fixed map
# below — identical in the engine and the SQL oracle.
_MS_SEGMENTS = {
    1: [("T", "L")], 2: [("T", "R")], 3: [("L", "R")], 4: [("L", "B")],
    5: [("T", "B")], 6: [("T", "R"), ("L", "B")], 7: [("R", "B")],
    8: [("R", "B")], 9: [("T", "L"), ("R", "B")], 10: [("T", "B")],
    11: [("L", "B")], 12: [("L", "R")], 13: [("T", "R")], 14: [("T", "L")],
}
_MS_EDGE_D = {"T": (0, 1), "B": (2, 1), "L": (1, 0), "R": (1, 2)}


def ms_segmap_values() -> str:
    """Shared VALUES text (b, dy1, dx1, dy2, dx2): doubled-grid endpoint
    offsets of every marching-squares segment, per case."""
    rows = []
    for b in sorted(_MS_SEGMENTS):
        for e1, e2 in _MS_SEGMENTS[b]:
            (dy1, dx1), (dy2, dx2) = _MS_EDGE_D[e1], _MS_EDGE_D[e2]
            rows.append(f"({b},{dy1},{dx1},{dy2},{dx2})")
    return "(VALUES " + ", ".join(rows) + ")"


def contour_line_stats(cells: DataFrame, levels) -> DataFrame:
    """(level, n_segments, n_lines, n_closed, total_length): assembled
    isolines per contour level — segment count, stitched polyline count,
    closed-loop count, and the summed Euclidean segment length (round 4)."""
    from .clump import components_from_edges

    spark = cells.sparkSession
    segmap = spark.createDataFrame(
        [
            (b, *_MS_EDGE_D[e1], *_MS_EDGE_D[e2])
            for b in sorted(_MS_SEGMENTS)
            for e1, e2 in _MS_SEGMENTS[b]
        ],
        "b int, dy1 int, dx1 int, dy2 int, dx2 int",
    )
    v = cells.select("row", "col", "value")
    shifted = [
        v.select("row", "col", F.col("value").alias("v00")),
        v.select("row", (F.col("col") - 1).alias("col"), F.col("value").alias("v01")),
        v.select((F.col("row") - 1).alias("row"), "col", F.col("value").alias("v10")),
        v.select((F.col("row") - 1).alias("row"), (F.col("col") - 1).alias("col"),
                 F.col("value").alias("v11")),
    ]
    blk = shifted[0]
    for s in shifted[1:]:
        blk = blk.join(s, ["row", "col"], "inner")

    out = None
    for lev in levels:
        L = F.lit(float(lev))
        b = (
            (F.col("v00") < L).cast("int") + (F.col("v01") < L).cast("int") * 2
            + (F.col("v10") < L).cast("int") * 4 + (F.col("v11") < L).cast("int") * 8
        )
        segs = (
            blk.select("row", "col", b.alias("b"))
            .join(F.broadcast(segmap), "b")
            .select(
                (2 * F.col("row") + F.col("dy1")).alias("y1"),
                (2 * F.col("col") + F.col("dx1")).alias("x1"),
                (2 * F.col("row") + F.col("dy2")).alias("y2"),
                (2 * F.col("col") + F.col("dx2")).alias("x2"),
            )
        )
        # crossing-point coordinates on the doubled grid
        right = v.select("row", (F.col("col") - 1).alias("col"), F.col("value").alias("bv"))
        down = v.select((F.col("row") - 1).alias("row"), "col", F.col("value").alias("bv"))
        t_of = (L - F.col("value")) / (F.col("bv") - F.col("value"))
        hpts = (
            v.join(right, ["row", "col"], "inner")
            .where((F.col("value") < L) != (F.col("bv") < L))
            .select(
                (2 * F.col("row")).alias("py"), (2 * F.col("col") + 1).alias("px"),
                (F.col("col") + t_of).alias("cx"), F.col("row").cast("double").alias("cy"),
            )
        )
        vpts = (
            v.join(down, ["row", "col"], "inner")
            .where((F.col("value") < L) != (F.col("bv") < L))
            .select(
                (2 * F.col("row") + 1).alias("py"), (2 * F.col("col")).alias("px"),
                F.col("col").cast("double").alias("cx"), (F.col("row") + t_of).alias("cy"),
            )
        )
        pts = hpts.unionByName(vpts)
        nodes = (
            segs.select(F.col("y1").alias("row"), F.col("x1").alias("col"))
            .unionByName(segs.select(F.col("y2").alias("row"), F.col("x2").alias("col")))
            .distinct()
        )
        lab = components_from_edges(
            nodes,
            segs.select(
                F.col("y1").alias("row"), F.col("x1").alias("col"),
                F.col("y2").alias("nr"), F.col("x2").alias("nc"),
            ),
        )
        deg = (
            segs.select(F.col("y1").alias("row"), F.col("x1").alias("col"))
            .unionByName(segs.select(F.col("y2").alias("row"), F.col("x2").alias("col")))
            .groupBy("row", "col").agg(F.count(F.lit(1)).alias("d"))
        )
        comp = (
            lab.join(deg, ["row", "col"], "inner")
            .groupBy("label")
            .agg(F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("n_deg1"))
        )
        p1 = pts.select(F.col("py").alias("y1"), F.col("px").alias("x1"),
                        F.col("cx").alias("ax"), F.col("cy").alias("ay"))
        p2 = pts.select(F.col("py").alias("y2"), F.col("px").alias("x2"),
                        F.col("cx").alias("bx"), F.col("cy").alias("by"))
        slen = (
            segs.join(p1, ["y1", "x1"]).join(p2, ["y2", "x2"])
            .select(F.expr(
                "SQRT((ax - bx) * (ax - bx) + (ay - by) * (ay - by))"
            ).alias("slen"))
        )
        row = (
            slen.agg(
                F.count(F.lit(1)).alias("n_segments"),
                F.round(F.coalesce(F.sum("slen"), F.lit(0.0)), 4)
                .cast("double").alias("total_length"),
            )
            .crossJoin(comp.agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(F.when(F.col("n_deg1") == 0, 1).otherwise(0))
                .cast("long").alias("n_closed"),
            ))
            .select(
                F.lit(float(lev)).alias("level"),
                "n_segments", "n_lines", "n_closed", "total_length",
            )
        )
        out = row if out is None else out.unionByName(row)
    # levels with no crossings drop out (mirrors the oracle's GROUP BY)
    return out.where(F.col("n_segments") > 0).orderBy("level")


# ---------------------------------------------------------------------------
# Zhang-Suen line thinning (skeletonization)
# ---------------------------------------------------------------------------
# neighborhood bit order k=0..7: N, NE, E, SE, S, SW, W, NW (classic p2..p9)
_ZS_OFFS = [(-1, 0), (-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1)]


def _zs_luts() -> tuple[list[int], list[int]]:
    """Deletion lookup tables over the 8-bit neighborhood mask for the two
    Zhang-Suen sub-iterations (the conditions depend only on the mask)."""
    lut1, lut2 = [], []
    for m in range(256):
        p = [(m >> k) & 1 for k in range(8)]  # p2..p9
        b = sum(p)
        a = sum(1 for k in range(8) if p[k] == 0 and p[(k + 1) % 8] == 1)
        base = 2 <= b <= 6 and a == 1
        # sub-iteration 1: p2*p4*p6 == 0 and p4*p6*p8 == 0  (N,E,S / E,S,W)
        d1 = base and (p[0] * p[2] * p[4] == 0) and (p[2] * p[4] * p[6] == 0)
        # sub-iteration 2: p2*p4*p8 == 0 and p2*p6*p8 == 0  (N,E,W / N,S,W)
        d2 = base and (p[0] * p[2] * p[6] == 0) and (p[0] * p[4] * p[6] == 0)
        lut1.append(1 if d1 else 0)
        lut2.append(1 if d2 else 0)
    return lut1, lut2


def thicken_line(cells: DataFrame) -> DataFrame:
    """ThickenRasterLine (Scripts/ThickenRasterLine.groovy): make an
    8-connected line raster 4-connected by filling the elbow of every
    diagonal step — a background cell turns on when two of its ORTHOGONAL
    neighbors that are diagonal to each other (N&E, E&S, S&W, W&N) are both
    line cells.  One exploded 4-offset probe + bitmask aggregation, all
    Catalyst; scales as a single narrow shuffle on (row, col)."""
    # candidate = line cell shifted by one orthogonal step; the direction the
    # SOURCE is seen from the candidate gets one bit: N=1, E=2, S=4, W=8
    offs = F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"), F.lit(bit).alias("bit"))
        for dr, dc, bit in [(1, 0, 1), (0, -1, 2), (-1, 0, 4), (0, 1, 8)]
    ])
    s = cells.select("row", "col")
    cand = (
        s.withColumn("_o", F.explode(offs))
        .groupBy(
            (F.col("row") + F.col("_o.dr")).alias("row"),
            (F.col("col") + F.col("_o.dc")).alias("col"),
        )
        .agg(F.sum(F.col("_o.bit")).alias("m"))
        .where(
            F.expr("(m & 3) = 3 OR (m & 6) = 6 OR (m & 12) = 12 OR (m & 9) = 9")
        )
        .join(s, ["row", "col"], "left_anti")
        .select("row", "col")
    )
    return s.unionByName(cand)


def remove_spurs(cells: DataFrame, *, passes: int = 2) -> DataFrame:
    """RemoveSpurs (ImageProcessingTools RemoveSpurs.java): iteratively
    delete skeleton endpoints (cells with <= 1 remaining 8-neighbor) for a
    fixed number of passes — trims spur twigs up to `passes` cells long.
    Pure Catalyst: one exploded neighbor-count aggregation per pass."""
    offs = F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
        for dr in (-1, 0, 1) for dc in (-1, 0, 1) if (dr, dc) != (0, 0)
    ])
    s = cells.select("row", "col")
    for _ in range(passes):
        probe = (
            s.withColumn("_o", F.explode(offs))
            .select(
                (F.col("row") + F.col("_o.dr")).alias("row"),
                (F.col("col") + F.col("_o.dc")).alias("col"),
            )
        )
        deg = probe.groupBy("row", "col").agg(F.count(F.lit(1)).alias("_d"))
        s = (
            s.join(deg, ["row", "col"], "left")
            .where(F.coalesce("_d", F.lit(0)) >= 2)
            .select("row", "col")
        )
    return s


def line_thinning(cells: DataFrame, *, pairs: int = 8) -> DataFrame:
    """LineThinning.java (Zhang-Suen skeletonization) over a binary cell set
    (row, col): a FIXED number of sub-iteration pairs (both engine and
    oracle run the same count, past convergence for the test shapes).

    Each sub-iteration is two narrow shuffles: an 8-offset exploded
    self-join builds every cell's neighborhood bitmask, and a 256-entry
    broadcast LUT decides deletion — all Catalyst, no Python."""
    lut1, lut2 = _zs_luts()
    offs = F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"), F.lit(1 << k).alias("bit"))
        for k, (dr, dc) in enumerate(_ZS_OFFS)
    ])
    s = cells.select("row", "col")
    for i in range(pairs * 2):
        lut = lut1 if i % 2 == 0 else lut2
        lut_arr = F.array(*[F.lit(v) for v in lut])
        probe = (
            s.withColumn("_o", F.explode(offs))
            .select(
                (F.col("row") - F.col("_o.dr")).alias("row"),
                (F.col("col") - F.col("_o.dc")).alias("col"),
                F.col("_o.bit").alias("bit"),
            )
        )
        mask = probe.groupBy("row", "col").agg(F.sum("bit").alias("_m"))
        s = (
            s.join(mask, ["row", "col"], "left")
            .withColumn("_m", F.coalesce("_m", F.lit(0)))
            .where(F.element_at(lut_arr, F.col("_m").cast("int") + 1) == 0)
            .select("row", "col")
        )
        if i % 4 == 3:
            s = s.localCheckpoint()  # bound the 16-stage lineage
    return s
