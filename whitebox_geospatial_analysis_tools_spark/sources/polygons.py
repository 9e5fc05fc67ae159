"""Deterministic synthetic polygon layer (the WorldMap-borders role).

Mirrors the role of the reference's country-border sample layer
(WhiteboxGIS/resources/samples/WorldMap/TM_WORLD_BORDERS_SIMPL-0.2.shp) as the
canonical point-in-polygon join target, with the reference's multi-ring
polygon model: shells + interior holes, even-odd semantics
(ConversionTools/src/plugins/VectorPolygonsToRaster.java:400-470 — holes are
extra rings whose crossings flip containment).

The layer is SMALL by design (broadcast side of the north-star join).  It is
generated once in numpy from a fixed seed; the DuckDB oracle receives the
exact same geometry as full-precision SQL literals (``repr`` round-trips
doubles exactly), so Spark kernel and oracle SQL test identical shapes.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

import numpy as np
import pyarrow as pa

EXTENT = (0.0, 0.0, 360.0, 180.0)
N_POLYS = 100
_GRID_X, _GRID_Y = 10, 10  # 36 x 18 degree cells
SEED = 42


@dataclass(frozen=True)
class PolygonLayer:
    """Columnar polygon layer: per-polygon ring arrays + flat edge table."""

    poly_id: np.ndarray      # (P,) int64
    category: np.ndarray     # (P,) object — 'cat0'..'cat4', for dissolve/groupBy
    bbox: np.ndarray         # (P, 4) float64: xmin, ymin, xmax, ymax
    # flat edge table (all rings of all polygons; even-odd PIP just counts
    # crossings over every ring edge, shells and holes alike)
    edge_poly: np.ndarray    # (E,) int64 polygon id per edge
    x1: np.ndarray           # (E,) float64
    y1: np.ndarray
    x2: np.ndarray
    y2: np.ndarray
    rings: list[list[np.ndarray]]  # per poly: list of (k,2) ring vertex arrays

    @property
    def n(self) -> int:
        return len(self.poly_id)


def _ring_edges(verts: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    nxt = np.roll(verts, -1, axis=0)
    return verts[:, 0], verts[:, 1], nxt[:, 0], nxt[:, 1]


@lru_cache(maxsize=1)
def make_polygon_layer() -> PolygonLayer:
    rng = np.random.default_rng(SEED)
    cw = (EXTENT[2] - EXTENT[0]) / _GRID_X
    ch = (EXTENT[3] - EXTENT[1]) / _GRID_Y

    poly_ids, cats, bboxes, rings_all = [], [], [], []
    e_poly, e_x1, e_y1, e_x2, e_y2 = [], [], [], [], []

    for p in range(N_POLYS):
        gx, gy = p % _GRID_X, p // _GRID_X
        cx = gx * cw + cw / 2.0 + (rng.random() - 0.5) * cw * 0.25
        cy = gy * ch + ch / 2.0 + (rng.random() - 0.5) * ch * 0.25
        nv = int(rng.integers(6, 13))
        # irregular star-convex polygon: sorted angles + jittered radii
        ang = np.sort(rng.random(nv)) * 2.0 * np.pi
        rad = (0.35 + 0.6 * rng.random(nv)) * min(cw, ch) * 0.75
        shell = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        rings = [shell]
        if p % 7 == 0:  # interior hole (square), even-odd flips inside it
            hr = float(rad.min()) * 0.35
            hole = np.array(
                [[cx - hr, cy - hr], [cx + hr, cy - hr], [cx + hr, cy + hr], [cx - hr, cy + hr]]
            )
            rings.append(hole)
        allv = np.vstack(rings)
        poly_ids.append(p)
        cats.append(f"cat{p % 5}")
        bboxes.append(
            [allv[:, 0].min(), allv[:, 1].min(), allv[:, 0].max(), allv[:, 1].max()]
        )
        rings_all.append(rings)
        for ring in rings:
            x1, y1, x2, y2 = _ring_edges(ring)
            e_poly.append(np.full(len(ring), p, dtype=np.int64))
            e_x1.append(x1)
            e_y1.append(y1)
            e_x2.append(x2)
            e_y2.append(y2)

    return PolygonLayer(
        poly_id=np.asarray(poly_ids, dtype=np.int64),
        category=np.asarray(cats, dtype=object),
        bbox=np.asarray(bboxes, dtype=np.float64),
        edge_poly=np.concatenate(e_poly),
        x1=np.concatenate(e_x1),
        y1=np.concatenate(e_y1),
        x2=np.concatenate(e_x2),
        y2=np.concatenate(e_y2),
        rings=rings_all,
    )


def edge_table() -> pa.Table:
    """The flat edge table as one Arrow table ``(poly_id, x1, y1, x2, y2)``,
    sorted by polygon; the sort is stable, so each polygon's edges keep
    their layer (ring) order."""
    layer = make_polygon_layer()
    order = np.argsort(layer.edge_poly, kind="stable")
    return pa.table({
        "poly_id": layer.edge_poly[order],
        **{c: getattr(layer, c)[order] for c in ("x1", "y1", "x2", "y2")},
    })


def edges_sql_values() -> str:
    """The full edge table as a DuckDB VALUES list (exact double literals)."""
    layer = make_polygon_layer()
    rows = ", ".join(
        f"({int(p)},CAST('{x1!r}' AS DOUBLE),CAST('{y1!r}' AS DOUBLE),"
        f"CAST('{x2!r}' AS DOUBLE),CAST('{y2!r}' AS DOUBLE))"
        for p, x1, y1, x2, y2 in zip(layer.edge_poly, layer.x1, layer.y1, layer.x2, layer.y2)
    )
    return f"(VALUES {rows})"


def vertices_sql_values() -> str:
    """All ring vertices as DuckDB VALUES: (poly_id, ring, vi, nv, x, y)."""
    layer = make_polygon_layer()
    rows = []
    for i in range(layer.n):
        pid = int(layer.poly_id[i])
        for ri, ring in enumerate(layer.rings[i]):
            nv = len(ring)
            for vi, (x, y) in enumerate(ring):
                rows.append(f"({pid},{ri},{vi},{nv},CAST('{x!r}' AS DOUBLE),CAST('{y!r}' AS DOUBLE))")
    return f"(VALUES {', '.join(rows)})"


def bbox_sql_values() -> str:
    layer = make_polygon_layer()
    rows = ", ".join(
        f"({int(p)},'{c}',CAST('{b[0]!r}' AS DOUBLE),CAST('{b[1]!r}' AS DOUBLE),CAST('{b[2]!r}' AS DOUBLE),CAST('{b[3]!r}' AS DOUBLE))"
        for p, c, b in zip(layer.poly_id, layer.category, layer.bbox)
    )
    return f"(VALUES {rows})"


# ---------------------------------------------------------------------------
# clip layer: deterministic CONVEX hexagons (VectorTools overlay operand)
# ---------------------------------------------------------------------------
# All clip polygons are rotated, ellipse-scaled regular hexagons: convex by
# construction (affine image of a regular hexagon), CCW, exactly 6 edges each
# (a fixed edge count lets the DuckDB Sutherland-Hodgman oracle run as 6
# chained clip stages with no recursion), and pairwise DISJOINT (radius < half
# the 45-degree center spacing) so per-subject difference/union areas derive
# exactly from pairwise intersection areas.
N_CLIPS = 32
_CLIP_SEED = 43


@lru_cache(maxsize=1)
def make_clip_layer() -> PolygonLayer:
    rng = np.random.default_rng(_CLIP_SEED)
    poly_ids, cats, bboxes, rings_all = [], [], [], []
    e_poly, e_x1, e_y1, e_x2, e_y2 = [], [], [], [], []
    for p in range(N_CLIPS):
        gx, gy = p % 8, p // 8
        cx = gx * 45.0 + 22.5 + (rng.random() - 0.5) * 8.0
        cy = gy * 45.0 + 22.5 + (rng.random() - 0.5) * 8.0
        theta = rng.random() * 2.0 * np.pi
        rx = 8.0 + rng.random() * 8.0
        ry = 8.0 + rng.random() * 8.0
        ang = theta + np.arange(6) * (np.pi / 3.0)
        ring = np.column_stack([cx + rx * np.cos(ang), cy + ry * np.sin(ang)])
        poly_ids.append(p)
        cats.append(f"clip{p % 3}")
        bboxes.append([ring[:, 0].min(), ring[:, 1].min(),
                       ring[:, 0].max(), ring[:, 1].max()])
        rings_all.append([ring])
        x1, y1, x2, y2 = _ring_edges(ring)
        e_poly.append(np.full(6, p, dtype=np.int64))
        e_x1.append(x1)
        e_y1.append(y1)
        e_x2.append(x2)
        e_y2.append(y2)
    return PolygonLayer(
        poly_id=np.asarray(poly_ids, dtype=np.int64),
        category=np.asarray(cats, dtype=object),
        bbox=np.asarray(bboxes, dtype=np.float64),
        edge_poly=np.concatenate(e_poly),
        x1=np.concatenate(e_x1),
        y1=np.concatenate(e_y1),
        x2=np.concatenate(e_x2),
        y2=np.concatenate(e_y2),
        rings=rings_all,
    )


def clip_edges_sql_values() -> str:
    """Clip-hexagon directed edges as DuckDB VALUES:
    (clip_id, k, ax, ay, bx, by), k = 0..5 in ring order (CCW)."""
    layer = make_clip_layer()
    rows = []
    for i in range(layer.n):
        ring = layer.rings[i][0]
        nxt = np.roll(ring, -1, axis=0)
        for k in range(len(ring)):
            rows.append(
                f"({int(layer.poly_id[i])},{k},"
                f"CAST('{ring[k, 0]!r}' AS DOUBLE),CAST('{ring[k, 1]!r}' AS DOUBLE),"
                f"CAST('{nxt[k, 0]!r}' AS DOUBLE),CAST('{nxt[k, 1]!r}' AS DOUBLE))"
            )
    return f"(VALUES {', '.join(rows)})"


# ---------------------------------------------------------------------------
# concave clip layer: deterministic star decagons (general-overlay operand)
# ---------------------------------------------------------------------------
# Ten-vertex 5-point stars: CONCAVE simple polygons, star-shaped about their
# center, so the FAN (center, v_k, v_{k+1}) is an exact convex decomposition
# into 10 pairwise-disjoint CCW triangles.  General (concave) boolean overlay
# then reduces to the proven Sutherland-Hodgman kernel per triangle with
# additive areas — the data-parallel alternative to a stateful
# Greiner-Hormann traversal, with identical area/containment measures for
# simple polygons.  Stars are pairwise disjoint (outer radius < half the
# 45-degree spacing), mirroring the convex clip layer's derivation contract.
N_CONCAVE = 32
_CONCAVE_SEED = 44


@lru_cache(maxsize=1)
def make_concave_clip_layer() -> PolygonLayer:
    rng = np.random.default_rng(_CONCAVE_SEED)
    poly_ids, cats, bboxes, rings_all = [], [], [], []
    e_poly, e_x1, e_y1, e_x2, e_y2 = [], [], [], [], []
    for p in range(N_CONCAVE):
        gx, gy = p % 8, p // 8
        cx = gx * 45.0 + 22.5 + (rng.random() - 0.5) * 8.0
        cy = gy * 45.0 + 22.5 + (rng.random() - 0.5) * 8.0
        theta = rng.random() * 2.0 * np.pi
        r_out = 12.0 + rng.random() * 6.0
        r_in = 4.0 + rng.random() * 3.0
        ang = theta + np.arange(10) * (np.pi / 5.0)
        rad = np.where(np.arange(10) % 2 == 0, r_out, r_in)
        ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        poly_ids.append(p)
        cats.append(f"star{p % 3}")
        bboxes.append([ring[:, 0].min(), ring[:, 1].min(),
                       ring[:, 0].max(), ring[:, 1].max()])
        # rings[0] = boundary; the fan center rides along as a 1-point
        # second "ring" so triangulation is reproducible from the layer
        rings_all.append([ring, np.array([[cx, cy]])])
        x1, y1, x2, y2 = _ring_edges(ring)
        e_poly.append(np.full(10, p, dtype=np.int64))
        e_x1.append(x1)
        e_y1.append(y1)
        e_x2.append(x2)
        e_y2.append(y2)
    return PolygonLayer(
        poly_id=np.asarray(poly_ids, dtype=np.int64),
        category=np.asarray(cats, dtype=object),
        bbox=np.asarray(bboxes, dtype=np.float64),
        edge_poly=np.concatenate(e_poly),
        x1=np.concatenate(e_x1),
        y1=np.concatenate(e_y1),
        x2=np.concatenate(e_x2),
        y2=np.concatenate(e_y2),
        rings=rings_all,
    )


def concave_triangles() -> list[tuple[int, int, np.ndarray]]:
    """Fan decomposition: (clip_id, tri, (3,2) CCW triangle vertices)."""
    layer = make_concave_clip_layer()
    out = []
    for i in range(layer.n):
        ring = layer.rings[i][0]
        c = layer.rings[i][1][0]
        n = len(ring)
        for t in range(n):
            tri = np.array([c, ring[t], ring[(t + 1) % n]])
            out.append((int(layer.poly_id[i]), t, tri))
    return out


def concave_tri_edges_sql_values() -> str:
    """Fan-triangle directed edges as DuckDB VALUES:
    (clip_id, tri, k, ax, ay, bx, by), k = 0..2 in CCW ring order."""
    rows = []
    for cid, t, tri in concave_triangles():
        nxt = np.roll(tri, -1, axis=0)
        for k in range(3):
            rows.append(
                f"({cid},{t},{k},"
                f"CAST('{tri[k, 0]!r}' AS DOUBLE),CAST('{tri[k, 1]!r}' AS DOUBLE),"
                f"CAST('{nxt[k, 0]!r}' AS DOUBLE),CAST('{nxt[k, 1]!r}' AS DOUBLE))"
            )
    return f"(VALUES {', '.join(rows)})"


def concave_bbox_sql_values() -> str:
    layer = make_concave_clip_layer()
    rows = ", ".join(
        f"({int(p)},CAST('{b[0]!r}' AS DOUBLE),CAST('{b[1]!r}' AS DOUBLE),"
        f"CAST('{b[2]!r}' AS DOUBLE),CAST('{b[3]!r}' AS DOUBLE))"
        for p, b in zip(layer.poly_id, layer.bbox)
    )
    return f"(VALUES {rows})"


def concave_boundary_edges_sql_values() -> str:
    """Star boundary directed edges (for exact star areas in the oracle):
    (clip_id, ax, ay, bx, by)."""
    layer = make_concave_clip_layer()
    rows = []
    for i in range(layer.n):
        ring = layer.rings[i][0]
        nxt = np.roll(ring, -1, axis=0)
        for k in range(len(ring)):
            rows.append(
                f"({int(layer.poly_id[i])},"
                f"CAST('{ring[k, 0]!r}' AS DOUBLE),CAST('{ring[k, 1]!r}' AS DOUBLE),"
                f"CAST('{nxt[k, 0]!r}' AS DOUBLE),CAST('{nxt[k, 1]!r}' AS DOUBLE))"
            )
    return f"(VALUES {', '.join(rows)})"


def polygons_df(spark):
    """Polygon layer as a Spark DataFrame (small; always broadcast-joined).

    Schema mirrors FIXTURES.md §2: poly_id, category, bbox struct, rings as
    array<array<array<double>>> (ring -> vertex -> [x, y]).
    """
    from pyspark.sql import types as T

    layer = make_polygon_layer()
    rows = []
    for i in range(layer.n):
        rows.append(
            (
                int(layer.poly_id[i]),
                str(layer.category[i]),
                {
                    "xmin": float(layer.bbox[i, 0]),
                    "ymin": float(layer.bbox[i, 1]),
                    "xmax": float(layer.bbox[i, 2]),
                    "ymax": float(layer.bbox[i, 3]),
                },
                [[[float(x), float(y)] for x, y in ring] for ring in layer.rings[i]],
            )
        )
    schema = T.StructType(
        [
            T.StructField("poly_id", T.LongType(), False),
            T.StructField("category", T.StringType(), False),
            T.StructField(
                "bbox",
                T.StructType(
                    [
                        T.StructField("xmin", T.DoubleType(), False),
                        T.StructField("ymin", T.DoubleType(), False),
                        T.StructField("xmax", T.DoubleType(), False),
                        T.StructField("ymax", T.DoubleType(), False),
                    ]
                ),
                False,
            ),
            T.StructField(
                "rings",
                T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType(), False), False), False),
                False,
            ),
        ]
    )
    return spark.createDataFrame(rows, schema)
