"""Vectorized geometry kernels (pure numpy — the engine's only Python hot path).

Even-odd ray-cast point-in-polygon, reproducing the reference's scanline
crossing rule (ConversionTools/src/plugins/VectorPolygonsToRaster.java:400-470:
crossings at ``xPrime = x1 + (rowY - y1)/(y2 - y1) * (x2 - x1)``, alternate
spans filled; holes are additional rings whose crossings flip parity).  The
exact float expression here is mirrored verbatim in the DuckDB oracle SQL so
both engines agree bit-for-bit.

All kernels are batch-vectorized (numpy over Arrow batches); never per-row
Python (BASELINE.json input_hint).
"""

from __future__ import annotations

import numpy as np

from ..sources.polygons import PolygonLayer, make_polygon_layer


# ---------------------------------------------------------------------------
# even-odd crossing test
# ---------------------------------------------------------------------------
def _crossings(px, py, x1, y1, x2, y2):
    """Count ray crossings: px,py (N,1) vs edges (1,E) -> (N,) int."""
    cond = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = (x2 - x1) * (py - y1) / (y2 - y1) + x1
    hit = cond & (px < xi)
    return hit.sum(axis=1)


class PipIndex:
    """Edge table grouped by polygon for fast per-polygon batched refinement."""

    def __init__(self, layer: PolygonLayer | None = None):
        layer = layer or make_polygon_layer()
        order = np.argsort(layer.edge_poly, kind="stable")
        self.poly = layer.edge_poly[order]
        self.x1 = layer.x1[order]
        self.y1 = layer.y1[order]
        self.x2 = layer.x2[order]
        self.y2 = layer.y2[order]
        self.uniq, self.start = np.unique(self.poly, return_index=True)
        self.end = np.append(self.start[1:], len(self.poly))
        self.slice_of = {int(p): (int(s), int(e)) for p, s, e in zip(self.uniq, self.start, self.end)}

    def contains_pairs(self, px: np.ndarray, py: np.ndarray, poly_id: np.ndarray) -> np.ndarray:
        """Vectorized refine for candidate (point, polygon) pairs.

        Groups the batch by polygon, then does one broadcasted crossing count
        per polygon present — O(points_in_group x edges_of_poly).
        """
        out = np.zeros(len(px), dtype=bool)
        if len(px) == 0:
            return out
        order = np.argsort(poly_id, kind="stable")
        sp = poly_id[order]
        bounds = np.flatnonzero(np.diff(sp)) + 1
        starts = np.concatenate([[0], bounds])
        ends = np.concatenate([bounds, [len(sp)]])
        for s, e in zip(starts, ends):
            pid = int(sp[s])
            sl = self.slice_of.get(pid)
            if sl is None:
                continue
            a, b = sl
            idx = order[s:e]
            cr = _crossings(
                px[idx][:, None],
                py[idx][:, None],
                self.x1[None, a:b],
                self.y1[None, a:b],
                self.x2[None, a:b],
                self.y2[None, a:b],
            )
            out[idx] = (cr % 2) == 1
        return out

    def contains_all(self, px: np.ndarray, py: np.ndarray) -> list[np.ndarray]:
        """Brute-force oracle: for each point, array of containing poly ids."""
        res = []
        for x, y in zip(px, py):
            cr = _crossings(
                np.asarray([[x]]), np.asarray([[y]]),
                self.x1[None, :], self.y1[None, :], self.x2[None, :], self.y2[None, :],
            )
            # count per polygon via bincount on edge hits
            hits = ((self.y1 > y) != (self.y2 > y))
            with np.errstate(divide="ignore", invalid="ignore"):
                xi = (self.x2 - self.x1) * (y - self.y1) / (self.y2 - self.y1) + self.x1
            hits = hits & (x < xi)
            cnt = np.bincount(self.poly[hits], minlength=int(self.uniq.max()) + 1)
            res.append(np.flatnonzero(cnt % 2 == 1))
            del cr
        return res


def classified_cells(size: float, cols: int, layer: PolygonLayer | None = None):
    """Covering cells with interior/boundary classification.

    Returns (cell_id, poly_id, interior) triples.  A cell is INTERIOR to a
    polygon when no ring edge intersects it and its center has odd crossing
    parity: the even-odd parity is then constant across the whole cell, so
    every point in it is contained — no per-point refinement needed (the
    scale lever: containment resolves JVM-side for the vast majority of
    matched points; only boundary-cell points cross the Arrow/Python hop for
    the exact ray-cast of VectorPolygonsToRaster.java:400-470).  Cells whose
    center parity is even (fully outside) are dropped.

    Fully vectorized per polygon: (cells x edges) broadcast arrays — the
    whole index builds in ~10ms for 100 polygons at res 9.
    """
    # memoize only the canonical (layer=None) case: an id(layer) key can
    # alias after GC reuses the address for a different layer object
    key = (float(size), int(cols)) if layer is None else None
    if key is not None:
        hit = _CLASSIFIED_CACHE.get(key)
        if hit is not None:
            return hit
    layer = layer or make_polygon_layer()
    eps = 1e-9
    out = []
    for i in range(layer.n):
        pid = int(layer.poly_id[i])
        sl = np.flatnonzero(layer.edge_poly == pid)
        ex1, ey1 = layer.x1[sl][None, :], layer.y1[sl][None, :]
        ex2, ey2 = layer.x2[sl][None, :], layer.y2[sl][None, :]
        xmin, ymin, xmax, ymax = layer.bbox[i]
        cx0, cx1 = int(np.floor(xmin / size)), int(np.floor(xmax / size))
        cy0, cy1 = int(np.floor(ymin / size)), int(np.floor(ymax / size))
        cxs, cys = np.meshgrid(np.arange(cx0, cx1 + 1), np.arange(cy0, cy1 + 1))
        cxs, cys = cxs.ravel(), cys.ravel()
        rx0 = cxs * size - eps
        rx1 = (cxs + 1) * size + eps
        ry0 = cys * size - eps
        ry1 = (cys + 1) * size + eps
        # Liang-Barsky over the (C, E) grid
        dx, dy = ex2 - ex1, ey2 - ey1
        t0 = np.zeros((len(cxs), ex1.shape[1]))
        t1 = np.ones_like(t0)
        ok = np.ones_like(t0, dtype=bool)
        for p, q in (
            (-dx, ex1 - rx0[:, None]),
            (dx, rx1[:, None] - ex1),
            (-dy, ey1 - ry0[:, None]),
            (dy, ry1[:, None] - ey1),
        ):
            par = p == 0.0
            ok &= ~(par & (q < 0.0))
            with np.errstate(divide="ignore", invalid="ignore"):
                t = q / p
            t0 = np.where(~par & (p < 0.0), np.maximum(t0, t), t0)
            t1 = np.where(~par & (p > 0.0), np.minimum(t1, t), t1)
        crossed = (ok & (t0 <= t1)).any(axis=1)
        centers_x = (rx0 + rx1) / 2.0
        centers_y = (ry0 + ry1) / 2.0
        parity = (
            _crossings(centers_x[:, None], centers_y[:, None], ex1, ey1, ex2, ey2) % 2 == 1
        )
        cell_ids = cys * cols + cxs
        for cid, b, inside in zip(cell_ids, crossed, parity):
            if b:
                out.append((int(cid), pid, False))
            elif inside:
                out.append((int(cid), pid, True))
    if key is not None:
        _CLASSIFIED_CACHE[key] = out
    return out


_CLASSIFIED_CACHE: dict = {}


# ---------------------------------------------------------------------------
# shape metrics (GISTools Area/Perimeter/Centroid semantics on vector rings)
# ---------------------------------------------------------------------------
def perimeter(ring: np.ndarray) -> float:
    d = np.roll(ring, -1, axis=0) - ring
    return float(np.sum(np.sqrt(d[:, 0] ** 2 + d[:, 1] ** 2)))


def centroid(ring: np.ndarray) -> tuple[float, float]:
    x, y = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    cross = x * y2 - x2 * y
    a = np.sum(cross) / 2.0
    cx = float(np.sum((x + x2) * cross) / (6.0 * a))
    cy = float(np.sum((y + y2) * cross) / (6.0 * a))
    return cx, cy
