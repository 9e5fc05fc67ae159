"""Hydrology slice: D8 flow pointer, flow accumulation, watershed, streams.

Reference semantics (SURVEY.md §2.12):
  FlowPointerD8   HydroTools/src/plugins/FlowPointerD8.java (307) — each
                  cell points to the steepest-descent neighbor of 8, drop
                  divided by distance (diagonals /sqrt(2)); power-of-two
                  direction codes, decoded log2 (FlowAccumD8.java:291-293).
  FlowAccumD8     HydroTools/src/plugins/FlowAccumD8.java (416) — number of
                  cells draining through each cell (incl. itself), computed
                  there by sequential upstream-count scheduling
                  (FlowAccumD8.java:282-330).
  Watershed       HydroTools/src/plugins/Watershed.java — label = terminal
                  pit each cell drains to.
  ExtractStreams  StreamNetworkAnalysisTools/src/plugins/ExtractStreams.java
                  (283) — accumulation >= threshold.

Distributed formulation (round-2 rebuild, replacing the O(path^2)
transitive-closure doubling of round 1 — VERDICT wrong-list #1):

  phase 1  the tiled pointer cells are persisted once, hash-partitioned
           by tile into the session's shuffle partitions (the pointer
           kernel upstream runs once for both passes, and every core gets
           tiles); raster.tile_map (one Python call per partition) runs,
           per tile, the reference's own sequential upstream-count
           scheduling (vectorized Kahn wavefronts in numpy) with EXTERNAL
           INFLOW = 0, and returns only the condensed-graph rows:
             - every cross-tile edge (source cell, destination cell, local
               mass), and
             - per border cell: where its within-tile flow path EXITS the
               tile (or the pit it terminates at) — via pointer jumping.
  phase 2  the condensed inflow graph lives on entry cells only (targets of
           cross-tile edges — O(N / tile) rows, the grid-graph analogue of a
           √N boundary): a functional DAG where each entry's mass forwards
           to exactly one downstream entry.  Solved by ONE
           condense.graph_masses call, which owns both tiers: a vectorized
           Kahn on the driver under condense.DRIVER_ROWS, recursive
           super-tile condensation past it.
  phase 3  entry masses join back onto the cached cells (broadcast in the
           driver tier, which keeps their tile partitioning, so pass B runs
           with no Exchange; 0 everywhere when no flow crosses a tile
           edge); the SAME tile kernel reruns with per-cell weight = 1 +
           external inflow and returns only (row, col, acc), the exact
           global accumulation.  Total: 2 Spark passes, independent of
           flow-path length — O(V) state instead of O(Σ path²) closure
           pairs.

  flow_accum, weighted_flow_accum (seed w0 instead of 1) and
  upslope_max_length (max-plus instead of sum) are this one body
  (_d8_accum) over the one tile kernel (_tile_flow_kernel); watershed
  and flowpath_length are projections of one body (_path_ends) that runs
  that kernel once with every per-cell row.

The D8 path walks (downslope_index, stream_relief, branch_length) share
one binary lifting: _lift composes the jump tables J_{k+1} = J_k ∘ J_k
from a one-step table (_first_hop) until a level is EMPTY, so no path is
cut short, and raises when a level keeps as many rows as the one before
(only a cycle does that); _descend walks each cursor greedily from the
top level down.  Every lifted level, like every round of
median_upstream_area's pair closure (run until the pair set stops
growing), is cut by condense._checkpoint.

The 3x3 pointer and weight kernels (flow_pointer_d8, flow_pointer_rho8,
flow_pointer_dinf, fd8_weights, mdinf_weights) run on raster.stencil, the
one halo pass over a tile table; each holds only its window arithmetic
and emits its cells with raster.cell_rows.

The MFD accumulations (fd8_accum and its wrappers dinf_accum, mdinf_accum,
mass_flux_dinf) take the same three-phase shape: the condensed border
system is linear, so pass 1 emits each tile's weighted responses as
condense.graph_masses edge rows and ONE graph_masses call solves it on
either tier.

Every tile pass here keys its cells with raster.tile_key, almost always
through raster.with_tiles (keyed and partitioned by tile);
breach_depressions partitions its own+halo union once instead.  The
solvers that iterate tile-local solves to a fixpoint share one round
loop, raster.halo_rounds (a 1-cell border halo exchange, fully
distributed): fill_depressions (like cost.cost_distance) relaxes over
it, and mass_flux_d8 and stream_heads_mdinf, which are not linear in
their inflows, re-solve each tile from its halo cells' last values.

Direction codes here are 2^j over the fixed neighbor order
(NW,N,NE,W,E,SW,S,SE); j differs from the reference's rosette layout but the
induced forest is identical up to that relabeling (tie-break: first maximum
in the fixed order, mirroring the reference's scan-order tie behavior).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import _scratch
# the guard under its old name, read only by perfbench/workloads.py
from .condense import DRIVER_ROWS as _MAX_DRIVER_ROWS  # noqa: F401
from .condense import (
    EDGE_SCHEMA, _checkpoint, chain_ends, chase_paths, collect_guarded,
    graph_masses, min_label_roots, route_functional, solve_links,
    solve_with_exits,
)
from .raster import (
    _OFFS, cell_rows, halo_rounds, stencil, tile_key, tile_map, with_tiles,
)

_SQRT2 = 1.4142135623730951
# neighbor order NW N NE W E SW S SE -> (dr, dc, dist)
D8_OFFS = [
    (-1, -1, _SQRT2), (-1, 0, 1.0), (-1, 1, _SQRT2),
    (0, -1, 1.0), (0, 1, 1.0),
    (1, -1, _SQRT2), (1, 0, 1.0), (1, 1, _SQRT2),
]
_D8_DR = np.array([o[0] for o in D8_OFFS], dtype=np.int64)
_D8_DC = np.array([o[1] for o in D8_OFFS], dtype=np.int64)


def _d8_step():
    """(dr, dc, step) columns of the D8 direction code ``code`` = 2^j
    (D8_OFFS order; step 1 or sqrt(2)).  Defined for code > 0 only, which
    every caller filters or guards on first."""
    j = F.log2(F.col("code")).cast("int") + 1
    return tuple(F.element_at(F.array(*map(F.lit, v)), j) for v in zip(*D8_OFFS))

TILE = 256


_POINTER_SCHEMA = "row long, col long, code long"


def _steepest_d8(c, pad, diag):
    """Stencil body of the D8-style pointers: code = 2^j toward the
    steepest positive drop rate (strict >: the first maximum in D8_OFFS
    order wins ties), 0 for pits/flats, nodata cells omitted.  Cardinal
    drops divide by 1, diagonal ones by ``diag``."""
    h, w = int(c.h), int(c.w)
    centerv = pad[1:h + 1, 1:w + 1]
    best_rate = np.full((h, w), 0.0)
    best_j = np.full((h, w), -1)
    for j, (dr, dc, dist) in enumerate(D8_OFFS):
        nb = pad[1 + dr:1 + dr + h, 1 + dc:1 + dc + w]
        with np.errstate(invalid="ignore"):
            rate = (centerv - nb) / (1.0 if dist == 1.0 else diag)
        rate = np.where(np.isnan(rate), -np.inf, rate)
        take = rate > best_rate
        best_rate = np.where(take, rate, best_rate)
        best_j = np.where(take, j, best_j)
    code = np.where(best_j >= 0, 2 ** np.maximum(best_j, 0), 0)
    return cell_rows(c, ~np.isnan(centerv), code=code)


def flow_pointer_d8(tiles: DataFrame) -> DataFrame:
    """(row, col, code): code = 2^j toward the steepest positive drop-rate
    neighbor, 0 for pits/flats, nodata cells omitted."""
    return stencil(tiles, lambda c, pad: _steepest_d8(c, pad, _SQRT2),
                   _POINTER_SCHEMA)


RHO8_A, RHO8_C, RHO8_M = 2654435761, 987654321, 2147483648


def flow_pointer_rho8(tiles: DataFrame) -> DataFrame:
    """Rho8 stochastic pointer (HydroTools/src/plugins/FlowPointerRho8.java,
    Fairfield & Leymarie 1991): diagonal drop rates divide by (2 - rho)
    instead of sqrt(2), breaking the D8 grid bias.  The reference draws rho
    uniform at random; here rho is a deterministic per-cell LCG value
    (shared with the SQL oracle), the engine's standard determinization."""

    def kernel(c, pad):
        gr = int(c.row0) + np.arange(int(c.h), dtype=np.int64)[:, None]
        gc = int(c.col0) + np.arange(int(c.w), dtype=np.int64)[None, :]
        u = ((gr * 1_000_003 + gc) * RHO8_A + RHO8_C) % RHO8_M
        return _steepest_d8(c, pad, 2.0 - u.astype(np.float64) / RHO8_M)

    return stencil(tiles, kernel, _POINTER_SCHEMA)


def snap_pour_points(pour: DataFrame, acc: DataFrame, *, radius: int = 3) -> DataFrame:
    """SnapPourPoints (HydroTools/src/plugins/SnapPourPoints.java:407): move
    each pour point to the maximum-accumulation cell inside its snap window
    (arg-max window join; tie-break max accum, then min row, min col).

    pour: (pp_id, row, col); acc: (row, col, accum).
    Returns (pp_id, srow, scol, accum)."""
    cand = (
        pour.select(F.col("pp_id"), F.col("row").alias("_pr"), F.col("col").alias("_pc"))
        .withColumn("_dy", F.explode(F.sequence(F.lit(-radius), F.lit(radius))))
        .withColumn("_dx", F.explode(F.sequence(F.lit(-radius), F.lit(radius))))
        .select(
            "pp_id",
            (F.col("_pr") + F.col("_dy")).alias("row"),
            (F.col("_pc") + F.col("_dx")).alias("col"),
        )
        .join(acc, ["row", "col"], "inner")
    )
    return (
        cand.groupBy("pp_id")
        .agg(F.expr(
            "max_by(struct(row, col, accum), struct(accum, -row, -col))"
        ).alias("_b"))
        .select(
            "pp_id", F.col("_b.row").alias("srow"), F.col("_b.col").alias("scol"),
            F.col("_b.accum").alias("accum"),
        )
        .orderBy("pp_id")
    )


def stream_link_slope(pointers: DataFrame, dem_cells: DataFrame,
                      threshold: int = 5, *, tile: int = TILE) -> DataFrame:
    """StreamLinkSlope (StreamNetworkAnalysisTools StreamLinkSlope.java:396):
    per-link slope = elevation range along the link / link length (junction-
    cut links, same labeling as stream_network); single-cell links get 0.

    dem_cells: (row, col, v).  Returns (link, link_slope)."""
    from .clump import components_from_edges

    pointers, stream = _stream_cells(pointers, threshold, tile, "linkslope")
    _sedge, _junc, kept = _stream_edge_tables(pointers, stream)
    lab = components_from_edges(stream, kept, tile=tile)
    dist = F.when((F.col("row") != F.col("nr")) & (F.col("col") != F.col("nc")),
                  F.lit(_SQRT2)).otherwise(F.lit(1.0))
    length = (
        kept.join(lab, ["row", "col"], "inner")
        .groupBy("label").agg(F.sum(dist).alias("_len"))
    )
    elev = (
        lab.join(dem_cells.select("row", "col", "v"), ["row", "col"], "inner")
        .groupBy("label").agg(F.max("v").alias("_vmax"), F.min("v").alias("_vmin"))
    )
    return (
        elev.join(length, "label", "left")
        .select(
            F.col("label").alias("link"),
            F.when(
                F.col("_len").isNull() | (F.col("_len") == 0.0), F.lit(0.0)
            ).otherwise(
                F.expr("FLOOR(((_vmax - _vmin) / _len) * 1e6 + 0.5e0) / 1e6")
            ).alias("link_slope"),
        )
        .orderBy("link")
    )


# ---------------------------------------------------------------------------
# tile-local flow solve (shared by the D8 accumulations, watershed and
# flowpath_length)
# ---------------------------------------------------------------------------
_PASS_SCHEMA = {  # per _tile_flow_kernel emit mode
    "all": "row long, col long, acc {}, x_row long, x_col long, "
           "p_row long, p_col long, pdist double, kind int",
    "edges": EDGE_SCHEMA,
    "acc": "row long, col long, acc {}",
}
# {} (acc, val) is long in sum mode and double in max mode (longest
# upstream path).  "all" rows:
# kind 0: per-cell row — acc = tile-local accumulation; (p_row,p_col) = the
#         pit this cell drains to when its path TERMINATES in-tile, else
#         (x_row,x_col) = the out-of-tile cell its path crosses into.
# kind 1: cross-tile edge — cell (row,col) sends mass acc into (x_row,x_col).
# kind 2: border transit — border cell (row,col)'s path exits into
#         (x_row,x_col), or terminates at pit (p_row,p_col).
# "edges" = kinds 1-2 with acc as val and pdist as w (graph_masses' input).


def _decode_targets(rr, cc, code):
    has = code > 0
    j = np.zeros(len(rr), dtype=np.int64)
    j[has] = np.log2(code[has]).astype(np.int64)
    return has, rr + np.where(has, _D8_DR[j], 0), cc + np.where(has, _D8_DC[j], 0)


def _tile_flow_kernel(tile: int, is_max: bool = False, emit: str = "all"):
    """Tile-local D8 solve with external inflow ``ext``.  Sum mode counts
    1 + ext per cell; max mode is the max-plus Kahn of the LONGEST upstream
    path (step 1 / sqrt(2)), so its kind-1 value is the path length up to
    the entry cell across the tile edge.  Because a D8 cell has one
    outflow, all flow entering at a border cell follows a single path, and
    the condensed entry DAG carries both modes.

    ``emit`` selects the output (_PASS_SCHEMA): "all" = kinds 0-2,
    "edges" = kinds 1-2 only, as condense.graph_masses edge rows, "acc" =
    (row, col, acc) per cell, without the pointer jumping."""
    vdt = np.float64 if is_max else np.int64

    def kernel(key, pdf):
        tr, tc = int(key[0]), int(key[1])
        r0, c0 = tr * tile, tc * tile
        rr = pdf["row"].to_numpy(np.int64)
        cc = pdf["col"].to_numpy(np.int64)
        code = pdf["code"].to_numpy(np.int64)
        ext = (
            pdf["ext"].fillna(0).to_numpy(vdt)
            if "ext" in pdf.columns else np.zeros(len(rr), dtype=vdt)
        )
        n = len(rr)
        lr, lc = rr - r0, cc - c0
        h, w = int(lr.max()) + 1, int(lc.max()) + 1
        gid = np.full((h, w), -1, dtype=np.int64)
        gid[lr, lc] = np.arange(n)

        has, t_r, t_c = _decode_targets(rr, cc, code)
        t_lr, t_lc = t_r - r0, t_c - c0
        inb = has & (t_lr >= 0) & (t_lr < min(tile, h)) & (t_lc >= 0) & (t_lc < min(tile, w))
        tgt = np.full(n, -1, dtype=np.int64)
        tgt[inb] = gid[t_lr[inb], t_lc[inb]]
        internal = tgt >= 0  # D8 never targets a missing (nodata) cell
        cross = has & ~internal
        if "stop" in pdf.columns:
            # absorbing cells (e.g. stream cells for subbasin labeling):
            # their outflow is cut, so they terminate paths like pits
            stop = pdf["stop"].eq(True).to_numpy()
            internal = internal & ~stop
            cross = cross & ~stop
            tgt = np.where(stop, -1, tgt)

        step = np.where(
            has, np.where((t_r != rr) & (t_c != cc), _SQRT2, 1.0), 0.0
        )

        # --- tile-local accumulation, then the terminal of each cell's
        # within-tile path and the path distance to it
        accum = ext.copy() if is_max else 1 + ext
        route_functional(accum, tgt, internal, step, is_max)
        if emit == "acc":
            return pd.DataFrame({"row": rr, "col": cc, "acc": accum})
        dest, dd = chain_ends(tgt, internal, step)
        null = np.int64(-1)
        d_exits = cross[dest]  # terminal cell has an out-of-tile edge
        x_row = np.where(d_exits, t_r[dest], null)
        x_col = np.where(d_exits, t_c[dest], null)
        # path distance up to the NEXT TILE's entry cell (exit crossing step
        # included) or to the in-tile pit
        xstep = np.where(cross, step, 0.0)
        pdist = dd + xstep[dest]

        on_border = (
            (rr % tile == 0) | (rr % tile == tile - 1)
            | (cc % tile == 0) | (cc % tile == tile - 1)
        )
        xs = np.flatnonzero(cross)
        bs = np.flatnonzero(on_border)
        # kind 1: cross-tile out-edges with tile-local mass (max mode: the
        # longest path up to the target cell); kind 2: border-cell transit
        # map — graph_masses' edge rows
        edges = pd.DataFrame({
            "row": np.concatenate([rr[xs], rr[bs]]),
            "col": np.concatenate([cc[xs], cc[bs]]),
            "x_row": np.concatenate([t_r[xs], x_row[bs]]),
            "x_col": np.concatenate([t_c[xs], x_col[bs]]),
            "val": np.concatenate([
                accum[xs] + step[xs] if is_max else accum[xs],
                np.zeros(bs.size, dtype=vdt),
            ]),
            "w": np.concatenate([np.zeros(xs.size), pdist[bs]]),
            "kind": np.repeat(np.array([1, 2], dtype=np.int32),
                              [xs.size, bs.size]),
        })
        if emit == "edges":
            return edges
        # kind 0: per-cell local accumulation + path terminal
        p_row = np.where(d_exits, null, rr[dest])
        p_col = np.where(d_exits, null, cc[dest])
        no_pit = np.full(xs.size, null)
        return pd.concat([
            pd.DataFrame({
                "row": rr, "col": cc, "acc": accum, "x_row": x_row,
                "x_col": x_col, "p_row": p_row, "p_col": p_col,
                "pdist": pdist, "kind": np.zeros(n, dtype=np.int32),
            }),
            edges.rename(columns={"val": "acc", "w": "pdist"}).assign(
                p_row=np.concatenate([no_pit, p_row[bs]]),
                p_col=np.concatenate([no_pit, p_col[bs]]),
            ),
        ], ignore_index=True)

    return kernel


def _tile_pass(cells: DataFrame, tile: int, is_max: bool = False,
               emit: str = "all") -> DataFrame:
    """One _tile_flow_kernel pass over raster.with_tiles cells; `emit`
    picks the rows and columns returned (_PASS_SCHEMA)."""
    schema = _PASS_SCHEMA[emit].format("double" if is_max else "long")
    return tile_map(cells, ["_tr", "_tc"], _tile_flow_kernel(tile, is_max, emit), schema)


def _d8_accum(pointers: DataFrame, tile: int, out: str, *,
              weights: DataFrame | None = None, is_max: bool = False) -> DataFrame:
    """Shared body of the D8 accumulations (module docstring).  The tiled
    cells (with the weight seed) are persisted once, under the operator's
    _scratch tag and already partitioned by tile (raster.with_tiles), so
    the pointer kernel upstream runs once and neither pass shuffles them
    again.
    Pass A returns only the cross edges and border transits ("edges"),
    solved by ONE condense.graph_masses call (driver or distributed tier,
    chosen there); pass B reruns the kernel over the cached cells with each
    entry cell's solved external inflow as ``ext`` (0 when no flow crosses
    a tile edge) and returns only (row, col, acc).  Sum mode stays long end
    to end; max mode is double."""
    spark = pointers.sparkSession
    _scratch.release(spark, out)
    cells = pointers
    if weights is not None:  # the kernel seeds 1 + ext, so ext = w0 - 1
        cells = cells.join(
            weights.select("row", "col", "w0"), ["row", "col"], "left"
        ).withColumn(
            "ext", F.coalesce(F.col("w0") - F.lit(1), F.lit(0)).cast("long")
        ).drop("w0")
    cells = _scratch.track(spark, with_tiles(cells, tile).persist(), out)
    mass = graph_masses(
        _tile_pass(cells, tile, is_max, "edges"),
        group_cell=tile * 8, is_max=is_max,
    )
    if mass.isLocal():  # driver tier
        mass = F.broadcast(mass)
    ext = F.coalesce("mass", F.lit(0))
    pass_b = _tile_pass(
        cells.join(mass, ["row", "col"], "left").withColumn(
            "ext", ext + F.col("ext") if weights is not None else ext
        ).drop("mass"),
        tile, is_max, "acc",
    )
    acc = F.round("acc", 6).cast("double") if is_max else F.col("acc")
    return pass_b.select("row", "col", acc.alias(out))


def flow_accum(pointers: DataFrame, *, tile: int = TILE) -> DataFrame:
    """(row, col, accum): cells draining through each cell, incl. itself.

    Two tile-kernel passes + one condensed entry-graph solve (module
    docstring, _d8_accum) — wall time linear in cells, independent of path
    length."""
    return _d8_accum(pointers, tile, "accum")


def weighted_flow_accum(pointers: DataFrame, weights: DataFrame, *,
                        tile: int = TILE) -> DataFrame:
    """(row, col, waccum): integer-weighted D8 accumulation — waccum(c) =
    w0(c) + Σ w0(u) over strictly-upslope cells u (the building block of
    AverageUpslopeFlowpathLength.java: accumulate a per-cell quantity
    instead of a count).

    flow_accum with per-cell seed w0 in place of 1 (_d8_accum).  `weights`
    must cover every pointer cell with an integer column `w0` (scale
    fractional quantities to micro-units first).  The sums are long in
    both passes and in both tiers of the condensed solve, so integer sums
    keep the cross-engine bit-exactness the counting path has, for any
    sign and up to the long range."""
    return _d8_accum(pointers, tile, "waccum", weights=weights)


def avg_upslope_length(pointers: DataFrame, *, tile: int = TILE) -> DataFrame:
    """(row, col, avg_len): mean downslope flow-path length from each
    strictly-upslope cell to this cell (AverageUpslopeFlowpathLength.java),
    0 where no cell drains in.

    Identity: every upslope cell's path to c runs THROUGH c, so
    pathlen(u -> c) = D(u) - D(c) with D = downslope flow-path length to the
    terminal; hence avg(c) = (Σ_upslope D(u) - N·D(c)) / N.  Σ D over the
    upslope set is a weighted accumulation of the micro-scaled (exact
    integer) D field — no new kernel, three existing passes."""
    D = flowpath_length(pointers, tile=tile)
    dm = D.select(
        "row", "col",
        F.expr("CAST(FLOOR(fp_len * 1e6 + 0.5e0) AS BIGINT)").alias("w0"),
    )
    acc = flow_accum(pointers, tile=tile)
    w = weighted_flow_accum(pointers, dm, tile=tile)
    j = (
        w.join(dm, ["row", "col"]).join(acc, ["row", "col"])
    )
    return j.select(
        "row", "col",
        F.when(
            F.col("accum") > 1,
            F.expr(
                "FLOOR(CAST(waccum - accum * w0 AS DOUBLE) "
                "/ CAST(accum - 1 AS DOUBLE) + 0.5e0) / 1e6"
            ),
        ).otherwise(F.lit(0.0)).alias("avg_len"),
    )


def extract_streams(pointers: DataFrame, threshold: int) -> DataFrame:
    """Stream cells: accumulation >= threshold (ExtractStreams.java)."""
    return flow_accum(pointers).where(F.col("accum") >= threshold)


def _path_ends(pointers: DataFrame, tile: int, tag: str,
               stops: DataFrame | None = None) -> DataFrame:
    """(row, col, term_row, term_col, total): per cell, the terminal
    pit/flat (or first stop cell) its D8 path ends at and the path length
    to it (steps 1 / sqrt(2)) — the one body of watershed and
    flowpath_length.

    One tile-kernel pass, persisted under ``tag``; pending cells (path
    exits the tile) resolve via condense.chase_paths over the border
    transit map (an entry -> terminal and remaining-length lookup,
    broadcast when its driver tier ran).  Lengths add in path order on
    both tiers."""
    spark = pointers.sparkSession
    _scratch.release(spark, tag)
    cells = pointers
    if stops is not None:
        cells = cells.join(
            stops.select("row", "col").withColumn("stop", F.lit(True)),
            ["row", "col"], "left",
        )
    pass_a = _scratch.track(
        spark, _tile_pass(with_tiles(cells, tile), tile).persist(), tag
    )
    own = pass_a.where(F.col("kind") == 0)
    done = own.where(F.col("x_row") < 0).select(
        "row", "col", F.col("p_row").alias("term_row"),
        F.col("p_col").alias("term_col"), F.col("pdist").alias("total"),
    )
    rest = chase_paths(pass_a.where(F.col("kind") == 2).select(
        "row", "col", F.col("x_row").alias("t_row"),
        F.col("x_col").alias("t_col"), F.col("pdist").alias("w"),
        "p_row", "p_col",
    ))
    if rest.isLocal():  # driver tier
        rest = F.broadcast(rest)
    lut = rest.select(
        F.col("row").alias("x_row"), F.col("col").alias("x_col"),
        "term_row", "term_col", F.col("total").alias("rest"),
    )
    resolved = own.where(F.col("x_row") >= 0).join(
        lut, ["x_row", "x_col"], "inner"
    ).select(
        "row", "col", "term_row", "term_col",
        (F.col("pdist") + F.col("rest")).alias("total"),
    )
    return done.unionByName(resolved)


def watershed(pointers: DataFrame, *, tile: int = TILE,
              stops: DataFrame | None = None) -> DataFrame:
    """(row, col, ws): watershed label = flat id (row*1e6+col) of the
    terminal pit/flat each cell drains to (Watershed.java semantics),
    from _path_ends.

    stops: optional (row, col) absorbing set — paths terminate at the first
    stop cell hit (the Subbasins/Hillslopes building block)."""
    return _path_ends(pointers, tile, "watershed", stops).select(
        "row", "col",
        (F.col("term_row") * F.lit(1_000_000) + F.col("term_col")).alias("ws"),
    )


# ---------------------------------------------------------------------------
# depression filling (priority flood)
# ---------------------------------------------------------------------------
_OFFS8 = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]


def fill_depressions(cells: DataFrame, rows: int, cols: int, *,
                     tile: int = TILE) -> DataFrame:
    """FillDepressions (HydroTools/src/plugins/FillDepressions.java, 416;
    BreachDepressionsFast.java:759 is the breach variant): filled(c) =
    max(dem(c), min over 8-connected paths to an open cell of the path's
    max dem) — the minimax fixpoint priority-flood computes.

    Distributed formulation: iterative TILE-LOCAL priority floods under
    raster.halo_rounds (shared with cost.cost_distance).  Open (seed)
    cells — raster border or nodata-adjacent — start at dem, all others at
    +inf; each round ships the 1-cell border halo of the current filled
    state to neighbor tiles and re-floods every tile given those boundary
    estimates (sequential heap flood in numpy/heapq per tile).  Estimates
    decrease monotonically to the global fixpoint in O(tile-graph
    diameter) rounds, state O(cells).  Values are max/min selections of
    input cells (no float arithmetic), so results are exact against any
    oracle.

    cells: (row, col, dem) — non-nodata cells only.
    Returns (row, col, filled).
    """
    import heapq

    spark = cells.sparkSession
    INF = float("inf")

    # seed mask: raster border or any missing (nodata / off-grid) 8-neighbor
    offs_arr = F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc")) for dr, dc in _OFFS8
    ])
    probe = (
        cells.select("row", "col")
        .withColumn("_o", F.explode(offs_arr))
        .select(
            "row", "col",
            (F.col("row") + F.col("_o.dr")).alias("nr"),
            (F.col("col") + F.col("_o.dc")).alias("nc"),
        )
        .where((F.col("nr") >= 0) & (F.col("nr") < rows)
               & (F.col("nc") >= 0) & (F.col("nc") < cols))
    )
    nbr_live = probe.join(
        cells.select(F.col("row").alias("nr"), F.col("col").alias("nc")),
        ["nr", "nc"], "inner",
    ).groupBy("row", "col").agg(F.count(F.lit(1)).alias("_nlive"))
    ingrid = probe.groupBy("row", "col").agg(F.count(F.lit(1)).alias("_ngrid"))
    seeds = (
        cells.join(nbr_live, ["row", "col"], "left")
        .join(ingrid, ["row", "col"], "left")
        .select(
            "row", "col", "dem",
            (
                (F.col("row") == 0) | (F.col("row") == rows - 1)
                | (F.col("col") == 0) | (F.col("col") == cols - 1)
                | (F.coalesce("_nlive", F.lit(0)) < F.coalesce("_ngrid", F.lit(0)))
            ).alias("seed"),
        )
    )

    state = seeds.select(
        "row", "col", "dem", "seed",
        F.when(F.col("seed"), F.col("dem")).otherwise(F.lit(INF)).alias("filled"),
    )

    def kernel(key, pdf):
        r0, c0 = int(key[0]) * tile, int(key[1]) * tile
        own = pdf[~pdf["is_ext"].to_numpy()]
        # local grid with 1-cell margin for external halo cells
        lr = pdf["row"].to_numpy(np.int64) - r0 + 1
        lc = pdf["col"].to_numpy(np.int64) - c0 + 1
        H, W = tile + 2, tile + 2
        dem = np.full((H, W), np.nan)
        fil = np.full((H, W), INF)
        is_own = np.zeros((H, W), dtype=bool)
        dem[lr, lc] = pdf["dem"].to_numpy(np.float64)
        fil[lr, lc] = pdf["filled"].to_numpy(np.float64)
        is_own[lr, lc] = ~pdf["is_ext"].to_numpy()
        old = fil.copy()
        heap = [
            (fil[r, c], int(r), int(c))
            for r, c in zip(*np.nonzero(~np.isnan(dem)))
            if fil[r, c] < INF
        ]
        heapq.heapify(heap)
        while heap:
            f, r, c = heapq.heappop(heap)
            if f > fil[r, c]:
                continue
            for dr, dc in _OFFS8:
                nr, nc = r + dr, c + dc
                if 0 <= nr < H and 0 <= nc < W and is_own[nr, nc]:
                    nf = dem[nr, nc] if dem[nr, nc] > f else f
                    if nf < fil[nr, nc]:
                        fil[nr, nc] = nf
                        heapq.heappush(heap, (nf, nr, nc))
        orr = own["row"].to_numpy(np.int64)
        occ = own["col"].to_numpy(np.int64)
        new_f = fil[orr - r0 + 1, occ - c0 + 1]
        chg = (new_f < old[orr - r0 + 1, occ - c0 + 1]).astype(np.int32)
        return pd.DataFrame({
            "row": orr, "col": occ,
            "dem": own["dem"].to_numpy(np.float64),
            "seed": own["seed"].to_numpy(bool),
            "filled": new_f, "changed": chg,
        })

    state = halo_rounds(
        state, kernel, "row long, col long, dem double, seed boolean, "
        "filled double, changed int", tile=tile,
        what="fill_depressions",
    )
    out = state.select("row", "col", "filled")
    _scratch.release(spark, "fill")
    _scratch.track(spark, state, "fill")
    return out


# ---------------------------------------------------------------------------
# subbasins / hillslopes (Subbasins.java:389, Hillslopes.java:525)
# ---------------------------------------------------------------------------
def _stream_cells(pointers: DataFrame, threshold: int, tile: int, tag: str):
    """(pointers, stream): the pointer frame and its stream cells (flow
    accumulation >= threshold), each persisted under ``tag`` unless
    plan-equal data is already cached (_scratch.persist).  The pointers
    feed flow_accum (2 kernel passes), the stream-edge build and the
    labeling; without the stream cache every driver action of the link
    operators would recompute the pointer + accumulation lineage."""
    spark = pointers.sparkSession
    _scratch.release(spark, tag)
    pointers = _scratch.persist(spark, pointers, tag)
    stream = flow_accum(pointers, tile=tile).where(F.col("accum") >= threshold)
    return pointers, _scratch.persist(spark, stream.select("row", "col"), tag)


def _stream_edge_tables(pointers: DataFrame, stream: DataFrame):
    """(sedge, junc, kept): stream flow edges, junction targets, and the
    junction-cut edge set — shared by the link-labeling family."""
    dr, dc, _ = _d8_step()
    sd = (
        stream.join(pointers, ["row", "col"], "inner")
        .where(F.col("code") > 0)
        .select("row", "col",
                (F.col("row") + dr).alias("nr"), (F.col("col") + dc).alias("nc"))
    )
    st_t = stream.select(F.col("row").alias("nr"), F.col("col").alias("nc"))
    sedge = sd.join(st_t, ["nr", "nc"], "left_semi")
    junc = (
        sedge.groupBy("nr", "nc").agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= 2).select("nr", "nc")
    )
    kept = sedge.join(junc, ["nr", "nc"], "left_anti")
    return sedge, junc, kept


def subbasins(pointers: DataFrame, threshold: int = 5, *,
              tile: int = TILE) -> DataFrame:
    """(row, col, sub): each cell labeled by the junction-cut stream LINK it
    first drains into (Subbasins.java semantics); cells whose path reaches a
    pit before any stream cell get -1 (non-contributing).

    Physical: watershed with the stream cells as an ABSORBING set (paths
    terminate at first stream contact), then a terminal -> link-label join."""
    from .clump import components_from_edges

    pointers, stream = _stream_cells(pointers, threshold, tile, "subbasins")
    _sedge, _junc, kept = _stream_edge_tables(pointers, stream)
    lab = components_from_edges(stream, kept, tile=tile)
    ws = watershed(pointers, tile=tile, stops=stream)
    slab = lab.select(
        (F.col("row") * F.lit(1_000_000) + F.col("col")).alias("ws"),
        F.col("label").alias("sub"),
    )
    return ws.join(slab, "ws", "left").select(
        "row", "col", F.coalesce("sub", F.lit(-1)).alias("sub")
    )


def isobasin(pointers: DataFrame, target: int, *, tile: int = TILE) -> DataFrame:
    """(row, col, basin): equal-target-area basin decomposition
    (HydroTools/src/plugins/Isobasin.java:434 semantics, deterministic
    crossing form): an OUTLET is the first cell along each flow path whose
    accumulation reaches `target` (acc >= target while every upstream D8
    neighbor is still < target — accumulation is monotone along flow, so
    each path crosses exactly once); every cell is labeled with the flat id
    of the first outlet at-or-downstream of it, -1 for trunk/pit cells whose
    path never meets an outlet (they crossed upstream already).

    Composition: flow_accum + one edge aggregation for the crossing test +
    watershed with the outlets as the absorbing set — all existing
    tile-kernel machinery, no new iteration."""
    spark = pointers.sparkSession
    _scratch.release(spark, "isobasin")
    pointers = _scratch.persist(spark, pointers, "isobasin")
    acc = flow_accum(pointers, tile=tile)
    dr, dc, _ = _d8_step()
    edges = pointers.where(F.col("code") > 0).select(
        "row", "col",
        (F.col("row") + dr).alias("nr"), (F.col("col") + dc).alias("nc"),
    )
    upmax = (
        edges.join(acc, ["row", "col"])
        .groupBy(F.col("nr").alias("row"), F.col("nc").alias("col"))
        .agg(F.max("accum").alias("_upmax"))
    )
    outlets = _scratch.track(
        spark,
        acc.join(upmax, ["row", "col"], "left")
        .where(
            (F.col("accum") >= target)
            & (F.coalesce("_upmax", F.lit(0)) < target)
        )
        .select("row", "col")
        .persist(),
        "isobasin",
    )
    ws = watershed(pointers, tile=tile, stops=outlets)
    obas = outlets.select(
        (F.col("row") * F.lit(1_000_000) + F.col("col")).alias("ws"),
        (F.col("row") * F.lit(1_000_000) + F.col("col")).alias("basin"),
    )
    return ws.join(obas, "ws", "left").select(
        "row", "col", F.coalesce("basin", F.lit(-1)).alias("basin")
    )


def hillslopes(pointers: DataFrame, threshold: int = 5, *,
               tile: int = TILE) -> DataFrame:
    """(row, col, hs): Hillslopes.java semantics — stream cells get
    hs = 3 * link + 2 (channel); every other contributing cell gets
    3 * link + side, where side (0/1) is the bank its flow path enters the
    stream from: the sign of the cross product between the receiving stream
    cell's own flow direction and the entry direction (0 for headwater-style
    entries parallel/anti-parallel to the stream, e.g. into a link head or a
    stream pit).  Non-contributing cells get -1.

    Physical: watershed absorbed at ENTRY cells (the last non-stream cell of
    each path — cells whose D8 target is a stream cell); the entry cell's
    (link, side) broadcast back over its catch."""
    from .clump import components_from_edges

    pointers, stream = _stream_cells(pointers, threshold, tile, "hillslopes")
    _sedge, _junc, kept = _stream_edge_tables(pointers, stream)
    lab = components_from_edges(stream, kept, tile=tile)

    dr, dc, _ = _d8_step()
    ptr_t = pointers.select(
        "row", "col",
        F.when(F.col("code") > 0, F.col("row") + dr).otherwise(F.lit(None)).alias("nr"),
        F.when(F.col("code") > 0, F.col("col") + dc).otherwise(F.lit(None)).alias("nc"),
    )
    # entry cells: non-stream cells flowing INTO a stream cell
    entry = (
        ptr_t.join(stream, ["row", "col"], "left_anti")
        .join(
            stream.select(F.col("row").alias("nr"), F.col("col").alias("nc")),
            ["nr", "nc"], "left_semi",
        )
    )
    # side: cross product of the stream cell's flow direction with the entry
    # direction (entry -> stream)
    sdir = ptr_t.join(stream, ["row", "col"], "left_semi").select(
        F.col("row").alias("nr"), F.col("col").alias("nc"),
        (F.col("nr") - F.col("row")).alias("_sdr"),
        (F.col("nc") - F.col("col")).alias("_sdc"),
    )
    slab = lab.select(
        F.col("row").alias("nr"), F.col("col").alias("nc"),
        F.col("label").alias("_link"),
    )
    cross = (F.col("_sdr") * (F.col("nc") - F.col("col"))
             - F.col("_sdc") * (F.col("nr") - F.col("row")))
    entry_hs = (
        entry.join(sdir, ["nr", "nc"], "left")
        .join(slab, ["nr", "nc"], "inner")
        .select(
            (F.col("row") * F.lit(1_000_000) + F.col("col")).alias("ws"),
            (F.col("_link") * 3 + F.when(
                F.coalesce(cross, F.lit(0)) > 0, F.lit(1)
            ).otherwise(F.lit(0))).alias("hs"),
        )
    )
    ws = watershed(pointers, tile=tile, stops=entry.select("row", "col"))
    chan = lab.select(
        "row", "col", (F.col("label") * 3 + F.lit(2)).alias("hs")
    )
    nonstream = (
        ws.join(stream, ["row", "col"], "left_anti")
        .join(entry_hs, "ws", "left")
        .select("row", "col", F.coalesce("hs", F.lit(-1)).alias("hs"))
    )
    return nonstream.unionByName(chan.select("row", "col", "hs"))


# ---------------------------------------------------------------------------
# depression breaching (constrained-window, BreachDepressions.java)
# ---------------------------------------------------------------------------
BREACH_EPS = 2.0 ** -12  # dyadic decrement: carved channels strictly descend


def breach_depressions(cells: DataFrame, *, max_length: int = 8,
                       tile: int = TILE, eps: float = BREACH_EPS) -> DataFrame:
    """(row, col, breached): constrained depression breaching —
    HydroTools/src/plugins/BreachDepressions.java semantics (per-pit search
    within a maximum breach length, carve the least-cost channel), the
    recommended DEM conditioning path where filling would flatten flow paths.

    For each pit p (cell with no lower 8-neighbor, not draining off-grid), a
    bounded Dijkstra over the <= max_length-step window finds the target cell
    with dem < elev(p) - steps*eps minimizing (total carve depth, steps, row,
    col); the path cells are carved to elev(p) - k*eps (k = path position),
    a strictly descending channel.  Overlapping carves merge with MIN.  Pits
    with no target inside the window stay (compose with fill_depressions for
    the standard hybrid conditioning).

    Distributed shape: ONE tile kernel pass with a max_length-cell halo
    (the search is local by construction, so tile output is identical to the
    global sequential algorithm — tile-size invariance is tested), then a
    (row, col) min-merge of carve assignments back onto the DEM.  All
    arithmetic is dyadic-exact (dem multiples of 2^-10, eps = 2^-12), so
    tie-breaks are deterministic across engines and tilings.
    """
    import heapq

    spark = cells.sparkSession
    m = int(max_length)
    base = cells.select(
        "row", "col", F.col("dem").cast("double").alias("dem"),
        *tile_key(tile, F.col("row"), F.col("col")),
    )
    own = base.withColumn("is_ext", F.lit(False))
    offs_arr = F.array(*[
        F.struct(F.lit(a).alias("dtr"), F.lit(b).alias("dtc")) for a, b in _OFFS8
    ])
    rm = F.col("row") % tile
    cm = F.col("col") % tile
    near = (
        (rm < m) | (rm >= tile - m) | (cm < m) | (cm >= tile - m)
    )
    halo = (
        base.where(near)
        .withColumn("_o", F.explode(offs_arr))
        .where(
            ((F.col("_o.dtr") == 0)
             | ((F.col("_o.dtr") == -1) & (rm < m))
             | ((F.col("_o.dtr") == 1) & (rm >= tile - m)))
            & ((F.col("_o.dtc") == 0)
               | ((F.col("_o.dtc") == -1) & (cm < m))
               | ((F.col("_o.dtc") == 1) & (cm >= tile - m)))
        )
        .select(
            "row", "col", "dem",
            (F.col("_tr") + F.col("_o.dtr")).alias("_tr"),
            (F.col("_tc") + F.col("_o.dtc")).alias("_tc"),
            F.lit(True).alias("is_ext"),
        )
        .where((F.col("_tr") >= 0) & (F.col("_tc") >= 0))
    )

    def kernel(key, pdf):
        tr, tc = int(key[0]), int(key[1])
        r0, c0 = tr * tile - m, tc * tile - m
        H = W = tile + 2 * m
        dem = np.full((H, W), np.nan)
        is_own = np.zeros((H, W), dtype=bool)
        lr = pdf["row"].to_numpy(np.int64) - r0
        lc = pdf["col"].to_numpy(np.int64) - c0
        keep = (lr >= 0) & (lr < H) & (lc >= 0) & (lc < W)
        lr, lc = lr[keep], lc[keep]
        dem[lr, lc] = pdf["dem"].to_numpy(np.float64)[keep]
        np.logical_or.at(is_own, (lr, lc), ~pdf["is_ext"].to_numpy()[keep])
        valid = ~np.isnan(dem)
        # pits among OWN cells: every 8-neighbor present and none lower
        pad = np.full((H + 2, W + 2), np.nan)
        pad[1:-1, 1:-1] = dem
        all_nb = np.ones((H, W), dtype=bool)
        any_lower = np.zeros((H, W), dtype=bool)
        for dr, dc in _OFFS8:
            nb = pad[1 + dr:1 + dr + H, 1 + dc:1 + dc + W]
            all_nb &= ~np.isnan(nb)
            with np.errstate(invalid="ignore"):
                any_lower |= nb < dem
        # cells at the raster boundary (not merely at the halo margin) drain
        # off-grid: their missing neighbors are genuine, so all_nb False
        pits = valid & is_own & all_nb & ~any_lower
        carves: dict[tuple[int, int], float] = {}
        for pr, pc in zip(*np.nonzero(pits)):
            p = dem[pr, pc]
            # bounded Dijkstra: state (cost, steps, r, c); carve depth at a
            # visited cell k steps out = max(0, dem - (p - k*eps))
            best: dict[tuple[int, int], tuple[float, int]] = {(pr, pc): (0.0, 0)}
            pred: dict[tuple[int, int], tuple[int, int]] = {}
            heap = [(0.0, 0, int(pr), int(pc))]
            target = None  # (cost, steps, r, c)
            while heap:
                cost, steps, r, c = heapq.heappop(heap)
                if best.get((r, c), (np.inf, 0)) < (cost, steps):
                    continue
                if target is not None and (cost, steps) >= target[:2]:
                    break
                if steps >= m:
                    continue
                for dr, dc in _OFFS8:
                    nr, nc = r + dr, c + dc
                    if not (0 <= nr < H and 0 <= nc < W) or np.isnan(dem[nr, nc]):
                        continue
                    need = p - (steps + 1) * eps
                    if dem[nr, nc] < need:
                        cand = (cost, steps + 1, nr, nc)
                        if target is None or cand < target:
                            target = cand
                            # pred of the target hop is pinned separately:
                            # (nr, nc) may later be relaxed as an ordinary
                            # cell and overwrite pred[(nr, nc)]
                            tpred = (r, c)
                        continue
                    ncost = cost + (dem[nr, nc] - need)
                    prevb = best.get((nr, nc))
                    if prevb is None or (ncost, steps + 1) < prevb:
                        best[(nr, nc)] = (ncost, steps + 1)
                        pred[(nr, nc)] = (r, c)
                        heapq.heappush(heap, (ncost, steps + 1, nr, nc))
            if target is None:
                continue
            # carve the path (exclusive of pit and target); settled cells'
            # pred entries are final (standard Dijkstra), the target's own
            # hop comes from tpred
            _, tsteps, tr_, tc_ = target
            path = [(tr_, tc_)]
            cur = tpred
            while cur != (int(pr), int(pc)):
                path.append(cur)
                cur = pred[cur]
            path.reverse()  # pit-adjacent first; last element is the target
            for k, (r, c) in enumerate(path[:-1], start=1):
                v = p - k * eps
                old = carves.get((r, c))
                if old is None or v < old:
                    carves[(r, c)] = v
        rows = [(r0 + r, c0 + c, v) for (r, c), v in carves.items()]
        return pd.DataFrame(rows, columns=["row", "col", "carved"]) if rows else \
            pd.DataFrame({"row": pd.Series([], dtype="int64"),
                          "col": pd.Series([], dtype="int64"),
                          "carved": pd.Series([], dtype="float64")})

    carve_df = (
        tile_map(own.unionByName(halo), ["_tr", "_tc"], kernel,
                 "row long, col long, carved double")
        .groupBy("row", "col")
        .agg(F.min("carved").alias("carved"))
    )
    return (
        cells.select("row", "col", F.col("dem").cast("double").alias("dem"))
        .join(carve_df, ["row", "col"], "left")
        .select(
            "row", "col",
            F.least(F.col("dem"), F.coalesce("carved", F.col("dem"))).alias("breached"),
        )
    )


# ---------------------------------------------------------------------------
# stream network measures (StreamNetworkAnalysisTools)
# ---------------------------------------------------------------------------
def _links_meta(all_links, dag_pairs):
    """Strahler / Shreve / main-stem over the link DAG (driver Kahn) —
    shared by the full-driver and labeling-distributed tiers."""
    ups: dict[int, list[int]] = {}
    downs: dict[int, int] = {}
    for up, dn in dag_pairs:
        ups.setdefault(int(dn), []).append(int(up))
        downs[int(up)] = int(dn)
    strahler: dict[int, int] = {}
    mag: dict[int, int] = {}
    pending = {l: len(ups.get(l, [])) for l in all_links}
    stack = [l for l in all_links if pending[l] == 0]
    while stack:
        l = stack.pop()
        u = ups.get(l, [])
        if not u:
            strahler[l], mag[l] = 1, 1
        else:
            mx = max(strahler[x] for x in u)
            tie = sum(1 for x in u if strahler[x] == mx) >= 2
            strahler[l] = mx + 1 if tie else mx
            mag[l] = sum(mag[x] for x in u)
        d = downs.get(l)
        if d is not None and d in pending:
            pending[d] -= 1
            if pending[d] == 0:
                stack.append(d)
    # main stem: outlets walk upstream by max (magnitude, -link)
    main: set[int] = set()
    for outlet in (l for l in all_links if l not in downs):
        cur = outlet
        while True:
            main.add(cur)
            u = ups.get(cur, [])
            if not u:
                break
            cur = max(u, key=lambda x: (mag[x], -x))
    return strahler, mag, main


def _stream_network_driver(spark, tagged: pd.DataFrame) -> DataFrame:
    """Tier-1 solve: the whole stream graph fits the driver guard.  tagged
    holds node rows (nr = -1) and edge rows; all labeling/link logic runs in
    Python, identical semantics to the distributed tiers (junction-cut
    union-find with min-flat-id labels, condense.min_label_roots, then
    _links_meta)."""
    idmul = 1_000_000
    is_node = tagged["nr"].to_numpy() < 0
    nrow = tagged["row"].to_numpy(np.int64)
    ncol = tagged["col"].to_numpy(np.int64)
    nids = nrow[is_node] * idmul + ncol[is_node]
    e = tagged[~is_node]
    src = e["row"].to_numpy(np.int64) * idmul + e["col"].to_numpy(np.int64)
    dst = e["nr"].to_numpy(np.int64) * idmul + e["nc"].to_numpy(np.int64)
    diag = (
        (e["row"].to_numpy(np.int64) != e["nr"].to_numpy(np.int64))
        & (e["col"].to_numpy(np.int64) != e["nc"].to_numpy(np.int64))
    )
    from collections import Counter

    indeg = Counter(dst.tolist())
    is_junc = np.array([indeg[int(d)] >= 2 for d in dst], dtype=bool)

    label = dict(zip(
        nids.tolist(),
        min_label_roots(src[~is_junc], dst[~is_junc], nids).tolist(),
    ))
    n_cells: dict[int, int] = {}
    for i in nids:
        l = label[int(i)]
        n_cells[l] = n_cells.get(l, 0) + 1
    length: dict[int, float] = {}
    order = np.argsort(src[~is_junc], kind="stable")  # deterministic sum order
    ks, kd = src[~is_junc][order], diag[~is_junc][order]
    for a, dg in zip(ks, kd):
        l = label[int(a)]
        length[l] = length.get(l, 0.0) + (_SQRT2 if dg else 1.0)
    dag_pairs = {
        (label[int(a)], label[int(b)])
        for a, b in zip(src[is_junc], dst[is_junc])
        if label[int(a)] != label[int(b)]
    }
    all_links = sorted(n_cells)
    strahler, mag, main = _links_meta(all_links, dag_pairs)
    rows = [
        (l, strahler[l], mag[l], n_cells[l], length.get(l, 0.0), l in main)
        for l in all_links
    ]
    out = spark.createDataFrame(
        rows,
        "link long, strahler long, magnitude long, n_cells long, "
        "length double, main_stem boolean",
    )
    # final rounding stays Spark-side so the HALF_UP policy matches the
    # distributed tiers / the oracle exactly
    return out.select(
        "link", "strahler", "magnitude", "n_cells",
        F.round("length", 6).cast("double").alias("length"), "main_stem",
    ).orderBy("link")


def stream_network(pointers: DataFrame, threshold: int = 5, *,
                   tile: int = TILE) -> DataFrame:
    """Link-level stream measures over the D8 network:

      StreamLinkID      StreamNetworkAnalysisTools/src/plugins/StreamLinkID.java
                        — links break at junctions (cells receiving >= 2
                        stream in-edges); expressed here by CUTTING edges
                        into junction cells before component labeling, so
                        the junction cell heads the downstream link.
      StreamOrder       StreamOrder.java (364) — Strahler: headwaters 1; at
                        a junction max of tributary orders, +1 on a tie.
      StreamMagnitude   StreamMagnitude.java (365) — Shreve source count.
      StreamLinkLength  StreamLinkLength.java (370) — sum of in-link step
                        lengths (1 / sqrt(2) per D8 step).
      FindMainStem      FindMainStem.java (347) — from each outlet walk
                        upstream choosing the max-magnitude tributary
                        (tie-break: smaller link id).

    Physical shape: stream cells + edges are Spark-side (joins/groupBys);
    link labeling reuses the tile union-find CC (components_from_edges);
    the LINK DAG is condensed (√N-ish) and is solved on the driver like the
    flow-accum boundary graph (size-guarded).

    Returns (link, strahler, magnitude, n_cells, length, main_stem).
    """
    from .clump import components_from_edges

    spark = pointers.sparkSession
    pointers, stream = _stream_cells(pointers, threshold, tile, "streamnet")
    sedge, junc, kept = _stream_edge_tables(pointers, stream)

    # tier 1: the stream table itself is condensed relative to the raster
    # (a threshold-selected fraction); when it fits the driver guard, ONE
    # tagged collect of nodes+edges replaces the distributed labeling, all
    # link logic runs in plain Python, and the link-sized result is a single
    # createDataFrame — the dominant bench cost was five Spark actions over
    # grouped-pandas lineage (VERDICT r2 wrong #6)
    tagged = collect_guarded(stream.select(
        "row", "col", F.lit(-1).alias("nr"), F.lit(-1).alias("nc")
    ).unionByName(sedge), 2)
    if tagged is not None:
        return _stream_network_driver(spark, tagged)

    # tier 2/3: distributed link labeling (tile union-find CC); link tables
    # solved on the driver under guard, else via condense.solve_links
    # kept and cut read the persisted sedge: the cache is matched by plan
    # when they execute
    _scratch.track(spark, sedge.persist(), "streamnet")
    cut = sedge.join(junc, ["nr", "nc"], "left_semi")

    lab = components_from_edges(stream, kept, tile=tile)

    n_cells = lab.groupBy("label").agg(F.count(F.lit(1)).alias("n_cells"))
    dist = F.when((F.col("row") != F.col("nr")) & (F.col("col") != F.col("nc")),
                  F.lit(_SQRT2)).otherwise(F.lit(1.0))
    length = (
        kept.join(lab, ["row", "col"], "inner")
        .groupBy("label").agg(F.round(F.sum(dist), 6).cast("double").alias("length"))
    )
    lu = lab.select(F.col("row"), F.col("col"), F.col("label").alias("_up"))
    lv = lab.select(F.col("row").alias("nr"), F.col("col").alias("nc"),
                    F.col("label").alias("_dn"))
    ldag = (
        cut.join(lu, ["row", "col"], "inner").join(lv, ["nr", "nc"], "inner")
        .select(F.col("_up").alias("up"), F.col("_dn").alias("dn")).distinct()
    )

    # ONE driver action for both condensed tables (tagged union — VERDICT r2
    # wrong #6 fused the links/dag collects)
    nl = n_cells.join(length, "label", "left")
    combo = nl.select(
        F.lit(0).alias("_t"), F.col("label").alias("a"),
        F.col("n_cells").alias("b"), F.col("length").alias("c"),
    ).unionByName(ldag.select(
        F.lit(1).alias("_t"), F.col("up").alias("a"),
        F.col("dn").alias("b"), F.lit(None).cast("double").alias("c"),
    ))
    pdf = collect_guarded(combo, 2)
    if pdf is None:
        # distributed fallback: frontier Kahn + pred-chain doubling over the
        # link DAG (operators/condense.py)
        meta = solve_links(nl.select("label"), ldag)
        return (
            nl.join(meta, "label", "inner")
            .select(
                F.col("label").alias("link"),
                F.col("strahler").cast("long").alias("strahler"),
                F.col("magnitude").cast("long").alias("magnitude"),
                "n_cells",
                F.coalesce("length", F.lit(0.0)).alias("length"),
                "main_stem",
            )
            .orderBy("link")
        )
    links_pd = pdf[pdf["_t"] == 0]
    dag_pd = pdf[pdf["_t"] == 1].rename(columns={"a": "up", "b": "dn"})
    all_links = [int(x) for x in links_pd["a"]]
    strahler, mag, main = _links_meta(
        all_links, zip(dag_pd["up"], dag_pd["dn"])
    )
    # the full result is link-sized (under guard): build it driver-side —
    # no extra joins or broadcast, one createDataFrame
    import math as _math

    rows = [
        (
            l, strahler[l], mag[l], int(nc),
            0.0 if (ln is None or (isinstance(ln, float) and _math.isnan(ln)))
            else float(ln),
            l in main,
        )
        for l, nc, ln in zip(all_links, links_pd["b"], links_pd["c"])
    ]
    return spark.createDataFrame(
        rows,
        "link long, strahler long, magnitude long, n_cells long, "
        "length double, main_stem boolean",
    ).orderBy("link")


# ---------------------------------------------------------------------------
# FD8 multiple-flow-direction accumulation
# ---------------------------------------------------------------------------
_WS_SCHEMA = "row long, col long, ws array<double>"
_MFD_GROUP = 512  # fd8_accum's level-0 group side: <= (4 * 512)^2 rows out


def fd8_weights(tiles: DataFrame) -> DataFrame:
    """(row, col, ws array<double>[8]): FD8 outflow fractions per D8
    neighbor — positive downslope gradients normalized to sum 1 (Freeman
    1991 with p=1; HydroTools/src/plugins/FlowAccumFD8.java semantics).
    One halo-strip stencil pass; cells with no downslope neighbor (pits)
    get all-zero weights."""

    def kernel(c, pad):
        h, w = int(c.h), int(c.w)
        centerv = pad[1:h + 1, 1:w + 1]
        s = np.zeros((8, h, w))
        for j, (dr, dc, dist) in enumerate(D8_OFFS):
            nb = pad[1 + dr:1 + dr + h, 1 + dc:1 + dc + w]
            with np.errstate(invalid="ignore"):
                g = (centerv - nb) / dist
            s[j] = np.where(np.isnan(g), 0.0, np.maximum(g, 0.0))
        tot = s.sum(axis=0)
        with np.errstate(invalid="ignore", divide="ignore"):
            ws = np.where(tot > 0.0, s / tot, 0.0)
        return cell_rows(c, ~np.isnan(centerv), ws=ws)

    return stencil(tiles, kernel, _WS_SCHEMA)


# sector s of the D-infinity angle (counter-clockwise from east, 45-degree
# sectors) splits flow between its bounding directions; indices into the
# fixed D8_OFFS order (NW,N,NE,W,E,SW,S,SE)
DINF_FD = [4, 2, 1, 0, 3, 5, 6, 7]  # floor direction of sector s
DINF_CD = [2, 1, 0, 3, 5, 6, 7, 4]  # ceil direction of sector s


def dinf_ws_exprs() -> list:
    """Shared SQL (engine = oracle verbatim): the 8 D-infinity outflow
    weights over an `angle` column — w2 = sector fraction to the ceil
    direction, 1 - w2 to the floor direction; pits (angle < 0) all-zero."""
    q = "(angle / (PI() / 4e0))"
    w2 = f"({q} - FLOOR({q}))"
    s = f"(CAST(FLOOR({q}) AS BIGINT) % 8)"
    out = []
    for k in range(8):
        sf, sc = DINF_FD.index(k), DINF_CD.index(k)
        out.append(
            f"(CASE WHEN angle < 0e0 THEN 0e0 WHEN {s} = {sf} "
            f"THEN 1e0 - {w2} ELSE 0e0 END) + "
            f"(CASE WHEN angle < 0e0 THEN 0e0 WHEN {s} = {sc} "
            f"THEN {w2} ELSE 0e0 END)"
        )
    return out


def dinf_weights(tiles: DataFrame) -> DataFrame:
    """(row, col, ws array<double>[8]): Tarboton D-infinity outflow split
    (FlowAccumDinf.java semantics) — the flow angle distributes between the
    two directions bounding its 45-degree sector.  Defined over cells with a
    full 8-neighborhood (the flow_pointer_dinf support); mass flowing into
    cells outside that support is dropped identically in engine and oracle."""
    d = flow_pointer_dinf(tiles)
    ws = F.array(*[F.expr(e) for e in dinf_ws_exprs()])
    return d.select("row", "col", ws.alias("ws"))


def mdinf_weights(tiles: DataFrame) -> DataFrame:
    """(row, col, ws array<double>[8]): MD-infinity multiple-direction split
    (GeasyTools FlowAccumMDInf.java, Seibert & McGlynn 2007, exponent p = 1
    so the weight chain is pure arithmetic and shared exactly with the SQL
    oracle): every positive-slope facet contributes its slope, divided
    between its two bounding directions by the within-facet angle; direction
    weights normalize by the facet-slope total.  Full 3x3 support, like the
    D-infinity pointer."""
    off_idx = {(dr, dc): i for i, (dr, dc, _) in enumerate(D8_OFFS)}

    def kernel(c, pad):
        h, w = int(c.h), int(c.w)
        wdir = np.zeros((8, h, w))
        tot = np.zeros((h, w))
        for (e1, e2, _, _), (r, s) in zip(_DINF_FACETS, _facet_slopes(pad, h, w)):
            sk = np.where(s > 0.0, s, 0.0)
            sk = np.where(np.isnan(sk), 0.0, sk)
            # quantize the facet angle before the split: numpy and the
            # oracle's libm atan2 may differ in the last ulp
            rq = np.floor(r * 1e6 + 0.5) / 1e6
            d1, d2 = off_idx[e1], off_idx[e2]
            wdir[d1] = wdir[d1] + sk * (1.0 - rq / _QPI)
            wdir[d2] = wdir[d2] + sk * (rq / _QPI)
            tot = tot + sk
        with np.errstate(invalid="ignore", divide="ignore"):
            ws = np.where(tot > 0.0, wdir / tot, 0.0)
        return cell_rows(c, _full_window(pad, h, w), ws=ws)

    return stencil(tiles, kernel, _WS_SCHEMA)


def mdinf_accum(tiles: DataFrame, *, tile: int = TILE,
                decimals: int = 4) -> DataFrame:
    """(row, col, accum): MD-infinity accumulation
    (GeasyTools/.../FlowAccumMDInf.java:631) — fd8_accum's MFD tile solve
    and condensed border system with the all-facet weight split."""
    return fd8_accum(tiles, tile=tile, decimals=decimals,
                     weights=mdinf_weights(tiles))


def dinf_accum(tiles: DataFrame, *, tile: int = TILE,
               decimals: int = 4) -> DataFrame:
    """(row, col, accum): D-infinity fractional accumulation
    (HydroTools FlowAccumDinf.java:490) — fd8_accum's MFD tile solve and
    condensed border system with the Tarboton two-direction weight split."""
    return fd8_accum(tiles, tile=tile, decimals=decimals,
                     weights=dinf_weights(tiles))


def mass_flux_dinf(tiles: DataFrame, fields: DataFrame, *, tile: int = TILE,
                   decimals: int = 4) -> DataFrame:
    """(row, col, flux): D-infinity mass transport —
    GeasyTools/src/plugins/MassFluxDinf.java:300-390 semantics:
    flux(c) = load(c) + sum over Dinf-upslope neighbors u of
    w(u->c) * eff(u) * (flux(u) - absorp(u)).  Unlike the D8 variant the
    reference applies NO zero clamp, so the transport is affine-linear and
    runs through fd8_accum's two-pass condensed border solve.
    fields: (row, col, load, eff, absorp)."""
    return fd8_accum(
        tiles, tile=tile, decimals=decimals,
        weights=dinf_weights(tiles), fields=fields,
    ).withColumnRenamed("accum", "flux")


def _mfd_solve(tile: int, key, pdf: pd.DataFrame, resp: bool):
    """The one MFD tile solve behind fd8_accum's two passes
    (condense.solve_with_exits over the tile's weighted flow edges): the
    mass a(c) = load(c) + ext(c) + Σ we(u->c) * (a(u) - absorp(u)) over
    in-tile upslope u (ext = 0 when absent).  Flow targets that are not
    tile cells (across the border, or nodata) are exits; with ``resp``
    their rows carry the responses to a unit inflow at each perimeter cell
    (the only cells that receive cross-tile mass; the absorption offset is
    affine, so it stays out of them).  Returns the exits' graph_masses edge
    rows (pass 1, ``resp``) or the cells' (row, col, acc) (pass 2)."""
    r0, c0 = int(key[0]) * tile, int(key[1]) * tile
    rr = pdf["row"].to_numpy(np.int64)
    cc = pdf["col"].to_numpy(np.int64)
    n = len(rr)
    ws = np.asarray([list(x) for x in pdf["ws"]], dtype=np.float64)  # (n, 8)
    # affine-transport fields (mass flux): defaults reduce to plain
    # accumulation (load 1, efficiency 1, absorption 0)
    ld = pdf["load"].to_numpy(np.float64) if "load" in pdf.columns else np.ones(n)
    we = ws * (pdf["eff"].to_numpy(np.float64)[:, None]
               if "eff" in pdf.columns else 1.0)
    ab = pdf["absorp"].to_numpy(np.float64) if "absorp" in pdf.columns else np.zeros(n)
    ext = pdf["ext"].fillna(0.0).to_numpy(np.float64) if "ext" in pdf.columns else 0.0
    lr, lc = rr - r0, cc - c0
    h, w = int(lr.max()) + 1, int(lc.max()) + 1
    gid = np.full((h, w), -1, dtype=np.int64)
    gid[lr, lc] = np.arange(n)
    # edges by direction, then by source cell (the wavefronts' add order)
    j, src = np.nonzero(ws.T > 0.0)
    t_lr, t_lc = lr[src] + _D8_DR[j], lc[src] + _D8_DC[j]
    inb = (t_lr >= 0) & (t_lr < h) & (t_lc >= 0) & (t_lc < w)
    tgt = np.full(src.size, -1, dtype=np.int64)
    tgt[inb] = gid[t_lr[inb], t_lc[inb]]
    slots = np.flatnonzero(
        (lr == 0) | (lc == 0) | (lr == tile - 1) | (lc == tile - 1)
    ) if resp else np.zeros(0, np.int64)
    mass, rows = solve_with_exits(
        np.stack([rr, cc]), ld + ext, src, tgt,
        np.stack([r0 + t_lr, c0 + t_lc]), we[src, j], slots, ab,
    )
    return rows if resp else pd.DataFrame({"row": rr, "col": cc, "acc": mass})


def fd8_accum(tiles: DataFrame, *, tile: int = TILE, decimals: int = 4,
              weights: DataFrame | None = None,
              fields: DataFrame | None = None) -> DataFrame:
    """(row, col, accum): FD8 fractional accumulation —
    a(c) = 1 + sum over upslope neighbors of w(u->c) * a(u).
    `weights` overrides the FD8 weight table with any (row, col, ws[8])
    multiple-flow-direction split (e.g. dinf_weights).
    `fields` (row, col, load, eff, absorp) generalizes the transport to
    the AFFINE mass-flux form a(c) = load(c) + sum w(u->c) * eff(u) *
    (a(u) - absorp(u)) (MassFluxDinf semantics — unclamped, hence still
    linear in the cross-tile inflows and solvable by the same condensed
    border system; the CLAMPED D8 variant, mass_flux_d8, is not and
    iterates raster.halo_rounds instead).

    The shape of flow_accum's D8 condensation (_d8_accum): MFD
    accumulation is *linear* in the cross-tile inflows, so pass 1 returns,
    per tile, the mass sent into each cell across its border with zero
    inflow, and that outflow's response to a unit inflow at each perimeter
    slot, as condense.graph_masses' weighted edge rows.  ONE graph_masses
    call solves the border system m = b + C·m (O(grid/tile) unknowns; its
    driver or distributed tier, chosen there), and pass 2 reruns the tile
    solve with the exact inflows (broadcast in the driver tier).  Both
    passes are the one tile solve, _mfd_solve, whose response columns are
    routed in blocks (condense.solve_with_exits): the dense state stays
    under 32 MB at any tile.  What grows is the response rows: ~6 per cell
    on a dispersive FD8 plane, ~1.6M per task in graph_masses' first level
    (groups of _MFD_GROUP = 512 cells), and in each further level with the
    square of its group perimeter.  Peak Python worker RSS at the default
    tile on FD8 planes: ~300 MB at 1024² (driver tier), ~700 MB at 1024²
    past a 100k guard, 2.3 GB at 1536² past the real guard (level 1: one
    5.8M-row task).  The tiled cells are persisted partitioned by tile
    (raster.with_tiles), so no pass shuffles them again.  Output rounds to
    `decimals` (parent-sum association differs between engines; error
    ~1e-13 relative)."""
    spark = tiles.sparkSession
    _scratch.release(spark, "fd8")
    wsrc = fd8_weights(tiles) if weights is None else weights
    if fields is not None:
        wsrc = wsrc.join(fields.select("row", "col", "load", "eff", "absorp"),
                         ["row", "col"], "left")
    wdf = _scratch.track(spark, with_tiles(wsrc, tile).persist(), "fd8")

    mass = graph_masses(  # pass 1: base outflows + border responses
        tile_map(wdf, ["_tr", "_tc"], lambda key, pdf: _mfd_solve(tile, key, pdf, True),
                 EDGE_SCHEMA.format("double")),
        group_cell=tile * min(8, max(2, _MFD_GROUP // tile)),
    )
    if mass.isLocal():  # driver tier
        mass = F.broadcast(mass)
    out = wdf.join(mass, ["row", "col"], "left").withColumnRenamed("mass", "ext")
    return tile_map(  # pass 2: solved inflows
        out, ["_tr", "_tc"], lambda key, pdf: _mfd_solve(tile, key, pdf, False),
        "row long, col long, acc double",
    ).select("row", "col", F.round("acc", decimals).cast("double").alias("accum"))


# ---------------------------------------------------------------------------
# D-infinity flow pointer (Tarboton 1997)
# ---------------------------------------------------------------------------
# facet table: (cardinal dr,dc), (diagonal dr,dc), ac (base angle, multiples
# of pi/2 counterclockwise from east), af (+-1) — angle = af * r + ac * pi/2
_DINF_FACETS = [
    ((0, 1), (-1, 1), 0, 1),
    ((-1, 0), (-1, 1), 1, -1),
    ((-1, 0), (-1, -1), 1, 1),
    ((0, -1), (-1, -1), 2, -1),
    ((0, -1), (1, -1), 2, 1),
    ((1, 0), (1, -1), 3, -1),
    ((1, 0), (1, 1), 3, 1),
    ((0, 1), (1, 1), 4, -1),
]
_QPI = np.pi / 4.0


def _facet_slopes(pad, h, w) -> list:
    """(r, s) per _DINF_FACETS facet over a stencil window: the descent
    angle within the facet, clamped to [0, pi/4], and the slope along it
    (a clamped angle takes the slope along that facet edge)."""
    cv = pad[1:h + 1, 1:w + 1]
    out = []
    with np.errstate(invalid="ignore"):
        for (r1, c1), (r2, c2), _, _ in _DINF_FACETS:
            e1 = pad[1 + r1:1 + r1 + h, 1 + c1:1 + c1 + w]
            e2 = pad[1 + r2:1 + r2 + h, 1 + c2:1 + c2 + w]
            s1 = cv - e1
            s2 = e1 - e2
            r = np.arctan2(s2, s1)
            s = np.sqrt(s1 * s1 + s2 * s2)
            low = r < 0.0
            high = r > _QPI
            out.append((np.where(low, 0.0, np.where(high, _QPI, r)),
                        np.where(low, s1, np.where(high, (cv - e2) / _SQRT2, s))))
    return out


def _full_window(pad, h, w):
    """(h, w) mask of the cells whose whole 3x3 window holds data."""
    full = ~np.isnan(pad)
    ok = np.ones((h, w), dtype=bool)
    for dr, dc in _OFFS:
        ok &= full[1 + dr:1 + dr + h, 1 + dc:1 + dc + w]
    return ok


def flow_pointer_dinf(tiles: DataFrame) -> DataFrame:
    """(row, col, angle, slope): D-infinity steepest-descent direction
    (radians counterclockwise from east, facet-continuous) and its slope
    (FlowPointerDinf semantics, Tarboton 1997 8-facet construction).

    Full 3x3 window required; pits/flats (max facet slope <= 0) get
    angle = -1.  First facet in table order wins slope ties, mirroring the
    D8 kernel's scan-order tie rule; transcendental outputs round half-up
    to 6 decimals (shared oracle idiom)."""

    def kernel(c, pad):
        h, w = int(c.h), int(c.w)
        s_all = np.full((8, h, w), -np.inf)
        a_all = np.zeros((8, h, w))
        facets = zip(_DINF_FACETS, _facet_slopes(pad, h, w))
        for k, ((_, _, ac, af), (r, s)) in enumerate(facets):
            s_all[k] = np.where(np.isnan(s), -np.inf, s)
            a_all[k] = af * r + ac * (np.pi / 2.0)
        best = np.argmax(s_all, axis=0)  # first max in facet order
        ii, jj = np.ogrid[:h, :w]
        smax = s_all[best, ii, jj]
        angle = np.where(smax > 0.0, a_all[best, ii, jj], -1.0)
        slope = np.where(smax > 0.0, smax, 0.0)
        rnd = lambda x: np.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
        return cell_rows(c, _full_window(pad, h, w),
                         angle=rnd(angle), slope=rnd(slope))

    return stencil(tiles, kernel, "row long, col long, angle double, slope double")


def flowpath_length(pointers: DataFrame, *, tile: int = TILE) -> DataFrame:
    """(row, col, fp_len): downslope D8 flow-path length from each cell to
    its terminal pit (DownslopeFlowpathLength.java semantics; steps 1 /
    sqrt(2)), from _path_ends: within-tile distances by weighted pointer
    jumping, cross-tile remainders by condense.chase_paths.  round(6)
    guards the cross-engine association at tile joins."""
    return _path_ends(pointers, tile, "flowpath").select(
        "row", "col", F.round("total", 6).cast("double").alias("fp_len")
    )


# ---------------------------------------------------------------------------
# upslope (longest) flow-path length
# ---------------------------------------------------------------------------
def upslope_max_length(pointers: DataFrame, *, tile: int = TILE) -> DataFrame:
    """(row, col, up_len): longest upstream D8 flow-path length into each
    cell (UpslopeFlowpathLength.java semantics; steps 1 / sqrt(2)).

    flow_accum with MAX in place of SUM (_d8_accum, max-plus kernel mode):
    the condensed entry DAG's edge weight is each entry's single-path
    within-tile length (D8 outflow is unique).  Distances are rounded to 6
    decimals."""
    return _d8_accum(pointers, tile, "up_len", is_max=True)


# ---------------------------------------------------------------------------
# D8 mass flux (loading / efficiency / absorption transport)
# ---------------------------------------------------------------------------
def _own_target(gid: np.ndarray, t_lr, t_lc, m) -> np.ndarray:
    """Row index of the own cell at tile-local (t_lr, t_lc) in ``gid`` (the
    tile's row-index grid, -1 where no own cell) where ``m``, else -1."""
    h, w = gid.shape
    inb = m & (t_lr >= 0) & (t_lr < h) & (t_lc >= 0) & (t_lc < w)
    t = np.full(len(t_lr), -1, dtype=np.int64)
    t[inb] = gid[t_lr[inb], t_lc[inb]]
    return t


def mass_flux_d8(cells: DataFrame, *, tile: int = TILE,
                 decimals: int = 4) -> DataFrame:
    """(row, col, flux): D8 mass transport —
    HydroTools/src/plugins/MassFluxD8.java:255-300 semantics:
    flux(c) = load(c) + sum over inflowing neighbors u of
    max(0, (flux(u) - absorp(u)) * eff(u)).

    cells: (row, col, code, load, eff, absorp) with code = the 2^j D8
    pointer.  Unlike flow/FD8 accumulation the per-cell transfer is
    CLAMPED at zero, so the condensed linear-response shortcut does not
    apply; the plan is raster.halo_rounds: each round a tile takes the
    inflows of its halo cells' last ``acc`` (none yet while it is NaN)
    and re-runs an exact tile-local Kahn solve.  Each round moves exact
    values across one tile border, so the float-equality convergence test
    stops at the fixpoint after as many rounds as the longest flow path
    crosses borders, plus two.  Output rounds to `decimals` (sum
    association differs across engines).
    """
    state = cells.select("row", "col", "code", "load", "eff", "absorp",
                         F.lit(float("nan")).alias("acc"))

    def kernel(key, pdf):
        r0, c0 = int(key[0]) * tile, int(key[1]) * tile
        ext = pdf["is_ext"].to_numpy()
        own = ~ext
        lr = pdf["row"].to_numpy(np.int64) - r0
        lc = pdf["col"].to_numpy(np.int64) - c0
        n = len(lr)
        code = pdf["code"].to_numpy(np.int64)
        load = pdf["load"].to_numpy(np.float64)
        eff = pdf["eff"].to_numpy(np.float64)
        absorp = pdf["absorp"].to_numpy(np.float64)
        old = pdf["acc"].to_numpy(np.float64)
        gid = np.full((tile, tile), -1, dtype=np.int64)
        gid[lr[own], lc[own]] = np.flatnonzero(own)
        j = np.where(code > 0, np.log2(np.maximum(code, 1)).astype(np.int64), -1)
        tgt = _own_target(gid, lr + _D8_DR[np.maximum(j, 0)],
                          lc + _D8_DC[np.maximum(j, 0)], j >= 0)
        # halo inflows from the neighbor tiles' last solve
        hal = np.flatnonzero(ext & (tgt >= 0) & ~np.isnan(old))
        extv = np.zeros(n)
        np.add.at(extv, tgt[hal], np.maximum((old[hal] - absorp[hal]) * eff[hal], 0.0))
        acc = load + extv
        internal = own & (tgt >= 0)
        indeg = np.bincount(tgt[internal], minlength=n)
        frontier = np.flatnonzero(own & (indeg == 0))
        done = ext.copy()
        while frontier.size:
            done[frontier] = True
            send = np.maximum((acc[frontier] - absorp[frontier]) * eff[frontier], 0.0)
            fi = internal[frontier]
            ft = tgt[frontier[fi]]
            np.add.at(acc, ft, send[fi])
            indeg = indeg - np.bincount(ft, minlength=n)
            frontier = np.flatnonzero((indeg == 0) & ~done)
        return pd.DataFrame({
            "row": lr[own] + r0, "col": lc[own] + c0, "code": code[own],
            "load": load[own], "eff": eff[own], "absorp": absorp[own],
            "acc": acc[own], "changed": (acc[own] != old[own]).astype(np.int32),
        })

    out = halo_rounds(
        state, kernel, "row long, col long, code long, load double, eff double, "
        "absorp double, acc double, changed int", tile=tile, what="mass_flux_d8",
    )
    return out.select(
        "row", "col", F.round("acc", decimals).cast("double").alias("flux")
    )


# ---------------------------------------------------------------------------
# D8 path walks by binary lifting (downslope_index, stream_relief,
# branch_length)
# ---------------------------------------------------------------------------
_HOP = ("row", "col", "erow", "ecol", "jlen")


def _first_hop(src: DataFrame, ends: DataFrame) -> DataFrame:
    """J_0 over the D8 pointers of ``src`` (row, col, code): (row, col,
    erow, ecol, jlen, *end columns) for each cell whose one-step end is a
    row of ``ends`` (erow, ecol, *end columns carried up the lift)."""
    dr, dc, ln = _d8_step()
    return (
        src.where(F.col("code") > 0)
        .select("row", "col", (F.col("row") + dr).alias("erow"),
                (F.col("col") + dc).alias("ecol"), ln.alias("jlen"))
        .join(ends, ["erow", "ecol"])
        .select(*_HOP, *ends.columns[2:])
    )


def _lift(j0: DataFrame, tag: str) -> list[DataFrame]:
    """Jump tables J_0..J_top of the functional forest ``j0`` (_first_hop):
    J_{k+1} = J_k ∘ J_k, the 2^(k+1)-step end, summed jlen and the end's
    carried columns, composed until a level is empty — so every path is
    walked to its end, however long.  Each level is cut by
    condense._checkpoint under the calling operator's _scratch ``tag`` (a
    bare localCheckpoint keeps its self-join's size estimate, which
    squares per level).  On a forest the counts fall strictly (a cell
    2^k steps from its path's end is in J_k, not J_{k+1}), so a level as
    large as the one before it means a cycle in ``code``: raise."""
    carry = j0.columns[len(_HOP):]
    jumps = [_checkpoint(j0, tag)]
    n = jumps[0].count()
    while n:
        a, b = jumps[-1].alias("a"), jumps[-1].alias("b")
        nxt = _checkpoint(
            a.join(b, (F.col("a.erow") == F.col("b.row"))
                   & (F.col("a.ecol") == F.col("b.col")))
            .select("a.row", "a.col", "b.erow", "b.ecol",
                    (F.col("a.jlen") + F.col("b.jlen")).alias("jlen"),
                    *[f"b.{c}" for c in carry]),
            tag,
        )
        prev, n = n, nxt.count()
        if n == prev:
            raise RuntimeError(
                f"{tag}: flow-path cycle (jump level {len(jumps)} keeps all "
                f"{n} cells)")
        if n:
            jumps.append(nxt)
    return jumps


def _hop(jk: DataFrame, cur: tuple[str, str], p: str) -> DataFrame:
    """Level table ``jk`` keyed by the cursor columns ``cur``, its end,
    length and carried columns prefixed ``p``."""
    return jk.select(F.col("row").alias(cur[0]), F.col("col").alias(cur[1]),
                     *[F.col(c).alias(p + c) for c in jk.columns[2:]])


def _step(adv, cur: tuple[str, str], p: str, total: str, carry=()) -> list:
    """The descent step over a _hop join: where ``adv`` holds, the cursor
    ``cur`` moves to the hop's end, ``total`` adds its jlen and each
    ``carry`` column takes the end's value."""
    def pick(new, old):
        return F.when(adv, new).otherwise(F.col(old)).alias(old)
    return [pick(F.col(p + "erow"), cur[0]), pick(F.col(p + "ecol"), cur[1]),
            pick(F.col(total) + F.col(p + "jlen"), total),
            *[pick(F.col(p + c), c) for c in carry]]


def _descend(state: DataFrame, jumps: list[DataFrame], adv, total: str, *,
             carry=(), depth: str | None = None) -> DataFrame:
    """Greedy top-down walk of each state row's cursor (cr, cc) over
    J_top..J_0: at level k it takes the 2^k hop where ``adv`` holds
    (_step; ``depth``, if given, adds 2^k).  With ``adv`` true wherever a
    hop exists this reaches the path's end; with a monotone stop test it
    reaches the last cell that passes it."""
    moved = ("cr", "cc", total, *carry, depth)
    keep = [c for c in state.columns if c not in moved]
    for k in reversed(range(len(jumps))):
        cols = _step(adv, ("cr", "cc"), "_", total, carry)
        if depth:
            cols.append(F.when(adv, F.col(depth) + F.lit(2 ** k))
                        .otherwise(F.col(depth)).alias(depth))
        state = state.join(_hop(jumps[k], ("cr", "cc"), "_"), ["cr", "cc"],
                           "left").select(*keep, *cols)
    return state


def downslope_index(cells: DataFrame, *, d: float = 4.0,
                    decimals: int = 6) -> DataFrame:
    """(row, col, di): tan(beta_d) = d / L where L is the flow-path length
    to the point d elevation units below the start
    (TerrainAnalysisTools/src/plugins/DownslopeIndex.java:262-309, tangent
    mode; the reference's zLastCell is read at the fixed start cell — an
    off-by-one this implementation replaces with the intended
    previous-cell elevation, tracking Hjerdt et al. 2004).

    Paths that hit a pit/edge before dropping d output (zSt - zEnd) / L
    (nodata when L = 0).  The last partial cell is entered pro-rata:
    len * (zPrev - (zSt - d)) / (zPrev - zNext).

    Distributed shape: BINARY LIFTING over the D8 successor graph — jump
    tables J_k = 2^k-step (end, length, endZ) (_lift), then every source
    walks greedily from the top level down ("advance while the jumped-to
    elevation stays above zSt - d", valid because elevation is strictly
    decreasing along D8 paths; _descend).  O(log pathlen) equi-joins
    total, no driver loop, no per-cell iteration.  Output rounds to
    `decimals` (the lifted length sum associates differently from a
    sequential walk)."""
    _scratch.release(cells.sparkSession, "downslope_index")
    base = cells.select("row", "col", "z", "code")
    jumps = _lift(_first_hop(base, base.select(
        F.col("row").alias("erow"), F.col("col").alias("ecol"),
        F.col("z").alias("ez"),
    )), "downslope_index")
    state = base.where(F.col("code") > 0).select(
        F.col("row").alias("srow"), F.col("col").alias("scol"),
        F.col("z").alias("zst"), F.col("row").alias("cr"),
        F.col("col").alias("cc"), F.col("z").alias("ez"),
        F.lit(0.0).alias("fl"),
    )
    adv = F.col("_ez").isNotNull() & (F.col("_ez") > F.col("zst") - F.lit(d))
    state = _descend(state, jumps, adv, "fl", carry=("ez",))
    fin = state.join(_hop(jumps[0], ("cr", "cc"), "_"), ["cr", "cc"], "left")
    partial = F.col("_jlen") * (F.col("ez") - (F.col("zst") - F.lit(d))) \
        / (F.col("ez") - F.col("_ez"))
    val = F.when(
        F.col("_ez").isNotNull(), F.lit(d) / (F.col("fl") + partial)
    ).otherwise(
        F.when(F.col("fl") > 0, (F.col("zst") - F.col("ez")) / F.col("fl"))
    )
    return (
        fin.select(
            F.col("srow").alias("row"), F.col("scol").alias("col"),
            F.round(val, decimals).cast("double").alias("di"),
        )
        .where(F.col("di").isNotNull())
    )


def remove_short_streams(pointers: DataFrame, *, threshold: int = 5,
                         min_len: float = 3.0, tile: int = TILE) -> DataFrame:
    """RemoveShortStreams (StreamNetworkAnalysisTools
    RemoveShortStreams.java:274-355): drop every junction-cut stream link
    whose along-link length is below `min_len`.  Same labeling machinery
    as stream_link_slope (tile union-find links); returns the surviving
    stream cells (row, col, link)."""
    from .clump import components_from_edges

    pointers, stream = _stream_cells(pointers, threshold, tile, "rmshort")
    _sedge, _junc, kept = _stream_edge_tables(pointers, stream)
    lab = components_from_edges(stream, kept, tile=tile)
    dist = F.when((F.col("row") != F.col("nr")) & (F.col("col") != F.col("nc")),
                  F.lit(_SQRT2)).otherwise(F.lit(1.0))
    length = (
        kept.join(lab, ["row", "col"], "inner")
        .groupBy("label").agg(F.sum(dist).alias("_len"))
    )
    survivors = length.where(F.col("_len") >= min_len).select("label")
    return (
        lab.join(survivors, "label", "left_semi")
        .select("row", "col", F.col("label").alias("link"))
    )


def avg_slope_to_divide(pointers: DataFrame, dem_cells: DataFrame, *,
                        tile: int = TILE) -> DataFrame:
    """(row, col, asd): mean slope gradient (degrees) from each cell to its
    upslope divide cells — TerrainAnalysisTools
    AverageSlopeToDivide.java:296-385: atan((meanDivideElev - z) /
    meanFlowpathLen), 0 where no divide drains in.

    Three integer-weighted accumulations over the unchanged tile flow
    kernel (divide count, divide elevation, divide downslope-path length)
    plus the flowpath-length identity pathlen(d -> c) = D(d) - D(c); all
    sums are exact micro-scaled integers, with one transcendental atan at
    the end (round 6).  dem_cells: (row, col, v)."""
    dr, dc, _ = _d8_step()
    inflow_tgt = pointers.where(F.col("code") > 0).select(
        (F.col("row") + dr).alias("row"), (F.col("col") + dc).alias("col"),
    ).distinct()
    isdiv = pointers.join(inflow_tgt, ["row", "col"], "left_anti") \
        .select("row", "col", F.lit(1).alias("_d")) \
        .unionByName(
            pointers.join(inflow_tgt, ["row", "col"], "left_semi")
            .select("row", "col", F.lit(0).alias("_d"))
        )
    D = flowpath_length(pointers, tile=tile)
    base = (
        pointers.select("row", "col")
        .join(isdiv, ["row", "col"])
        .join(D, ["row", "col"])
        .join(dem_cells.select("row", "col", "v"), ["row", "col"])
        .select(
            "row", "col", "_d", "v",
            F.expr("CAST(FLOOR(fp_len * 1e6 + 0.5e0) AS BIGINT)").alias("_dm"),
            F.expr("CAST(FLOOR(v * 1e6 + 0.5e0) AS BIGINT)").alias("_zm"),
        )
        .localCheckpoint()  # consumed 4x; flowpath scratch gets evicted below
    )
    # eager localCheckpoint: each weighted_flow_accum call releases its
    # predecessor's scratch caches, so a lazy result would recompute its
    # whole kernel lineage at the final join
    wN = weighted_flow_accum(
        pointers, base.select("row", "col", F.col("_d").cast("long").alias("w0")),
        tile=tile,
    ).withColumnRenamed("waccum", "aN").localCheckpoint()
    wE = weighted_flow_accum(
        pointers, base.select("row", "col", (F.col("_d") * F.col("_zm")).alias("w0")),
        tile=tile,
    ).withColumnRenamed("waccum", "aE").localCheckpoint()
    wD = weighted_flow_accum(
        pointers, base.select("row", "col", (F.col("_d") * F.col("_dm")).alias("w0")),
        tile=tile,
    ).withColumnRenamed("waccum", "aD").localCheckpoint()
    j = (
        base.join(wN, ["row", "col"]).join(wE, ["row", "col"])
        .join(wD, ["row", "col"])
        .select(
            "row", "col", "v",
            (F.col("aN").cast("long") - F.col("_d")).alias("n_div"),
            (F.col("aE").cast("long") - F.col("_d") * F.col("_zm")).alias("e_sum"),
            (F.col("aD").cast("long") - F.col("_d") * F.col("_dm")).alias("sd_sum"),
            F.col("_dm").alias("dm"),
        )
    )
    asd = (
        "CASE WHEN n_div > 0 THEN "
        "FLOOR(DEGREES(ATAN(((CAST(e_sum AS DOUBLE) / n_div) / 1e6 - v) "
        "/ ((CAST(sd_sum - n_div * dm AS DOUBLE) / n_div) / 1e6))) "
        "* 1e6 + 0.5e0) / 1e6 ELSE 0e0 END"
    )
    return j.select("row", "col", F.expr(asd).alias("asd"))


def stream_relief(cells: DataFrame, stream: DataFrame) -> DataFrame:
    """(row, col, dist_to_stream, hand): along-flowpath distance to the
    first stream cell and elevation above it (GeasyTools
    ElevAboveCreek.java — the height-above-nearest-drainage product).

    cells: (row, col, z, code); stream: (row, col).  Stream membership is
    closed downstream (accumulation grows along D8), so "first stream cell
    on the path" bounds a non-stream prefix — BINARY LIFTING over the
    successor graph RESTRICTED to non-stream endpoints (_lift) reaches the
    last pre-stream cell in O(log pathlen) equi-joins (_descend), then one
    unrestricted step lands on the stream cell.  Stream cells output
    (0, 0); paths that exit the grid without meeting a stream are omitted
    (no drainage).  dist rounds to 6 (lifted length association); hand is
    dyadic-exact."""
    _scratch.release(cells.sparkSession, "stream_relief")
    smark = stream.select("row", "col").withColumn("_s", F.lit(True))
    lab = cells.join(smark, ["row", "col"], "left").select(
        "row", "col", "z", "code", F.coalesce("_s", F.lit(False)).alias("_s")
    )
    ends = lab.select(F.col("row").alias("erow"), F.col("col").alias("ecol"),
                      F.col("z").alias("ez"), F.col("_s").alias("es"))
    j0_full = _checkpoint(_first_hop(lab, ends), "stream_relief")
    jumps = _lift(_first_hop(lab.where(~F.col("_s")),
                             ends.where(~F.col("es")).select("erow", "ecol")),
                  "stream_relief")
    state = lab.where(~F.col("_s")).select(
        F.col("row").alias("srow"), F.col("col").alias("scol"),
        F.col("z").alias("zst"), F.col("row").alias("cr"),
        F.col("col").alias("cc"), F.lit(0.0).alias("fl"),
    )
    state = _descend(state, jumps, F.col("_erow").isNotNull(), "fl")
    fin = state.join(_hop(j0_full, ("cr", "cc"), "_"), ["cr", "cc"],
                     "inner").where(F.col("_es"))
    nonstream = fin.select(
        F.col("srow").alias("row"), F.col("scol").alias("col"),
        F.round(F.col("fl") + F.col("_jlen"), 6).cast("double").alias("dist_to_stream"),
        (F.col("zst") - F.col("_ez")).alias("hand"),
    )
    zero = lab.where(F.col("_s")).select(
        "row", "col", F.lit(0.0).alias("dist_to_stream"), F.lit(0.0).alias("hand")
    )
    return nonstream.unionByName(zero)


# ---------------------------------------------------------------------------
# median upstream area (Seibert & Vis creek-network median)
# ---------------------------------------------------------------------------
# reference scan order c = 0..7 with (xd, yd) column/row offsets and the
# diagonal distances; first index wins slope ties (strict > replace).
_MUA_OFFS = [  # (ci, dr, dc, dist)
    (0, -1, 0, 1.0), (1, -1, -1, _SQRT2), (2, 0, -1, 1.0), (3, 1, -1, _SQRT2),
    (4, 1, 0, 1.0), (5, 1, 1, _SQRT2), (6, 0, 1, 1.0), (7, -1, 1, _SQRT2),
]


def median_upstream_area(dem: DataFrame, acc: DataFrame, *,
                         threshold: int = 10) -> DataFrame:
    """(row, col, mua): per creek cell, the MEDIAN of the upslope-area
    values over every upstream creek cell (self-inclusive) —
    GeasyTools/src/plugins/MedianUpstreamArea.java:300-460 semantics.

    dem: (row, col, z) live cells; acc: (row, col, accum).  Creek = cells
    with accum >= threshold; creek flow directions are recomputed by
    steepest descent among strictly-lower creek NEIGHBORS (the reference
    derives its own stream directions from the DEM rather than taking the
    D8 pointer), first scan-order index winning slope ties.  Isolated
    creek cells output their own value (the reference leaves them at the
    raster's initial value — an init artifact, not a semantic).

    Distributed shape: the median is not a mergeable aggregate, so the
    upstream multiset is materialized as reachability pairs via DOUBLING
    over the creek forest (P <- P union P compose P), O(log pathlen)
    self-joins, run until the pair set stops growing (it is finite, so
    the closure always ends), each round cut by condense._checkpoint; the
    pair count equals the sum of upstream-set sizes — the exact support
    of the answer, so no exact plan does asymptotically less.  The creek
    network is a ~1% subset of the raster, which is what keeps the
    closure affordable at scale."""
    from pyspark.sql import Window

    tag = "median_upstream_area"
    _scratch.release(dem.sparkSession, tag)
    ck = _checkpoint(
        acc.where(F.col("accum") >= threshold)
        .join(dem, ["row", "col"])
        .select("row", "col", "z", F.col("accum").cast("double").alias("ua")),
        tag,
    )
    offs = ", ".join(
        f"struct({ci} AS ci, {dr}L AS dr, {dc}L AS dc, "
        f"CAST({dd!r}e0 AS DOUBLE) AS dd)"
        for ci, dr, dc, dd in _MUA_OFFS
    )
    a = ck.select(
        "row", "col", "z", F.expr(f"explode(array({offs}))").alias("_o")
    ).select(
        "row", "col", "z", F.col("_o.ci").alias("ci"), F.col("_o.dd").alias("dd"),
        (F.col("row") + F.col("_o.dr")).alias("nrow"),
        (F.col("col") + F.col("_o.dc")).alias("ncol"),
    )
    b = ck.select(F.col("row").alias("nrow"), F.col("col").alias("ncol"),
                  F.col("z").alias("nz"))
    cand = a.join(b, ["nrow", "ncol"]).where(F.col("nz") < F.col("z"))
    w = Window.partitionBy("row", "col").orderBy(
        ((F.col("z") - F.col("nz")) / F.col("dd")).desc(), F.col("ci").asc()
    )
    pairs = _checkpoint(
        cand.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
        .select(F.col("row").alias("ur"), F.col("col").alias("uc"),
                F.col("nrow").alias("xr"), F.col("ncol").alias("xc")),
        tag,
    )
    n, prev = pairs.count(), None
    while n != prev:
        comp = (
            pairs.alias("a").join(
                pairs.alias("b"),
                (F.col("a.xr") == F.col("b.ur")) & (F.col("a.xc") == F.col("b.uc")),
            )
            .select(F.col("a.ur").alias("ur"), F.col("a.uc").alias("uc"),
                    F.col("b.xr").alias("xr"), F.col("b.xc").alias("xc"))
        )
        pairs = _checkpoint(pairs.unionByName(comp).distinct(), tag)
        n, prev = pairs.count(), n
    allp = ck.select(
        F.col("row").alias("ur"), F.col("col").alias("uc"),
        F.col("row").alias("xr"), F.col("col").alias("xc"),
    ).unionByName(pairs)
    vals = allp.join(
        ck.select(F.col("row").alias("ur"), F.col("col").alias("uc"), "ua"),
        ["ur", "uc"],
    )
    return vals.groupBy(F.col("xr").alias("row"), F.col("xc").alias("col")) \
        .agg(F.expr("percentile(ua, 5e-1)").alias("mua"))


# ---------------------------------------------------------------------------
# branch length (first-common-descendant distance over the D8 forest)
# ---------------------------------------------------------------------------
def branch_length(pointers: DataFrame, *, decimals: int = 6) -> DataFrame:
    """(row, col, bl): BranchLength —
    TerrainAnalysisTools/src/plugins/BranchLength.java:246-420 semantics.
    For every adjacent cell pair (4 forward offsets E, SE, S, SW), both D8
    flowpaths are traced downstream to their FIRST COMMON CELL; each
    cell's candidate is its along-path distance to that meet point (or its
    full flowpath length when the two paths never meet, i.e. different
    terminals); a cell outputs the MAX over all pairs it participates in.
    Cells participating in no pair (isolated) are omitted, mirroring the
    reference's untouched-nodata init.

    Distributed shape: the reference's dual walker is O(n * pathlen); here
    the meet is a lowest-common-descendant query answered with BINARY
    LIFTING — jump tables J_k = 2^k-step (end, length) (_lift), a
    depth/terminal pass (_descend), per-pair depth ALIGNMENT (binary
    decomposition of the depth difference), then the classic top-down
    descent ("advance both while the 2^k jumps differ"); meet = the
    one-step jump after the descent.  O(log pathlen) equi-joins per phase,
    no iteration over path cells.  Output rounds to `decimals` (lifted
    length sums associate differently from the sequential walk)."""
    tag = "branch_length"
    _scratch.release(pointers.sparkSession, tag)
    base = pointers.select("row", "col", "code")
    jumps = _lift(_first_hop(base, base.select(
        F.col("row").alias("erow"), F.col("col").alias("ecol"))), tag)

    # depth / terminal / full-length pass (greedy top-down binary walk)
    st = base.select(
        "row", "col", F.col("row").alias("cr"), F.col("col").alias("cc"),
        F.lit(0).cast("long").alias("dep"), F.lit(0.0).alias("plen"),
    )
    st = _descend(st, jumps, F.col("_erow").isNotNull(), "plen", depth="dep")
    pst = _checkpoint(st.select(
        "row", "col", F.col("cr").alias("tr"), F.col("cc").alias("tc"),
        "dep", "plen",
    ), tag)

    # adjacent pairs: 4 forward offsets among live cells
    offs = ", ".join(f"struct({o[0]}L AS dr, {o[1]}L AS dc)"
                     for o in [(0, 1), (1, 1), (1, 0), (1, -1)])
    prs = (
        base.select("row", "col", F.expr(f"explode(array({offs}))").alias("_o"))
        .select(F.col("row").alias("ar"), F.col("col").alias("ac"),
                (F.col("row") + F.col("_o.dr")).alias("br"),
                (F.col("col") + F.col("_o.dc")).alias("bc"))
        .join(base.select(F.col("row").alias("br"), F.col("col").alias("bc")),
              ["br", "bc"], "left_semi")
    )
    sa = pst.select(F.col("row").alias("ar"), F.col("col").alias("ac"),
                    F.col("tr").alias("atr"), F.col("tc").alias("atc"),
                    F.col("dep").alias("adep"), F.col("plen").alias("aplen"))
    sb = pst.select(F.col("row").alias("br"), F.col("col").alias("bc"),
                    F.col("tr").alias("btr"), F.col("tc").alias("btc"),
                    F.col("dep").alias("bdep"), F.col("plen").alias("bplen"))
    pr = _checkpoint(prs.join(sa, ["ar", "ac"]).join(sb, ["br", "bc"]), tag)

    nomeet = pr.where((F.col("atr") != F.col("btr"))
                      | (F.col("atc") != F.col("btc"))).select(
        "ar", "ac", "br", "bc",
        F.col("aplen").alias("la"), F.col("bplen").alias("lb"),
    )

    # meet case: align depths, then LCD descent; walker a's cursor is
    # (car, cac) with length la, walker b's (cbr, cbc) with lb
    A, B = ("car", "cac"), ("cbr", "cbc")

    def hops(mt, jk):
        return mt.join(_hop(jk, A, "_a"), list(A), "left") \
            .join(_hop(jk, B, "_b"), list(B), "left")

    mt = pr.where((F.col("atr") == F.col("btr"))
                  & (F.col("atc") == F.col("btc"))).select(
        "ar", "ac", "br", "bc",
        F.col("ar").alias("car"), F.col("ac").alias("cac"),
        F.col("br").alias("cbr"), F.col("bc").alias("cbc"),
        "adep", "bdep", F.lit(0.0).alias("la"), F.lit(0.0).alias("lb"),
    )
    for k in reversed(range(len(jumps))):
        adva = (F.col("adep") - F.col("bdep")) >= F.lit(2 ** k)
        advb = (F.col("bdep") - F.col("adep")) >= F.lit(2 ** k)
        mt = hops(mt, jumps[k]).select(
            "ar", "ac", "br", "bc",
            *_step(adva, A, "_a", "la"), *_step(advb, B, "_b", "lb"),
            F.when(adva, F.col("adep") - F.lit(2 ** k)).otherwise(F.col("adep")).alias("adep"),
            F.when(advb, F.col("bdep") - F.lit(2 ** k)).otherwise(F.col("bdep")).alias("bdep"),
        )
    mt = _checkpoint(mt.drop("adep", "bdep"), tag)
    for k in reversed(range(len(jumps))):
        adv = (
            F.col("_aerow").isNotNull() & F.col("_berow").isNotNull()
            & ((F.col("_aerow") != F.col("_berow"))
               | (F.col("_aecol") != F.col("_becol")))
        )
        mt = hops(mt, jumps[k]).select(
            "ar", "ac", "br", "bc",
            *_step(adv, A, "_a", "la"), *_step(adv, B, "_b", "lb"),
        )
    sep = (F.col("car") != F.col("cbr")) | (F.col("cac") != F.col("cbc"))
    met = hops(mt, jumps[0]).select(
        "ar", "ac", "br", "bc",
        F.when(sep, F.col("la") + F.col("_ajlen")).otherwise(F.col("la")).alias("la"),
        F.when(sep, F.col("lb") + F.col("_bjlen")).otherwise(F.col("lb")).alias("lb"),
    )

    allc = nomeet.unionByName(met)
    contrib = allc.select(F.col("ar").alias("row"), F.col("ac").alias("col"),
                          F.col("la").alias("bl")) \
        .unionByName(allc.select(F.col("br").alias("row"),
                                 F.col("bc").alias("col"),
                                 F.col("lb").alias("bl")))
    return contrib.groupBy("row", "col").agg(
        F.round(F.max("bl"), decimals).cast("double").alias("bl")
    )


# ---------------------------------------------------------------------------
# MDInf stream heads (truncated-accumulation creek initiation)
# ---------------------------------------------------------------------------
def stream_heads_mdinf(tiles: DataFrame, *, threshold: float = 30.0,
                       tile: int = TILE) -> DataFrame:
    """(row, col, head): StreamHeadsMDInf —
    WhiteboxGIS/.../StreamHeadsMDInf.java:330-540 semantics.  MDInf
    accumulation runs only while a cell's area a <= threshold; a crossing
    cell becomes a CREEK cell: its area is capped at the threshold and it
    forwards exactly `threshold` along its single D8 direction, marking
    the receiver as creek-fed (the receiver always crosses too).  head = a
    crossing cell that is NOT creek-fed — the first crossing on its path.
    Downstream truncation changes the whole field (split mass disappears,
    D8 pushes appear), so heads cannot be read off the untruncated
    accumulation; the dynamics are simulated.  D8 direction = the engine's
    shared steepest-descent kernel (flow_pointer_d8), used identically in
    the oracle.

    Distributed shape: the truncated transport is NONLINEAR (per-cell mode
    switch), so like the clamped D8 mass flux it runs on raster.halo_rounds
    — each round a tile takes its halo cells' last (mass, creek-marker)
    sends and re-runs an exact in-tile Kahn solve, one border crossing per
    round."""
    state = (
        mdinf_weights(tiles)
        .join(flow_pointer_d8(tiles).select("row", "col", "code"), ["row", "col"])
        .select("row", "col", "ws", "code", F.lit(float("nan")).alias("acc"),
                F.lit(0).alias("fed"), F.lit(0).alias("crossed"))
    )
    T = float(threshold)

    def kernel(key, pdf):
        r0, c0 = int(key[0]) * tile, int(key[1]) * tile
        ext = pdf["is_ext"].to_numpy()
        own = ~ext
        lr = pdf["row"].to_numpy(np.int64) - r0
        lc = pdf["col"].to_numpy(np.int64) - c0
        n = len(lr)
        ws = np.asarray([list(x) for x in pdf["ws"]], dtype=np.float64)
        code = pdf["code"].to_numpy(np.int64)
        old = pdf["acc"].to_numpy(np.float64)
        gid = np.full((tile, tile), -1, dtype=np.int64)
        gid[lr[own], lc[own]] = np.flatnonzero(own)
        # mdinf split targets and the d8 target (creek mode)
        tgt = np.stack([_own_target(gid, lr + dr, lc + dc, ws[:, j] > 0.0)
                        for j, (dr, dc, _) in enumerate(D8_OFFS)], axis=1)
        jd8 = np.where(code > 0,
                       np.log2(np.maximum(code, 1)).astype(np.int64), -1)
        d8t = _own_target(gid, lr + _D8_DR[np.maximum(jd8, 0)],
                          lc + _D8_DC[np.maximum(jd8, 0)], jd8 >= 0)
        # halo sends from the neighbor tiles' last solve
        sent = ext & ~np.isnan(old)
        creek = sent & (old > T) & (d8t >= 0)
        split = (sent & (old <= T))[:, None] & (tgt >= 0)
        extv = np.zeros(n)
        np.add.at(extv, d8t[creek], T)
        np.add.at(extv, tgt[split], (ws * old[:, None])[split])
        fed = np.zeros(n, dtype=bool)
        fed[d8t[creek]] = True
        tgt[ext], d8t[ext] = -1, -1
        d8in = d8t >= 0
        # Kahn indegree over the union of potential mass edges
        indeg = np.zeros(n, dtype=np.int64)
        np.add.at(indeg, tgt[tgt >= 0], 1)
        # the d8 edge may coincide with an mdinf edge (same direction);
        # count it as an extra dependency only when it is NOT already in
        # the mdinf edge set, and decrement symmetrically below
        dup = d8in & (np.take_along_axis(tgt, np.maximum(jd8, 0)[:, None], 1)[:, 0] >= 0)
        add_d8 = d8in & ~dup
        np.add.at(indeg, d8t[add_d8], 1)
        acc = 1.0 + extv
        crossed = np.zeros(n, dtype=bool)
        done = ext.copy()
        frontier = np.flatnonzero((indeg == 0) & ~done)
        while frontier.size:
            done[frontier] = True
            dec = np.zeros(n, dtype=np.int64)
            for u in frontier:
                if acc[u] > T:
                    crossed[u] = True
                    if d8in[u]:
                        acc[d8t[u]] += T
                        fed[d8t[u]] = True
                else:
                    for j in range(8):
                        if tgt[u, j] >= 0:
                            acc[tgt[u, j]] += ws[u, j] * acc[u]
                # decrement dependency edges regardless of mode
                for j in range(8):
                    if tgt[u, j] >= 0:
                        dec[tgt[u, j]] += 1
                if add_d8[u]:
                    dec[d8t[u]] += 1
            indeg = indeg - dec
            frontier = np.flatnonzero((indeg == 0) & ~done)
        rem = np.flatnonzero(~done)
        if rem.size:
            # mdinf facet weights can point uphill -> cycles strand the
            # Kahn (same as fd8_accum): relax the remnant subgraph to its
            # monotone fixpoint (cycle gain < 1; creek pushes are acyclic
            # D8).  No rem -> done edge can exist, so done cells are final.
            base = acc.copy()
            for _ in range(10_000):
                newacc = base.copy()
                newfed = fed.copy()
                for u in rem:
                    if acc[u] > T:
                        if d8in[u]:
                            newacc[d8t[u]] += T
                            newfed[d8t[u]] = True
                    else:
                        for j in range(8):
                            if tgt[u, j] >= 0:
                                newacc[tgt[u, j]] += ws[u, j] * acc[u]
                delta = np.abs(newacc[rem] - acc[rem]).max()
                fc = (newfed != fed).any()
                acc[rem] = newacc[rem]
                fed |= newfed
                if delta <= 1e-12 and not fc:
                    break
            crossed[rem] = acc[rem] > T
        changed = (acc != old) | (fed != pdf["fed"].to_numpy().astype(bool))
        return pd.DataFrame({
            "row": lr[own] + r0, "col": lc[own] + c0, "ws": pdf["ws"].to_numpy()[own],
            "code": code[own], "acc": acc[own], "fed": fed[own].astype(np.int32),
            "crossed": crossed[own].astype(np.int32),
            "changed": changed[own].astype(np.int32),
        })

    out = halo_rounds(
        state, kernel, "row long, col long, ws array<double>, code long, "
        "acc double, fed int, crossed int, changed int",
        tile=tile, what="stream_heads_mdinf",
    )
    return out.select(
        "row", "col",
        ((F.col("crossed") == 1) & (F.col("fed") == 0)).cast("int").alias("head"),
    )
