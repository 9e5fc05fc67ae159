"""Distributed raster engine: tile tables + Catalyst array kernels.

Reference data model (SURVEY.md §1.1): a WhiteBox raster is a dense
row-major grid with an explicit noDataValue (default -32768, WhiteboxAPI/
src/whitebox/geospatialfiles/WhiteboxRasterBase.java:849-852), processed
row-at-a-time through a block cache (WhiteboxRaster.java:483-553).

Spark mapping: an Iceberg/Parquet-shaped TILE table
  (raster_id, band, tile_row, tile_col, row0, col0, h, w,
   values array<double>, nodata)
— one row per tile, cells row-major inside ``values``.  Whole-raster ops are
array expressions (``transform`` / ``zip_with`` / ``aggregate``) in
whole-stage codegen; per-tile partials make global stats a ~#tiles-row
aggregation; every 3x3 window kernel (focal here, the hydro pointer and
weight kernels) runs through ``stencil``, the one halo pass: each tile ships
1-cell border strips to its 8 neighbors and a numpy function sees its
nan-padded window (the distributed analogue of the reference's sliding
block cache + edge handling, WhiteboxRaster.java:536-553).

At 100 TB the tile table is partitioned by (tile_row bucket); every op here
is either a narrow map over tiles or an equi-join on tile keys — no
all-to-all shuffles.  Python runs only in the tile-layer kernels, and each
of them runs through ``tile_map``: one Arrow stream per partition, cut into
its tiles in the worker.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..functions.exprs import A, C, D, M

NODATA = -32768.0
TILE = 64

# deterministic synthetic DEM-ish band: plane + LCG noise + nodata holes.
# All cell values are DYADIC (multiples of 2^-10, < 2^8): every sum of any
# subset is exact in IEEE double REGARDLESS of summation order, so engine
# and DuckDB oracle agree bit-for-bit on sums/means/moments with no
# rounding policy needed (shared fragment; see queries_raster.py).
def cell_value_sql(row: str, col: str, band: int, cols: int) -> str:
    key = f"(({row}) * {cols} + ({col}) + {band * 1_000_003})"
    u = f"((({key}) * {A} + {C}) % {M})"
    return (
        f"(CASE WHEN {u} % 97 = 0 THEN {D(NODATA)} "
        f"ELSE 0.25e0 * ({row}) + 0.125e0 * ({col}) + ({u} % 100000) / 1024e0 END)"
    )


def synth_raster(spark: SparkSession, rows: int, cols: int, band: int = 0,
                 tile: int = TILE, raster_id: str = "dem",
                 value_sql: str | None = None) -> DataFrame:
    """Tile table for the deterministic synthetic raster — pure Catalyst.

    Values are built per tile with ``transform(sequence(...))``; generation
    is a narrow map over ``spark.range(n_tiles)`` (CreatePlane /
    NewRasterFromBase semantics, RasterCreation/src/plugins/CreatePlane.java).

    value_sql: optional shared formula template with ``{row}``/``{col}``
    placeholders (engine and DuckDB oracle splice the same text) replacing
    the default noise-plane band.
    """
    tr = (rows + tile - 1) // tile
    tc = (cols + tile - 1) // tile
    df = spark.range(tr * tc).selectExpr(
        f"id div {tc} AS tile_row", f"id % {tc} AS tile_col",
        f"id div {tc} * {tile} AS row0", f"id % {tc} * {tile} AS col0",
        f"CAST(least({tile}, {rows} - id div {tc} * {tile}) AS INT) AS h",
        f"CAST(least({tile}, {cols} - id % {tc} * {tile}) AS INT) AS w",
    )
    if value_sql is None:
        val = cell_value_sql(
            "(row0 + CAST(floor(i / w) AS BIGINT))", "(col0 + i % w)", band, cols
        )
    else:
        val = value_sql.format(
            row="(row0 + CAST(floor(i / w) AS BIGINT))", col="(col0 + i % w)"
        )
    rid = raster_id.replace("\\", "\\\\").replace("'", "\\'")  # SQL string literal
    return df.selectExpr(
        f"'{rid}' AS raster_id", f"CAST({band} AS INT) AS band",
        "tile_row", "tile_col", "row0", "col0", "h", "w",
        f"transform(sequence(0, h * w - 1), i -> {val}) AS values",
        f"{D(NODATA)} AS nodata",
    )


def explode_cells(tiles: DataFrame, value_col: str = "value") -> DataFrame:
    """(row, col, value) relational view of a tile table (RasterToVectorPoints
    shape, ConversionTools/src/plugins/RasterToVectorPoints.java)."""
    return tiles.select(
        "row0", "col0", "w", F.posexplode("values").alias("i", value_col)
    ).select(
        (F.col("row0") + (F.col("i") / F.col("w")).cast("long")).alias("row"),
        (F.col("col0") + F.col("i") % F.col("w")).alias("col"),
        value_col,
    )


def map_algebra(tiles: DataFrame, expr: str) -> DataFrame:
    """Unary raster algebra: `expr` over cell variable ``v`` with nodata
    passthrough — the whole MathTools family (SURVEY.md §2.8) and
    RasterCalculator composition collapse into ONE transform() lambda."""
    return tiles.withColumn(
        "values",
        F.expr(
            f"transform(values, v -> CASE WHEN v = {D(NODATA)} THEN {D(NODATA)} "
            f"ELSE ({expr}) END)"
        ),
    )


def zip_algebra(a: DataFrame, b: DataFrame, expr: str) -> DataFrame:
    """Binary raster algebra on two aligned tile tables (positional
    raster-raster join, e.g. MathTools/src/plugins/Add.java:307): equi-join
    on tile keys + zip_with.  `expr` sees cell variables ``x`` and ``y``."""
    bb = b.select(
        F.col("tile_row").alias("_tr"), F.col("tile_col").alias("_tc"),
        F.col("values").alias("_bvalues"),
    )
    joined = a.join(
        bb, (a["tile_row"] == bb["_tr"]) & (a["tile_col"] == bb["_tc"]), "inner"
    )
    return joined.withColumn(
        "values",
        F.expr(
            f"zip_with(values, _bvalues, (x, y) -> "
            f"CASE WHEN x = {D(NODATA)} OR y = {D(NODATA)} THEN {D(NODATA)} "
            f"ELSE ({expr}) END)"
        ),
    ).drop("_tr", "_tc", "_bvalues")


def raster_stats(tiles: DataFrame) -> DataFrame:
    """Whole-raster scalar aggregates (ImageAverage/ImageTotal/
    ImageStandardDeviation/NumberOfGridCells, StatsTools) via per-tile
    array partials -> one narrow row per tile -> global combine.  The .wstat
    sidecar analogue (WhiteboxRasterBase.java:115-126)."""
    nd = D(NODATA)
    per_tile = tiles.select(
        F.expr(f"aggregate(values, 0L, (a, v) -> a + IF(v = {nd}, 0L, 1L))").alias("n"),
        F.expr(f"aggregate(values, 0e0, (a, v) -> a + IF(v = {nd}, 0e0, v))").alias("s"),
        F.expr(f"aggregate(values, 0e0, (a, v) -> a + IF(v = {nd}, 0e0, v * v))").alias("s2"),
        F.expr(f"array_min(filter(values, v -> v != {nd}))").alias("mn"),
        F.expr(f"array_max(filter(values, v -> v != {nd}))").alias("mx"),
    )
    g = per_tile.agg(
        F.sum("n").alias("n"), F.sum("s").alias("s"), F.sum("s2").alias("s2"),
        F.min("mn").alias("min_val"), F.max("mx").alias("max_val"),
    )
    return g.select(
        "n",
        F.round(F.col("s") / F.col("n"), 6).cast("double").alias("mean_val"),
        "min_val", "max_val",
        F.round(
            F.sqrt((F.col("s2") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)), 6
        ).cast("double").alias("stddev_val"),
    )


# ---------------------------------------------------------------------------
# focal (neighborhood) kernels: halo exchange + numpy stencil
# ---------------------------------------------------------------------------
_OFFS = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 0), (0, 1), (1, -1), (1, 0), (1, 1)]

# per-direction strip extraction for the halo exchange: a 3x3 stencil only
# needs a ONE-CELL strip from each neighbor, so each tile ships its full
# array to its own group plus 4 edge strips and 4 corner cells — ~1.06x
# shuffle bytes instead of the round-1 9x full-tile replication (VERDICT
# wrong-list #5).  (ddr, ddc) is the destination offset; the strip is what
# the destination needs from a source in direction (-ddr, -ddc).
_STRIPS = [
    (0, 0, "values", "h", "w"),
    (1, 0, "slice(values, (h - 1) * w + 1, w)", "1", "w"),          # my last row
    (-1, 0, "slice(values, 1, w)", "1", "w"),                        # my first row
    (0, 1, "transform(sequence(1, h), r -> element_at(values, (r - 1) * w + w))", "h", "1"),
    (0, -1, "transform(sequence(1, h), r -> element_at(values, (r - 1) * w + 1))", "h", "1"),
    (1, 1, "array(element_at(values, h * w))", "1", "1"),
    (1, -1, "array(element_at(values, (h - 1) * w + 1))", "1", "1"),
    (-1, 1, "array(element_at(values, w))", "1", "1"),
    (-1, -1, "array(element_at(values, 1))", "1", "1"),
]


def by_tile(df: DataFrame, *keys: str) -> DataFrame:
    """``df`` hash-partitioned on its tile ``keys`` into the session's
    ``spark.sql.shuffle.partitions``.  AQE never coalesces a repartition
    with an explicit count, so a tile stage gets one Python task per
    partition instead of one for the whole (small) shuffle, and a
    ``tile_map`` above it adds no Exchange."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *keys)


def tile_key(tile: int, row, col) -> list:
    """The (_tr, _tc) tile key columns of cell (row, col): the one place
    the cell -> tile mapping is written."""
    return [(row / tile).cast("long").alias("_tr"),
            (col / tile).cast("long").alias("_tc")]


def with_tiles(cells: DataFrame, tile: int) -> DataFrame:
    """``cells`` (row, col, ...) with their tile key (_tr, _tc), partitioned
    by it (by_tile): a tile pass over them groups with no Exchange."""
    return by_tile(
        cells.select("*", *tile_key(tile, F.col("row"), F.col("col"))), "_tr", "_tc"
    )


def _key_runs(batches, keys):
    """Cut a stream of record ``batches`` sorted on the non-null ``keys``
    columns into runs of one key.  Yields, per non-empty batch, the
    ``[(key, [batch slices])]`` runs it completes: its trailing run is
    carried into the next batch (a run may span several) and completed by
    the first row with another key, or by the end of the stream."""
    key, run = None, []
    for b in batches:
        if b.num_rows == 0:
            continue
        cols = [b.column(k).to_numpy(zero_copy_only=False) for k in keys]
        cut = np.zeros(b.num_rows, dtype=bool)
        for v in cols:
            cut[1:] |= v[1:] != v[:-1]
        bounds = [0, *np.flatnonzero(cut).tolist(), b.num_rows]
        done = []
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            k = tuple(v[lo].item() for v in cols)
            if run and k != key:
                done.append((key, run))
                run = []
            key = k
            run.append(b.slice(lo, hi - lo))
        yield done
    if run:
        yield [(key, run)]


def _map_runs(batches, keys, fn, arrow: pa.Schema):
    """The worker side of tile_map: ``fn(key, pdf)`` once per key run of
    ``batches`` (_key_runs), on a frame with a fresh RangeIndex.  Results
    with no columns are skipped; the others are assigned to ``arrow`` by
    column name, with the unchecked casts of Spark's default
    (``convertToArrowArraySafely`` off), and yielded as one batch per input
    batch."""
    for runs in _key_runs(batches, keys):
        outs = [fn(k, pa.Table.from_batches(part).to_pandas()) for k, part in runs]
        outs = [pa.Table.from_pandas(o, schema=arrow, preserve_index=False, safe=False)
                for o in outs if len(o.columns)]
        if outs:
            yield from pa.concat_tables(outs).combine_chunks().to_batches()


def tile_map(df: DataFrame, keys, fn, schema: str) -> DataFrame:
    """pandas grouped map ``fn`` over ``df.groupBy(*keys)``, with one Python
    call per partition instead of one per group: the one grouped-Python
    entry point of the tile layer.  ``df`` is partitioned by its ``keys``
    (by_tile; free on a frame that already is, such as with_tiles output),
    sorted within each partition and streamed through ``mapInArrow``
    (_map_runs), so a worker holds one input batch plus one group."""
    arrow = to_arrow_schema(StructType.fromDDL(schema))
    return (by_tile(df, *keys).sortWithinPartitions(*keys)
            .mapInArrow(lambda batches: _map_runs(batches, keys, fn, arrow), schema))


# halo_rounds' round cap (each round moves values across one tile border)
HALO_ROUNDS = 64


def halo_rounds(state: DataFrame, kernel, schema: str, *, tile: int,
                what: str) -> DataFrame:
    """Iterate tile-local solves over ``state`` (row, col and the value
    columns) to their fixpoint, exchanging a 1-cell halo across tile
    borders each round: the one fixpoint round loop of the tile layer
    (fill_depressions, cost.cost_distance, mass_flux_d8 and
    stream_heads_mdinf).

    The state is keyed by tile (tile_key) and persisted, since round 1
    reads it twice; it is partitioned only by each round's shuffle.  Each
    round ships every tile-border cell's current row to the tiles of its
    off-tile 8-neighbors (``is_ext`` true), unions it with the own rows
    (``is_ext`` false), and calls ``kernel(key, pdf)`` (tile_map: one
    Python call per shuffle partition) once per tile holding own cells.
    An edge cell reaches the tile across that edge once per neighbor
    there; ``solve`` keeps one copy, sorted by (row, col), so each halo
    cell arrives once and in the same order every round (a summing kernel
    counts it once and its float sums repeat exactly).  The kernel returns
    its own cells with the state's value columns (``schema``) and
    ``changed`` (1 where its value moved); the tile key is added back
    here.  localCheckpoint cuts each round's lineage (without it the plan
    nests every earlier round and the driver heap grows without bound),
    and the loop stops at the first round that changes nothing.  It
    relies on no monotonicity: a value crosses one tile border per round,
    so the rounds are the border crossings on the longest dependency path
    plus two (round 1 has no halo values yet; the last round confirms),
    capped at HALO_ROUNDS."""
    offs = F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
        for dr, dc in _OFFS if (dr, dc) != (0, 0)
    ])
    on_border = (
        (F.col("row") % tile == 0) | (F.col("row") % tile == tile - 1)
        | (F.col("col") % tile == 0) | (F.col("col") % tile == tile - 1)
    )
    vals = state.columns
    state = state.select("*", *tile_key(tile, F.col("row"), F.col("col"))).persist()
    nkey = tile_key(tile, F.col("row") + F.col("_o.dr"), F.col("col") + F.col("_o.dc"))

    def solve(key, pdf):
        ext = pdf["is_ext"].to_numpy()
        if ext.all():  # halo spilled onto a tile with no cells
            return pd.DataFrame()
        halo = pdf[ext].drop_duplicates(["row", "col"]).sort_values(["row", "col"])
        out = kernel(key, pd.concat([pdf[~ext], halo], ignore_index=True))
        out["_tr"], out["_tc"] = key
        return out

    for _ in range(HALO_ROUNDS):
        own = state.select(*vals, "_tr", "_tc", F.lit(False).alias("is_ext"))
        halo = (
            state.where(on_border)
            .select(*vals, "_tr", "_tc", F.explode(offs).alias("_o"))
            .select(*vals, F.col("_tr").alias("_otr"), F.col("_tc").alias("_otc"), *nkey)
            .where((F.col("_tr") != F.col("_otr")) | (F.col("_tc") != F.col("_otc")))
            .select(*vals, "_tr", "_tc", F.lit(True).alias("is_ext"))
        )
        new_state = tile_map(own.unionByName(halo), ["_tr", "_tc"], solve,
                             f"{schema}, _tr long, _tc long").localCheckpoint()
        n_changed = new_state.agg(F.sum("changed")).collect()[0][0] or 0
        state.unpersist()
        state = new_state
        if n_changed == 0:
            return state
    raise RuntimeError(f"{what} did not converge in {HALO_ROUNDS} rounds")


def _halo_contributions(tiles: DataFrame) -> DataFrame:
    """Each tile contributes to its own group (full array) and its 8
    neighbors' groups (1-cell border strips) — the Spark analogue of the
    reference's block cache reading across block borders
    (WhiteboxRaster.java:483-553), shipping only what a 3x3 window reads.
    One projection: ``inline`` over the nine strip structs, each with its
    destination tile (dst_row, dst_col) and its direction seen from there
    (rel_r, rel_c)."""
    structs = ", ".join(
        f"struct(tile_row + {ddr} AS dst_row, tile_col + {ddc} AS dst_col, "
        f"CAST({-ddr} AS INT) AS rel_r, CAST({-ddc} AS INT) AS rel_c, "
        f"{strip} AS strip, CAST({sh} AS INT) AS sh, CAST({sw} AS INT) AS sw)"
        for ddr, ddc, strip, sh, sw in _STRIPS
    )
    return tiles.select(F.inline(F.expr(f"array({structs})")), "row0", "col0", "h", "w")


def _assemble_pad(pdf: pd.DataFrame):
    """Rebuild the (h+2, w+2) nan-padded window from halo strip rows.

    Returns (center_row, pad) or None when the group is pure spill-over
    past the grid edge (no rel (0,0) contribution).  A strip from
    direction (rel_r, rel_c) lands on one slice per axis: -1 -> the pad's
    first line, 0 -> the tile's own span, 1 -> its last line (tiles in
    one tile row share h, in one tile column share w)."""
    center = pdf[(pdf.rel_r == 0) & (pdf.rel_c == 0)]
    if center.empty:
        return None
    c = center.iloc[0]
    h, w = int(c.h), int(c.w)
    rows = {-1: slice(0, 1), 0: slice(1, h + 1), 1: slice(h + 1, h + 2)}
    cols = {-1: slice(0, 1), 0: slice(1, w + 1), 1: slice(w + 1, w + 2)}
    pad = np.full((h + 2, w + 2), np.nan)
    for r in pdf.itertuples():
        s = np.asarray(r.strip, dtype=np.float64).reshape(int(r.sh), int(r.sw))
        pad[rows[int(r.rel_r)], cols[int(r.rel_c)]] = np.where(s == NODATA, np.nan, s)
    return c, pad


def stencil(tiles: DataFrame, fn, schema: str) -> DataFrame:
    """The one 3x3 halo pass over a tile table: ship each tile's 1-cell
    border strips to its 8 neighbors (_halo_contributions), group by
    destination tile (tile_map), rebuild the nan-padded window
    (_assemble_pad; nodata -> nan) and return ``fn(c, pad)`` for every tile
    with cells of its own.  ``c`` carries the tile's row0, col0, h, w and
    (dst_row, dst_col) = its (tile_row, tile_col); ``pad`` is (h+2, w+2),
    the tile at [1:h+1, 1:w+1].  ``fn`` returns a pandas frame of ``schema``; groups that are only
    spill-over past the grid edge return no rows."""

    def kernel(key, pdf):
        asm = _assemble_pad(pdf)
        return pd.DataFrame() if asm is None else fn(*asm)

    return tile_map(_halo_contributions(tiles), ["dst_row", "dst_col"], kernel, schema)


def cell_rows(c, keep, **cols) -> pd.DataFrame:
    """(row, col, **cols) rows of a stencil window's cells where ``keep``
    (an (h, w) mask).  Each column is an (h, w) array, or (k, h, w) for an
    array<double> column (one length-k list per cell)."""
    rr, cc = np.nonzero(keep)
    out = {"row": int(c.row0) + rr, "col": int(c.col0) + cc}
    for name, v in cols.items():
        v = v[..., rr, cc]
        out[name] = v if v.ndim == 1 else v.T.tolist()
    return pd.DataFrame(out)


def focal(tiles: DataFrame, stat: str, *, cell_size: float = 1.0) -> DataFrame:
    """3x3 focal statistics over the raster grid.

    stat in {'mean','min','max','range','stddev','total'} — the Filter*
    family (ImageProcessingTools/src/plugins/FilterMean.java:164-235 etc.);
    'slope' and 'hillshade' — the 3x3 finite-difference terrain derivatives
    (TerrainAnalysisTools/src/plugins/Slope.java:256-258, Hillshade.java).

    Nodata cells stay nodata; neighborhood stats use the AVAILABLE non-nodata
    neighbors (edge cells use their smaller window), matching the reference's
    per-tool `z != noData` guards.  Terrain derivatives need the full 3x3
    (else nodata).  Output cells round to 6 decimals: the float policy for
    engine-vs-oracle summation-order differences.  Runs on ``stencil``: the
    kernel below only turns one padded window into one output tile.
    """
    schema = "tile_row long, tile_col long, row0 long, col0 long, h int, w int, values array<double>"

    def kernel(c, pad):
        h, w = int(c.h), int(c.w)
        stack = np.stack([
            pad[1 + dr:1 + dr + h, 1 + dc:1 + dc + w] for dr, dc in _OFFS
        ])  # (9, h, w)
        centerv = pad[1:h + 1, 1:w + 1]
        with np.errstate(invalid="ignore", divide="ignore"):
            if stat in ("mean", "total", "min", "max", "range", "stddev", "median"):
                if stat == "mean":
                    out = np.nanmean(stack, axis=0)
                elif stat == "total":
                    out = np.nansum(np.where(np.isnan(stack), 0.0, stack), axis=0)
                    out = np.where(np.isnan(stack).all(axis=0), np.nan, out)
                elif stat == "min":
                    out = np.nanmin(stack, axis=0)
                elif stat == "max":
                    out = np.nanmax(stack, axis=0)
                elif stat == "range":
                    out = np.nanmax(stack, axis=0) - np.nanmin(stack, axis=0)
                elif stat == "median":
                    # interpolated median (mean of middles on even counts) —
                    # matches SQL MEDIAN; exact on dyadic inputs
                    out = np.nanmedian(stack, axis=0)
                else:
                    # explicit moment formula (not np.nanstd): with dyadic
                    # cell values the sums are exact, so this matches the
                    # oracle's SQL formula bit-for-bit
                    cnt = (~np.isnan(stack)).sum(axis=0).astype(np.float64)
                    s = np.nansum(np.where(np.isnan(stack), 0.0, stack), axis=0)
                    s2 = np.nansum(np.where(np.isnan(stack), 0.0, stack * stack), axis=0)
                    with np.errstate(invalid="ignore", divide="ignore"):
                        out = np.sqrt((s2 - s * s / cnt) / (cnt - 1.0))
                    out = np.where(cnt < 2, np.nan, out)
            elif stat == "sigma":
                # edge-preserving sigma filter (FilterLeeSigma family):
                # mean of window cells within a fixed band of the center
                band = 20.0
                inb = np.abs(stack - centerv[None]) <= band
                cnt = (inb & ~np.isnan(stack)).sum(axis=0).astype(np.float64)
                s = np.nansum(np.where(inb & ~np.isnan(stack), stack, 0.0), axis=0)
                out = s / cnt
                out = np.where(cnt < 1, np.nan, out)
            elif stat == "olympic":
                # FilterOlympic: mean excluding one min and one max
                cnt = (~np.isnan(stack)).sum(axis=0).astype(np.float64)
                s = np.nansum(np.where(np.isnan(stack), 0.0, stack), axis=0)
                out = (s - np.nanmin(stack, axis=0) - np.nanmax(stack, axis=0)) / (cnt - 2.0)
                out = np.where(cnt < 3, np.nan, out)
            elif stat == "tri":
                # terrain ruggedness: mean |dz| over available 8 neighbors
                nb = np.delete(stack, 4, axis=0)
                cnt = (~np.isnan(nb)).sum(axis=0).astype(np.float64)
                d = np.abs(nb - centerv[None])
                out = np.nansum(np.where(np.isnan(d), 0.0, d), axis=0) / cnt
                out = np.where(cnt < 1, np.nan, out)
            elif stat == "bilateral":
                # edge-preserving smoothing (ImageProcessingTools
                # FilterEdgePreservingSmoothing.java:235-290): distance x
                # intensity Gaussian weights, normalized; sigma_d = 1,
                # sigma_i = 10 (the 1/sqrt(2 pi sigma) prefactors cancel in
                # the normalization).  Transcendental -> callers round(6).
                wd = np.array(
                    [np.exp(-(dr * dr + dc * dc) / 2.0) for dr, dc in _OFFS]
                )[:, None, None]
                dv = stack - centerv[None]
                wgt = wd * np.exp(-(dv * dv) / 200.0)
                wgt = np.where(np.isnan(stack), 0.0, wgt)
                out = (wgt * np.where(np.isnan(stack), 0.0, stack)).sum(axis=0) \
                    / wgt.sum(axis=0)
                out = np.floor(out * 1e6 + 0.5) / 1e6  # shared half-up round
            elif stat == "minnbr":
                # min over the 8 NEIGHBORS (center excluded) — the FillPits
                # pit test / fill level (HydroTools FillPits.java:208-230)
                out = np.nanmin(np.delete(stack, 4, axis=0), axis=0)
            elif stat == "percentile":
                # ElevationPercentile: fraction of window cells strictly
                # below the center (center included in the denominator)
                cnt = (~np.isnan(stack)).sum(axis=0).astype(np.float64)
                less = np.nansum(
                    np.where(np.isnan(stack), 0.0, (stack < centerv[None]).astype(float)),
                    axis=0,
                )
                out = less / cnt
            elif stat == "adaptive":
                # FilterAdaptive (ImageProcessingTools FilterAdaptive.java:
                # 258-288, intended semantics — the reference's center
                # exclusion erroneously tests absolute grid coords): replace
                # the center with the 8-neighbor mean iff |z - mean| exceeds
                # 1.5 population-sigma; sigma <= 0 collapses to the mean on
                # both ratio branches (inf -> replace, NaN -> keep == mean).
                # Requires n > 2 valid neighbors.  Moments of <= 8 dyadic
                # values are exact -> deterministic cross-engine.
                nbs = np.delete(stack, 4, axis=0)
                n = (~np.isnan(nbs)).sum(axis=0).astype(np.float64)
                s = np.nansum(np.where(np.isnan(nbs), 0.0, nbs), axis=0)
                s2 = np.nansum(np.where(np.isnan(nbs), 0.0, nbs * nbs), axis=0)
                avg = s / n
                var = s2 / n - avg * avg
                out = np.where(
                    var <= 0.0, avg,
                    np.where(np.abs(centerv - avg) > 1.5 * np.sqrt(np.maximum(var, 0.0)),
                             avg, centerv),
                )
                out = np.where(n > 2, out, np.nan)
            elif stat == "valley_lq":
                # ExtractValleysLowerQuartile (StreamNetworkAnalysisTools
                # ExtractValleysLowerQuartile.java:244-263): 1 iff the
                # center is <= the (n/4)-th smallest valid window value
                # (0-indexed, n = valid count; the reference's circular
                # filterShape mask is computed but never applied — full
                # square window, mirrored here)
                cnt = (~np.isnan(stack)).sum(axis=0)
                srt = np.sort(np.where(np.isnan(stack), np.inf, stack), axis=0)
                k = cnt // 4
                kth = np.take_along_axis(srt, k[None], axis=0)[0]
                out = np.where(cnt > 0, (centerv <= kth).astype(np.float64), np.nan)
            elif stat == "conservative":
                # FilterConservativeSmoothing.java:170-213: clamp the center
                # into the [min, max] envelope of its available 8 neighbors
                nb = np.delete(stack, 4, axis=0)
                cnt = (~np.isnan(nb)).sum(axis=0).astype(np.float64)
                mn = np.nanmin(nb, axis=0)
                mx = np.nanmax(nb, axis=0)
                out = np.minimum(np.maximum(centerv, mn), mx)
                out = np.where(cnt < 1, np.nan, out)
            elif stat == "knearest":
                # FilterKNearestMean.java:170-357: mean of the k window
                # cells (center included) whose values are nearest the
                # center value; deterministic tie-break (|dv|, value, slot)
                # mirrored exactly by the SQL oracle's ROW_NUMBER ordering.
                k = 5
                flat = stack.reshape(9, -1)
                cf = centerv.reshape(-1)
                ad = np.abs(flat - cf[None])
                ad = np.where(np.isnan(flat), np.inf, ad)
                vkey = np.where(np.isnan(flat), np.inf, flat)
                slot = np.broadcast_to(
                    np.arange(9, dtype=np.float64)[:, None], flat.shape
                )
                order = np.lexsort((slot, vkey, ad), axis=0)
                sel = np.take_along_axis(flat, order, axis=0)[:k]
                nsel = (~np.isnan(sel)).sum(axis=0).astype(np.float64)
                s = np.nansum(np.where(np.isnan(sel), 0.0, sel), axis=0)
                out = (s / nsel).reshape(centerv.shape)
                out = np.where(np.isnan(centerv), np.nan, out)
            elif stat == "difffrommean":
                # DifferenceFromMeanElevation.java:175-198: z - window mean
                # (center included; dyadic sum exact, division IEEE-identical)
                cnt = (~np.isnan(stack)).sum(axis=0).astype(np.float64)
                s = np.nansum(np.where(np.isnan(stack), 0.0, stack), axis=0)
                out = centerv - s / cnt
            elif stat in ("majority", "diversity"):
                # classes = floor(value); majority tie-break: smallest class
                cls = np.floor(stack)
                srt = np.sort(cls, axis=0)  # nan sorts last
                valid = ~np.isnan(srt)
                if stat == "diversity":
                    new = valid[1:] & valid[:-1] & (srt[1:] != srt[:-1])
                    out = (valid[0].astype(float)
                           + new.sum(axis=0).astype(float))
                    out = np.where(valid.any(axis=0), out, np.nan)
                else:
                    best_v = np.full(centerv.shape, np.nan)
                    best_n = np.zeros(centerv.shape, dtype=np.int64)
                    run_v = srt[0]
                    run_n = valid[0].astype(np.int64)
                    for i in range(1, srt.shape[0]):
                        cont = valid[i] & (srt[i] == run_v)
                        take = run_n > best_n  # strict >: earlier (smaller) wins ties
                        best_v = np.where(take, run_v, best_v)
                        best_n = np.where(take, run_n, best_n)
                        run_v = np.where(cont, run_v, srt[i])
                        run_n = np.where(cont, run_n + 1, valid[i].astype(np.int64))
                    take = run_n > best_n
                    best_v = np.where(take, run_v, best_v)
                    out = best_v
            else:
                # Slope.java:256-258 finite differences (8 neighbors, full window)
                nw, nn, ne, wv, _, ev, sw, ss, se = stack
                fx = (ne - nw + 2.0 * (ev - wv) + se - sw) / (8.0 * cell_size)
                fy = (sw - nw + 2.0 * (ss - nn) + se - ne) / (8.0 * cell_size)
                if stat == "sobel":
                    gx = ne + 2.0 * ev + se - nw - 2.0 * wv - sw
                    gy = sw + 2.0 * ss + se - nw - 2.0 * nn - ne
                    out = np.sqrt(gx * gx + gy * gy)
                elif stat == "slope":
                    out = np.degrees(np.arctan(np.sqrt(fx * fx + fy * fy)))
                elif stat == "aspect":
                    # Aspect.java orientation: degrees clockwise from north
                    out = np.degrees(np.arctan2(fy, -fx))
                    out = np.where(out < 0.0, out + 360.0, out)
                elif stat == "hillshade":
                    az, alt = np.radians(315.0), np.radians(30.0)
                    slope_r = np.arctan(np.sqrt(fx * fx + fy * fy))
                    aspect_r = np.arctan2(-fx, fy)
                    out = (np.sin(alt) * np.cos(slope_r)
                           + np.cos(alt) * np.sin(slope_r) * np.cos(az - aspect_r))
                elif stat == "gaussian":
                    # 3x3 binomial smoothing (FilterGaussian 3x3 kernel):
                    # dyadic /16 weights — exact
                    out = (nw + 2.0 * nn + ne + 2.0 * wv + 4.0 * centerv
                           + 2.0 * ev + sw + 2.0 * ss + se) / 16.0
                elif stat == "laplacian":
                    # 4-connected Laplacian (FilterLaplacian) — integer weights
                    out = 4.0 * centerv - nn - ss - wv - ev
                elif stat == "prewitt":
                    # FilterPrewitt: unit-weight gradient pair
                    gx = ne + ev + se - nw - wv - sw
                    gy = sw + ss + se - nw - nn - ne
                    out = np.sqrt(gx * gx + gy * gy)
                elif stat == "emboss":
                    # FilterEmboss (NW-SE relief kernel, integer weights)
                    out = -nw - nn - wv + ev + ss + se
                elif stat == "highpass":
                    # FilterHighPass 3x3: center 8, ring -1
                    out = 8.0 * centerv - (nw + nn + ne + wv + ev + sw + ss + se)
                elif stat == "linedet":
                    # FilterLineDetection: max response of the 4 oriented
                    # line kernels (2 on the line, -1 off)
                    ring = nw + nn + ne + wv + ev + sw + ss + se
                    hh = 3.0 * (wv + centerv + ev) - (ring + centerv)
                    vv_ = 3.0 * (nn + centerv + ss) - (ring + centerv)
                    d1 = 3.0 * (nw + centerv + se) - (ring + centerv)
                    d2 = 3.0 * (ne + centerv + sw) - (ring + centerv)
                    out = np.maximum(np.maximum(hh, vv_), np.maximum(d1, d2))
                elif stat in ("ndn", "nun"):
                    # NumDownslopeNeighbours.java / NumUpslopeNeighbours.java:
                    # count of strictly lower / higher 8-neighbors (exact ints)
                    op = np.less if stat == "ndn" else np.greater
                    out = sum(op(n, centerv).astype(np.float64)
                              for n in (nw, nn, ne, wv, ev, sw, ss, se))
                elif stat == "ridge":
                    # FindRidges.java:196-215: N-S pair OR E-W pair both lower
                    out = (((nn < centerv) & (ss < centerv))
                           | ((wv < centerv) & (ev < centerv))).astype(np.float64)
                elif stat == "maxdrop":
                    # MaxDownslopeElevationChange.java: z - min 8-neighbor
                    # (exact on dyadic cells, no rounding drift)
                    out = centerv - np.minimum.reduce(
                        [nw, nn, ne, wv, ev, sw, ss, se])
                elif stat == "mindrop":
                    # MinDownslopeElevationChange.java:240-266: the elevation
                    # drop of the GENTLEST non-negative downslope direction
                    # (slope = drop/dist); ties keep the reference's scan
                    # order c = NE,E,SE,S,SW,W,NW,N (argmin first-occurrence)
                    r2 = 1.4142135623730951
                    nbs = np.stack([ne, ev, se, ss, sw, wv, nw, nn])
                    dist = np.array(
                        [r2, 1.0, r2, 1.0, r2, 1.0, r2, 1.0])[:, None, None]
                    sl = (centerv[None] - nbs) / dist
                    sl = np.where(sl < 0, np.inf, sl)
                    idx = np.argmin(sl, axis=0)
                    zch = centerv - np.take_along_axis(nbs, idx[None], 0)[0]
                    out = np.where(np.isinf(np.min(sl, axis=0)), 0.0, zch)
                elif stat in ("curv_plan", "curv_profile", "curv_total",
                              "curv_tang"):
                    # Zevenbergen-Thorne quadratic-fit coefficients
                    # (PlanCurv.java / ProfCurv.java / TotalCurv.java family)
                    L2 = cell_size * cell_size
                    Dq = ((wv + ev) / 2.0 - centerv) / L2
                    Eq = ((nn + ss) / 2.0 - centerv) / L2
                    Fq = (-nw + ne + sw - se) / (4.0 * L2)
                    Gq = (-wv + ev) / (2.0 * cell_size)
                    Hq = (nn - ss) / (2.0 * cell_size)
                    gh = Gq * Gq + Hq * Hq
                    if stat == "curv_total":
                        out = -2.0 * (Dq + Eq)
                    elif stat == "curv_plan":
                        out = np.where(
                            gh == 0.0, 0.0,
                            2.0 * (Dq * Hq * Hq + Eq * Gq * Gq - Fq * Gq * Hq) / gh,
                        )
                    elif stat == "curv_tang":
                        # TangentialCurv.java:270 — plan numerator normalized
                        # by the surface metric sqrt(1 + p)
                        out = np.where(
                            gh == 0.0, 0.0,
                            2.0 * (Dq * Hq * Hq + Eq * Gq * Gq - Fq * Gq * Hq)
                            / (gh * np.sqrt(1.0 + gh)),
                        )
                    else:
                        out = np.where(
                            gh == 0.0, 0.0,
                            -2.0 * (Dq * Gq * Gq + Eq * Hq * Hq + Fq * Gq * Hq) / gh,
                        )
                else:
                    raise ValueError(stat)
                # transcendental outputs round to 6 decimals (libm ulp policy);
                # moment/order stats above are exact on dyadic inputs - no
                # rounding.  Half-UP idiom floor(x*1e6+0.5)/1e6 — the same
                # formula the oracle SQL uses (np.round is HALF_EVEN, DuckDB
                # ROUND is half-away-from-zero; mixing them breaks exact ties)
                out = np.floor(out * 1e6 + 0.5) / 1e6
                out = np.where(np.isnan(stack).any(axis=0), np.nan, out)
        out = np.where(np.isnan(centerv), np.nan, out)
        out = np.where(np.isnan(out), NODATA, out)
        return pd.DataFrame(
            {
                "tile_row": [int(c.dst_row)], "tile_col": [int(c.dst_col)],
                "row0": [int(c.row0)], "col0": [int(c.col0)],
                "h": [h], "w": [w], "values": [out.ravel().tolist()],
            }
        )

    return stencil(tiles, kernel, schema)


def downsample(tiles: DataFrame, k: int) -> DataFrame:
    """Aggregate (RasterCreation/src/plugins/Aggregate.java:220-240): mean
    over k x k blocks -> coarser grid, as a cell-level groupBy (blocks never
    span partitions after the tile shuffle; Catalyst partial-aggregates)."""
    cells = explode_cells(tiles)
    return (
        cells.where(F.col("value") != NODATA)
        .groupBy(
            (F.col("row") / k).cast("long").alias("brow"),
            (F.col("col") / k).cast("long").alias("bcol"),
        )
        .agg(F.round(F.avg("value"), 6).cast("double").alias("mean_val"),
             F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# generic n-band stack statistics (numberStacks surface)
# ---------------------------------------------------------------------------
# shared Spark/DuckDB aggregate fragments over the windowed stack columns
# (_mx/_mn/_ma/_rv = per-cell max/min/max-abs/reference-band value)
STACK_AGGS = {
    "n_bands": "COUNT(*)",
    "mean_v": "SUM(value) / COUNT(*)",
    "min_v": "MIN(value)",
    "max_v": "MAX(value)",
    "range_v": "MAX(value) - MIN(value)",
    "highest_pos": "MIN(CASE WHEN value = _mx THEN band END)",
    "lowest_pos": "MIN(CASE WHEN value = _mn THEN band END)",
    "maxabs_v": "MIN(CASE WHEN ABS(value) = _ma THEN value END)",
    "pct_gt_ref": (
        "CAST(SUM(CASE WHEN band != {ref} AND value > _rv THEN 1 ELSE 0 END) "
        "AS DOUBLE) / NULLIF(SUM(CASE WHEN band != {ref} THEN 1 ELSE 0 END), 0)"
    ),
}


def stack_stats(stack: DataFrame, ref_band: int = 0) -> DataFrame:
    """Per-cell statistics over an arbitrary-depth band stack — the generic
    n-band surface the pairwise overlay tools specialize (reference
    `numberStacks`, WhiteboxRasterBase.java:280-283;
    HighestPosition.java / LowestPosition.java / PercentGreaterThan.java /
    MaxAbsoluteOverlay.java generalized from 2 rasters to n bands).

    stack: (row, col, band, value) with nodata already filtered.  One
    shuffle on (row, col); the positional statistics are conditional
    aggregates against in-group window extrema, so the plan shape is
    invariant in the number of bands (no per-band join, no band loop).
    Ties resolve to the lowest band (positions) / smallest value
    (maxabs_v) — deterministic in both engines.  All sums are exact
    (dyadic cell values), so no rounding policy is needed."""
    from pyspark.sql import Window

    w = Window.partitionBy("row", "col")
    e = stack.select(
        "row", "col", "band", "value",
        F.max("value").over(w).alias("_mx"),
        F.min("value").over(w).alias("_mn"),
        F.max(F.abs(F.col("value"))).over(w).alias("_ma"),
        F.max(F.when(F.col("band") == ref_band, F.col("value"))).over(w).alias("_rv"),
    )
    return (
        e.groupBy("row", "col")
        .agg(*[
            F.expr(sql.format(ref=ref_band)).alias(name)
            for name, sql in STACK_AGGS.items()
        ])
        .orderBy("row", "col")
    )
