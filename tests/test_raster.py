"""Raster kernels vs independent brute-force numpy oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from whitebox_geospatial_analysis_tools_spark.operators import hydro as H
from whitebox_geospatial_analysis_tools_spark.operators import raster as R

ROWS, COLS = 70, 90  # spans multiple 64-tiles in both axes incl. partials


@pytest.fixture(scope="module")
def dem_grid(spark):
    """Materialize the synthetic raster into a dense numpy grid (oracle)."""
    cells = R.explode_cells(R.synth_raster(spark, ROWS, COLS)).toPandas()
    g = np.full((ROWS, COLS), np.nan)
    g[cells["row"], cells["col"]] = cells["value"]
    assert not np.isnan(g).any()
    return np.where(g == R.NODATA, np.nan, g)


def test_synth_raster_tiling(spark):
    tiles = R.synth_raster(spark, ROWS, COLS).toPandas()
    assert tiles[["h"]].sum().iloc[0] * 0 == 0
    assert (tiles.h * tiles.w).sum() == ROWS * COLS
    # partial edge tiles present
    assert set(tiles.h) == {64, 6} and set(tiles.w) == {64, 26}


def test_focal_mean_vs_numpy(spark, dem_grid):
    out = R.explode_cells(R.focal(R.synth_raster(spark, ROWS, COLS), "mean")).toPandas()
    got = np.full((ROWS, COLS), np.nan)
    got[out["row"], out["col"]] = out["value"]
    got = np.where(got == R.NODATA, np.nan, got)
    pad = np.pad(dem_grid, 1, constant_values=np.nan)
    stack = np.stack([
        pad[1 + dr:1 + dr + ROWS, 1 + dc:1 + dc + COLS]
        for dr in (-1, 0, 1) for dc in (-1, 0, 1)
    ])
    with np.errstate(invalid="ignore"):
        want = np.nanmean(stack, axis=0)
    want = np.where(np.isnan(dem_grid), np.nan, want)
    assert np.allclose(got, want, equal_nan=True, atol=1e-12)


def test_map_and_zip_algebra(spark, dem_grid):
    ras = R.synth_raster(spark, ROWS, COLS)
    out = R.explode_cells(R.zip_algebra(R.map_algebra(ras, "v * 3e0"), ras, "x - y")).toPandas()
    got = np.full((ROWS, COLS), np.nan)
    got[out["row"], out["col"]] = out["value"]
    got = np.where(got == R.NODATA, np.nan, got)
    want = dem_grid * 3.0 - dem_grid
    assert np.allclose(got, want, equal_nan=True, atol=0)


def test_raster_stats_vs_numpy(spark, dem_grid):
    st = R.raster_stats(R.synth_raster(spark, ROWS, COLS)).collect()[0]
    v = dem_grid[~np.isnan(dem_grid)]
    assert st.n == len(v)
    assert st.min_val == v.min() and st.max_val == v.max()
    assert abs(st.mean_val - v.mean()) < 1e-6
    assert abs(st.stddev_val - v.std(ddof=1)) < 1e-6


def test_downsample_vs_pandas(spark, dem_grid):
    out = R.downsample(R.synth_raster(spark, ROWS, COLS), 4).toPandas()
    cells = pd.DataFrame({
        "brow": np.repeat(np.arange(ROWS) // 4, COLS),
        "bcol": np.tile(np.arange(COLS) // 4, ROWS),
        "v": dem_grid.ravel(),
    }).dropna()
    want = cells.groupby(["brow", "bcol"])["v"].agg(["mean", "count"]).reset_index()
    m = out.merge(want, on=["brow", "bcol"])
    assert len(m) == len(want) == len(out)
    assert (m["n"] == m["count"]).all()
    assert np.allclose(m["mean_val"], m["mean"].round(6))


STENCILS = {
    "focal_mean": lambda t: R.explode_cells(R.focal(t, "mean")),
    "focal_slope": lambda t: R.explode_cells(R.focal(t, "slope")),
    "focal_majority": lambda t: R.explode_cells(R.focal(t, "majority")),
    **{name: getattr(H, name) for name in (
        "flow_pointer_d8", "flow_pointer_rho8", "fd8_weights", "mdinf_weights",
        "flow_pointer_dinf",
    )},
}


@pytest.mark.parametrize("case", list(STENCILS))
def test_focal_invariant_to_tile_size(spark, case):
    """Halo-exchange correctness: no 3x3 stencil kernel's output depends
    on the tile decomposition (tile=16 vs 64 vs 128 covers interior/edge/
    corner halos) — bit-identical, array columns included."""
    outs = []
    for tile in (16, 64, 128):
        pdf = STENCILS[case](R.synth_raster(spark, 70, 90, tile=tile)).toPandas()
        outs.append(pdf.sort_values(["row", "col"]).reset_index(drop=True))
    for other in outs[1:]:
        assert list(outs[0].columns) == list(other.columns)
        assert len(outs[0]) == len(other) > 0
        for c in outs[0].columns:
            a, b = np.array(outs[0][c].tolist()), np.array(other[c].tolist())
            assert np.array_equal(a, b), c


def test_flow_accum_invariant_to_tile_size(spark):
    from whitebox_geospatial_analysis_tools_spark.operators.hydro import (
        flow_accum, flow_pointer_d8,
    )

    res = []
    for tile in (32, 64):
        acc = flow_accum(flow_pointer_d8(R.synth_raster(spark, 40, 60, tile=tile)))
        res.append({(r.row, r.col): r.accum for r in acc.collect()})
    assert res[0] == res[1] and res[0]
