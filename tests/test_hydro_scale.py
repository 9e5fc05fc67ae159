"""Large-raster hydro correctness: 1200x1800 DEM (2.16M cells) vs an
independent sequential numpy oracle, plus tile-size invariance.

VERDICT r1 'done' criterion for the flow_accum rebuild: green at >=1200x1800
with wall time growing ~linearly (the round-1 closure-doubling plan was
already 30 s at 120x180; the tile-local plan runs this 100x larger grid in
seconds)."""

from __future__ import annotations

import re
import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from whitebox_geospatial_analysis_tools_spark.operators import raster as R
from whitebox_geospatial_analysis_tools_spark.operators.clump import clump
from whitebox_geospatial_analysis_tools_spark.operators.hydro import (
    D8_OFFS, flow_accum, flow_pointer_d8, watershed,
)

A, C, M = 2654435761, 987654321, 2147483648


def synth_values(rows: int, cols: int, band: int = 0) -> np.ndarray:
    """numpy mirror of operators/raster.cell_value_sql (exact int math)."""
    r = np.arange(rows, dtype=np.int64)[:, None]
    c = np.arange(cols, dtype=np.int64)[None, :]
    key = r * cols + c + band * 1_000_003
    u = (key * A + C) % M
    v = 0.25 * r + 0.125 * c + (u % 100000) / 1024.0
    return np.where(u % 97 == 0, np.nan, v)


def d8_pointer_np(dem: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(dr, dc) per cell toward steepest drop-rate neighbor; (0,0) = pit."""
    h, w = dem.shape
    pad = np.full((h + 2, w + 2), np.nan)
    pad[1:-1, 1:-1] = dem
    best = np.zeros((h, w))
    bj = np.full((h, w), -1)
    for j, (dr, dc, dist) in enumerate(D8_OFFS):
        nb = pad[1 + dr:1 + dr + h, 1 + dc:1 + dc + w]
        with np.errstate(invalid="ignore"):
            rate = (dem - nb) / dist
        rate = np.where(np.isnan(rate), -np.inf, rate)
        take = rate > best
        best = np.where(take, rate, best)
        bj = np.where(take, j, bj)
    drs = np.array([o[0] for o in D8_OFFS] + [0])
    dcs = np.array([o[1] for o in D8_OFFS] + [0])
    return drs[bj], dcs[bj]


def accum_np(dem: np.ndarray) -> np.ndarray:
    """Sequential global Kahn accumulation — the independent oracle."""
    h, w = dem.shape
    dr, dc = d8_pointer_np(dem)
    valid = ~np.isnan(dem)
    idx = np.arange(h * w).reshape(h, w)
    tr, tc = np.arange(h)[:, None] + dr, np.arange(w)[None, :] + dc
    has = valid & ((dr != 0) | (dc != 0))
    tgt = np.where(has, idx[np.clip(tr, 0, h - 1), np.clip(tc, 0, w - 1)], -1).ravel()
    acc = valid.astype(np.int64).ravel()
    indeg = np.bincount(tgt[tgt >= 0], minlength=h * w)
    processed = ~valid.ravel()
    frontier = np.flatnonzero((indeg == 0) & ~processed)
    while frontier.size:
        processed[frontier] = True
        fe = frontier[tgt[frontier] >= 0]
        if fe.size:
            t = tgt[fe]
            np.add.at(acc, t, acc[fe])
            indeg = indeg - np.bincount(t, minlength=h * w)
            frontier = np.flatnonzero((indeg == 0) & ~processed)
        else:
            frontier = np.array([], dtype=np.int64)
    return np.where(valid, acc.reshape(h, w), -1)


def terminal_np(dem: np.ndarray) -> np.ndarray:
    """Terminal flat id (row*1e6+col) per cell — watershed oracle."""
    h, w = dem.shape
    dr, dc = d8_pointer_np(dem)
    valid = ~np.isnan(dem)
    idx = np.arange(h * w).reshape(h, w)
    tr = np.clip(np.arange(h)[:, None] + dr, 0, h - 1)
    tc = np.clip(np.arange(w)[None, :] + dc, 0, w - 1)
    has = valid & ((dr != 0) | (dc != 0))
    nxt = np.where(has, idx[tr, tc], idx).ravel()
    dest = nxt
    while True:
        nd = dest[dest]
        if np.array_equal(nd, dest):
            break
        dest = nd
    r, c = dest // w, dest % w
    return np.where(valid, (r * 1_000_000 + c).reshape(h, w), -1)


ROWS, COLS = 1200, 1800


@pytest.fixture(scope="module")
def big_pointers(spark):
    return flow_pointer_d8(R.synth_raster(spark, ROWS, COLS)).persist()


def test_flow_accum_large(spark, big_pointers):
    dem = synth_values(ROWS, COLS)
    want = accum_np(dem)
    t0 = time.time()
    got = flow_accum(big_pointers).toPandas()
    wall = time.time() - t0
    assert len(got) == int((~np.isnan(dem)).sum())
    g = np.full((ROWS, COLS), -1, dtype=np.int64)
    g[got["row"].to_numpy(), got["col"].to_numpy()] = got["accum"].to_numpy()
    assert np.array_equal(g, want)
    assert wall < 120, f"flow_accum at 2.16M cells took {wall:.1f}s"


def test_watershed_large(spark, big_pointers):
    dem = synth_values(ROWS, COLS)
    want = terminal_np(dem)
    got = watershed(big_pointers).toPandas()
    g = np.full((ROWS, COLS), -1, dtype=np.int64)
    g[got["row"].to_numpy(), got["col"].to_numpy()] = got["ws"].to_numpy()
    assert np.array_equal(g, want)


def test_clump_tile_invariance(spark):
    cells = (
        R.explode_cells(R.synth_raster(spark, 120, 180))
        .where(F.col("value") != R.NODATA)
        .select("row", "col",
                F.expr("CAST(FLOOR(value / 50e0) AS BIGINT)").alias("cls"))
    )
    a = clump(cells, 180, tile=32).toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    b = clump(cells, 180, tile=256).toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    assert a.equals(b)


def priority_flood_np(dem: np.ndarray) -> np.ndarray:
    """Sequential priority-flood (Barnes et al. 2014 formulation) — the
    independent fill oracle.  Open cells: raster border or nan-adjacent."""
    import heapq

    h, w = dem.shape
    filled = np.full((h, w), np.inf)
    valid = ~np.isnan(dem)
    # seed: border or any missing 8-neighbor
    pad = np.pad(valid, 1, constant_values=False)
    nbr_all = np.zeros((h, w), dtype=bool)
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            if dr == 0 and dc == 0:
                continue
            nbr_all |= ~pad[1 + dr:1 + dr + h, 1 + dc:1 + dc + w]
    seed = valid & nbr_all
    heap = []
    for r, c in zip(*np.nonzero(seed)):
        filled[r, c] = dem[r, c]
        heap.append((dem[r, c], int(r), int(c)))
    heapq.heapify(heap)
    while heap:
        f, r, c = heapq.heappop(heap)
        if f > filled[r, c]:
            continue
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                nr, nc = r + dr, c + dc
                if 0 <= nr < h and 0 <= nc < w and valid[nr, nc]:
                    nf = max(dem[nr, nc], f)
                    if nf < filled[nr, nc]:
                        filled[nr, nc] = nf
                        heapq.heappush(heap, (nf, nr, nc))
    return np.where(valid, filled, np.nan)


def test_fill_depressions_multi_tile(spark):
    from whitebox_geospatial_analysis_tools_spark.operators.hydro import (
        fill_depressions,
    )

    R_, C_ = 96, 128
    dem = synth_values(R_, C_)
    want = priority_flood_np(dem)
    cells = (
        __import__(
            "whitebox_geospatial_analysis_tools_spark.operators.raster",
            fromlist=["raster"],
        ).explode_cells(
            __import__(
                "whitebox_geospatial_analysis_tools_spark.operators.raster",
                fromlist=["raster"],
            ).synth_raster(spark, R_, C_)
        )
        .where(F.col("value") != R.NODATA)
        .withColumnRenamed("value", "dem")
    )
    got = fill_depressions(cells, R_, C_, tile=32).toPandas()
    g = np.full((R_, C_), np.nan)
    g[got["row"].to_numpy(), got["col"].to_numpy()] = got["filled"].to_numpy()
    m = ~np.isnan(want)
    assert np.array_equal(g[m], want[m])
    assert np.isnan(g[~m]).all()
    # filled DEM is pit-free: every non-open cell has a neighbor with
    # filled <= its own filled (water can always continue downhill/level)
    h, w = want.shape
    padf = np.pad(np.where(m, g, np.inf), 1, constant_values=np.inf)
    best_nbr = np.full((h, w), np.inf)
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            if dr == 0 and dc == 0:
                continue
            best_nbr = np.minimum(best_nbr, padf[1 + dr:1 + dr + h, 1 + dc:1 + dc + w])
    # seeds (border / nan-adjacent) legitimately drain off-grid and may be
    # local minima; the pit-free property holds for every NON-seed cell
    padv = np.pad(m, 1, constant_values=False)
    nan_adj = np.zeros((h, w), dtype=bool)
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            if dr == 0 and dc == 0:
                continue
            nan_adj |= ~padv[1 + dr:1 + dr + h, 1 + dc:1 + dc + w]
    interior = m & ~nan_adj & (best_nbr != np.inf)
    assert (best_nbr[interior] <= g[interior]).all()


def test_flowpath_and_upslope_tile_invariance(spark):
    from whitebox_geospatial_analysis_tools_spark.operators.hydro import (
        flow_pointer_d8, flowpath_length, upslope_max_length,
    )

    ptr = flow_pointer_d8(R.synth_raster(spark, 96, 128)).persist()
    for op in (flowpath_length, upslope_max_length):
        a = op(ptr, tile=32).toPandas().sort_values(["row", "col"]).reset_index(drop=True)
        b = op(ptr, tile=256).toPandas().sort_values(["row", "col"]).reset_index(drop=True)
        assert len(a) == len(b) > 0
        # values agree to the rounding policy (tile joins change association)
        va = a.iloc[:, 2].to_numpy()
        vb = b.iloc[:, 2].to_numpy()
        assert np.abs(va - vb).max() <= 1e-6 + 1e-9
    ptr.unpersist()


def test_d8_accum_one_tile_path(spark):
    """At tile=256 the 96x128 grid is one tile, so no flow crosses a tile
    edge and the condensed graph is empty: pass B still runs (ext = 0) and
    must equal the 12-tile run at tile=32 exactly, for the count and the
    integer-weighted accumulation alike."""
    from whitebox_geospatial_analysis_tools_spark.operators.hydro import (
        weighted_flow_accum,
    )

    ptr = flow_pointer_d8(R.synth_raster(spark, 96, 128)).persist()
    w = ptr.select("row", "col",
                   F.expr("(row * 7 + col) % 11 - 3").cast("long").alias("w0"))
    for op in (flow_accum, lambda p, tile: weighted_flow_accum(p, w, tile=tile)):
        a, b = (op(ptr, tile=t).toPandas().sort_values(["row", "col"])
                .reset_index(drop=True) for t in (32, 256))
        assert len(a) > 0 and a.equals(b)
        if op is flow_accum:
            want = accum_np(synth_values(96, 128))
            assert len(b) == int((want >= 0).sum())
            assert np.array_equal(
                b["accum"].to_numpy(),
                want[b["row"].to_numpy(), b["col"].to_numpy()])
    ptr.unpersist()


def _noop_plan(spark, df) -> str:
    """The executed (final AQE) physical plan of a noop write of ``df``."""
    df.write.format("noop").mode("overwrite").save()
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # the final AQE plan reaches the store
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    last = max((execs.apply(i) for i in range(execs.size())),
               key=lambda e: e.executionId())
    return last.physicalPlanDescription()


def test_flow_accum_plan_reads_cached_cells(spark):
    """The executed plan of a noop write of flow_accum: pass B is the only
    Python node (raster.tile_map's MapInArrow) above the cache, reading the
    persisted tiled
    pointer cells through an InMemoryTableScan (the pointer kernel is not
    rerun) with no shuffle (the cells are cached partitioned by tile), and
    nothing filters pass B's output."""
    plan = _noop_plan(spark, flow_accum(
        flow_pointer_d8(R.synth_raster(spark, 96, 128)), tile=32))
    assert "InMemoryRelation" in plan
    above = plan[:plan.index("InMemoryRelation")]
    assert above.count("MapInArrow") == 1
    assert above.index("InMemoryTableScan") > above.index("MapInArrow")
    assert re.search(r"InMemoryTableScan\nOutput \[5\]: \[row#\d+L, col#\d+L, "
                     r"code#\d+L, _tr#\d+L, _tc#\d+L\]", plan)
    assert "Filter" not in above
    assert "Exchange" not in above


def test_fd8_accum_plan_reads_cached_cells(spark):
    """The executed plan of a noop write of fd8_accum's driver tier: its
    output pass reads the persisted tiled weight cells, hash-partitioned by
    tile as an explicit-count repartition, through an InMemoryTableScan
    with no shuffle above it (the inflow table arrives by broadcast): one
    Python node (raster.tile_map's MapInArrow) above the cache."""
    from whitebox_geospatial_analysis_tools_spark.operators.hydro import fd8_accum

    plan = _noop_plan(spark, fd8_accum(R.synth_raster(spark, 96, 128), tile=32))
    assert "InMemoryRelation" in plan
    n = spark.conf.get("spark.sql.shuffle.partitions")
    assert re.search(r"hashpartitioning\(_tr#\d+L, _tc#\d+L, " + n
                     + r"\), REPARTITION_BY_NUM", plan)
    above = plan[:plan.index("InMemoryRelation")]
    assert above.count("MapInArrow") == 1
    assert above.index("InMemoryTableScan") > above.index("MapInArrow")
    assert not re.search(r"(?<!Broadcast)Exchange", above)


def test_focal_groups_one_task_per_shuffle_partition(spark):
    """focal's and clump's Python nodes (raster.tile_map's MapInArrow)
    read their rows hash-partitioned by tile, (dst_row, dst_col) and
    (_tr, _tc), into the session's shuffle partitions as an explicit-count
    repartition, which AQE does not coalesce into one Python task."""
    n = spark.conf.get("spark.sql.shuffle.partitions")
    tiles = R.synth_raster(spark, 96, 128)
    cells = (R.explode_cells(tiles).where(F.col("value") != R.NODATA)
             .select("row", "col",
                     F.expr("CAST(FLOOR(value / 50e0) AS BIGINT)").alias("cls")))
    for plan, keys in ((_noop_plan(spark, R.focal(tiles, "mean")), ("dst_row", "dst_col")),
                       (_noop_plan(spark, clump(cells, 128, tile=32)), ("_tr", "_tc"))):
        assert plan.count("MapInArrow") >= 1
        assert re.search(rf"hashpartitioning\({keys[0]}#\d+L, {keys[1]}#\d+L, "
                         + n + r"\), REPARTITION_BY_NUM", plan)
        assert "ENSURE_REQUIREMENTS" not in plan  # the tile pass adds no shuffle
        assert "AQEShuffleRead" not in plan


def test_tile_kernel_stop_mask_without_downcast():
    """An absorbing `stop` column arrives from the left join as object
    dtype (True / None); the kernel reads it without pandas' fillna
    downcast warning, and a stop cell still cuts the path through it."""
    import warnings

    import pyarrow as pa

    from whitebox_geospatial_analysis_tools_spark.operators.hydro import (
        _tile_flow_kernel,
    )

    east = 2 ** 4  # D8 code toward (0, +1)
    pdf = pa.table({
        "row": [0, 0, 0], "col": [0, 1, 2], "code": [east, east, 0],
        "stop": pa.array([None, True, None]),
    }).to_pandas()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = _tile_flow_kernel(8)((0, 0), pdf)
    k0 = out[out["kind"] == 0].set_index("col")
    assert k0["acc"].tolist() == [1, 2, 1]
    assert k0["p_col"].tolist() == [1, 1, 2]


def test_fd8_tile_invariance(spark):
    from whitebox_geospatial_analysis_tools_spark.operators.hydro import fd8_accum

    dem = R.synth_raster(spark, 96, 128)
    a = fd8_accum(dem, tile=32).toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    b = fd8_accum(dem, tile=256).toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    assert len(a) == len(b) > 0
    assert np.abs(a["accum"].to_numpy() - b["accum"].to_numpy()).max() <= 1e-4 + 1e-9


def test_mass_flux_tile_invariance(spark):
    from pyspark.sql import functions as F

    from whitebox_geospatial_analysis_tools_spark.operators import raster as R
    from whitebox_geospatial_analysis_tools_spark.operators.hydro import (
        flow_pointer_d8, mass_flux_d8,
    )

    dem = R.synth_raster(spark, 48, 64)
    ptr = flow_pointer_d8(dem)
    cells = ptr.select(
        "row", "col", "code",
        F.lit(1.0).alias("load"),
        (F.expr("CAST(8 + (row + col) % 8 AS DOUBLE)") / 16.0).alias("eff"),
        (F.expr("CAST((row * 3 + col) % 4 AS DOUBLE)") / 4.0).alias("absorp"),
    )
    a = mass_flux_d8(cells, tile=16).toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    b = mass_flux_d8(cells, tile=256).toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    assert a.equals(b)


def _mass_flux_oracle(code, load, eff, absorp):
    """Sequential numpy MassFluxD8 for a grid whose every pointer steps one
    row down (S, SW or SE): rows in order are a topological order."""
    acc = load.copy()
    rows, cols = code.shape
    for r in range(rows - 1):
        for c in range(cols):
            j = int(np.log2(code[r, c]))
            dr, dc, _ = D8_OFFS[j]
            if 0 <= c + dc < cols:
                acc[r + dr, c + dc] += max(0.0, (acc[r, c] - absorp[r, c]) * eff[r, c])
    return acc


def _mass_flux_cells(spark, code, eff, absorp):
    """(cells frame, (load, eff, absorp)) with load 1."""
    rows, cols = code.shape
    r, c = np.mgrid[0:rows, 0:cols]
    load = np.ones((rows, cols))
    pdf = pd.DataFrame({
        "row": r.ravel(), "col": c.ravel(), "code": code.ravel(),
        "load": load.ravel(), "eff": eff.ravel(), "absorp": absorp.ravel(),
    })
    return spark.createDataFrame(pdf), (load, eff, absorp)


def test_mass_flux_zigzag_crosses_a_border_per_row(spark):
    """Columns 15 and 16 alternate SE/SW on every row (all other cells point
    S), so at tile=16 two paths cross the tile border between them once per
    row, 39 times: halo_rounds moves mass one border per round and still
    converges under its cap, equal to the one-tile solve and to a
    sequential oracle."""
    from whitebox_geospatial_analysis_tools_spark.operators.hydro import mass_flux_d8

    rows, cols = 40, 32
    code = np.full((rows, cols), 64, dtype=np.int64)           # S
    code[:, 15], code[:, 16] = 128, 32                          # SE, SW
    # absorp < load on the zigzag (no clamp cuts it), up to 2.25 elsewhere
    r, c = np.mgrid[0:rows, 0:cols]
    absorp = ((r * 3 + c) % 4) * np.where((c == 15) | (c == 16), 0.25, 0.75)
    cells, fields = _mass_flux_cells(spark, code, (8 + (r + c) % 8) / 16.0, absorp)
    a, b = (mass_flux_d8(cells, tile=t).toPandas().sort_values(["row", "col"])
            .reset_index(drop=True) for t in (16, 256))
    assert len(a) == rows * cols and a.equals(b)
    acc = np.full((rows, cols), np.nan)
    acc[a["row"], a["col"]] = a["flux"]
    # the output rounds to 4 decimals
    np.testing.assert_allclose(acc, _mass_flux_oracle(code, *fields), rtol=0, atol=5e-5 + 1e-9)


def test_mass_flux_stops_at_the_round_cap(spark):
    """A straight path crossing more tile borders than halo_rounds' cap
    (139 rows at tile=2: 69 borders, HALO_ROUNDS = 64) raises the error
    naming the operator and the cap instead of returning a partial flux.
    eff = 1 keeps every upstream cell's mass visible at the outlet (with
    eff < 1 its share falls below a float ulp and the rounds stop early)."""
    from whitebox_geospatial_analysis_tools_spark.operators.hydro import mass_flux_d8

    assert R.HALO_ROUNDS < 69
    cells, _ = _mass_flux_cells(spark, np.full((139, 1), 64, dtype=np.int64),
                                np.ones((139, 1)), np.zeros((139, 1)))
    cap = f"mass_flux_d8 did not converge in {R.HALO_ROUNDS} rounds"
    with pytest.raises(RuntimeError, match=cap):
        mass_flux_d8(cells, tile=2)


def test_stream_heads_mdinf_tile_invariance(spark):
    """The truncated-MDInf creek dynamics must be independent of the tile
    decomposition: the halo rounds' (mass, creek-marker) sends at tile=16
    reproduce the single-tile solve exactly, including the head flags."""
    from whitebox_geospatial_analysis_tools_spark.operators import raster as R
    from whitebox_geospatial_analysis_tools_spark.operators.hydro import (
        stream_heads_mdinf,
    )

    dem = R.synth_raster(spark, 48, 64)
    a = stream_heads_mdinf(dem, threshold=8.0, tile=16).toPandas() \
        .sort_values(["row", "col"]).reset_index(drop=True)
    b = stream_heads_mdinf(dem, threshold=8.0, tile=256).toPandas() \
        .sort_values(["row", "col"]).reset_index(drop=True)
    assert a.equals(b)
    assert (a["head"] == 1).sum() > 0  # the fixture exercises real heads
