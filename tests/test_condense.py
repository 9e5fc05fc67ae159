"""Distributed condensed-graph fallbacks (VERDICT r2 next-round #3).

The one driver-tier guard (condense.DRIVER_ROWS) is lowered below the
condensed-graph size so the operators take the distributed path
(operators/condense.py), and the output is asserted IDENTICAL to the
driver-solve path on the same input.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from whitebox_geospatial_analysis_tools_spark.operators import _scratch
from whitebox_geospatial_analysis_tools_spark.operators import clump as clump_mod
from whitebox_geospatial_analysis_tools_spark.operators import condense
from whitebox_geospatial_analysis_tools_spark.operators import hydro
from whitebox_geospatial_analysis_tools_spark.operators import raster as R

ROWS, COLS = 96, 256  # wide enough that super-groups at tile*8 split


@pytest.fixture(scope="module")
def ptr(spark):
    p = hydro.flow_pointer_d8(R.synth_raster(spark, ROWS, COLS)).persist()
    yield p
    p.unpersist()


def _sorted(df):
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _both(op, monkeypatch, guard_val=8):
    want = _sorted(op())
    monkeypatch.setattr(condense, "DRIVER_ROWS", guard_val)
    got = _sorted(op())
    return want, got


@pytest.mark.parametrize("w0", [
    None,
    lambda r, c: (r + 2 * c) % 3 - 1,  # signed weights in {-1, 0, 1}
    lambda r, c: F.lit(2 ** 56) + (7 * r + c) % 5,  # past double's 2^53
], ids=["flow_accum", "signed_w0", "w0_near_2pow56"])
def test_flow_accum_distributed(spark, ptr, monkeypatch, w0):
    """Both tiers agree exactly; weighted sums stay long in each."""
    if w0 is None:
        op = lambda: hydro.flow_accum(ptr, tile=16)  # noqa: E731
    else:
        w = ptr.select("row", "col", w0(F.col("row"), F.col("col")).alias("w0"))
        op = lambda: hydro.weighted_flow_accum(ptr, w, tile=16)  # noqa: E731
    want, got = _both(op, monkeypatch)
    assert len(want) == len(got) > 0
    assert want.equals(got)


def test_watershed_distributed(spark, ptr, monkeypatch):
    want, got = _both(lambda: hydro.watershed(ptr, tile=16), monkeypatch)
    assert len(want) == len(got) > 0
    assert want.equals(got)


def test_flowpath_distributed(spark, ptr, monkeypatch):
    want, got = _both(lambda: hydro.flowpath_length(ptr, tile=16), monkeypatch)
    assert len(want) == len(got) > 0
    # rounding happens after the chain sum in both paths; association of the
    # float adds along the chain is identical (same per-hop pdist splits)
    assert (want["row"].equals(got["row"]) and want["col"].equals(got["col"]))
    assert np.abs(want["fp_len"].to_numpy() - got["fp_len"].to_numpy()).max() <= 1e-6


def test_upslope_distributed(spark, ptr, monkeypatch):
    want, got = _both(lambda: hydro.upslope_max_length(ptr, tile=16), monkeypatch)
    assert len(want) == len(got) > 0
    assert (want["row"].equals(got["row"]) and want["col"].equals(got["col"]))
    assert np.abs(want["up_len"].to_numpy() - got["up_len"].to_numpy()).max() <= 1e-6


@pytest.mark.parametrize("op", ["fd8_accum", "mass_flux_dinf"])
def test_mfd_accum_distributed(spark, monkeypatch, op):
    """fd8_accum's two tiers (graph_masses' driver solve of the condensed
    border system and its super-group hierarchy) agree exactly, plain and
    with the affine mass-flux fields."""
    tiles = R.synth_raster(spark, 96, 128)
    if op == "fd8_accum":
        run = lambda: hydro.fd8_accum(tiles, tile=32)  # noqa: E731
    else:
        fields = R.explode_cells(tiles).where(F.col("value") != R.NODATA).select(
            "row", "col", F.lit(1.0).alias("load"),
            (F.expr("CAST(8 + (row + col) % 8 AS DOUBLE)") / 16.0).alias("eff"),
            (F.expr("CAST((row * 3 + col) % 4 AS DOUBLE)") / 8.0).alias("absorp"),
        )
        run = lambda: hydro.mass_flux_dinf(tiles, fields, tile=32)  # noqa: E731
    want, got = _both(run, monkeypatch)
    assert len(want) == len(got) > 0
    assert want.equals(got)


def test_solve_with_exits_blocks(monkeypatch):
    """The weighted solve routes its unit-response columns in blocks under
    condense._STATE_DOUBLES: every routed state stays under that budget,
    and the masses and edge rows equal the one-block solve exactly."""
    rng = np.random.default_rng(7)
    n, e = 60, 240
    node = np.stack([np.arange(n) // 8, np.arange(n) % 8])
    src = rng.integers(0, n, e)
    tgt = src + 1 + rng.integers(0, 5, e)  # forward only: acyclic
    tgt[(tgt >= n) | (rng.random(e) < 0.2)] = -1
    x = np.stack([100 + rng.integers(0, 4, e), rng.integers(0, 3, e)])
    args = (node, rng.random(n) + 1.0, src, tgt, x, rng.random(e) / 4,
            np.arange(0, n, 3), rng.random(n) / 10)
    key = ["kind", "row", "col", "x_row", "x_col"]

    def solve():
        mass, rows = condense.solve_with_exits(*args)
        return mass, rows.sort_values(key).reset_index(drop=True)

    want_mass, want_rows = solve()
    sizes, route = [], condense.route_linear

    def spy(state, *a):
        sizes.append(state.size)
        route(state, *a)

    monkeypatch.setattr(condense, "route_linear", spy)
    monkeypatch.setattr(condense, "_STATE_DOUBLES", 4 * (n + 12))
    got_mass, got_rows = solve()
    assert len(sizes) > 1 and max(sizes) <= condense._STATE_DOUBLES
    assert np.array_equal(got_mass, want_mass)
    assert (want_rows["kind"] == 2).sum() > 0 and got_rows.equals(want_rows)


def _fd8_oracle(z):
    """Sequential FD8 over the grid z: cells by decreasing elevation, each
    cell's mass split over its lower neighbors by drop / dist."""
    h, w = z.shape
    acc = np.ones_like(z)
    for k in np.argsort(-z, axis=None, kind="stable"):
        r, c = divmod(int(k), w)
        nb = [(r + dr, c + dc, (z[r, c] - z[r + dr, c + dc]) / dist)
              for dr, dc, dist in hydro.D8_OFFS
              if 0 <= r + dr < h and 0 <= c + dc < w]
        nb = [(rr, cc, s) for rr, cc, s in nb if s > 0]
        tot = sum(s for *_, s in nb)
        for rr, cc, s in nb:
            acc[rr, cc] += acc[r, c] * s / tot
    return acc


def test_fd8_accum_zigzag_plane(spark, monkeypatch):
    """On the plane 0.25*row + 0.125*col an FD8 path zigzags across one
    tile border hundreds of times (steps (-1, +1) then (0, -1)); a solver
    that moves mass one border per round stalls there.  Both tiers equal a
    sequential FD8 oracle at the output's 4 decimals."""
    n, tile = 256, 16
    tiles = R.synth_raster(spark, n, n, tile=tile,
                           value_sql="(0.25 * {row} + 0.125 * {col})")
    rows, cols = np.mgrid[0:n, 0:n]
    want = _fd8_oracle(0.25 * rows + 0.125 * cols)
    tiers = _both(lambda: hydro.fd8_accum(tiles, tile=tile), monkeypatch)
    for got in tiers:
        assert len(got) == n * n
        acc = np.zeros((n, n))
        acc[got["row"], got["col"]] = got["accum"]
        np.testing.assert_allclose(acc, want, rtol=0, atol=5e-5)


def test_stream_network_distributed(spark, ptr, monkeypatch):
    want, got = _both(
        lambda: hydro.stream_network(ptr, threshold=5, tile=16), monkeypatch,
        guard_val=4,
    )
    assert len(want) == len(got) > 0
    assert want.equals(got)


def test_stream_network_tier2(spark, monkeypatch):
    """Stream cells exceed the guard but the link tables fit: distributed
    labeling + driver link solve (the middle tier) matches tier 1."""
    from whitebox_geospatial_analysis_tools_spark.queries_raster_hydro import (
        VALLEY_VAL, _VCOLS, _VROWS, _VT,
    )

    ptr = hydro.flow_pointer_d8(
        R.synth_raster(spark, _VROWS, _VCOLS, value_sql=VALLEY_VAL)
    ).persist()
    try:
        want = _sorted(hydro.stream_network(ptr, _VT, tile=16))
        acc = hydro.flow_accum(ptr, tile=16)
        n_stream = acc.where(F.col("accum") >= _VT).count()
        # guard window that skips tier 1 (node+edge rows > 2G) but keeps the
        # link tables under guard (len(want) links + dag rows <= 2G)
        g2 = len(want) + 2  # links alone < 2*g2; dag pairs ~ junction count
        assert 2 * g2 < n_stream, "fixture too small to separate the tiers"
        monkeypatch.setattr(condense, "DRIVER_ROWS", g2)
        got = _sorted(hydro.stream_network(ptr, _VT, tile=16))
        assert want.equals(got)
    finally:
        ptr.unpersist()


def test_stream_operators_persist_each_frame_once(spark):
    """strahler_basins' composition: subbasins then stream_network on one
    unpersisted pointer frame.  The frames subbasins persists (the pointers
    and the plan-equal stream cells) are not tracked again under
    stream_network's tag, where releasing either tag would drop the one
    cache entry the other still counts."""
    # a shape of its own: the module's ptr fixture is cached already
    ptr = hydro.flow_pointer_d8(R.synth_raster(spark, 64, 96))
    hydro.subbasins(ptr, 5, tile=16)
    hydro.stream_network(ptr, 5, tile=16)
    app = spark.sparkContext.applicationId
    sub = _scratch._SCRATCH.get((app, "subbasins"), [])
    net = _scratch._SCRATCH.get((app, "streamnet"), [])
    assert len(sub) == 2
    assert not any(a.sameSemantics(b) for a in sub for b in net)
    _scratch.release(spark, "subbasins")
    _scratch.release(spark, "streamnet")


_FWD = "row long, col long, t_row long, t_col long, w double, p_row long, p_col long"


def _chase_oracle(rows):
    """Sequential chase: per node, (terminal cell, path weight sum)."""
    nxt = {(r, c): ((tr, tc), w, (pr, pc)) for r, c, tr, tc, w, pr, pc in rows}
    out = {}
    for v in nxt:
        cur, tot = v, 0.0
        while cur in nxt:
            tgt, w, term = nxt[cur]
            tot += w
            if tgt[0] < 0:
                cur = term
                break
            cur = tgt
        out[v] = (cur, tot)
    return out


def test_chase_paths_tiers_equal(spark, monkeypatch):
    """Driver numpy chase == distributed path doubling on a forest with
    multi-hop chains, terminal rows and a dangling target (which terminates
    at the target cell); both tiers raise on a 2-cycle."""
    rows = [(0, c, 0, c + 1, 0.5 + c / 8, -1, -1) for c in range(20)]
    rows.append((0, 20, -1, -1, 0.25, 9, 9))       # chain end: terminal row
    rows.append((1, 0, 0, 7, 1.0 / 3, -1, -1))     # joins the chain mid-way
    rows.append((2, 0, -1, -1, 0.0, 2, 0))         # lone terminal row
    rows += [(3, 0, 3, 1, 2.0, -1, -1),            # (3, 1) absent: dangling
             (3, 2, 3, 0, 0.125, -1, -1),
             (3, 3, 3, 2, 1e-3, -1, -1)]
    fwd = spark.createDataFrame(rows, _FWD)
    oracle = _chase_oracle(rows)

    def run():
        pdf = condense.chase_paths(fwd).toPandas()
        return pdf.sort_values(["row", "col"]).reset_index(drop=True)

    want = run()
    monkeypatch.setattr(condense, "DRIVER_ROWS", 0)
    got = run()
    assert len(want) == len(got) == len(rows)
    for df in (want, got):
        for r, c, tot, tr, tc in zip(df["row"], df["col"], df["total"],
                                     df["term_row"], df["term_col"]):
            (er, ec), etot = oracle[(r, c)]
            assert (tr, tc) == (er, ec)
            assert abs(tot - etot) <= 1e-9
    assert want[["row", "col", "term_row", "term_col"]].equals(
        got[["row", "col", "term_row", "term_col"]])
    assert np.abs(want["total"] - got["total"]).max() <= 1e-9

    cyc = spark.createDataFrame(
        [(0, 0, 0, 1, 1.0, -1, -1), (0, 1, 0, 0, 1.0, -1, -1),
         (0, 2, 0, 0, 1.0, -1, -1), (5, 5, -1, -1, 0.0, 5, 5)], _FWD)
    for guard in (8, 0):
        monkeypatch.setattr(condense, "DRIVER_ROWS", guard)
        with pytest.raises(RuntimeError, match="cycle"):
            condense.chase_paths(cyc).collect()


def test_round_state_size_estimate_stays_small(spark, monkeypatch):
    """Round checkpoints must not inherit the origin plan's size estimate:
    each self-join multiplies it, so kept across rounds its digit count
    doubles per round and planning the estimate dominates the solve.
    The cases: both distributed loop solvers and the deepest jump table of
    hydro's binary lifting (J_8 of the 300-node chain)."""
    monkeypatch.setattr(condense, "DRIVER_ROWS", 0)
    n = 300
    pairs = spark.range(n - 1).selectExpr("id AS plabel", "id + 1 AS nplabel")
    fwd = spark.range(n).selectExpr(
        "0L AS row", "id AS col", "IF(id < %d, 0L, -1L) AS t_row" % (n - 1),
        "id + 1 AS t_col", "1.0D AS w", "0L AS p_row", "id AS p_col")
    j0 = spark.range(n - 1).selectExpr(
        "0L AS row", "id AS col", "0L AS erow", "id + 1 AS ecol", "1.0D AS jlen")
    jumps = hydro._lift(j0, "lift_test")
    assert len(jumps) == 9
    for out in (condense.merge_labels(pairs), condense.chase_paths(fwd),
                jumps[-1]):
        size = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        assert len(str(size)) <= 20, f"size estimate of {len(str(size))} digits"


def test_merge_labels_long_path(spark, monkeypatch):
    """Path-shaped component of diameter 300 (chained templated pages):
    the old one-hop-per-round loops (dedup_clusters rounds=32,
    find_polygon_chains rounds=16) would exit at the cap and silently
    mislabel the far end; hook + shortcut must converge to the single
    component min in O(log) rounds (VERDICT r3 next-round #1).
    Guard lowered to 0 so the DISTRIBUTED tier (not the driver
    union-find) is what converges here."""
    monkeypatch.setattr(condense, "DRIVER_ROWS", 0)
    n = 300
    pairs = spark.range(n - 1).selectExpr(
        "id AS plabel", "id + 1 AS nplabel")
    lab = condense.merge_labels(pairs).toPandas()
    assert len(lab) == n
    assert (lab["glabel"] == 0).all()


def test_merge_labels_tiers_equal(spark, monkeypatch):
    """Driver union-find tier == distributed hook+shortcut tier on a pair
    set mixing stars, chains, and singleton pairs."""
    pairs = spark.range(500).selectExpr(
        "id * 7919 % 211 AS plabel", "(id * 104729 + 3) % 211 AS nplabel")
    want = condense.merge_labels(pairs).toPandas().sort_values(
        "plabel").reset_index(drop=True)
    monkeypatch.setattr(condense, "DRIVER_ROWS", 0)
    got = condense.merge_labels(pairs).toPandas().sort_values(
        "plabel").reset_index(drop=True)
    assert want.equals(got)


def test_merge_labels_raises_unconverged(spark, monkeypatch):
    """Hitting the round cap without fixpoint must be LOUD, never a silent
    wrong answer."""
    pairs = spark.range(99).selectExpr("id AS plabel", "id + 1 AS nplabel")
    monkeypatch.setattr(condense, "DRIVER_ROWS", 0)
    monkeypatch.setattr(condense, "_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        condense.merge_labels(pairs)


def test_dedup_clusters_chained_component(spark):
    """dedup_clusters end-to-end on documents engineered so LSH pairs chain
    A~B, B~C, ... (each adjacent pair shares shingles, the ends share
    none): every member must still collapse to one canonical."""
    from whitebox_geospatial_analysis_tools_spark.operators import textops

    # doc i = 40 tokens, overlapping window of a shared token stream ->
    # adjacent docs are near-identical, distant docs unrelated
    stream = [f"tok{j}" for j in range(400)]
    docs = spark.createDataFrame(
        [(i, " ".join(stream[i * 2: i * 2 + 40])) for i in range(80)],
        "doc_id long, text string",
    )
    lab = textops.dedup_clusters(docs).toPandas()
    # whatever the pair graph is, labels must be a valid min-closure:
    # canonical <= doc_id and canonical is itself labeled canonical
    assert (lab["canonical"] <= lab["doc_id"]).all()
    roots = lab.set_index("doc_id")["canonical"]
    assert all(roots[c] == c for c in lab["canonical"].unique())
    # and the chain construction must actually have produced a big
    # multi-doc component (else the fixture tests nothing)
    assert lab.groupby("canonical").size().max() >= 10


def test_clump_distributed(spark, monkeypatch):
    cells = (
        R.explode_cells(R.synth_raster(spark, 96, 128))
        .where(F.col("value") != R.NODATA)
        .select("row", "col",
                F.expr("CAST(FLOOR(value / 50e0) AS BIGINT)").alias("cls"))
    )
    want = _sorted(clump_mod.clump(cells, 128, tile=32))
    monkeypatch.setattr(condense, "DRIVER_ROWS", 1)
    got = _sorted(clump_mod.clump(cells, 128, tile=32))
    assert len(want) == len(got) > 0
    assert want.equals(got)
