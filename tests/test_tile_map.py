"""raster.tile_map, the tile layer's one grouped-Python entry point: its
run cutter without Spark, its results against groupBy().applyInPandas
with groups that cross Arrow batches, and its plan over a cached
with_tiles frame."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from whitebox_geospatial_analysis_tools_spark.operators import raster as R
from tests.test_hydro_scale import _noop_plan


def _batches(*keys):
    """One record batch of (a, b, v) per list of (a, b) keys, v numbering
    the rows across batches."""
    out, n = [], 0
    for ks in keys:
        out.append(pa.record_batch({
            "a": pa.array([k[0] for k in ks], pa.int64()),
            "b": pa.array([k[1] for k in ks], pa.int64()),
            "v": pa.array(range(n, n + len(ks)), pa.int64()),
        }))
        n += len(ks)
    return out


def test_key_runs_cut_carry_and_skip_empty_batches():
    """A run spanning three batches (an empty one between) is one run; a
    single-row run and a run that ends exactly at a batch end are cut;
    each batch yields the runs it completes and the last run comes at the
    end of the stream."""
    bs = _batches([(0, 0), (0, 0), (0, 1)],   # (0,1) continues below
                  [],
                  [(0, 1), (1, 0)],            # single-row run (1,0)
                  [(1, 1), (1, 1)],            # ends at the batch end
                  [(2, 0)])
    yielded = list(R._key_runs(iter(bs), ["a", "b"]))
    flat = [(k, pa.Table.from_batches(p).column("v").to_pylist())
            for runs in yielded for k, p in runs]
    assert flat == [((0, 0), [0, 1]), ((0, 1), [2, 3]), ((1, 0), [4]),
                    ((1, 1), [5, 6]), ((2, 0), [7])]
    # one list per non-empty batch, plus the trailing run
    assert [[k for k, _ in runs] for runs in yielded] == [
        [(0, 0)], [(0, 1)], [(1, 0)], [(1, 1)], [(2, 0)]]
    assert list(R._key_runs(iter(_batches([], [])), ["a", "b"])) == []


def test_map_runs_skips_columnless_results():
    """fn sees each run once with a fresh RangeIndex and Python int keys;
    column-less results add no rows, and each input batch gives at most
    one output batch of the declared schema, columns picked by name."""
    seen = []

    def fn(key, pdf):
        seen.append((key, list(pdf.index), [type(k) for k in key]))
        if key == (1, 0):
            return pd.DataFrame()
        return pd.DataFrame({"extra": 1.5, "n": [len(pdf)],
                             "a": [key[0]], "s": [float(pdf["v"].sum())]})

    arrow = pa.schema([("a", pa.int64()), ("n", pa.int32()), ("s", pa.float64())])
    bs = _batches([(0, 0), (0, 0), (0, 1)], [(0, 1), (1, 0), (1, 1)])
    out = list(R._map_runs(iter(bs), ["a", "b"], fn, arrow))
    assert [b.num_rows for b in out] == [1, 1, 1]  # (1, 0) added nothing
    assert all(b.schema == arrow for b in out)
    assert pa.Table.from_batches(out).to_pylist() == [
        {"a": 0, "n": 2, "s": 1.0}, {"a": 0, "n": 2, "s": 5.0},
        {"a": 1, "n": 1, "s": 5.0}]
    assert [k for k, _, _ in seen] == [(0, 0), (0, 1), (1, 0), (1, 1)]
    assert all(idx == list(range(len(idx))) and types == [int, int]
               for _, idx, types in seen)


def _group_kernel():
    """A kernel whose per-row output depends on the whole group (its size
    and sum), with nothing for tile (0, 1); nested, so cloudpickle ships
    it by value."""

    def kernel(key, pdf):
        if tuple(key) == (0, 1):
            return pd.DataFrame()
        return pd.DataFrame({"row": pdf["row"], "col": pdf["col"],
                             "n": len(pdf), "s": pdf["value"].sum(),
                             "_tr": int(key[0]), "_tc": int(key[1])})

    return kernel


def test_tile_map_equals_apply_in_pandas(spark):
    """On an unpartitioned input and on with_tiles output, with batches of
    7 rows so that every tile spans many of them, tile_map returns what
    groupBy(keys).applyInPandas returns."""
    schema = "row long, col long, n long, s double, _tr long, _tc long"
    cells = (R.explode_cells(R.synth_raster(spark, 40, 56, tile=16))
             .where(F.col("value") != R.NODATA))
    keyed = cells.select("*", *R.tile_key(16, F.col("row"), F.col("col")))
    kernel = _group_kernel()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        want = (keyed.groupBy("_tr", "_tc").applyInPandas(kernel, schema)
                .toPandas().sort_values(["row", "col"]).reset_index(drop=True))
        for df in (keyed, R.with_tiles(cells, 16)):
            got = (R.tile_map(df, ["_tr", "_tc"], kernel, schema).toPandas()
                   .sort_values(["row", "col"]).reset_index(drop=True))
            pd.testing.assert_frame_equal(got, want)
    finally:
        spark.conf.set(key, old)
    assert len(want) > 0 and not ((want._tr == 0) & (want._tc == 1)).any()


def test_tile_map_over_cached_tiles_adds_no_exchange(spark):
    """tile_map over a persisted with_tiles frame reads it through the
    InMemoryTableScan with no Exchange above it: its by_tile repartition
    is the cached frame's own partitioning."""
    cells = R.explode_cells(R.synth_raster(spark, 40, 56, tile=16))
    tiled = R.with_tiles(cells, 16).persist()
    try:
        plan = _noop_plan(spark, R.tile_map(
            tiled, ["_tr", "_tc"], _group_kernel(),
            "row long, col long, n long, s double, _tr long, _tc long"))
    finally:
        tiled.unpersist()
    above = plan[:plan.index("InMemoryRelation")]
    assert above.count("MapInArrow") == 1
    assert above.index("InMemoryTableScan") > above.index("MapInArrow")
    assert "Exchange" not in above
