"""Resume-from-checkpoint semantics: kill after partial commit, re-run,
assert identical final table and no duplicate lineage rows (SURVEY.md §5.5)."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from whitebox_geospatial_analysis_tools_spark.plans import lineage as L
from whitebox_geospatial_analysis_tools_spark.sources.pages import points_from_documents

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def pts(spark):
    return points_from_documents(spark, SF).select("doc_id", "tile_id", "lon", "lat", "tile_y")


def _key_rows(pts):
    return {r.tile_y: r["count"] for r in pts.groupBy("tile_y").count().collect()}


def _budget(rows, keys):
    return sum(rows[k] for k in keys)


def test_resume_after_partial_commit(spark, pts, tmp_path):
    out = str(tmp_path / "job")
    rows = _key_rows(pts)
    keys = sorted(rows)
    assert len(keys) >= 3
    first = {k: rows[k] for k in keys[:2]}
    budget = _budget(rows, keys[:2])

    # simulated crash: only the first batch of 2 keys commits
    r1 = L.run_resumable(spark, pts, out, "tile_y", first, batch_rows=budget)
    assert r1["written_keys"] == keys[:2] and r1["batches"] == 1

    # resumed run over the FULL key set: committed keys are skipped
    r2 = L.run_resumable(spark, pts, out, "tile_y", rows, batch_rows=budget)
    assert r2["skipped_keys"] == keys[:2]
    assert r2["written_keys"] == keys[2:]

    # final table identical to a one-shot write
    got = spark.read.parquet(os.path.join(out, L.DATA_DIR))
    assert got.count() == pts.count()
    assert (
        got.select(F.sum("doc_id")).collect()[0][0]
        == pts.select(F.sum("doc_id")).collect()[0][0]
    )

    # lineage: exactly one row per key, counts match, bytes > 0
    lin = L.read_lineage(spark, out).toPandas()
    assert sorted(lin.pkey) == keys
    assert lin.pkey.is_unique
    want = {r.tile_y: r.cnt for r in pts.groupBy("tile_y").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert {int(r.pkey): int(r.n_rows) for _, r in lin.iterrows()} == want
    assert (lin.n_bytes > 0).all()

    # idempotent third run: nothing left to do
    r3 = L.run_resumable(spark, pts, out, "tile_y", rows, batch_rows=budget)
    assert r3["written_keys"] == [] and r3["batches"] == 0
    assert L.read_lineage(spark, out).count() == len(keys)


def test_crash_between_data_and_manifest(spark, pts, tmp_path):
    """A batch whose data landed but whose manifest did not is uncommitted:
    the next run rewrites (never duplicates) its partitions, records each
    key once, and its observed n_rows equal what DuckDB reads back from each
    partition directory.  The session's overwrite mode is left untouched."""
    out = str(tmp_path / "job")
    data = os.path.join(out, L.DATA_DIR)
    rows = _key_rows(pts)
    keys = sorted(rows)
    orphan = keys[:2]
    pts.where(F.col("tile_y").isin(orphan)).write.partitionBy("tile_y").parquet(data)
    assert L.committed_keys(out) == set()

    conf = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(conf)
    res = L.run_resumable(spark, pts, out, "tile_y", rows, batch_rows=_budget(rows, orphan))
    assert res["written_keys"] == keys and res["skipped_keys"] == []
    assert spark.conf.get(conf) == mode

    want = {r.tile_y: r["count"] for r in pts.groupBy("tile_y").count().collect()}
    on_disk = {
        k: duckdb.sql(f"SELECT count(*) FROM read_parquet('{data}/tile_y={k}/*.parquet')").fetchone()[0]
        for k in keys
    }
    assert on_disk == want
    lin = L.read_lineage(spark, out).toPandas()
    assert sorted(lin.pkey) == keys and lin.pkey.is_unique
    assert {int(r.pkey): int(r.n_rows) for _, r in lin.iterrows()} == on_disk


def test_batches_sized_by_rows(spark, pts, tmp_path):
    """Batches are cut by expected rows: a 1-row budget gives one key per
    batch, a budget at or above the total gives one batch, and a key larger
    than the budget sits alone in its batch.  Every key is written whole:
    the observed lineage n_rows equal the per-key groupBy counts."""
    rows = _key_rows(pts)
    keys = sorted(rows)
    big = max(keys, key=rows.get)
    assert len(keys) >= 3 and rows[big] >= 2

    def run(name, batch_rows):
        out = str(tmp_path / name)
        res = L.run_resumable(spark, pts, out, "tile_y", rows, batch_rows=batch_rows)
        assert res["written_keys"] == keys
        lin = L.read_lineage(spark, out).toPandas()
        assert sorted(lin.pkey) == keys and lin.pkey.is_unique
        assert {int(r.pkey): int(r.n_rows) for _, r in lin.iterrows()} == rows
        return res, lin.groupby("batch_id").pkey.apply(sorted).to_dict()

    res, by_batch = run("one_key", 1)
    assert res["batches"] == len(keys)
    assert by_batch == {f"{k}-{k}": [k] for k in keys}

    res, by_batch = run("one_batch", sum(rows.values()))
    assert res["batches"] == 1 and list(by_batch.values()) == [keys]

    # the largest key exceeds this budget; every other key fits it
    res, by_batch = run("oversized", rows[big] - 1)
    assert [big] in by_batch.values()
    assert all(sum(rows[k] for k in b) <= rows[big] - 1 for b in by_batch.values() if b != [big])
    assert res["batches"] == len(by_batch) < len(keys)


def test_north_star_end_to_end(spark, tmp_path):
    """Full pipeline: geocode -> cells -> PIP left join -> lineage-committed
    partitioned write -> per-polygon counts; counts must equal the direct
    pip_counts query."""
    from whitebox_geospatial_analysis_tools_spark.plans.pipeline import run_north_star
    from whitebox_geospatial_analysis_tools_spark.operators.spatial_join import pip_counts
    from whitebox_geospatial_analysis_tools_spark.sources.pages import points_from_documents

    res = run_north_star(spark, SF, str(tmp_path / "ns"))
    want = {
        (r.poly_id, r.n_pages)
        for r in pip_counts(points_from_documents(spark, SF), spark).collect()
    }
    assert set(res["counts"]) == want and want
    assert res["summary"]["written_keys"]
    lin = L.read_lineage(spark, str(tmp_path / "ns"))
    assert lin.count() == len(res["summary"]["written_keys"])
