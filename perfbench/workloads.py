"""The benchmark workloads, and the corpus probe of the traced write run.

Each workload is a closed loop: one driver runs iterations back to back.  An
iteration is plan construction plus a full-column sink (``noop`` write, or the
engine's own parquet write), timed together; output checks run after the
timer stops.  Every iteration that can take fresh input does (its own seed),
so a per-input cache cannot hide work from the timed region; per-session work
lands in set-up, which runs the same calls once on a small input.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F

from whitebox_geospatial_analysis_tools_spark import queries as Q
from whitebox_geospatial_analysis_tools_spark.functions import cells, exprs
from whitebox_geospatial_analysis_tools_spark.functions.exprs import A, C, M
from whitebox_geospatial_analysis_tools_spark.functions.geometry import PipIndex
from whitebox_geospatial_analysis_tools_spark.operators import hydro, raster, simsearch, spatial_join, textops
from whitebox_geospatial_analysis_tools_spark.plans import lineage, pipeline
from whitebox_geospatial_analysis_tools_spark.sources import pages

now = time.perf_counter


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def observed(df, *aggs):
    obs = Observation()
    return df.observe(obs, *aggs), obs


class CheckFailed(AssertionError):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Workload:
    name = ""
    input_rows = 0

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tr = tracer
        self.rng = np.random.default_rng(seed)
        self.context: dict = {}

    def prepare(self) -> None:
        """Inputs shared by every iteration of the run (not timed)."""

    def wrap(self) -> None:
        """Traced runs only: span wrappers around the modules this uses."""

    def warmup(self, spark) -> None:
        raise NotImplementedError

    def iteration(self, spark, i: int) -> float:
        """Run one iteration; return its timed wall seconds.  Raises on a
        failed output check."""
        raise NotImplementedError

    def probes(self, spark) -> dict:
        """Traced runs only: forcing sinks of single layers -> seconds."""
        return {}

    def final_check(self, spark) -> None:
        """Once per run, after the loop: exact check of a small slice."""


PIP_COLS = ("lon", "lat", "tile_id")


def probe_noop(tr, spark, phase: str, df, reps: int = 3) -> float:
    """Best of ``reps`` noop writes of one layer (the first may compile)."""
    best = float("inf")
    for _ in range(reps):
        with tr.phase(spark, phase):
            t0 = now()
            noop(df)
            best = min(best, now() - t0)
    return best


def layer_probes(tr, spark, source_df, cells_df) -> dict:
    """Traced runs: force the source alone, then source + cell assignment,
    then count the cell-only candidate pairs of the PIP join."""
    out = {key: probe_noop(tr, spark, f"probe_{key}", df)
           for key, df in (("sources", source_df), ("cells", cells_df))}
    idx = spatial_join.classified_cell_index(spark)
    c9 = cells_df.select(F.expr(exprs.cell_expr("lon", "lat", 9)).alias("_c9"))
    with tr.phase(spark, "probe_candidates"):
        out["candidates"] = c9.join(F.broadcast(idx), c9["_c9"] == idx["cell_id"]).count()
    return out


# ---------------------------------------------------------------------------
class FlagshipJoin(Workload):
    """plans.pipeline.flagship_synthetic: synthetic pages -> geocode -> cells
    -> broadcast classified-cell PIP join -> per-polygon counts."""

    name = "flagship_join"
    N = 12_000_000
    input_rows = N

    def wrap(self):
        self.tr.wrap(spatial_join, "classified_cell_index", "spatial_join.classified_cell_index")
        self.tr.wrap(spatial_join, "pip_join", "spatial_join.pip_join")
        self.tr.wrap(pipeline, "flagship_synthetic", "pipeline.flagship_synthetic")

    def warmup(self, spark):
        spatial_join.classified_cell_index(spark)
        noop(pipeline.flagship_synthetic(spark, 100_000))

    def iteration(self, spark, i):
        t0 = now()
        with self.tr.phase(spark, "build"):
            df, obs = observed(
                pipeline.flagship_synthetic(spark, self.N),
                F.count(F.lit(1)).alias("rows"), F.sum("n_pages").alias("pages"),
                F.min("n_pages").alias("min_n"), F.min("poly_id").alias("min_id"),
                F.expr("bit_xor(xxhash64(poly_id, n_pages))").alias("fp"))
        with self.tr.phase(spark, "sink"):
            noop(df)
        wall = now() - t0
        r = obs.get
        check(0 < r["rows"] <= 100 and r["min_n"] > 0 and r["min_id"] >= 0,
              f"flagship counts out of range: {r}")
        # the generator is seed-free, so every iteration must agree exactly
        first = self.context.setdefault("flagship_result", r)
        check(r == first, f"flagship result changed between iterations: {r} vs {first}")
        return wall

    def probes(self, spark):
        # force the columns the pipeline reads, not the pass-through html/text
        return layer_probes(self.tr, spark,
                            pages.synth_pages(spark, self.N).select("url"),
                            pages.geocoded_pages(spark, self.N).select(*PIP_COLS, "url"))

    def final_check(self, spark):
        # numpy ray-cast oracle (functions/geometry.py) on a seed-chosen slice
        off, n = int(self.rng.integers(0, 200_000)), 1500
        pts = pages.geocoded_pages(spark, off + n).where(
            F.substring_index("url", "/", -1).cast("long") >= off)
        got = {(r.url, r.poly_id) for r in
               spatial_join.pip_join(pts, spark, keep=("url",)).select("url", "poly_id").collect()}
        rows = pts.select("url", "lon", "lat").collect()
        hits = PipIndex().contains_all(np.array([r.lon for r in rows]),
                                       np.array([r.lat for r in rows]))
        want = {(r.url, int(p)) for r, ps in zip(rows, hits) for p in ps}
        check(len(rows) == n and got == want,
              f"flagship slice differs from numpy ray-cast: {len(got ^ want)} pairs")
        self.context["slice_pairs"] = len(want)


# ---------------------------------------------------------------------------
def dem_numpy(n: int, band: int) -> np.ndarray:
    """Independent numpy copy of raster.cell_value_sql (nan = nodata)."""
    r, c = np.meshgrid(np.arange(n, dtype=np.int64), np.arange(n, dtype=np.int64), indexing="ij")
    u = ((r * n + c + band * 1_000_003) * A + C) % M
    v = 0.25 * r + 0.125 * c + (u % 100000) / 1024.0
    return np.where(u % 97 == 0, np.nan, v)


class RasterTiles(Workload):
    """synth_raster -> focal mean -> D8 pointers -> flow accumulation."""

    name = "raster_tiles"
    N = 512
    input_rows = N * N

    def wrap(self):
        self.tr.wrap(raster, "synth_raster", "raster.synth_raster")
        self.tr.wrap(raster, "focal", "raster.focal")
        self.tr.wrap(hydro, "flow_pointer_d8", "hydro.flow_pointer_d8")
        self.tr.wrap(hydro, "flow_accum", "hydro.flow_accum")

    def _run(self, spark, n, band, probe_cells):
        dem = raster.synth_raster(spark, n, n, band=band)
        aggs = [F.count(F.lit(1)).alias("tiles"),
                F.sum(F.size("values")).alias("cells")]
        aggs += [F.max(F.when((F.col("row0") == r // raster.TILE * raster.TILE)
                              & (F.col("col0") == c // raster.TILE * raster.TILE),
                              F.element_at("values", (r % raster.TILE) * F.col("w") + c % raster.TILE + 1)))
                 .alias(f"v{k}") for k, (r, c) in enumerate(probe_cells)]
        with self.tr.phase(spark, "focal_build"):
            fo, fobs = observed(raster.focal(dem, "mean"), *aggs)
        with self.tr.phase(spark, "focal_sink"):
            noop(fo)
        with self.tr.phase(spark, "accum_build"):
            acc, aobs = observed(
                hydro.flow_accum(hydro.flow_pointer_d8(dem)),
                F.count(F.lit(1)).alias("n"), F.min("accum").alias("lo"),
                F.max("accum").alias("hi"), F.sum("accum").alias("tot"))
        with self.tr.phase(spark, "accum_sink"):
            noop(acc)
        return fobs, aobs

    def warmup(self, spark):
        self._run(spark, 128, 1500, [])

    def iteration(self, spark, i):
        # band < 3000 keeps the DEM formula's 64-bit products exact
        band = (self.seed * 16 + i) % 1000
        n = self.N
        probe = [(int(self.rng.integers(0, n)), int(self.rng.integers(0, n))) for _ in range(4)]
        t0 = now()
        fobs, aobs = self._run(spark, n, band, probe)
        wall = now() - t0
        f, a = fobs.get, aobs.get
        dem = dem_numpy(n, band)
        n_valid = int((~np.isnan(dem)).sum())
        check(f["cells"] == n * n, f"focal covers {f['cells']} cells, want {n * n}")
        pad = np.pad(dem, 1, constant_values=np.nan)
        for k, (r, c) in enumerate(probe):
            win = pad[r:r + 3, c:c + 3]
            want = raster.NODATA if np.isnan(dem[r, c]) else float(np.nanmean(win))
            check(abs(f[f"v{k}"] - want) <= 1e-9 * max(1.0, abs(want)),
                  f"focal mean at ({r},{c}) = {f[f'v{k}']}, numpy {want}")
        check(a["n"] == n_valid, f"flow_accum rows {a['n']} != valid cells {n_valid}")
        check(a["lo"] >= 1 and a["hi"] <= n_valid and a["tot"] >= n_valid,
              f"flow_accum bounds violated: {a}")
        self.context["driver_tier"] = n_valid <= hydro._MAX_DRIVER_ROWS
        return wall

    def probes(self, spark):
        dem = raster.synth_raster(spark, self.N, self.N, band=self.seed % 1000)
        return {"synth": probe_noop(self.tr, spark, "probe_synth", dem),
                "pointer": probe_noop(self.tr, spark, "probe_pointer", hydro.flow_pointer_d8(dem))}


# ---------------------------------------------------------------------------
class NorthStarWrite(Workload):
    """plans.pipeline.run_north_star: documents -> geocode -> cells -> PIP
    left join -> resumable partitioned parquet write with lineage, followed
    by the resume call on the finished output (every key committed)."""

    name = "north_star_write"
    N = 100_000
    input_rows = N

    def _docs_sql(self, n: int) -> str:
        s = self.seed % 1000
        return f"""
          SELECT CAST({s} * 1000003 + i AS BIGINT) AS doc_id,
                 array_to_string(list_transform(range(20 + i % 30),
                     j -> 'w' || ((i * 31 + j + {s}) % 997)), ' ') AS text,
                 ['en', 'de', 'fr', 'es', 'other'][1 + i % 5] AS lang,
                 'src' || (i % 20) AS source
          FROM range({n}) t(i)"""

    def prepare(self):
        self.docs = os.path.join(self.work, "docs")
        self.warm_docs = os.path.join(self.work, "warm_docs")
        for d, n in ((self.docs, self.N), (self.warm_docs, 8)):
            os.makedirs(d, exist_ok=True)
            duckdb.sql(f"COPY (SELECT *, CAST(length(text) AS BIGINT) AS n_chars FROM "
                       f"({self._docs_sql(n)})) TO '{d}/documents.parquet' (FORMAT parquet)")
        self.db = duckdb.connect()
        self.db.sql(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{self.docs}/documents.parquet')")
        self.keys = sorted(r[0] for r in self.db.sql(
            f"WITH {Q.pts_cte()} SELECT DISTINCT tile_y FROM pts").fetchall())

    def wrap(self):
        self.tr.wrap(spatial_join, "classified_cell_index", "spatial_join.classified_cell_index")
        self.tr.wrap(spatial_join, "pip_join", "spatial_join.pip_join")
        self.tr.wrap(pipeline, "run_north_star", "pipeline.run_north_star")
        self.tr.wrap(lineage, "run_resumable", "lineage.run_resumable")
        self.corpus = CorpusProbe(self.seed, self.tr, self.context)
        self.corpus.wrap()

    def warmup(self, spark):
        spatial_join.classified_cell_index(spark)
        out = os.path.join(self.work, "warm_out")
        shutil.rmtree(out, ignore_errors=True)
        pipeline.run_north_star(spark, self.warm_docs, out)

    def iteration(self, spark, i):
        out = os.path.join(self.work, f"out{i % 2}")
        shutil.rmtree(out, ignore_errors=True)
        t0 = now()
        with self.tr.phase(spark, "write"):
            res = pipeline.run_north_star(spark, self.docs, out)
        t1 = now()
        with self.tr.phase(spark, "resume"):
            again = pipeline.run_north_star(spark, self.docs, out)
        wall = now() - t0
        self.context.setdefault("resume_s", []).append(now() - t1)
        self._check(res, again, out)
        return wall

    def _check(self, res, again, out):
        s, s2 = res["summary"], again["summary"]
        check(s["written_keys"] == self.keys and s["skipped_keys"] == [],
              f"written keys {s['written_keys']} != distinct tile_y {self.keys}")
        check(s2["written_keys"] == [] and s2["batches"] == 0 and s2["skipped_keys"] == self.keys,
              f"resume rewrote keys: {s2}")
        db = self.db
        db.sql(f"CREATE OR REPLACE VIEW data AS SELECT * FROM read_parquet("
               f"'{out}/{lineage.DATA_DIR}/**/*.parquet', hive_partitioning = true)")
        db.sql(f"CREATE OR REPLACE VIEW lin AS SELECT * FROM read_parquet("
               f"'{out}/{lineage.LINEAGE_DIR}/*.parquet')")
        n_lin, n_keys, lin_rows, lin_bytes = db.sql(
            "SELECT count(*), count(DISTINCT pkey), sum(n_rows), sum(n_bytes) FROM lin").fetchone()
        n_data, n_docs = db.sql("SELECT count(*), count(DISTINCT doc_id) FROM data").fetchone()
        check(n_lin == n_keys == len(self.keys), f"lineage rows {n_lin}/{n_keys} != keys {len(self.keys)}")
        check(lin_rows == n_data and n_docs == self.N,
              f"lineage rows {lin_rows}, data rows {n_data}, docs {n_docs} (want {self.N})")
        counts = db.sql("SELECT poly_id, count(*) FROM data WHERE poly_id IS NOT NULL "
                        "GROUP BY 1 ORDER BY 1").fetchall()
        check([tuple(c) for c in res["counts"]] == [tuple(c) for c in counts],
              "per-polygon counts differ from the written table")
        # DuckDB oracle SQL of the query registry on a seed-chosen slice
        lo = self.seed % 1000 * 1000003 + int(self.rng.integers(0, self.N - 400))
        oracle = duckdb.connect()
        oracle.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet("
                   f"'{self.docs}/documents.parquet') WHERE doc_id BETWEEN {lo} AND {lo + 399}")
        want = set(oracle.sql(f"WITH {Q.pts_cte()}, {Q.edges_cte()}, {Q.PIP_PAIRS_CTE} "
                              f"SELECT doc_id, poly_id FROM pip").fetchall())
        oracle.close()
        got = set(db.sql(f"SELECT doc_id, poly_id FROM data WHERE poly_id IS NOT NULL "
                         f"AND doc_id BETWEEN {lo} AND {lo + 399}").fetchall())
        check(got == want, f"PIP slice differs from the DuckDB oracle: {len(got ^ want)} pairs")
        self.context["lineage_batches"] = s["batches"]
        self.context["lineage_bytes_per_row"] = lin_bytes / lin_rows

    def probes(self, spark):
        # the columns the join reads, so the difference is the cell columns
        pts = pages.points_from_documents(spark, self.docs)
        cols = ("doc_id", "lon", "lat", "tile_y")
        out = layer_probes(self.tr, spark, pts.select(*cols),
                           cells.with_cells(pts).select(*cols, "cell7", "cell8", "cell9"))
        # corpus layers: the first pass compiles, the second is reported
        for k in range(2):
            self.tr.iteration = f"corpus{k}"
            out["corpus"] = self.corpus.run(spark, k)
        out["pairs"] = self.corpus.list_pairs(spark, 1)
        return out


# ---------------------------------------------------------------------------
class CorpusProbe:
    """simsearch.semdedup + simsearch.ivf_pq_topk_trained on seeded clustered
    64-dim embeddings, and textops.paragraph_dedup on a seeded chained
    near-dup corpus (the tools/soak.py recipes).  Run only in traced runs:
    see README.md for why it is not a timed workload of its own."""

    VECS = 1000
    DOCS = 50_000
    K, QUERIES = 3, 20

    def __init__(self, seed: int, tracer, context: dict):
        self.seed, self.tr, self.context = seed, tracer, context

    def wrap(self):
        self.tr.wrap(simsearch, "coarse_model", "simsearch.coarse_model")
        self.tr.wrap(simsearch, "pq_train_codebook", "simsearch.pq_train_codebook")
        self.tr.wrap(simsearch, "semdedup", "simsearch.semdedup")
        self.tr.wrap(simsearch, "ivf_pq_topk_trained", "simsearch.ivf_pq_topk_trained")
        self.tr.wrap(textops, "paragraph_dedup", "textops.paragraph_dedup")

    @staticmethod
    def _emb(spark, n, s):
        nc = max(1, n // 10)
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.expr(f"transform(sequence(0, 63), d -> CAST("
                   f"CAST(xxhash64(id % {nc}, d, {s}) AS DOUBLE) / 9.223e18"
                   f" + CAST(xxhash64(id, d, {s} + 7) AS DOUBLE) / 9.223e18 * 0.05"
                   f" AS FLOAT))").alias("embedding")).persist()

    @staticmethod
    def _docs(spark, n, s):
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.expr(f"array_join(transform(sequence(id * 2, id * 2 + 39), "
                   f"j -> concat('tok', (j + {s}) % 1000000)), ' ')").alias("text")).persist()

    def _run(self, spark, emb, docs):
        with self.tr.phase(spark, "semdedup_build"):
            sd, sobs = observed(simsearch.semdedup(emb), F.count(F.lit(1)).alias("n"),
                                F.sum("pruned").alias("pruned"))
        with self.tr.phase(spark, "semdedup_sink"):
            noop(sd)
        with self.tr.phase(spark, "ivfpq_build"):
            knn = simsearch.ivf_pq_topk_trained(emb, k=self.K)
        with self.tr.phase(spark, "ivfpq_sink"):
            rows = knn.collect()
        with self.tr.phase(spark, "para_build"):
            pd_, pobs = observed(textops.paragraph_dedup(docs), F.count(F.lit(1)).alias("n"),
                                 F.sum("n_blocks").alias("blocks"),
                                 F.sum("n_dup_blocks").alias("dups"))
        with self.tr.phase(spark, "para_sink"):
            noop(pd_)
        return sobs, rows, pobs

    def run(self, spark, i: int) -> float:
        s = (self.seed * 1000 + i) % 1_000_003
        emb, docs = self._emb(spark, self.VECS, s), self._docs(spark, self.DOCS, s)
        emb.count(), docs.count()
        t0 = now()
        sobs, rows, pobs = self._run(spark, emb, docs)
        wall = now() - t0
        sd, pd_ = sobs.get, pobs.get
        vecs = np.array([r.embedding for r in emb.orderBy("vec_id").collect()], dtype=np.float64)
        emb.unpersist(), docs.unpersist()
        check(sd["n"] == self.VECS and 0 < sd["pruned"] < self.VECS, f"semdedup spine {sd}")
        self._check_knn(rows, vecs)
        blocks, dups = paragraph_oracle(self.DOCS, s)
        check(pd_["n"] == self.DOCS and pd_["blocks"] == blocks and pd_["dups"] == dups,
              f"paragraph_dedup {pd_} != oracle blocks={blocks} dups={dups}")
        self.context.setdefault("semdedup_pruned", []).append(sd["pruned"])
        return wall

    def list_pairs(self, spark, i: int) -> int:
        """Within-list pairs semdedup compares: sum of n(n-1)/2 over the IVF
        lists of iteration ``i``'s corpus (simsearch.list_size_stats)."""
        emb = self._emb(spark, self.VECS, (self.seed * 1000 + i) % 1_000_003)
        with self.tr.phase(spark, "probe_lists"):
            sizes = [r.n_vecs for r in simsearch.list_size_stats(emb).collect()]
        emb.unpersist()
        check(sum(sizes) == self.VECS, f"IVF lists cover {sum(sizes)} of {self.VECS} vectors")
        return sum(n * (n - 1) // 2 for n in sizes)

    def _check_knn(self, rows, vecs):
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r.q_id, []).append(r)
        check(sorted(by_q) == list(range(self.QUERIES)), f"queries answered: {sorted(by_q)}")
        hit = 0
        for q, rs in by_q.items():
            check(sorted(r.rnk for r in rs) == list(range(1, self.K + 1)),
                  f"query {q}: ranks {[r.rnk for r in rs]}")
            d = ((vecs - vecs[q]) ** 2).sum(axis=1)
            d[q] = np.inf
            truth = set(np.argsort(d, kind="stable")[:self.K].tolist())
            for r in rs:
                check(r.c_id != q and abs(r.l2_micro - d[r.c_id] * 1e6) <= 2,
                      f"query {q}: l2_micro {r.l2_micro} vs numpy {d[r.c_id] * 1e6}")
            hit += len(truth & {r.c_id for r in rs})
        recall = hit / (self.K * self.QUERIES)
        self.context.setdefault("recall_at_k", []).append(recall)
        check(recall >= 0.5, f"recall@{self.K} {recall} below floor")


def paragraph_oracle(n_docs: int, s: int, block: int = textops.PARA_BLOCK) -> tuple[int, int]:
    """First-occurrence block dedup of the chained corpus, computed without
    Spark: doc d holds tokens tok((j + s) mod 1e6) for j in [2d, 2d + 40), so
    a block is identified by its first token's position mod 1e6."""
    seen, blocks, dups = set(), 0, 0
    for d in range(n_docs):
        for start in range(2 * d, 2 * d + 40, block):
            key = (start + s) % 1_000_000
            blocks += 1
            if key in seen:
                dups += 1
            else:
                seen.add(key)
    return blocks, dups


WORKLOADS = {w.name: w for w in (FlagshipJoin, RasterTiles, NorthStarWrite)}
