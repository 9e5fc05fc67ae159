"""Benchmark harness (driver contract).

Default mode: runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``SF_DIR`` below) on ``local[N]``, N = ``session.cpus()``
($SPARK_GRAFT_CPUS, else the CPU affinity count), and prints ONE JSON
line ``{"metric", "value", "unit", "queries", "sf", ...}``.

``--scaling`` mode: the north-rule evidence run — the SAME flagship job
(synthetic pages -> geocode -> cell assign -> broadcast PIP join -> counts)
at two parallelism levels, local[N/4] and local[N] with N =
``session.cpus()``, reporting throughput at both plus scaling efficiency
(thr_N / ((N / lo) x thr_lo)).  Results land in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from whitebox_geospatial_analysis_tools_spark.session import best_of, cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = cpus()

# headline set: north-star spatial pipeline + one representative per family
HEADLINE = [
    "pip_counts",        # flagship: broadcast cell-index PIP join + agg
    "tile_assign",       # per-page tile + hierarchical cell assignment
    "hexbin",            # hex tile aggregation
    "zonal_stats",       # ExtractStatistics agg set
    "points_to_raster",  # 7 collision policies
    "idw",               # interpolation (k-ring candidate join + weighted agg)
    "knn",               # k-ring kNN join + window top-k
    "pricing_summary",   # relational agg (TPC-H q1 shape)
    "revenue_by_nation", # multi-join + agg
    "lsh_pairs",         # minhash-LSH near-dup candidate pairs
    "simhash_near_dup",  # simhash hamming near-dup self-join
    "cosine_topk",       # brute-force ANN baseline
    "raster_stats",      # tile-table array-aggregate partials
    "focal_mean",        # halo-join + numpy stencil
    "slope",             # 3x3 terrain derivative
    "euclidean_allocation",  # nearest-target labeling (block-pyramid ring join)
    "feature_metrics",   # vector ring-array metrics
    "sessionize",        # gap-rule sessionization window
    "adaptive_cells",    # hot-cell subdivision (skew path)
    # round-2 additions (new operator families)
    "intersect_area",    # Sutherland-Hodgman polygon overlay
    "flow_accum",        # tile-local accumulation + condensed boundary solve
    "stream_order",      # junction-cut links + Strahler/Shreve/main-stem
    "utm_roundtrip",     # CRS forward+inverse staged transform
    # round-3 additions
    "viewshed",          # exact R3 line-of-sight (explode + corner joins)
    "dissolve_geom",     # geometric union of touching parcels + ring trace
    "dinf_accum",        # D-infinity split through the MFD tile machinery
    "concave_intersect_area",  # general overlay via star-fan decomposition
    # round-3 second-pass additions (one per new family)
    "location_predicates",  # full isolate-by-location predicate set
    "mass_flux",         # clamped D8 transport (tile-Kahn exchange)
    "ivf_topk",          # inverted-file ANN (coarse quantizer + probe)
    "downslope_index",   # binary-lifting path walk
    "convex_hull",       # set-based hull support test
    # round-3 third-pass additions
    "branch_length",     # binary-lifting lowest-common-descendant distances
    "dedup_clusters",    # LSH pairs -> connected components -> canonical
    # round-4 additions (hardening round)
    "find_polygon_chains",  # calipers endpoints + bucket prefilter + closure
    "horizon_angle",     # O(n) upper-hull monotone scan kernel
    "kriging_fitted",    # variogram fit -> kriging solve
    "reproject_raster",  # whole-grid inverse-TM reprojection, bilinear
    "stack_stats",       # generic n-band per-cell stack statistics
    # round-4 second pass: webtext-axis additions
    "repetition_filter", # Gopher repetition metrics (n-gram agg + window)
    "pack_sequences",    # sharded concat-then-chunk packing window
    # round-4 third pass: corpus dedup + ANN additions
    "paragraph_dedup",   # CCNet block-hash first-occurrence dedup
    "substring_dedup",   # exact-substring duplicated-span stats
    "semdedup",          # cluster-then-prune embedding dedup
    "ivf_pq_topk",       # product-quantization ADC + exact re-rank
    "corpus_filter2",    # full modern filter chain, one plan
    "bpe_train",         # 3 BPE merge rounds with symbol rewriting
    # round-5 additions (corpus-scaled trained quantizer)
    "ivf_pq_topk_trained",  # ADC search via the Lloyd-trained scaled quantizer
    "list_size_stats",   # IVF list-size skew drop-accounting
]


def _force(df) -> int:
    """One full materializing pass (count), mirroring the oracle-check path."""
    return df.count()


def run_headline() -> dict:
    from whitebox_geospatial_analysis_tools_spark.session import get_spark
    from whitebox_geospatial_analysis_tools_spark import queries as Q

    spark = get_spark(app="wgs-bench", master=f"local[{CPUS}]")
    qs = Q.all_queries()
    # session warm-up (JVM/codegen/python-worker start + broadcast index
    # build) so per-query times measure steady-state, not first-job setup
    qs["tile_assign"](spark, SF_DIR).count()
    qs["pip_counts"](spark, SF_DIR).count()
    # min-of-2 per query: single-run readings on this box swing 2-4x on
    # individual queries from transient external load (BENCH/BASELINE.md
    # round-4 notes) — the min is the reproducible plan cost
    times: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        times[name] = round(best_of(lambda: _force(fn(spark, SF_DIR)), 2), 3)
    total = round(sum(times.values()), 3)
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    pages_sec = round(n_docs / max(times["pip_counts"], 1e-9), 1)
    # flagship synthetic throughput at bench scale (warm steady-state —
    # the BASELINE.md north-star metric at a size where work >> overhead)
    from whitebox_geospatial_analysis_tools_spark.plans.pipeline import flagship_synthetic

    n_flag = 64_000_000
    flagship_synthetic(spark, n_flag).count()
    best = best_of(lambda: flagship_synthetic(spark, n_flag).count(), 2)
    flagship_pps = round(n_flag / best, 1)
    spark.stop()
    return {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "per_query": "min_of_2",
        "queries": times,
        "sf": SF_DIR,
        "cpus": CPUS,
        "pip_pages_per_sec": pages_sec,
        "flagship_synthetic_pages_per_sec": flagship_pps,
        "flagship_synthetic_n": n_flag,
        # same-run host context: per-core ALU throughput varies up to ~2x
        # hour-to-hour on this box (BENCH/BASELINE.md control ladders), so
        # every absolute reading above carries its own hardware scale;
        # the control runs one process per CPU (``cpus`` above)
        "alu_control_mops": _alu_control(),
    }


def _alu_control(dur: float = 1.5) -> float:
    """One-process-per-CPU integer-LCG busy-loop throughput (M ops/s) — the
    tools/hw_controls.py pure-ALU control, sized down to ~2 s so every
    bench JSON records the host's same-run compute ceiling."""
    import multiprocessing as mp

    def worker(out):
        t0 = time.time()
        x, n = 1, 0
        while time.time() - t0 < dur:
            for _ in range(100_000):
                x = (x * 1103515245 + 12345) & 0x7FFFFFFF
            n += 100_000
        out.put(n / (time.time() - t0))

    q: mp.Queue = mp.Queue()
    procs = [mp.Process(target=worker, args=(q,)) for _ in range(CPUS)]
    for p in procs:
        p.start()
    tot = sum(q.get() for _ in procs)
    for p in procs:
        p.join()
    return round(tot / 1e6, 1)


def _flagship_throughput(master: str, n_pages: int) -> float:
    """Pages/sec of the synthetic flagship pipeline at a given parallelism."""
    from whitebox_geospatial_analysis_tools_spark.session import get_spark
    from whitebox_geospatial_analysis_tools_spark.plans.pipeline import flagship_synthetic

    spark = get_spark(app=f"wgs-scale-{master}", master=master)
    try:
        # Warm-up with the SAME plan: JIT + codegen-cache + Python-worker fork
        # amortize to ~0 over a 100 TB run, so steady-state throughput is the
        # honest scaling measure (cold-start constants would otherwise mask
        # the parallel fraction at sandbox scale).
        flagship_synthetic(spark, n_pages).count()
        best = best_of(lambda: flagship_synthetic(spark, n_pages).count(), 3)
    finally:
        spark.stop()
    return n_pages / best


def run_scaling(n_pages: int = 512_000_000) -> dict:
    lo, hi = max(1, CPUS // 4), CPUS
    thr_lo = _flagship_throughput(f"local[{lo}]", n_pages)
    thr_hi = _flagship_throughput(f"local[{hi}]", n_pages)
    eff = thr_hi / ((hi / lo) * thr_lo)
    return {
        "metric": "scaling_efficiency",
        "value": round(eff, 3),
        "unit": "ratio",
        "n_pages": n_pages,
        "cpus_lo": lo,
        "cpus_hi": hi,
        "throughput_lo_pages_sec": round(thr_lo, 1),
        "throughput_hi_pages_sec": round(thr_hi, 1),
    }


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        print(json.dumps(run_scaling()))
    else:
        print(json.dumps(run_headline()))
