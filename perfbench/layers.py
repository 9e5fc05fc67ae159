"""Per-layer metrics of a traced run, named after the engine's modules.

Every name in ``UNITS`` is reported for every workload; a layer that a
workload never enters reads 0.  Per-iteration values are medians over the
traced iterations.  Which end-to-end metric each layer should move is listed
in perfbench/README.md.
"""

from __future__ import annotations

import statistics

UNITS = {
    "session.start_s": "s",
    "session.launch_s": "s",
    "sources.exec_s": "s",
    "functions.cells.exec_s": "s",
    "spatial_join.index_build_s": "s",
    "spatial_join.exec_s": "s",
    "spatial_join.candidate_rows": "count",
    "spatial_join.hit_rows": "count",
    "spatial_join.hit_ratio": "ratio",
    "spatial_join.join_execs": "count",
    "raster.synth_s": "s",
    "raster.focal_s": "s",
    "raster.halo_shuffle_mb": "MB",
    "hydro.pointer_s": "s",
    "hydro.accum_build_s": "s",
    "hydro.accum_exec_s": "s",
    "hydro.eager_jobs": "count",
    "pipeline.keys_s": "s",
    "lineage.write_s": "s",
    "lineage.readback_s": "s",
    "lineage.manifest_s": "s",
    "lineage.resume_s": "s",
    "lineage.batches": "count",
    "lineage.bytes_per_row": "B",
    "textops.paragraph_dedup_s": "s",
    "simsearch.train_s": "s",
    "simsearch.search_s": "s",
    "simsearch.pairs_compared": "count",
    "simsearch.pairs_per_vec": "count",
    "driver.build_s": "s",
    "driver.eager_jobs": "count",
    "catalyst.plan_s": "s",
    "jvm.run_s": "s",
    "jvm.cpu_s": "s",
    "jvm.gc_s": "s",
    "jvm.shuffle_write_mb": "MB",
    "jvm.shuffle_read_mb": "MB",
    "jvm.spill_mb": "MB",
    "jvm.task_skew": "ratio",
    "pyworker.boot_s": "s",
    "pyworker.init_s": "s",
    "pyworker.exec_s": "s",
    "pyworker.to_py_mb": "MB",
    "pyworker.from_py_mb": "MB",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
    "ops_failed_frac": "ratio",
}

_SUMMED = ("catalyst.plan_s", "jvm.run_s", "jvm.cpu_s", "jvm.gc_s", "jvm.shuffle_write_mb",
           "jvm.shuffle_read_mb", "jvm.spill_mb", "pyworker.boot_s", "pyworker.init_s",
           "pyworker.exec_s", "pyworker.to_py_mb", "pyworker.from_py_mb")


def engine_site(rec) -> bool:
    site = rec["call_site"] or ""
    return " at " in site and not site.split(" at ", 1)[1].startswith("/")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(wl, tracer, records, probes, cycles, stats,
                  untraced_walls, traced_walls) -> dict:
    iters = sorted({s["iteration"] for s in tracer.spans if isinstance(s["iteration"], int)})
    by_iter = {it: [r for r in records if r["iteration"] == str(it)] for it in iters}

    def phase_wall(it, *phases):
        return sum(d for p in phases for d in tracer.durations(f"phase.{p}", it))

    def per_iter(fn):
        return _median([fn(it) for it in iters])

    def rec_sum(it, field, pred=lambda r: True):
        return sum(r[field] for r in by_iter[it] if pred(r))

    def site(prefix):
        return lambda r: (r["call_site"] or "").startswith(prefix)

    m = {k: 0.0 for k in UNITS}
    m["session.start_s"] = cycles[-1]["session_s"]
    m["session.launch_s"] = cycles[0]["session_s"]
    for k in _SUMMED:
        m[k] = per_iter(lambda it, k=k: rec_sum(it, k))
    m["jvm.task_skew"] = per_iter(lambda it: max([r["jvm.task_skew"] for r in by_iter[it]] or [0.0]))
    # driver time outside Spark jobs: Python plan construction, py4j, result fetch
    def phases(it):
        return {s["name"][len("phase."):] for s in tracer.spans
                if s["iteration"] == it and s["name"].startswith("phase.")}

    m["driver.build_s"] = per_iter(lambda it: phase_wall(it, *phases(it)) - rec_sum(it, "job_s"))
    # materializations the engine itself triggers (collect/toPandas/count in
    # an engine module; engine call sites are package-relative paths)
    m["driver.eager_jobs"] = per_iter(lambda it: rec_sum(it, "jobs", engine_site))
    m["trace.overhead_s"] = _median(traced_walls) - _median(untraced_walls)
    m["ops_failed_frac"] = stats["failed"] / max(1, stats["attempted"])

    index_builds = [max(tracer.durations("spatial_join.classified_cell_index", f"setup{k}") or [0.0])
                    for k in range(len(cycles))]
    name = wl.name
    if name in ("flagship_join", "north_star_write"):
        m["spatial_join.index_build_s"] = _median(index_builds)
        m["sources.exec_s"] = probes["sources"]
        m["functions.cells.exec_s"] = probes["cells"] - probes["sources"]
        join_phase = "sink" if name == "flagship_join" else "write"
        # the join's condition is fused into the broadcast join, so Spark
        # reports only its output; candidates come from the cell-only probe
        m["spatial_join.candidate_rows"] = probes["candidates"]
        on_path = lambda r: r["phase"] == join_phase  # noqa: E731
        m["spatial_join.join_execs"] = per_iter(lambda it: rec_sum(it, "pip_join_execs", on_path))
        # rows out of one execution of the join (the write re-runs it per batch)
        m["spatial_join.hit_rows"] = per_iter(
            lambda it: rec_sum(it, "pip_hit_rows", on_path) / max(1, rec_sum(it, "pip_join_execs", on_path)))
        if m["spatial_join.candidate_rows"]:
            m["spatial_join.hit_ratio"] = m["spatial_join.hit_rows"] / m["spatial_join.candidate_rows"]
    if name == "flagship_join":
        # self time by subtraction: the sink minus forcing the geocoded input
        m["spatial_join.exec_s"] = per_iter(lambda it: phase_wall(it, "sink")) - probes["cells"]
    if name == "north_star_write":
        w = lambda r: r["phase"] == "write"  # noqa: E731
        m["pipeline.keys_s"] = per_iter(lambda it: rec_sum(it, "job_s", lambda r: w(r) and site("collect at plans/pipeline.py")(r)))
        m["lineage.write_s"] = per_iter(lambda it: rec_sum(it, "job_s", lambda r: w(r) and r["call_site"] == "write data"))
        m["lineage.manifest_s"] = per_iter(lambda it: rec_sum(it, "job_s", lambda r: w(r) and r["call_site"] == "write _lineage"))
        m["lineage.readback_s"] = per_iter(lambda it: rec_sum(it, "job_s", lambda r: w(r) and site("collect at plans/lineage.py")(r)))
        m["lineage.resume_s"] = per_iter(lambda it: phase_wall(it, "resume"))
        m["lineage.batches"] = wl.context.get("lineage_batches", 0)
        m["lineage.bytes_per_row"] = wl.context.get("lineage_bytes_per_row", 0.0)
    if name == "raster_tiles":
        m["raster.synth_s"] = probes["synth"]
        m["raster.focal_s"] = per_iter(lambda it: phase_wall(it, "focal_build", "focal_sink"))
        m["raster.halo_shuffle_mb"] = per_iter(lambda it: rec_sum(it, "jvm.shuffle_write_mb", lambda r: r["phase"] == "focal_sink"))
        m["hydro.pointer_s"] = probes["pointer"]
        m["hydro.accum_build_s"] = per_iter(lambda it: phase_wall(it, "accum_build"))
        m["hydro.accum_exec_s"] = per_iter(lambda it: phase_wall(it, "accum_sink"))
        m["hydro.eager_jobs"] = per_iter(lambda it: rec_sum(it, "jobs", lambda r: r["phase"] == "accum_build"))
    if name == "north_star_write":
        # corpus layers, probed in this workload's traced run (second pass)
        cp = "corpus1"
        m["textops.paragraph_dedup_s"] = phase_wall(cp, "para_build", "para_sink")
        m["simsearch.train_s"] = phase_wall(cp, "semdedup_build", "ivfpq_build")
        m["simsearch.search_s"] = phase_wall(cp, "semdedup_sink", "ivfpq_sink")
        m["simsearch.pairs_compared"] = probes["pairs"]
        m["simsearch.pairs_per_vec"] = m["simsearch.pairs_compared"] / wl.corpus.VECS
    return {k: (float(v), UNITS[k]) for k, v in m.items()}
