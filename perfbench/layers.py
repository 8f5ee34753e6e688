"""Per-layer metrics of the traced run.

A traced job yields the completed stages of its Spark jobs (each with the
RDD-scope names of the plan nodes that ran in it), the SQL plan nodes of
its executions with their metrics, and the spans the benchmark recorded
around its calls into the engine.  :func:`job_layers` maps those onto
the engine's modules; :func:`run_layers` takes the median over the
traced jobs and adds the per-run values (session start, cache build,
driver-side gridlib replay, process memory).  A layer that does not run
in a workload reports 0.
"""

from __future__ import annotations

import numpy as np

from probes import median

UNITS = {
    "session.start_s": "s",
    "sources.scan_passes": "ratio",
    "sources.scan_tasks": "count",
    "sources.cache_build_s": "s",
    "laz.decode_s_per_mpoint": "s",
    "las.read_s_per_mpoint": "s",
    "tiling.shuffle_write_bytes": "B",
    "tiling.shuffle_read_bytes": "B",
    "tiling.shuffle_records": "count",
    "tiling.fetch_wait_s": "s",
    "tiling.spill_bytes": "B",
    "tiling.reduce_tasks": "count",
    "tiling.reduce_task_s_p50": "s",
    "tiling.reduce_task_s_max": "s",
    "tiling.tile_points_max_over_p50": "ratio",
    "tin_stage.tasks": "count",
    "tin_stage.task_s_p50": "s",
    "tin_stage.task_s_max": "s",
    "tin_stage.to_python_bytes": "B",
    "tin_stage.from_python_bytes": "B",
    "tin_stage.executor_run_s": "s",
    "tin_stage.jvm_cpu_s": "s",
    "gridlib.png_decode_ms": "ms",
    "gridlib.sample_points_ms": "ms",
    "gridlib.delaunay_ms": "ms",
    "gridlib.tin_rasterize_ms": "ms",
    "gridlib.png_encode_ms": "ms",
    "gridlib.phash_ms": "ms",
    "gridlib.points_per_tile": "count",
    "gridlib.triangles_per_tile": "count",
    "pip_stage.prep_s": "s",
    "pip_stage.cover_rows": "count",
    "pip_stage.broadcast_bytes": "B",
    "pip_stage.tasks": "count",
    "pip_stage.task_s_max": "s",
    "pip_stage.to_python_bytes": "B",
    "gridlib.wkb_decode_ms": "ms",
    "gridlib.clip_ms": "ms",
    "gridlib.scanline_ms": "ms",
    "gridlib.features_per_tile": "count",
    "gridlib.covers_per_feature": "ratio",
    "checkpoint.write_stage_s": "s",
    "checkpoint.resume_stage_s": "s",
    "checkpoint.bytes_written": "B",
    "checkpoint.files_written": "count",
    "checkpoint.recompute_ratio": "ratio",
    "voxel.agg_stage_s": "s",
    "voxel.shuffle_write_bytes": "B",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_retries": "count",
    "spark.gc_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "proc.python_workers": "count",
    "proc.jvm_rss_mb": "MB",
    "proc.python_rss_mb": "MB",
    "proc.host_steal_frac": "ratio",
    "input.points_per_tile_p50": "count",
    "input.dense_tile_ratio": "ratio",
    "failed_frac": "ratio",
    "trace.points_per_s_untraced": "1/s",
    "trace.points_per_s_traced": "1/s",
    "trace.overhead_frac": "ratio",
}

# plan node (RDD scope) that runs each layer's Python kernel, per workload
_SCAN_SCOPE = {"dem_tiles": "InMemoryTableScan", "pip_classify": "InMemoryTableScan",
               "strips_dem": "MapInPandas", "laz_dsm": "MapInPandas"}
_TIN_SCOPE = {"dem_tiles": "MapInPandas", "strips_dem": "FlatMapGroupsInPandas"}


def _sum(nodes, metric):
    return float(sum(n["metrics"].get(metric, 0.0) for n in nodes))


def _tasks(stages):
    return [t for s in stages for t in s["task_s"]]


def job_layers(workload, manifest, n_jobs, stages, nodes, spans, r) -> dict[str, float]:
    """Layer metrics of one traced job."""
    out = {}
    with_scope = lambda scope: [s for s in stages if scope in s["clusters"]]  # noqa: E731

    # engine.points / engine.sources: how often the input is scanned
    scan = with_scope(_SCAN_SCOPE[workload])
    out["sources.scan_tasks"] = sum(s["tasks"] for s in scan)
    if workload in ("strips_dem", "laz_dsm"):
        src = [n for n in nodes if n["name"] == "MapInPandas" and "path#" in n["desc"]]
        out["sources.scan_passes"] = _sum(src, "number of output rows") / manifest["points"]
    else:
        src = [n for n in nodes if n["name"] == "InMemoryTableScan"
               and "caption#" in n["desc"]]
        out["sources.scan_passes"] = _sum(src, "number of output rows") / manifest["tiles"]

    # engine.tiling: the range-partition exchange on cell_id
    rng = [n for n in nodes if n["name"] == "Exchange"
           and "rangepartitioning(cell_id" in n["desc"]]
    reduce_ = with_scope("FlatMapGroupsInPandas") if rng else []
    out["tiling.shuffle_write_bytes"] = _sum(rng, "shuffle bytes written")
    out["tiling.shuffle_read_bytes"] = _sum(rng, "local bytes read") + _sum(rng, "remote bytes read")
    out["tiling.shuffle_records"] = _sum(rng, "shuffle records written")
    out["tiling.fetch_wait_s"] = _sum(rng, "fetch wait time")
    out["tiling.spill_bytes"] = float(sum(
        s["spill_bytes"] for s in reduce_ + [s for s in scan if s["shuffle_write_bytes"]]
    )) if rng else 0.0
    out["tiling.reduce_tasks"] = sum(s["tasks"] for s in reduce_)
    out["tiling.reduce_task_s_p50"] = median(_tasks(reduce_))
    out["tiling.reduce_task_s_max"] = max(_tasks(reduce_), default=0.0)
    tp = r.extra.get("tile_points")
    out["tiling.tile_points_max_over_p50"] = (
        max(tp) / float(np.median(tp)) if tp else 0.0
    )

    # engine.tin_stage: the stages and plan node of the TIN kernel
    scope = _TIN_SCOPE.get(workload)
    tin = with_scope(scope) if scope else []
    tin_nodes = [n for n in nodes if scope and n["name"] == scope and "path#" not in n["desc"]]
    out["tin_stage.tasks"] = sum(s["tasks"] for s in tin)
    out["tin_stage.task_s_p50"] = median(_tasks(tin))
    out["tin_stage.task_s_max"] = max(_tasks(tin), default=0.0)
    out["tin_stage.to_python_bytes"] = _sum(tin_nodes, "data sent to Python workers")
    out["tin_stage.from_python_bytes"] = _sum(tin_nodes, "data returned from Python workers")
    out["tin_stage.executor_run_s"] = sum(s["run_s"] for s in tin)
    out["tin_stage.jvm_cpu_s"] = sum(s["cpu_s"] for s in tin)

    # engine.pip_stage: preparation spans and the classify kernel
    pip = with_scope("MapInPandas") if workload == "pip_classify" else []
    pip_nodes = [n for n in nodes if workload == "pip_classify" and n["name"] == "MapInPandas"]
    out["pip_stage.prep_s"] = spans.get("pip_stage.prep", 0.0)
    out["pip_stage.cover_rows"] = r.extra.get("cover_rows", 0)
    out["pip_stage.broadcast_bytes"] = r.extra.get("broadcast_bytes", 0)
    out["pip_stage.tasks"] = sum(s["tasks"] for s in pip)
    out["pip_stage.task_s_max"] = max(_tasks(pip), default=0.0)
    out["pip_stage.to_python_bytes"] = _sum(pip_nodes, "data sent to Python workers")

    # engine.checkpoint
    out["checkpoint.write_stage_s"] = spans.get("checkpoint.write_stage", 0.0)
    out["checkpoint.resume_stage_s"] = spans.get("checkpoint.resume_stage", 0.0)
    out["checkpoint.bytes_written"] = r.extra.get("bytes_written", 0)
    out["checkpoint.files_written"] = r.extra.get("files_written", 0)
    out["checkpoint.recompute_ratio"] = r.extra.get("recompute_ratio", 0.0)

    # engine.voxel: the hash aggregate after the scan
    agg = [s for s in stages if workload == "laz_dsm" and s["shuffle_read_bytes"]
           and "MapInPandas" not in s["clusters"]]
    vox = [n for n in nodes if workload == "laz_dsm" and n["name"] == "Exchange"
           and "hashpartitioning(cell_id" in n["desc"]]
    out["voxel.agg_stage_s"] = sum(s["wall_s"] for s in agg)
    out["voxel.shuffle_write_bytes"] = _sum(vox, "shuffle bytes written")

    # whole job
    out["spark.jobs"] = n_jobs
    out["spark.stages"] = len(stages)
    out["spark.tasks"] = sum(s["tasks"] for s in stages)
    out["spark.task_retries"] = sum(s["retried_tasks"] + s["failed_tasks"] for s in stages)
    out["spark.gc_s"] = sum(s["gc_s"] for s in stages)
    out["spark.executor_run_s"] = sum(s["run_s"] for s in stages)
    out["spark.executor_cpu_s"] = sum(s["cpu_s"] for s in stages)
    return out


def run_layers(workload, manifest, traced_jobs, replay, peak, session_start_s,
               cache_build_s) -> dict[str, float]:
    """Median over the traced jobs plus the once-per-run values; every
    name in :data:`UNITS` except the trace.*, failed_frac and
    proc.host_steal_frac entries."""
    out = {k: 0.0 for k in UNITS}
    keys = set().union(*(j["layers"] for j in traced_jobs)) if traced_jobs else set()
    for k in keys:
        out[k] = median(j["layers"][k] for j in traced_jobs)
    out.update(replay)
    out["session.start_s"] = session_start_s
    out["sources.cache_build_s"] = cache_build_s
    out["proc.python_workers"] = peak["python_workers"]
    out["proc.jvm_rss_mb"] = peak["jvm"]
    out["proc.python_rss_mb"] = peak["python"]
    out["input.points_per_tile_p50"] = manifest.get("points_per_tile_p50") or 0.0
    out["input.dense_tile_ratio"] = manifest.get("dense_tile_ratio") or 0.0
    return out
