"""The per-layer metrics: their names, units and direction, and how each is
computed from the spans and the event log.  ``BENCHMARK.json`` lists the
same set in the same order.

Layers are the program's modules.  A layer that a workload does not run
reports 0 for every one of its metrics.
"""

from __future__ import annotations

from spans import COMMON, EventLog, Tracer, common_metrics

LAYERS = (
    "session",
    "sources",
    "operators.spatial",
    "operators.weights",
    "plans.pipeline",
    "operators.aggregate",
    "sinks",
    "operators.dedup",
    "functions.text",
)
# the session's one trivial job has no shuffle, spill, Python or skew to show,
# and always one job of one task per core
SESSION_COMMON = ("busy_s", "build_s", "task_s", "cpu_s")
DEDUP_OPS = ("ngram_jaccard_pairs", "minhash_lsh_pairs", "jaccard_prefix_pairs", "winnow_pairs")

COMMON_UNITS = {
    "busy_s": "s",
    "build_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_s": "s",
    "cpu_s": "s",
    "python_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "max_task_s": "s",
    "single_task_stages": "count",
}

# (layer, metric, unit, better) for the layer-specific metrics
SPECIFIC = [
    ("session", "jvm_peak_rss_mb", "MB", "lower"),
    ("session", "py_worker_peak_rss_mb", "MB", "lower"),
    ("sources", "bytes_in", "B", "lower"),
    ("sources", "rows_out", "count", "lower"),
    ("sources", "rows_kept_ratio", "ratio", "higher"),
    ("sources", "shapefile_s", "s", "lower"),
    ("operators.spatial", "eager_jobs", "count", "lower"),
    ("operators.spatial", "candidates", "count", "lower"),
    ("operators.spatial", "fragments", "count", "lower"),
    ("operators.spatial", "hit_ratio", "ratio", "higher"),
    ("operators.weights", "rows_out", "count", "lower"),
    ("operators.weights", "dirty_share", "ratio", "lower"),
    ("plans.pipeline", "persist_fill_s", "s", "lower"),
    ("plans.pipeline", "persist_mb", "MB", "lower"),
    ("plans.pipeline", "prune_ratio", "ratio", "higher"),
    ("operators.aggregate", "rows_out", "count", "lower"),
    ("sinks", "files", "count", "lower"),
    ("sinks", "bytes_written", "B", "lower"),
    ("sinks", "bytes_per_result_row", "B/row", "lower"),
    ("sinks", "driver_s", "s", "lower"),
    *[("operators.dedup", f"{op}.busy_s", "s", "lower") for op in DEDUP_OPS],
    *[("operators.dedup", f"{op}.single_task_stages", "count", "lower") for op in DEDUP_OPS],
    ("operators.dedup", "single_task_s", "s", "lower"),
    ("operators.dedup", "candidates", "count", "lower"),
    ("operators.dedup", "pairs", "count", "lower"),
    ("operators.dedup", "pair_yield", "ratio", "higher"),
    ("functions.text", "single_task_s", "s", "lower"),
    ("functions.text", "shingle_rows", "count", "lower"),
]


def spec() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better), in report order."""
    out = []
    for layer in LAYERS:
        for key in SESSION_COMMON if layer == "session" else COMMON:
            out.append((f"{layer}.{key}", COMMON_UNITS[key], "lower"))
        out += [(f"{l}.{m}", u, b) for l, m, u, b in SPECIFIC if l == layer]
    out.append(("trace_overhead_s", "s", "lower"))
    return out


def per_layer(tracer: Tracer, log: EventLog) -> dict[str, tuple[float, str]]:
    """Every per-layer metric except ``trace_overhead_s``, as (value, unit)."""
    spans = {s.name: s for s in tracer.spans}
    values: dict[str, float] = {}
    for layer in LAYERS:
        common = common_metrics(log, spans.get(layer), layer)
        for key in SESSION_COMMON if layer == "session" else COMMON:
            values[f"{layer}.{key}"] = common[key]
    for layer, metric, _, _ in SPECIFIC:
        span = spans.get(layer)
        values[f"{layer}.{metric}"] = float(span.counts.get(metric, 0.0)) if span else 0.0

    if "sources" in spans:
        shp = spans["sources/shapefile"]
        values["sources.shapefile_s"] = shp.end - shp.start
    if "operators.spatial" in spans:
        spatial = log.layer("operators.spatial")
        cand = spatial.udf_rows.get("rect_clip_area_udf", 0)
        eager = log.layer("operators.spatial", build_only=True)
        values["operators.spatial.eager_jobs"] = eager.jobs
        values["operators.spatial.candidates"] = cand
        values["operators.spatial.hit_ratio"] = values["operators.spatial.fragments"] / max(cand, 1)
    if "plans.pipeline" in spans:
        p = spans["plans.pipeline"]
        values["plans.pipeline.persist_fill_s"] = p.end - p.build_end
    if "sinks" in spans:
        values["sinks.driver_s"] = max(spans["sinks"].end - log.layer("sinks").last_job_end, 0.0)
    for layer in ("operators.dedup", "functions.text"):
        if layer in spans:
            values[f"{layer}.single_task_s"] = log.layer(layer).single_task_s
    for op in DEDUP_OPS:
        name = f"operators.dedup/{op}"
        if name in spans:
            c = common_metrics(log, spans[name], name)
            values[f"operators.dedup.{op}.busy_s"] = c["busy_s"]
            values[f"operators.dedup.{op}.single_task_stages"] = c["single_task_stages"]
    units = {name: unit for name, unit, _ in spec()}
    return {name: (values[name], units[name]) for name, _, _ in spec()[:-1]}
