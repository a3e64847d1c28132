"""Per-layer metrics of the traced run (``--trace 1``).

Layers are measured from the benchmark's side of the engine's API: each
span wraps the calls into one layer and tags their Spark jobs with a job
group. Lazy read-path layers run as nested prefixes to a noop sink
(source → asof_join → store → windows); a prefix layer's ``self_s`` and
additive counters are its prefix minus the prefix before it, so they can
be negative where the outer layer does less work than the bare inner
call (the store's pruning, for example). Eager layers (dedup,
materialize, online.push, online.lookup) report their own span. A layer
that does not run on a workload reports 0 for every metric.
"""

from __future__ import annotations

import os
import statistics
import time

from spans import Tracer, median

COMMON = ("wall_s", "self_s", "executor_run_s", "executor_cpu_s", "gc_s",
          "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "tasks", "failed_tasks",
          "task_skew")
UNITS = {"wall_s": "s", "self_s": "s", "executor_run_s": "s", "executor_cpu_s": "s",
         "gc_s": "s", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
         "tasks": "count", "failed_tasks": "count", "task_skew": "ratio"}
SPAN_LAYERS = ("source", "asof_join", "store", "windows", "dedup", "materialize",
               "online.push", "online.lookup")
EXTRA = {
    "session.start_s": "s",
    "session.first_start_s": "s",
    "stage.s": "s",
    "stage.input_mb": "MB",
    "asof_join.shuffle_rows_per_row": "rows/row",
    "asof_join.python_mb": "MB",
    "store.plan_s": "s",
    "store.prune_kept_share": "share",
    "materialize.spark_jobs": "count",
    "materialize.write_mb": "MB",
    "online.push.write_mb": "MB",
    "online.lookup.spark_jobs": "count",
    "online.lookup.files_read": "count",
    "lookup_ms_p50": "ms",
    "lookup_ms_p75": "ms",
    "stored_bytes_per_row": "B/row",
    "jvm.first_unit_s": "s",
    "jvm.peak_rss_mb": "MB",
    "jvm.warmup_s": "s",
    "trace.overhead_share": "share",
}
TRACE_REPS = 2
# Closed-loop lookups. A lookup takes over a second on this engine, so 40
# fit the run's time limit; the p75 is the highest percentile with 10
# samples above it.
LOOKUPS = 40


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in print order."""
    return [(f"{layer}.{m}", UNITS[m]) for layer in SPAN_LAYERS for m in COMMON] + list(EXTRA.items())


def _self_values(tracer: Tracer) -> dict[str, list[dict]]:
    """Per layer, one dict of self values per span."""
    out: dict[str, list[dict]] = {}
    last = {}
    for span in tracer.spans:
        c = dict(span.counters, wall_s=span.wall_s)
        parent = last.get(span.parent)
        base = dict(parent.counters, wall_s=parent.wall_s) if parent else {}
        own = {k: v - base.get(k, 0) for k, v in c.items() if k != "task_skew"}
        own["self_s"] = own.pop("wall_s")
        own["wall_s"] = span.wall_s
        own["task_skew"] = c["task_skew"]
        own["raw"] = c
        out.setdefault(span.name, []).append(own)
        last[span.name] = span
    return out


def _lookup_latencies_ms(wl) -> list[float]:
    frames = wl.lookup_frames()
    out = []
    for i in range(LOOKUPS):
        t0 = time.perf_counter()
        wl.lookup(frames[i % len(frames)])
        out.append((time.perf_counter() - t0) * 1e3)
    return out


def traced(run, wl, conf: dict, setup: dict, units: dict, inputs) -> dict:
    """After the untraced units, restart the session with the Spark UI on,
    run the workload's layers under spans and return every per-layer
    metric as ``{name: {"value", "unit"}}``."""
    # closed-loop lookups with tracing off, like the measured units
    lat = _lookup_latencies_ms(wl) if hasattr(wl, "lookup") else []
    run.start(wl, dict(conf, **{"spark.ui.enabled": "true"}))
    # the JVM stays warm; this unit restarts the new session's Python workers
    run.timed_unit(wl)
    tracer = Tracer(run.spark)
    for _ in range(TRACE_REPS):
        wl.traced_unit(tracer)
    tracer.collect()
    per = _self_values(tracer)

    values = {name: 0.0 for name, _ in metric_names()}
    for layer, rows in per.items():
        for m in COMMON:
            values[f"{layer}.{m}"] = median(r[m] for r in rows)
    spine_rows = inputs.rows.get("spine", 0)
    if "asof_join" in per and spine_rows:
        values["asof_join.shuffle_rows_per_row"] = median(
            r["shuffle_read_records"] for r in per["asof_join"]) / spine_rows
        values["asof_join.python_mb"] = median(r["python_mb"] for r in per["asof_join"])
    if "store" in per:
        base = median(r["raw"]["partitioned_scan_rows"] for r in per["asof_join"])
        kept = median(r["raw"]["partitioned_scan_rows"] for r in per["store"])
        values["store.prune_kept_share"] = kept / base if base else 0.0
    for layer, key in (("materialize", "spark_jobs"), ("materialize", "write_mb"),
                       ("online.push", "write_mb"), ("online.lookup", "spark_jobs"),
                       ("online.lookup", "files_read")):
        if layer in per:
            values[f"{layer}.{key}"] = median(r["raw"][key] for r in per[layer])
    if lat:
        values["lookup_ms_p50"] = statistics.median(lat)
        values["lookup_ms_p75"] = statistics.quantiles(lat, n=4)[2]
    for name, vals in tracer.notes.items():
        values[name] = median(vals)
    values["session.start_s"] = setup["session.start_s"]
    values["session.first_start_s"] = setup["session.first_start_s"]
    values["stage.s"] = setup["stage.s"]
    values["stage.input_mb"] = inputs.bytes / (1 << 20)
    values["jvm.first_unit_s"] = units["jvm.first_unit_s"]
    values["jvm.warmup_s"] = units["jvm.warmup_s"]
    # one traced unit = the walls of the spans that make up an untraced
    # unit, against the measured units of the same run (UI off, no spans)
    traced_unit = median(
        sum(per[layer][i]["wall_s"] for layer in wl.unit_spans) for i in range(TRACE_REPS))
    values["trace.overhead_share"] = traced_unit / units["job_s"] - 1

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.write(os.path.join(out_dir, f"spans-{wl.name}-{run.args.seed}.json"),
                 {"setup": setup, "units": units, "lookup_ms": lat})
    return {name: {"value": values[name], "unit": unit} for name, unit in metric_names()}
