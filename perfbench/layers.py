"""Per-layer figures of a traced run, from its spans, the Spark event log
and the streaming progress reports.

Every figure is per pass: totals over the traced passes divided by their
number, except ``query.<name>.s``, the median of that unit's wall time.
"""

from __future__ import annotations

import os
import statistics

from telemetry import JobFigures, Tracer, clip, union_seconds

#: span name -> per-layer metric (self time, seconds)
SPAN_LAYERS = {
    "plan.build": "plan.build_s",
    "streaming.drain": "streaming.drain_s",
    "shared_bases.build": "shared_bases.build_s",
    "sources.readers.ingest": "sources.readers.ingest_s",
    "quality.checks.run_all": "quality.checks.run_all_s",
    "operators.marts.write": "operators.marts.write_s",
    "operators.products.write": "operators.products.write_s",
    "sources.writers.raw_events": "sources.writers.raw_events_s",
}

#: fixed per-layer metrics, in the order BENCHMARK.json lists them
LAYER_METRICS = {
    "plan.build_s": "s",
    "plan.catalyst_s": "s",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "sched.idle_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "driver.cpu_s": "s",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.write_records": "count",
    "spill.mb": "MB",
    "pyworker.cpu_s": "s",
    "collect.s": "s",
    "collect.rows": "count",
    "sources.readers.ingest_s": "s",
    "quality.checks.run_all_s": "s",
    "operators.marts.write_s": "s",
    "operators.products.write_s": "s",
    "sources.writers.raw_events_s": "s",
    "pipeline.other_s": "s",
    "sources.writers.files": "count",
    "sources.writers.output_mb": "MB",
    "sources.writers.bytes_per_input_byte": "ratio",
    "shared_bases.build_s": "s",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "jvm_peak_rss_mb": "MB",
    "trace_overhead_frac": "ratio",
    "host_other_cpu_frac": "ratio",
}


def query_metric(name: str) -> str:
    return f"query.{name}.s"


def module_metric(module: str) -> str:
    """``ecommerce_event_pipeline_spark.queries.corpus`` -> ``queries.corpus.s``."""
    short = module.rsplit(".", 1)[-1]
    return f"queries.{short}.s"


def output_figures(out_dirs: list[str], input_bytes: int) -> dict[str, float]:
    files = size = 0
    for d in out_dirs:
        for dirpath, _, names in os.walk(d):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
    return {
        "sources.writers.files": files,
        "sources.writers.output_mb": size / (1024.0 * 1024.0),
        "sources.writers.bytes_per_input_byte": size / input_bytes if input_bytes else 0.0,
    }


def streaming_figures(progress: list[dict]) -> dict[str, float]:
    out = {
        "streaming.batches": 0,
        "streaming.input_rows": 0,
        "streaming.add_batch_s": 0.0,
        "streaming.commit_s": 0.0,
        "streaming.query_planning_s": 0.0,
        "streaming.state_commit_s": 0.0,
        "streaming.state_rows": 0,
        "streaming.state_mem_mb": 0.0,
    }
    last_state: dict[str, list] = {}
    for p in progress:
        d = p.get("durationMs") or {}
        out["streaming.batches"] += 1
        out["streaming.input_rows"] += int(p.get("numInputRows") or 0)
        out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000.0
        out["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
        out["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1000.0
        ops = p.get("stateOperators") or []
        out["streaming.state_commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1000.0
        last_state[p.get("runId", "")] = ops
    for ops in last_state.values():
        out["streaming.state_rows"] += sum(int(o.get("numRowsTotal", 0)) for o in ops)
        out["streaming.state_mem_mb"] += sum(
            o.get("memoryUsedBytes", 0) for o in ops
        ) / (1024.0 * 1024.0)
    return out


def unit_accounting(tracer: Tracer, jobs: dict[str, JobFigures]) -> list[dict]:
    """Blocking-path split of every traced unit.

    ``self`` is each layer's self time inside the unit; by construction
    they add up to the unit's wall time (``residual_s`` reports what does
    not, which should be zero up to clock resolution). ``action`` splits
    the action span into time some Spark job ran, planning and idle time
    before and between jobs, and the collect after the last job.
    """
    selfs = tracer.self_times()
    by_unit: dict[str, list] = {}
    for s in tracer.spans:
        by_unit.setdefault(s.unit, []).append(s)
    rows = []
    for unit_id, spans in by_unit.items():
        root = next((s for s in spans if s.name == "unit"), None)
        if root is None:
            continue
        layer_self: dict[str, float] = {}
        for s in spans:
            name = "unit.self" if s is root else s.name
            layer_self[name] = layer_self.get(name, 0.0) + selfs[s.id]
        fig = jobs.get(unit_id, JobFigures())
        busy = union_seconds(clip(fig.job_spans, root.start, root.end))
        row = {
            "unit": unit_id,
            "wall_s": root.seconds,
            "self": layer_self,
            "residual_s": root.seconds - sum(layer_self.values()),
            "jobs_busy_s": busy,
            "sched_idle_s": root.seconds - busy,
        }
        action = next((s for s in spans if s.name == "action"), None)
        if action is not None:
            inside = clip(fig.job_spans, action.start, action.end)
            last_end = max((e for _, e in inside), default=action.start)
            row["action"] = {
                "wall_s": action.seconds,
                "jobs_busy_s": union_seconds(inside),
                "collect_s": max(0.0, action.end - last_end),
                "catalyst_s": action.attrs.get("catalyst_s", 0.0),
                "rows": action.attrs.get("rows", 0),
            }
        rows.append(row)
    return rows


def layer_metrics(
    tracer: Tracer,
    jobs: dict[str, JobFigures],
    accounting: list[dict],
    units: list,
    n_passes: int,
) -> dict[str, float]:
    """Fold spans, job figures and unit accounting into per-pass figures.

    ``units`` are the traced outcomes (unit id, name, kind, module, seconds).
    """
    n = max(1, n_passes)
    out = {k: 0.0 for k in LAYER_METRICS}
    selfs = tracer.self_times()
    for s in tracer.spans:
        metric = SPAN_LAYERS.get(s.name)
        if metric is not None:
            out[metric] += selfs[s.id]
        elif s.name == "unit" and s.attrs.get("kind") == "day":
            out["pipeline.other_s"] += selfs[s.id]
    traced_ids = {u["unit_id"] for u in units}
    total = JobFigures()
    for g, f in jobs.items():
        if g in traced_ids:
            total.add(f)
    out["sched.jobs"] = total.jobs
    out["sched.stages"] = total.stages
    out["sched.tasks"] = total.tasks
    out["exec.run_s"] = total.run_s
    out["exec.cpu_s"] = total.cpu_s
    out["exec.gc_s"] = total.gc_s
    out["shuffle.write_mb"] = total.shuffle_write_mb
    out["shuffle.read_mb"] = total.shuffle_read_mb
    out["shuffle.write_records"] = total.shuffle_write_records
    out["spill.mb"] = total.spill_mb
    for row in accounting:
        out["sched.idle_s"] += row["sched_idle_s"]
        a = row.get("action")
        if a:
            out["plan.catalyst_s"] += a["catalyst_s"]
            out["collect.s"] += a["collect_s"]
            out["collect.rows"] += a["rows"]
    out = {k: v / n for k, v in out.items()}
    per_query: dict[str, list[float]] = {}
    per_module: dict[str, float] = {}
    for u in units:
        if u["kind"] in ("query", "stream"):
            per_query.setdefault(query_metric(u["name"]), []).append(u["seconds"])
            m = module_metric(u["module"])
            per_module[m] = per_module.get(m, 0.0) + u["seconds"] / n
    for k, v in per_query.items():
        out[k] = statistics.median(v)
    out.update(per_module)
    return out
