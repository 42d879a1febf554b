"""Per-layer metrics of a traced run, one value per traced pass
(the median over the traced passes is reported)."""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracing import read_event_log

# (metric, unit), in report order
LAYER_METRICS = (
    ("session.start_s", "s"),
    ("session.jvm_peak_rss_mb", "MB"),
    ("tables.calls", "count"),
    ("tables.driver_s", "s"),
    ("queries.build_s", "s"),
    ("queries.eager_jobs", "count"),
    ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("materialize.calls", "count"),
    ("materialize.driver_s", "s"),
    ("materialize.freed_blocks", "count"),
    ("materialize.free_s", "s"),
    ("compat.calls", "count"),
    ("compat.driver_s", "s"),
    ("python.run_s", "s"),
    ("python.data_mb", "MB"),
    ("sources.write_s", "s"),
    ("sources.write_mb", "MB"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.launch_gap_s", "s"),
    ("exec.task_run_s", "s"),
    ("exec.task_cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("exec.core_busy_frac", "frac"),
    ("exec.slowest_task_frac", "frac"),
    ("exec.single_task_stages", "count"),
    ("trace.overhead_s", "s"),
    ("trace.coverage_frac", "frac"),
)

MB = 1e6


def _pass_of(tag):
    return tag[0] if tag else None


def _exec_by_pass(event_log: str) -> dict:
    """Event-log totals per pass, from the ``yamrbench|pass|query|phase``
    job descriptions."""
    per = defaultdict(lambda: defaultdict(float))
    for desc, rec in read_event_log(event_log).items():
        if not desc or not desc.startswith("yamrbench|"):
            continue
        _, idx, _query, phase = desc.split("|")
        p = per[int(idx)]
        for submit, end, first_launch in rec["jobs"]:
            p["jobs"] += 1
            p["eager_jobs"] += phase == "build"
            p["job_wall_ms"] += end - submit
            if first_launch is not None:
                p["launch_gap_ms"] += first_launch - submit
        for n_tasks, submit, done, max_task in rec["stages"]:
            p["stages"] += 1
            p["single_task_stages"] += n_tasks == 1
            p["stage_wall_ms"] += done - submit
            p["max_task_ms"] += max_task
        for key, val in rec["tasks"].items():
            p[key] += val
    return per


def layer_metrics(
    *,
    tracer,
    catalyst,
    event_log: str,
    harness,
    traced_idx: list[int],
    plain_walls: list[float],
    traced_walls: list[float],
    cpus: int,
    session_start_s: float,
    rss_mb: float,
) -> dict:
    spans = tracer.layer_totals(_pass_of)
    top = defaultdict(float)
    for name, start, end, parent, tag in tracer.spans:
        if parent is None and end is not None and tag:
            top[tag[0]] += end - start
    cat = defaultdict(lambda: [0, 0, 0])
    for tag, *ms in catalyst.records:
        if tag:
            acc = cat[tag[0]]
            for i, v in enumerate(ms):
                acc[i] += v
    ex = _exec_by_pass(event_log)

    def span(p, name, field):
        return spans[p].get(name, (0, 0.0, 0.0))[field]

    per_pass = []
    for p, wall in zip(traced_idx, traced_walls):
        e = ex[p]
        mat = ("materialize.materialize", "materialize.materialize_eager")
        free = ("materialize.free_blocks", "materialize.free_shared_caches")
        per_pass.append(
            {
                "tables.calls": span(p, "tables.table", 0),
                "tables.driver_s": span(p, "tables.table", 1),
                "queries.build_s": span(p, "queries.build", 2),
                "queries.eager_jobs": e["eager_jobs"],
                "catalyst.analysis_s": cat[p][0] / 1000,
                "catalyst.optimization_s": cat[p][1] / 1000,
                "catalyst.planning_s": cat[p][2] / 1000,
                "materialize.calls": sum(span(p, n, 0) for n in mat),
                "materialize.driver_s": sum(span(p, n, 1) for n in mat),
                "materialize.freed_blocks": harness.freed[p],
                "materialize.free_s": sum(span(p, n, 1) for n in free),
                "compat.calls": span(p, "compat.run_job", 0),
                "compat.driver_s": span(p, "compat.run_job", 1),
                "python.run_s": e["py_run_ms"] / 1000,
                "python.data_mb": e["py_bytes"] / MB,
                "sources.write_s": span(p, "sources.write_parquet", 1),
                "sources.write_mb": harness.write_bytes.get(p, 0) / MB,
                "exec.jobs": e["jobs"],
                "exec.stages": e["stages"],
                "exec.tasks": e["tasks_n"],
                "exec.launch_gap_s": e["launch_gap_ms"] / 1000,
                "exec.task_run_s": e["run_ms"] / 1000,
                "exec.task_cpu_s": e["cpu_ns"] / 1e9,
                "exec.gc_s": e["gc_ms"] / 1000,
                "exec.shuffle_write_mb": e["shuffle_write_b"] / MB,
                "exec.shuffle_read_mb": e["shuffle_read_b"] / MB,
                "exec.spill_mb": e["spill_b"] / MB,
                "exec.core_busy_frac": e["task_ms"] / max(1.0, cpus * e["job_wall_ms"]),
                "exec.slowest_task_frac": e["max_task_ms"] / max(1.0, e["stage_wall_ms"]),
                "exec.single_task_stages": e["single_task_stages"],
                "trace.coverage_frac": top[p] / wall,
            }
        )
    out = {
        "session.start_s": session_start_s,
        "session.jvm_peak_rss_mb": rss_mb,
        "trace.overhead_s": statistics.median(traced_walls) - statistics.median(plain_walls),
    }
    for name, _unit in LAYER_METRICS:
        if name not in out:
            out[name] = statistics.median(row[name] for row in per_pass)
    return {name: {"value": out[name], "unit": unit} for name, unit in LAYER_METRICS}
