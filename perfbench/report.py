"""Turns op results, spans and the Spark event log into the metrics the
benchmark prints."""

from __future__ import annotations

import statistics
from collections import defaultdict
from dataclasses import dataclass, field

import stats
import tracing


@dataclass
class OpResult:
    kind: str
    latency_s: float = 0.0
    started: float = 0.0  # epoch seconds, to attribute Spark jobs
    error: str | None = None  # set when the op raised or its check failed
    layers: dict[str, float] = field(default_factory=dict)  # per-op counters


def summary(warm, timed) -> dict:
    """The result line's counts: every timed op is attempted, and one
    that raised or failed its check is failed. A failed warm-up op (the
    query workloads' oracle comparison) makes the run incorrect too."""
    failed = sum(r.error is not None for r in timed)
    return {
        "correct": failed == 0 and all(r.error is None for r in warm),
        "attempted": len(timed),
        "failed": failed,
    }

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s"}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.read_call_s": "s",
    "sources.rows_in": "count",
    "operators.clean_build_s": "s",
    "operators.transform_build_s": "s",
    "operators.rows_dropped": "count",
    "operators.exec_s": "s",
    "operators.exec_jobs": "count",
    "operators.exec_share": "ratio",
    "loader.load_s": "s",
    "loader.health_load_s": "s",
    "loader.bytes_written": "bytes",
    "loader.files_written": "count",
    "orchestrator.source_s_max": "s",
    "orchestrator.overlap": "ratio",
    "orchestrator.self_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "plans.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_busy_frac": "ratio",
    "spark.gc_s": "s",
    "spark.persisted_rdds_after": "count",
    "trace.op_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}

# span name -> per-layer metric holding its self time
SPAN_METRIC = {
    "sources.read": "sources.read_call_s",
    "operators.clean": "operators.clean_build_s",
    "operators.transform": "operators.transform_build_s",
    "operators.exec": "operators.exec_s",
    "loader.load": "loader.load_s",
    "loader.health_load": "loader.health_load_s",
    "plans.build": "plans.build_s",
    "plans.plan": "plans.plan_s",
    "op": "orchestrator.self_s",
}


def _metrics(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def op_p50(results) -> float:
    """Geometric mean over op kinds of each kind's median latency (one
    kind, the pipeline run, on etl_ingest)."""
    by_kind = defaultdict(list)
    for r in results:
        by_kind[r.kind].append(r.latency_s)
    return stats.geomean([statistics.median(v) for v in by_kind.values()])


def end_to_end(timed, setup_s: float) -> dict:
    return _metrics(
        {
            "setup_s": setup_s,
            "wall_s": sum(r.latency_s for r in timed),
            "op_p50_s": op_p50(timed),
        },
        END_TO_END_UNITS,
    )


def extras(wl, timed) -> dict:
    """Figures printed beside the result line: sample count, error rate,
    the tail when there are enough samples, rows per second, per-kind
    medians."""
    wall = sum(r.latency_s for r in timed)
    out = {
        "n_ops": len(timed),
        "op_error_rate": stats.error_rate(len(timed), sum(r.error is not None for r in timed)),
    }
    t = stats.tail([r.latency_s for r in timed])
    if t is not None:
        out["op_tail_pct"], out["op_tail_s"] = t
    if getattr(wl, "rows_per_op", None):
        out["rows_per_s"] = wl.rows_per_op * len(timed) / wall
    by_kind = defaultdict(list)
    for r in timed:
        by_kind[r.kind].append(r.latency_s)
    out["kind_p50_s"] = {k: round(statistics.median(v), 4) for k, v in sorted(by_kind.items())}
    out["op_s"] = [round(r.latency_s, 3) for r in timed]
    return out


def run_traced(wl, tracer, ops):
    """Run each op twice, traced and untraced, so the tracing overhead is
    measured on the same op list in the same process; which of the two
    goes first alternates, so warming by the first run cancels out."""
    untraced, traced = [], []
    for i, op in enumerate(ops):
        for trace_it in (i % 2 == 1, i % 2 == 0):
            tracer.enabled, tracer.op = trace_it, i
            (traced if trace_it else untraced).append(wl.run_op(op))
    tracer.enabled = False
    return untraced, traced


def layer_metrics(untraced, traced, tracer, event_dir: str, cpus: int, session_s: float) -> dict:
    """Per-op means of every per-layer metric over the traced ops."""
    jobs, stages = tracing.read_event_logs(event_dir)
    spans_of = tracer.by_op()
    sums: dict[str, float] = defaultdict(float)
    for i, r in enumerate(traced):
        per = defaultdict(float)
        for idx in spans_of.get(i, []):
            s = tracer.spans[idx]
            per[SPAN_METRIC[s.name]] += tracing.self_time(tracer.spans, idx)
            if s.name in ("plans.build", "operators.exec"):
                key = "plans.build_jobs" if s.name == "plans.build" else "operators.exec_jobs"
                per[key] += len(tracing.jobs_in(jobs, s.start, s.end))
        tot = tracing.job_totals(tracing.jobs_in(jobs, r.started, r.started + r.latency_s), stages)
        per.update({f"spark.{k}": v for k, v in tot.items() if k != "run_s"})
        per["spark.task_busy_frac"] = tot["run_s"] / (r.latency_s * cpus)
        per.update(r.layers)
        per["trace.op_s"] = r.latency_s
        for k, v in per.items():
            sums[k] += v
    n = len(traced)
    values = {k: 0.0 for k in PER_LAYER_UNITS}
    values.update({k: v / n for k, v in sums.items()})
    wall_t = sum(r.latency_s for r in traced)
    values.update(
        {
            "session.start_s": session_s,
            "plans.build_share": sums["plans.build_s"] / wall_t,
            "operators.exec_share": sums["operators.exec_s"] / wall_t,
            "trace.wall_s": wall_t,
            "trace.overhead_s": wall_t - sum(r.latency_s for r in untraced),
        }
    )
    return _metrics(values, PER_LAYER_UNITS)
