"""The per-layer metric catalogue of traced runs, and its assembly.

Every name here is reported by every traced run.  A layer the workload
does not run reports 0, and the reason is listed on the ``missing``
line printed just before the result line (and in the span dump)."""

from __future__ import annotations

import json
import os

from analytics import QUERIES
from measure import Tracer, covered

_FIXED = {
    "bench.gen_s": "s",
    "bench.gen_late_max_s": "s",
    "bench.warmup_s": "s",
    "bench.trace_overhead_s": "s",
    "bench.span_cover": "share",
    "session.start_s": "s",
    "mem.peak_rss_mb": "MB",
    "source.latest_offset_ms": "ms",
    "source.get_batch_ms": "ms",
    "job.triggers": "count",
    "job.spark_jobs_per_trigger": "count",
    "job.trigger_ms": "ms",
    "job.add_batch_ms": "ms",
    "job.wal_commit_ms": "ms",
    "job.commit_offsets_ms": "ms",
    "job.query_planning_ms": "ms",
    "sinks.write_ms": "ms",
    "sinks.checkpoint_commit_ms": "ms",
    "sinks.checkpoint_commits": "count",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "replication.decode_gate_s": "s",
    "replication.records_in": "count",
    "replication.replicated": "count",
    "replication.dead_lettered": "count",
    "replication.dropped": "count",
}
_PER_QUERY = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "exec.wall_s": "s",
    "exec.cpu_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.tasks": "count",
    "exec.rows": "count",
}
LAYER_UNITS = {
    **_FIXED,
    **{f"{p}.{q}": u for p, u in _PER_QUERY.items() for q in QUERIES},
}
# metrics no kept workload can measure, with the reason
_UNMEASURABLE = {
    "bench.gen_late_max_s": "replicate-trickle, whose open-loop generator it times, is not kept",
    "replication.dead_lettered": "the at-least-once drain has no dead-letter sink",
}
# workload -> metric-name prefixes of layers it does not run
_NOT_RUN = {
    "replicate-backlog": ("plans.", "exec."),
    "analytics-mix": ("source.", "job.", "sinks.", "replication."),
}


def layer_metrics(
    workload: str,
    wl,
    tracer: Tracer,
    op_spans: list[int],
    base: dict[str, float],
) -> tuple[dict[str, float], dict[str, str]]:
    """All per-layer metrics plus the reasons for those not measured."""
    m = dict(base)
    spans = [tracer.spans[i] for i in op_spans]
    wall = sum(s.end - s.start for s in spans)
    m["bench.span_cover"] = (
        sum(covered(tracer.children(s.id), s.start, s.end) for s in spans) / wall
    )
    m.update(wl.layer_metrics())
    missing = {**_UNMEASURABLE, **wl.missing}
    for name in LAYER_UNITS:
        if name.startswith(_NOT_RUN[workload]):
            missing.setdefault(name, f"{workload} does not run this layer")
        if name not in m:
            m[name] = 0.0
            missing.setdefault(name, "not measured")
    return {k: m[k] for k in LAYER_UNITS}, missing


def dump_spans(tracer: Tracer, path: str, missing: dict[str, str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"missing": missing, "spans": tracer.to_json()}, fh, indent=1)
