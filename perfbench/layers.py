"""Per-layer metrics of a traced run, and which end-to-end metric each
one should move.

Every value is the median over the traced passes of that pass's
total, except the streaming latencies, which are medians over the
micro-batches that carried input. Layers that a workload does not
exercise report 0.
"""

from __future__ import annotations

import datetime as dt
import statistics
from collections import defaultdict

from perfbench import tracing

# per-layer metric -> (unit, the end-to-end metric it should move, where)
MOVES = {
    "session.start_s": ("s", "setup_s, all workloads"),
    "session.rss_peak_mb": ("MB", "none; memory repeats too poorly for an end-to-end bound"),
    "catalog.load_table_s": ("s", "query_p50_s on sql_mix"),
    "catalog.load_table_calls": ("count", "query_p50_s on sql_mix"),
    "plans.translate_s": ("s", "query_p50_s on sql_mix"),
    "queries.build_s": ("s", "pass_s on pipeline_mix"),
    "queries.build_jobs": ("count", "pass_s on pipeline_mix"),
    "operators.loop_s": ("s", "pass_s on pipeline_mix; 0 on sql_mix"),
    "operators.supersteps": ("count", "pass_s on pipeline_mix; 0 on sql_mix"),
    "pipeline.python_rows": ("count", "query_p50_s on pipeline_mix"),
    "pipeline.python_bytes": ("B", "query_p50_s on pipeline_mix"),
    "pipeline.python_s": ("s", "query_p50_s on pipeline_mix"),
    "spark.plan_s": ("s", "query_p50_s on sql_mix"),
    "spark.action_s": ("s", "pass_s, all workloads"),
    "spark.driver_gap_s": ("s", "pass_s on pipeline_mix"),
    "spark.jobs": ("count", "pass_s on pipeline_mix"),
    "spark.stages": ("count", "pass_s, all workloads"),
    "spark.tasks": ("count", "pass_s, all workloads"),
    "spark.failed_tasks": ("count", "none; target 0"),
    "spark.executor_run_s": ("s", "pass_s, all workloads"),
    "spark.executor_cpu_s": ("s", "pass_s, all workloads"),
    "spark.gc_s": ("s", "pass_s, all workloads"),
    "spark.shuffle_read_mb": ("MB", "query_p50_s on sql_mix"),
    "spark.shuffle_write_mb": ("MB", "query_p50_s on sql_mix"),
    "spark.spill_mb": ("MB", "query_p50_s on sql_mix"),
    "spark.task_skew": ("ratio", "query_p50_s on sql_mix"),
    "storage.leaked_rdds": ("count", "none; target 0"),
    "storage.cached_mb": ("MB", "none; target 0"),
    "sources.stage_s": ("s", "pass_s on stream_replay"),
    "sources.stage_jobs": ("count", "pass_s on stream_replay"),
    "sources.files": ("count", "pass_s on stream_replay"),
    "streaming.batches": ("count", "pass_s on stream_replay"),
    "streaming.input_rows": ("count", "none; fixed by the input"),
    "streaming.trigger_ms": ("ms", "query_p50_s on stream_replay"),
    "streaming.add_batch_ms": ("ms", "query_p50_s on stream_replay"),
    "streaming.planning_ms": ("ms", "query_p50_s on stream_replay"),
    "streaming.wal_commit_ms": ("ms", "query_p50_s on stream_replay"),
    "streaming.state_rows": ("count", "query_p50_s on stream_replay"),
    "streaming.state_mem_mb": ("MB", "query_p50_s on stream_replay"),
    "streaming.state_commit_ms": ("ms", "query_p50_s on stream_replay"),
    "streaming.dropped_late_rows": ("count", "none; must be 0"),
    "trace.overhead_s": ("s", "none; traced minus untraced pass_s"),
}

_EVENT_SUMS = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
               "executor_cpu_s", "gc_s", "shuffle_read_mb",
               "shuffle_write_mb", "spill_mb")


def _pass_of(trace: str) -> str:
    return trace.split("/")[1]


def derive(ctx, passes: list[list], events: list[dict], session_s: float) -> dict:
    tr = ctx.tracer
    # a streaming query runs its jobs under its run id as job group
    alias = {p["runId"]: f'{op.stats["trace"]}/action'
             for ops in passes for op in ops
             for p in op.stats.get("progress", ())[:1]}
    groups = {alias.get(g, g): acc for g, acc in tracing.fold_events(events).items()
              if alias.get(g, g).count("/") == 3}
    per_pass: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    _span_metrics(tr, groups, per_pass)
    for group, acc in groups.items():
        trace, phase = group.rsplit("/", 1)
        m = per_pass[_pass_of(trace)]
        for k in _EVENT_SUMS:
            m[f"spark.{k}"] += acc.get(k, 0.0)
        m["spark.task_skew"] = max(m["spark.task_skew"], acc.get("task_skew", 0.0))
        m["pipeline.python_rows"] += acc.get("python_rows", 0.0)
        m["pipeline.python_bytes"] += acc.get("python_bytes", 0.0)
        m["pipeline.python_s"] += acc.get("python_ms", 0.0) / 1e3
        if trace.endswith("/stage"):
            m["sources.stage_jobs"] += acc.get("jobs", 0.0)
        elif phase == "build":
            m["queries.build_jobs"] += acc.get("jobs", 0.0)
    batch_ms: dict[str, list[float]] = defaultdict(list)
    drains = {s["trace"]: i for i, s in enumerate(tr.spans)
              if s["name"] == "streaming.drain"}
    for ops in passes:
        for op in ops:
            _op_metrics(op, per_pass, batch_ms)
            for p in op.stats.get("progress", ()):
                tr.add("streaming.batch", *batch_span(p),
                       drains.get(op.stats["trace"]), op.stats["trace"])
    out = {name: {"value": 0.0, "unit": unit} for name, (unit, _) in MOVES.items()}
    for name in MOVES:
        vals = [m.get(name, 0.0) for m in per_pass.values()] or [0.0]
        out[name]["value"] = statistics.median(vals)
    for name, vals in batch_ms.items():
        out[name]["value"] = statistics.median(vals)
    out["session.start_s"]["value"] = session_s
    out["session.rss_peak_mb"]["value"] = tracing.rss_peak_mb(ctx.spark)
    return out


def _span_metrics(tr, groups: dict, per_pass: dict) -> None:
    spans, self_s = tr.spans, tr.self_times()
    op_span: dict[str, int] = {}
    for i, s in enumerate(spans):
        name = s["name"]
        if name == "session.start":  # before any pass
            continue
        m, dur = per_pass[_pass_of(s["trace"])], s["end"] - s["start"]
        if name == "op":
            op_span[s["trace"]] = i
        elif name == "catalog.load_table":
            m["catalog.load_table_s"] += self_s[i]
            m["catalog.load_table_calls"] += 1
        elif name == "plans.translate":
            m["plans.translate_s"] += self_s[i]
        elif name == "queries.build":
            m["queries.build_s"] += self_s[i]
        elif name == "operators.superstep":
            m["operators.supersteps"] += 1
        elif name.startswith("operators."):
            parent = spans[s["parent"]]["name"] if s["parent"] is not None else ""
            if not parent.startswith("operators."):
                m["operators.loop_s"] += dur
        elif name in ("spark.plan", "spark.action"):
            m[f"{name}_s"] += dur
        elif name == "sources.stage":
            m["sources.stage_s"] += dur
    # Spark jobs become child spans of their operation; the time an
    # operation spends with no job running is driver-side time
    for group, acc in groups.items():
        trace = group.rsplit("/", 1)[0]
        if trace not in op_span:
            continue
        for start, end in acc.get("_jobs_iv", ()):
            tr.add("spark.job", start, end, op_span[trace], trace)
    jobs_by_op: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["name"] == "spark.job":
            jobs_by_op[s["parent"]].append((s["start"], s["end"]))
    for trace, i in op_span.items():
        s = spans[i]
        busy = tracing.union_length(jobs_by_op.get(i, []), s["start"], s["end"])
        per_pass[_pass_of(trace)]["spark.driver_gap_s"] += s["end"] - s["start"] - busy


def _op_metrics(op, per_pass: dict, batch_ms: dict) -> None:
    m = per_pass[_pass_of(op.stats["trace"])]
    m["storage.leaked_rdds"] += op.stats.get("leaked_rdds", 0)
    m["storage.cached_mb"] += op.stats.get("cached_mb", 0.0)
    if "files" in op.stats:
        m["sources.files"] += op.stats["files"]
    state_rows = state_mb = 0.0
    for p in op.stats.get("progress", ()):
        states = p.get("stateOperators", ())
        m["streaming.dropped_late_rows"] += sum(
            s.get("numRowsDroppedByWatermark", 0) for s in states)
        state_rows = max(state_rows, sum(s.get("numRowsTotal", 0) for s in states))
        state_mb = max(state_mb, sum(s.get("memoryUsedBytes", 0) for s in states) / 2**20)
        if p["numInputRows"] <= 0:
            continue
        d = p["durationMs"]
        m["streaming.batches"] += 1
        m["streaming.input_rows"] += p["numInputRows"]
        batch_ms["streaming.trigger_ms"].append(d.get("triggerExecution", 0))
        batch_ms["streaming.add_batch_ms"].append(d.get("addBatch", 0))
        batch_ms["streaming.planning_ms"].append(d.get("queryPlanning", 0))
        batch_ms["streaming.wal_commit_ms"].append(d.get("walCommit", 0))
        batch_ms["streaming.state_commit_ms"].append(
            sum(s.get("commitTimeMs", 0) for s in states))
    m["streaming.state_rows"] += state_rows
    m["streaming.state_mem_mb"] += state_mb


def batch_span(progress: dict) -> tuple[float, float]:
    """A micro-batch's wall interval from its progress event."""
    start = dt.datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start_s = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start_s, start_s + progress["durationMs"].get("triggerExecution", 0) / 1e3
