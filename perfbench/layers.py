"""Per-layer metrics of a traced run, computed from spans and op records.

"per op" divides by the run's timed ops. A layer the workload bypasses
reports 0.
"""

from __future__ import annotations

from collections import defaultdict

from common import p50, tail
from spans import Recorder, wrapper_cost_ms

# name, unit, better — the order BENCHMARK.json lists them in
PER_LAYER = (
    ("server.get_self_ms", "ms", "lower"),
    ("server.ingest_self_ms", "ms", "lower"),
    ("server.rejects", "count", "lower"),
    ("catalog.codec_ms_per_op", "ms", "lower"),
    ("catalog.codec_bytes_per_op", "B", "lower"),
    ("env.get_ms", "ms", "lower"),
    ("env.list_ms", "ms", "lower"),
    ("env.write_ms", "ms", "lower"),
    ("env.writes", "count", "lower"),
    ("sources.snapshot_plan_ms", "ms", "lower"),
    ("sources.commit_log_files", "count", "lower"),
    ("sources.bytes_per_user_byte", "B/B", "lower"),
    ("changelog.snapshot_calls_per_op", "count", "lower"),
    ("txn.commit_ms", "ms", "lower"),
    ("txn.committed_ratio", "share", "higher"),
    ("operators.plan_ms", "ms", "lower"),
    ("streaming.trigger_ms", "ms", "lower"),
    ("streaming.view_update_ms", "ms", "lower"),
    ("streaming.view_compact_update_ms", "ms", "lower"),
    ("streaming.view_compactions", "count", "lower"),
    ("streaming.view_live_deltas", "count", "lower"),
    ("streaming.view_bytes_per_live_element", "B", "lower"),
    ("streaming.view_get_ms", "ms", "lower"),
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.stages_per_op", "count", "lower"),
    ("spark.tasks_per_op", "count", "lower"),
    ("spark.input_records_per_op", "count", "lower"),
    ("spark.rows_examined_per_row_returned", "count", "lower"),
    ("spark.shuffle_bytes_per_op", "B", "lower"),
    ("spark.task_busy_ms_per_op", "ms", "lower"),
    ("spark.driver_ms_per_op", "ms", "lower"),
    ("ops.get_p50_ms", "ms", "lower"),
    ("ops.get_tail_ms", "ms", "lower"),
    ("ops.list_p50_ms", "ms", "lower"),
    ("ops.ingest_p50_ms", "ms", "lower"),
    ("ops.commit_p50_ms", "ms", "lower"),
    ("ops.job_p50_s", "s", "lower"),
    ("ops.lag_p50_ms", "ms", "lower"),
    ("ops.lag_tail_ms", "ms", "lower"),
    ("ops.cached_get_p50_ms", "ms", "lower"),
    ("trace.spans_per_op", "count", "lower"),
    ("trace.overhead_ms_per_op", "ms", "lower"),
)

JOB_KINDS = ("snapshot", "time_travel", "wide", "diff", "tumbling", "session", "integrate")


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def op_kind_metrics(rec: Recorder) -> dict:
    """Median (and tail) latency of each op kind of the timed sequence."""
    ms = defaultdict(list)
    for o in rec.timed():
        ms[o.kind].append(o.ms)
    out = {}
    for kind in ("get", "list", "ingest", "commit", "lag", "cached_get"):
        out[f"ops.{kind}_p50_ms"] = p50(ms[kind]) if ms[kind] else 0.0
    for kind in ("get", "lag"):
        out[f"ops.{kind}_tail_ms"] = tail(ms[kind])[0] if ms[kind] else 0.0
    jobs = [p50(ms[k]) for k in JOB_KINDS if ms[k]]
    out["ops.job_p50_s"] = _mean(jobs) / 1000.0
    return out


def layer_metrics(rec: Recorder, counts: dict) -> dict:
    timed = {o.op_id: o for o in rec.timed()}
    n = max(len(timed), 1)
    idx = [i for i, s in enumerate(rec.spans) if s["op"] in timed]
    children = defaultdict(list)
    for i in idx:
        if rec.spans[i]["parent"] is not None:
            children[rec.spans[i]["parent"]].append(i)

    def dur(i: int) -> float:
        s = rec.spans[i]
        return (s["end"] - s["start"]) * 1000.0

    def self_ms(i: int) -> float:
        return dur(i) - sum(dur(c) for c in children[i])

    def named(*names: str) -> list[int]:
        return [i for i in idx if rec.spans[i]["name"] in names]

    def entered(*names: str) -> list[int]:
        """Spans of ``names`` not nested in another span of ``names``."""
        out = []
        for i in named(*names):
            p = rec.spans[i]["parent"]
            if p is None or rec.spans[p]["name"] not in names:
                out.append(i)
        return out

    codec = entered("catalog.codec")
    writes = named("env.put", "env.delete", "env.delete_all")
    commits = named("txn.commit")
    updates = named("streaming.view_update")
    compacting = [i for i in updates if rec.spans[i].get("compacted")]
    triggers = []
    for op_id in timed:
        starts = [rec.spans[i]["start"] for i in idx if rec.spans[i]["op"] == op_id
                  and rec.spans[i]["name"] in ("streaming.replicate", "streaming.replicate_with")]
        ends = [rec.spans[i]["end"] for i in idx if rec.spans[i]["op"] == op_id
                and rec.spans[i]["name"] == "streaming.await_all"]
        if starts and ends:
            triggers.append((max(ends) - min(starts)) * 1000.0)
    ops = list(timed.values())
    reads = [o for o in ops if o.rows is not None]
    m = {
        "server.get_self_ms": _mean([self_ms(i) for i in named("server.get")]),
        "server.ingest_self_ms": _mean([self_ms(i) for i in named("server.ingest")]),
        "server.rejects": sum(o.rejects for o in ops),
        "catalog.codec_ms_per_op": sum(dur(i) for i in codec) / n,
        "catalog.codec_bytes_per_op": sum(rec.spans[i]["bytes"] for i in codec) / n,
        "env.get_ms": _mean([dur(i) for i in named("env.get")]),
        "env.list_ms": _mean([dur(i) for i in named("env.list")]),
        "env.write_ms": _mean([dur(i) for i in writes]),
        "env.writes": len(writes),
        "sources.snapshot_plan_ms": _mean([dur(i) for i in named("sources.batch_snapshot")]),
        "sources.commit_log_files": 0,
        "sources.bytes_per_user_byte": 0.0,
        "changelog.snapshot_calls_per_op": len(
            entered("changelog.snapshot", "changelog.compact")) / n,
        "txn.commit_ms": _mean([dur(i) for i in commits]),
        "txn.committed_ratio": (sum(rec.spans[i]["state"] == "COMMITTED" for i in commits)
                                / len(commits)) if commits else 0.0,
        "operators.plan_ms": sum(dur(i) for i in entered("operators.plan")) / n,
        "streaming.trigger_ms": _mean(triggers),
        "streaming.view_update_ms": _mean([dur(i) for i in updates if i not in compacting]),
        "streaming.view_compact_update_ms": _mean([dur(i) for i in compacting]),
        "streaming.view_compactions": len(compacting),
        "streaming.view_live_deltas": 0,
        "streaming.view_bytes_per_live_element": 0.0,
        "streaming.view_get_ms": _mean([dur(i) for i in named("streaming.view_get")]),
        "spark.jobs_per_op": sum(len(o.jobs) for o in ops) / n,
        "spark.stages_per_op": sum(o.stages for o in ops) / n,
        "spark.tasks_per_op": sum(o.tasks for o in ops) / n,
        "spark.input_records_per_op": sum(o.input_records for o in ops) / n,
        "spark.rows_examined_per_row_returned": (sum(o.input_records for o in reads)
                                                 / max(sum(o.rows for o in reads), 1)),
        "spark.shuffle_bytes_per_op": sum(o.shuffle_bytes for o in ops) / n,
        "spark.task_busy_ms_per_op": sum(o.task_busy_ms for o in ops) / n,
        "spark.driver_ms_per_op": sum(max(o.ms - _union_ms(o.jobs), 0.0) for o in ops) / n,
        "trace.spans_per_op": len(idx) / n,
        "trace.overhead_ms_per_op": len(idx) / n * wrapper_cost_ms(),
    }
    m.update(counts)
    m.update(op_kind_metrics(rec))
    return m
