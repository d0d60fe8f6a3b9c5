"""Per-layer metrics of a traced run: spans folded per layer, the
Spark event log folded per op, and the stream listener's progress."""

from __future__ import annotations

import datetime

from perfbench import tracing
from perfbench.wl_cdc import CATALOG_OPS

#: span name prefix -> layer, for each layer's share of the timed wall
LAYERS = {
    "registry": ("registry.",),
    "sources.delta": ("sources.delta.",),
    "sources.iceberg": ("sources.iceberg.",),
    "streaming": ("streaming.",),
    "api": ("api.",),
    "catalog": ("catalog.",),
}
#: listener ``durationMs`` key -> metric
_STREAM_KEYS = {
    "triggerExecution": "streaming.trigger_ms",
    "addBatch": "streaming.add_batch_ms",
    "getBatch": "streaming.get_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
}
#: span -> per-call metric
_SPAN_METRICS = {
    "registry.build": "registry.build_ms",
    "registry.execute": "registry.execute_ms",
    "sources.delta.merge_delta": "sources.delta.merge_delta_ms",
    "sources.delta.read_delta_range": "sources.delta.read_delta_ms",
    "sources.delta.scan": "sources.delta.scan_ms",
    "sources.delta.optimize_delta": "sources.delta.optimize_ms",
    "sources.delta.vacuum_delta": "sources.delta.vacuum_ms",
    "sources.iceberg.read_iceberg_range": "sources.iceberg.read_iceberg_ms",
    "sources.iceberg.scan": "sources.iceberg.scan_ms",
    "sources.iceberg.rewrite_data_files": "sources.iceberg.rewrite_data_files_ms",
    "sources.iceberg.expire_snapshots": "sources.iceberg.expire_snapshots_ms",
    "streaming.replicate.run_replication": "replicate.run_replication_ms",
    "api.dispatch.create": "api.dispatch.create_ms",
    "api.dispatch.read": "api.dispatch.read_ms",
    "api.dispatch.update": "api.dispatch.update_ms",
    "api.dispatch.delete": "api.dispatch.delete_ms",
    "catalog.update_event_status": "catalog.update_event_status_ms",
    "catalog.flush_audit": "catalog.flush_audit_ms",
}


def _epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def per_layer(rec, timed: list[dict], wall: float, streams: dict, t_first: float,
              t_last: float, log_dir: str) -> dict:
    out: dict[str, float] = {}
    n = len(timed)

    # spans: per-call means, self time, and each layer's share of the wall
    totals = rec.span_totals_ms()
    for span, t in sorted(totals.items()):
        if span in _SPAN_METRICS:
            out[_SPAN_METRICS[span]] = t["total_ms"] / t["count"]
        out[f"self_ms.{span}"] = t["self_ms"] / n
    for layer, prefixes in LAYERS.items():
        ms = sum(t["total_ms"] for s, t in totals.items() if s.startswith(prefixes))
        out[f"share.{layer}_pct"] = 100.0 * ms / (wall * 1000.0)

    # Spark event log, folded per op
    fold = tracing.fold_event_log(tracing.read_events(tracing.event_log_files(log_dir)), timed)
    keys = {"jobs": "spark.jobs_per_op", "stages": "spark.stages_per_op",
            "tasks": "spark.tasks_per_op", "run_ms": "spark.executor_run_ms",
            "cpu_ms": "spark.executor_cpu_ms", "gc_ms": "spark.jvm_gc_ms",
            "overhead_ms": "spark.task_overhead_ms",
            "shuffle_read_bytes": "spark.shuffle_read_bytes",
            "shuffle_write_bytes": "spark.shuffle_write_bytes",
            "spill_bytes": "spark.spill_bytes"}
    for k, name in keys.items():
        out[name] = sum(f[k] for f in fold.values()) / n
    for name in ("python.boot_ms", "python.init_ms", "python.run_ms",
                 "python.data_sent_bytes", "python.data_received_bytes"):
        out[name] = sum(f[name] for f in fold.values()) / n
    gaps = [tracing.driver_gap_ms(o, fold[o["id"]]["intervals"]) for o in timed]
    out["spark.driver_gap_ms"] = sum(gaps) / n
    jobs = sum(f["jobs"] for f in fold.values())
    out["spark.jobs_in_group_pct"] = 100.0 * sum(f["jobs_by_group"] for f in fold.values()) / max(1, jobs)
    out["spark.status_tracker_jobs_per_op"] = sum(o.get("group_jobs", 0) for o in timed) / n

    def per_type(types, key):
        sel = [fold[o["id"]][key] for o in timed if o["type"] in types]
        return sum(sel) / len(sel) if sel else 0.0

    # per-op-type Spark folds the workloads name
    out["sources.delta.merge_jobs"] = per_type(("merge_delta",), "jobs")
    if any(o["type"] in CATALOG_OPS for o in timed):
        out["catalog.jobs_per_call"] = per_type(CATALOG_OPS, "jobs")
    for fmt in ("delta", "iceberg"):
        out[f"scan.{fmt}.files_read"] = per_type((f"read_{fmt}",), "files_read")
    for op_type in sorted({o["type"] for o in timed}):
        out[f"jobs.{op_type}"] = per_type((op_type,), "jobs")

    # stream listener: progress of drains that ran in the timed window
    prog = [p for p in streams["progress"] if t_first <= _epoch(p["ts"]) <= t_last + 1.0]
    drains = max(1, sum(1 for o in timed if o["type"] == "run_replication"))
    out["streaming.batches"] = len(prog) / drains
    for key, name in _STREAM_KEYS.items():
        out[name] = sum(p["duration_ms"].get(key, 0) for p in prog) / drains
    out["streaming.fixed_cost_ms"] = out["streaming.trigger_ms"] - out["streaming.add_batch_ms"]
    return out
