"""Op recording, spans, and the Spark instruments read from outside:
job groups through ``statusTracker()``, the uncompressed event log,
and a Python ``StreamingQueryListener``.

Spans are taken only around the benchmark's own calls into the
engine's public functions; nothing inside the engine is patched."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

from perfbench import metrics

#: SQL metrics (task-side accumulables) read per op, by their Spark name
_PY_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.data_sent_bytes",
    "data returned from Python workers": "python.data_received_bytes",
}
#: driver-side scan metric of file-source scans
_FILES_READ = "number of files read"


class Recorder:
    """Times ops in a closed loop.  With ``trace`` on, each op runs in
    its own job group and every span is kept in memory."""

    def __init__(self, spark, trace: bool) -> None:
        self.spark = spark
        self.trace = trace
        self.phase = "setup"
        self.ops: list[dict] = []
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op_id: str | None = None

    @contextlib.contextmanager
    def op(self, op_type: str, kind: str):
        """One op.  The body may set ``rec["ok"] = False`` when its
        result check fails; an exception is recorded, not raised."""
        op_id = f"{self.phase}-{len(self.ops)}-{op_type}"
        rec = {"id": op_id, "type": op_type, "kind": kind, "phase": self.phase, "ok": True}
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobGroup(op_id, op_type)
        self._op_id = op_id
        rec["start"] = time.time()
        try:
            with self.span(f"op.{op_type}"):
                yield rec
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, the loop goes on
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        finally:
            rec["end"] = time.time()
            rec["ms"] = (rec["end"] - rec["start"]) * 1000.0
            self._op_id = None
            if self.trace:
                rec["group_jobs"] = len(sc.statusTracker().getJobIdsForGroup(op_id))
                sc.setJobGroup(None, None)
            self.ops.append(rec)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.trace:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "op": self._op_id, "start": time.time()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def timed_ops(self) -> list[dict]:
        return [o for o in self.ops if o["phase"] == "timed"]

    def span_totals_ms(self) -> dict[str, dict[str, float]]:
        """Per span name: summed duration and self time (duration minus
        what its child spans cover), over timed ops."""
        timed = {o["id"] for o in self.timed_ops()}
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s["op"] not in timed:
                continue
            t = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
            t["count"] += 1
            t["total_ms"] += (s["end"] - s["start"]) * 1000.0
            t["self_ms"] += metrics.self_time((s["start"], s["end"]), kids.get(i, [])) * 1000.0
        return out

    def write_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s}) + "\n")


def stream_listener(spark):
    """Register a listener counting stream starts and terminations and
    keeping each progress event's ``durationMs``.  Returns its state
    dict; events arrive asynchronously on Spark's listener bus."""
    from pyspark.sql.streaming import StreamingQueryListener

    state = {"starts": 0, "terminations": 0, "failures": 0, "progress": []}

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            state["starts"] += 1

        def onQueryProgress(self, event):
            p = event.progress
            state["progress"].append({
                "ts": p.timestamp, "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs or {}),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            state["terminations"] += 1
            if event.exception:
                state["failures"] += 1

    spark.streams.addListener(_Listener())
    return state


# ---------------------------------------------------------------- event log


def event_log_files(log_dir: str) -> list[str]:
    """The application's event log: one plain file, or the rolling
    ``eventlog_v2_*/events_<n>_*`` parts in order."""
    parts = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if parts:
        return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))


def read_events(files: list[str]):
    for path in files:
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _plan_metrics(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[int(m["accumulatorId"])] = m["name"]
    for c in plan.get("children", []):
        _plan_metrics(c, out)


def fold_event_log(events, ops: list[dict]) -> dict[str, dict]:
    """Fold the event log onto ``ops`` (dicts with ``id``, ``start``
    and ``end`` in epoch seconds).  A job belongs to the op named by
    its job group; a job without one (stream and callback threads do
    not inherit the group) belongs to the op whose interval holds its
    submission time.  Returns per-op counters and job intervals."""
    spans = sorted((o["start"] * 1000.0, o["end"] * 1000.0, o["id"]) for o in ops)
    ids = {o["id"] for o in ops}

    def by_time(ms: float) -> str | None:
        for s, e, i in spans:
            if s <= ms <= e:
                return i
        return None

    per: dict[str, dict] = {
        o["id"]: {"jobs": 0, "jobs_by_group": 0, "stages": set(), "tasks": 0,
                  "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0, "overhead_ms": 0.0,
                  "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                  "files_read": 0, "intervals": {},
                  **{v: 0.0 for v in _PY_METRICS.values()}}
        for o in ops
    }
    job_op: dict[int, str] = {}
    stage_op: dict[int, str] = {}
    exec_op: dict[int, str] = {}
    acc_names: dict[int, dict[int, str]] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            op = group if group in ids else by_time(ev["Submission Time"])
            if op is None:
                continue
            job_op[ev["Job ID"]] = op
            p = per[op]
            p["jobs"] += 1
            p["jobs_by_group"] += group == op
            p["intervals"][ev["Job ID"]] = [ev["Submission Time"], ev["Submission Time"]]
            for sid in ev.get("Stage IDs", []):
                stage_op[sid] = op
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                exec_op.setdefault(int(ex), op)
        elif kind == "SparkListenerJobEnd":
            op = job_op.get(ev["Job ID"])
            if op is not None:
                per[op]["intervals"][ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev["Stage ID"])
            if op is None:
                continue
            p = per[op]
            p["stages"].add(ev["Stage ID"])
            p["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            run = m.get("Executor Run Time", 0)
            deser = m.get("Executor Deserialize Time", 0)
            ser = m.get("Result Serialization Time", 0)
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            getting = 0
            if info.get("Getting Result Time"):
                getting = info["Finish Time"] - info["Getting Result Time"]
            sched = max(0, dur - run - deser - ser - getting)
            p["run_ms"] += run
            p["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            p["gc_ms"] += m.get("JVM GC Time", 0)
            p["overhead_ms"] += sched + deser + ser
            sr = m.get("Shuffle Read Metrics") or {}
            p["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            p["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            p["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                key = _PY_METRICS.get(acc.get("Name"))
                if key is not None:
                    p[key] += float(acc.get("Update") or 0)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            names = acc_names.setdefault(int(ev["executionId"]), {})
            _plan_metrics(ev.get("sparkPlanInfo") or {}, names)
            if kind.endswith("Start") and int(ev["executionId"]) not in exec_op:
                op = by_time(ev.get("time", 0))
                if op is not None:
                    exec_op[int(ev["executionId"])] = op
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            ex = int(ev["executionId"])
            op = exec_op.get(ex)
            if op is None:
                continue
            names = acc_names.get(ex, {})
            for acc_id, value in ev.get("accumUpdates", []):
                if names.get(int(acc_id)) == _FILES_READ:
                    per[op]["files_read"] += int(value)
    for p in per.values():
        p["stages"] = len(p["stages"])
        p["intervals"] = [tuple(v) for v in p["intervals"].values()]
    return per


def driver_gap_ms(op: dict, intervals: list[tuple[float, float]]) -> float:
    """Op wall minus the union of its Spark job intervals: the time
    the driver spent in Python and JVM code outside any job."""
    lo, hi = op["start"] * 1000.0, op["end"] * 1000.0
    return (hi - lo) - metrics.covered(intervals, lo, hi)
