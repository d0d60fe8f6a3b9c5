"""Self-tests of the benchmark's metric math on fixed inputs.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import check, datagen, metrics, run, tracing  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")


def test_tail_rule_keeps_ten_samples_beyond():
    values = [float(v) for v in range(1, 101)]
    assert metrics.tail_rule(values) == (90.0, 90.0, 100)
    # eleven samples: the lowest one is the only value with ten beyond it
    assert metrics.tail_rule([5.0, *range(10, 20)]) == (5.0, 100.0 / 11, 11)


def test_tail_rule_without_enough_samples_returns_the_max():
    assert metrics.tail_rule([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    with pytest.raises(ValueError):
        metrics.tail_rule([])


def test_interval_union_merges_overlapping_and_touching():
    got = metrics.interval_union([(5, 6), (0, 2), (1, 3), (3, 4)])
    assert got == [(0, 4), (5, 6)]


def test_covered_clips_to_the_window():
    jobs = [(1000, 3000), (2000, 4000), (8000, 12000)]
    assert metrics.covered(jobs, 0, 10_000) == 5000
    assert metrics.covered(jobs, 2500, 2600) == 100


def test_driver_gap_is_wall_minus_job_union():
    op = {"start": 0.0, "end": 10.0}
    assert tracing.driver_gap_ms(op, [(1000, 3000), (2000, 4000), (8000, 12000)]) == 5000


def test_self_time_subtracts_children_once():
    assert metrics.self_time((0, 10), [(1, 4), (3, 5), (9, 12)]) == 5


def test_summarize_ops_medians_and_type_geomean():
    ops = [
        {"type": "a", "kind": "read", "ms": 100.0, "ok": True},
        {"type": "a", "kind": "read", "ms": 300.0, "ok": True},
        {"type": "b", "kind": "write", "ms": 400.0, "ok": True},
        {"type": "b", "kind": "write", "ms": 9999.0, "ok": False},
    ]
    s = metrics.summarize_ops(ops)
    assert s["op_p50_ms"] == 300.0
    assert s["read_p50_ms"] == 200.0
    assert s["write_p50_ms"] == 400.0
    # per-type medians 200 and 400; the failed op counts for neither
    assert s["type_geomean_ms"] == pytest.approx((200.0 * 400.0) ** 0.5)
    assert s["type_samples"] == {"a": 2, "b": 1}


def test_event_log_fold_over_a_small_log():
    ops = [
        {"id": "timed-0-a", "start": 1000.0, "end": 1010.0},
        {"id": "timed-1-b", "start": 1020.0, "end": 1030.0},
    ]
    fold = tracing.fold_event_log(tracing.read_events([LOG]), ops)
    a, b = fold["timed-0-a"], fold["timed-1-b"]
    assert (a["jobs"], a["jobs_by_group"], a["stages"], a["tasks"]) == (2, 2, 3, 3)
    assert (a["run_ms"], a["cpu_ms"], a["gc_ms"]) == (700, 450, 20)
    # scheduler delay + deserialize + result serialize: 100 + 100 + 0
    assert a["overhead_ms"] == 200
    assert (a["shuffle_read_bytes"], a["shuffle_write_bytes"], a["spill_bytes"]) == (5000, 5000, 64)
    assert (a["python.data_sent_bytes"], a["python.boot_ms"]) == (1234, 55)
    assert a["files_read"] == 3
    assert tracing.driver_gap_ms(ops[0], a["intervals"]) == 7000
    # a job without a group lands on the op whose interval holds it
    assert (b["jobs"], b["jobs_by_group"], b["tasks"], b["run_ms"]) == (1, 0, 1, 450)
    assert (b["overhead_ms"], b["python.data_received_bytes"]) == (50, 4321)
    assert tracing.driver_gap_ms(ops[1], b["intervals"]) == 6000


def test_event_log_files_orders_rolling_parts(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_local-1").write_text("")
    (d / "appstatus_local-1").write_text("")
    got = [os.path.basename(p) for p in tracing.event_log_files(str(tmp_path))]
    assert got == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]


def test_compare_hash_then_tolerance():
    cols = ["k", "v"]
    assert check.compare(cols, [(1, 0.5), (2, 1.0)], ["V", "K"], [(1.0, 2), (0.5, 1)]) == ("hash", None)
    mode, err = check.compare(cols, [(1, 0.1 + 0.2)], cols, [(1, 0.3)])
    assert (mode, err) == ("tolerance", None)
    mode, err = check.compare(cols, [(1, 0.31)], cols, [(1, 0.3)])
    assert mode == "tolerance" and "beyond tolerance" in err
    assert check.compare(cols, [(1, 0.3)], cols, [])[0] == "rows"


def test_datagen_is_a_function_of_the_seed():
    a, b, c = datagen.generate(7, 0.001), datagen.generate(7, 0.001), datagen.generate(8, 0.001)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["orders"].equals(c["orders"])


def test_a_failing_op_is_counted_and_the_run_still_reports():
    rec = tracing.Recorder(types.SimpleNamespace(sparkContext=None), trace=False)
    rec.phase = "timed"
    with rec.op("merge_delta", "write"):
        raise RuntimeError("worker died")
    with rec.op("read_delta", "read") as r:
        r["ok"] = False
        r["error"] = "range [0,9]: 3 rows, model has 4"
    assert [(o["ok"], o["error"][:12]) for o in rec.ops] == [
        (False, "RuntimeError"), (False, "range [0,9]:")]
    summary = metrics.summarize_ops(rec.timed_ops())
    assert "op_p50_ms" not in summary
    spec = {"end_to_end": [{"name": "op_p50_ms", "unit": "ms"},
                           {"name": "failed_op_ratio", "unit": "ratio"}]}
    detail = {"trace": 0, "workload": "lake_cdc", "end_to_end": {"failed_op_ratio": 1.0}}
    line = run.result_line(spec, detail, {"attempted": 2, "failed": 2})
    assert line["correct"] is False
    assert line["metrics"]["op_p50_ms"]["value"] == 0
    assert line["metrics"]["failed_op_ratio"]["value"] == 1.0
    # a run without failures must have measured every time
    with pytest.raises(KeyError):
        run.result_line(spec, detail, {"attempted": 2, "failed": 0})
