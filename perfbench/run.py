"""Benchmark entry point.

    python3 perfbench/run.py --workload lake_query --seed 1 --seconds 10 --trace 0

Runs one workload in one process on ``local[nproc]``: set-up (session,
seeded inputs, engine tables built, warm-up with correctness checks),
a closed loop with one client for ``--seconds``, end-of-run checks.
Prints a ``{"detail": ...}`` line with every metric and the run's
configuration, then, as the last line, the result object whose
metrics are the ``end_to_end`` (``--trace 0``) or ``per_layer``
(``--trace 1``) names of ``BENCHMARK.json``.  Exits 1 when a
correctness check failed, 2 when the engine cannot be imported."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def process_start() -> float:
    """Epoch seconds at which this process started."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rfind(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["lake_query", "lake_cdc"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop Spark, then wait for the JVM (it exits when its stdin pipe
    closes) and for every Python worker it started."""
    from pyspark import SparkContext

    from perfbench import host

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    left = host.wait_for_children(timeout=30)
    if left:
        print(f"perfbench: killed processes still running at exit: {left}", file=sys.stderr)


def run(args, work: str, t_proc: float) -> tuple[dict, dict]:
    from perfbench import host, metrics, tracing
    from perfbench.wl_cdc import LakeCdc
    from perfbench.wl_query import LakeQuery

    env = host.fit_env(REPO, work)
    load_start = host.loadavg()
    wl = {"lake_query": LakeQuery, "lake_cdc": LakeCdc}[args.workload](args.seed, work)
    conf = {**spark_conf(work, bool(args.trace)), **wl.spark_conf}
    setup: dict[str, float] = {}
    with host.RssSampler() as rss:
        from aws_datalake_framework_api_spark.session import get_spark

        t = time.time()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        setup["session.get_spark_s"] = time.time() - t
        t = time.time()
        import aws_datalake_framework_api_spark.queries_all  # noqa: F401
        setup["queries_all.import_s"] = time.time() - t
        rec = tracing.Recorder(spark, bool(args.trace))
        streams = tracing.stream_listener(spark)
        t = time.time()
        wl.generate()
        setup["setup.fixture_s"] = time.time() - t
        t = time.time()
        wl.build(spark)
        setup["setup.tables_s"] = time.time() - t
        t = time.time()
        wl.warmup(spark, rec)
        setup["setup.warmup_s"] = time.time() - t

        rec.phase = "timed"
        t_first = time.time()
        cpu0, ticks0 = host.tree_cpu_seconds(), host.cpu_ticks()
        wl.timed(spark, rec, args.seconds)
        t_last = time.time()
        cpu1, ticks1 = host.tree_cpu_seconds(), host.cpu_ticks()
        rec.phase = "check"
        wl.final_check(spark, rec)
        extra = wl.end_metrics(spark, bool(args.trace), rec.timed_ops())
        stop_spark(spark)
    load_end = host.loadavg()

    timed = rec.timed_ops()
    summary = metrics.summarize_ops(timed)
    wall = t_last - t_first
    e2e = {
        "setup_s": t_first - t_proc,
        "ops_per_s": sum(o["ok"] for o in timed) / wall,
        "cpu_s_per_op": (cpu1 - cpu0) / len(timed),
        "peak_rss_mb": rss.peak_mb,
        **{k: v for k, v in summary.items() if not isinstance(v, dict)},
        **wl.workload_metrics(timed),
    }
    failed = [o for o in rec.ops if not o["ok"]]
    e2e["failed_op_ratio"] = len(failed) / len(rec.ops)
    layers = {
        **setup,
        "setup.first_pass_ratio": wl.first_pass_ratio(),
        "host.loadavg_start": load_start,
        "host.loadavg_end": load_end,
        # share of CPU time the hypervisor gave to other guests while timed
        "host.steal_pct": 100.0 * (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]),
        "streaming.starts": streams["starts"],
        "streaming.drains": wl.detail.get("drains", 0),
        "streaming.failures": streams["failures"],
        **extra,
    }
    if args.trace:
        from perfbench import layers as layer_fold

        layers.update(layer_fold.per_layer(rec, timed, wall, streams, t_first, t_last,
                                           os.path.join(work, "eventlog")))
        out = os.path.join(HERE, ".out")
        os.makedirs(out, exist_ok=True)
        rec.write_spans(os.path.join(out, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "config": {**env, "spark_conf": conf},
        "attempted": len(rec.ops), "timed_ops": len(timed), "timed_wall_s": wall,
        "end_to_end": e2e, "per_layer": layers, "workload_detail": wl.detail,
        "type_p50_ms": summary["type_p50_ms"], "type_samples": summary["type_samples"],
        "ops_ms": [(o["phase"], o["type"], round(o["ms"], 1)) for o in rec.ops],
        "failures": [{"id": o["id"], "error": o.get("error", "")} for o in failed],
    }
    return detail, {"attempted": len(rec.ops), "failed": len(failed)}


#: units of time: a metric in one of them must be measured on every workload
TIME_UNITS = ("s", "ms")


def result_line(spec: dict, detail: dict, counts: dict) -> dict:
    """The last stdout line: exactly the metrics BENCHMARK.json names
    for this mode.  A count, size or share of a layer this workload
    does not exercise reads 0; a missing time is an error, unless ops
    failed (a failed op has no latency), when it reads 0 too."""
    key = "per_layer" if detail["trace"] else "end_to_end"
    values = detail[key]
    out = {}
    for m in spec[key]:
        if m["name"] not in values and m["unit"] in TIME_UNITS and not counts["failed"]:
            raise KeyError(f"{detail['workload']} did not measure {m['name']}")
        out[m["name"]] = {"value": values.get(m["name"], 0), "unit": m["unit"]}
    return {
        "correct": counts["failed"] == 0,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": out,
    }


def main(argv=None) -> int:
    t_proc = process_start()
    args = parse_args(argv)
    sys.path.insert(0, REPO)
    try:
        import aws_datalake_framework_api_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {REPO}: {exc}", file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    # a terminated run still removes its work directory; the JVM exits
    # with this process (its gateway watches our end of the pipe)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        detail, counts = run(args, work, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result_line(spec, detail, counts)))
    return 0 if counts["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
