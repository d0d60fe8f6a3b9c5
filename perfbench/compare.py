"""Repeat the benchmark over seeds and summarize the runs.

    python3 perfbench/compare.py sweep --workload lake_cdc --seeds 1-10 [--trace 1]
    python3 perfbench/compare.py report [DIR]

``sweep`` runs ``perfbench/run.py`` once per seed with the
``run_seconds`` of ``BENCHMARK.json`` and keeps each run's stdout under
``perfbench/.out/runs/``.  ``report`` prints, per workload and trace
mode, each metric's median and its spread (inter-quartile distance as
a share of the median, the rule the bounds are checked against), and
the tracing overhead: the traced runs' median of each end-to-end
metric minus the untraced runs' median."""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
RUNS = os.path.join(HERE, ".out", "runs")


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def sweep(workload: str, seed_list: list[int], trace: int) -> None:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        secs = json.load(fh)["run_seconds"]
    os.makedirs(RUNS, exist_ok=True)
    for s in seed_list:
        t = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(s), "--seconds", str(secs), "--trace", str(trace)],
            cwd=REPO, capture_output=True, text=True, timeout=900,
        )
        with open(os.path.join(RUNS, f"{workload}-t{trace}-seed{s}.out"), "w") as fh:
            fh.write(p.stdout)
        last = p.stdout.strip().splitlines()[-1:] or ["{}"]
        print(f"{workload} seed {s} trace {trace}: exit {p.returncode}, "
              f"wall {time.time() - t:.1f} s, {last[0][:160]}", flush=True)


def _load(path: str) -> tuple[dict, dict]:
    lines = open(path).read().strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def _spread(values: list[float]) -> tuple[float, float]:
    if len(values) < 2:
        return values[0], 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def report(run_dir: str) -> None:
    groups: dict[tuple[str, int], list[tuple[dict, dict]]] = {}
    for path in sorted(glob.glob(os.path.join(run_dir, "*.out"))):
        detail, result = _load(path)
        groups.setdefault((detail["workload"], detail["trace"]), []).append((detail, result))
    for (wl, trace), runs in sorted(groups.items()):
        print(f"== {wl}, trace {trace}: {len(runs)} runs, "
              f"{sum(not r['correct'] for _d, r in runs)} incorrect")
        names = set.intersection(*(set(r["metrics"]) for _d, r in runs))
        for name in sorted(names, key=list(runs[0][1]["metrics"]).index):
            med, spr = _spread([r["metrics"][name]["value"] for _d, r in runs])
            print(f"  {name:40s} median {med:14.6g}  spread {spr:6.3f}")
    for (wl, trace), runs in sorted(groups.items()):
        base = groups.get((wl, 0))
        if trace != 1 or not base:
            continue
        print(f"== tracing overhead, {wl} (traced median minus untraced median)")
        for name, v in base[0][0]["end_to_end"].items():
            if not isinstance(v, (int, float)) or name.endswith(("_pct", "_samples")):
                continue
            off = statistics.median(d["end_to_end"][name] for d, _r in base)
            on = statistics.median(d["end_to_end"][name] for d, _r in runs)
            rel = f"({(on - off) / off:+.1%})" if off else ""
            print(f"  {name:40s} {on - off:+14.6g}  {rel}")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("sweep")
    s.add_argument("--workload", required=True)
    s.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,7")
    s.add_argument("--trace", type=int, default=0)
    r = sub.add_parser("report")
    r.add_argument("dir", nargs="?", default=RUNS)
    a = p.parse_args()
    if a.cmd == "sweep":
        sweep(a.workload, seeds(a.seeds), a.trace)
    else:
        report(a.dir)


if __name__ == "__main__":
    main()
