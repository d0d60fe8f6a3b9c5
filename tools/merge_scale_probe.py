"""Isolated scale probe for the round-7 connector additions:
copy-on-write merge_iceberg, read_iceberg_changes, and Delta CDF
mutation staging — measured at sf0.1 / 10x / 30x (tmp_scale fixtures).

Claims under test:
- merge_iceberg wall is bounded by HIT files + source, not table size
  (a fixed 1000-key source against growing tables);
- the changelog read of that merge snapshot is bounded by the
  CHANGED files, not the table;
- Delta CDF DELETE staging cost rides the deleted-row count (cdc
  files are row-level), not the table;
- (r8) merge_iceberg(strategy="mor") COMMIT BYTES ride the changed
  rows, not the hit-file bytes: the same fixed-size source merged
  merge-on-read writes a ~constant byte volume across 1x/10x/30x
  while the copy-on-write commit's bytes grow with the hit files.

Usage: python tools/merge_scale_probe.py
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def wall(fn):
    t0 = time.time()
    out = fn()
    return round(time.time() - t0, 3), out


def _sizes(root: str) -> dict:
    out = {}
    for r, _dirs, fs in os.walk(root):
        for f in fs:
            p = os.path.join(r, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _new_bytes(root: str, before: dict) -> int:
    return sum(s for p, s in _sizes(root).items() if p not in before)


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from aws_datalake_framework_api_spark.session import driver_memory
    from aws_datalake_framework_api_spark.sources.delta import (
        alter_table_properties_delta,
        delete_where_delta,
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        history_iceberg,
        merge_iceberg,
        read_iceberg_changes,
        write_iceberg,
    )

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    dirs = [
        ("sf0.1", "/root/testdata/sf0.1"),
        ("10x", "tmp_scale/sf1"),
        ("30x", "tmp_scale/sf3"),
    ]
    report = []
    for label, d in dirs:
        if not os.path.isdir(d):
            continue
        tmp = tempfile.mkdtemp(prefix="merge_probe_")
        try:
            orders = (
                spark.read.parquet(os.path.join(d, "orders.parquet"))
                .select("o_orderkey", "o_orderpriority", "o_totalprice")
            )
            n = orders.count()
            ice = os.path.join(tmp, "ice")
            # RANGE layout: a key-clustered source then hits ~1 of the
            # 8 files — the hit-file-bounded cost model under test
            t_build, _ = wall(
                lambda: write_iceberg(
                    orders.repartitionByRange(8, "o_orderkey"), ice,
                    mode="error",
                )
            )
            # fixed-size, key-clustered source: ~1000 updates + 200 inserts
            src = orders.filter(F.col("o_orderkey") <= 4000).dropDuplicates(
                ["o_orderkey"]
            ).limit(1000).withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
            ).unionByName(
                orders.dropDuplicates(["o_orderkey"]).select(
                    (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
                    "o_orderpriority", "o_totalprice",
                ).limit(200)
            )
            src = src.cache()
            src.count()
            pre_cow = _sizes(ice)
            t_merge, out = wall(
                lambda: merge_iceberg(spark, ice, src, on=["o_orderkey"])
            )
            cow_bytes = _new_bytes(ice, pre_cow)
            hist = history_iceberg(spark, ice)
            t_chg, n_chg = wall(
                lambda: read_iceberg_changes(
                    spark, ice, hist[-2]["snapshot_id"],
                    hist[-1]["snapshot_id"],
                ).count()
            )
            # MOR twin on the post-COW table: a second fixed-size
            # key-clustered source — commit bytes must NOT ride the
            # hit-file bytes (r8)
            src2 = orders.filter(
                (F.col("o_orderkey") > 4000) & (F.col("o_orderkey") <= 12000)
            ).dropDuplicates(["o_orderkey"]).limit(1000).withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(2.0)
            ).unionByName(
                orders.dropDuplicates(["o_orderkey"]).select(
                    (F.col("o_orderkey") + 2_000_000_000).alias("o_orderkey"),
                    "o_orderpriority", "o_totalprice",
                ).limit(200)
            ).cache()
            src2.count()
            pre_mor = _sizes(ice)
            t_mor, out_mor = wall(
                lambda: merge_iceberg(
                    spark, ice, src2, on=["o_orderkey"], strategy="mor"
                )
            )
            mor_bytes = _new_bytes(ice, pre_mor)
            # Delta CDF delete: fixed ~1/97 of rows
            dl = os.path.join(tmp, "dl")
            write_delta(orders.repartition(8), dl, mode="error")
            alter_table_properties_delta(
                spark, dl, {"delta.enableChangeDataFeed": "true"}
            )
            t_cdf, _ = wall(
                lambda: delete_where_delta(
                    spark, dl, F.col("o_orderkey") % 97 == 0
                )
            )
            report.append(
                {"label": label, "rows": n, "build_s": t_build,
                 "merge_s": t_merge, "merged": out,
                 "cow_commit_bytes": cow_bytes,
                 "mor_merge_s": t_mor, "mor_merged": out_mor,
                 "mor_commit_bytes": mor_bytes,
                 "changelog_s": t_chg, "changelog_rows": n_chg,
                 "cdf_delete_s": t_cdf}
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
