"""Merge planning driver-action budget (r12, VERDICT r11 item #4).

The r11/r12 materialize-once work bounds how many Spark jobs one MERGE
may issue: source pin, dup+bounds aggregate (ONE action), hit
discovery (ONE action), wide pin, insert pin, census+insert-count
collect (ONE action), staging writes, commit.  These tests pin the
budget via the statusTracker so a future change that quietly
re-introduces a per-consumer lineage re-run (each one = extra jobs)
fails loudly.  Bounds are deliberately loose — AQE splits one action
into 1-3 sub-jobs — but far below the pre-r12 counts (23 for the CDC
copy-on-write merge, 21 for the merge-on-read merge, measured on this
fixture before the fold).

Replication applies a whole change-feed drain as one equality-delete +
append snapshot: change-feed read, net-frame pin, key and row staging
writes, commit — no replica scan, no merge planning.  Its budget is 8
jobs per drain (15 at genesis and 30 incremental on this fixture when
replication still ran a merge-on-read merge), and a drain with nothing
new runs none.

A steady round of the two (merge, then drain) compiles no Janino
class: it reuses what the round before it compiled.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_datalake_framework_api_spark.sources.delta import (  # noqa: E402
    alter_table_properties_delta,
    merge_delta,
    read_delta,
    write_delta,
)
from aws_datalake_framework_api_spark.sources.iceberg import (  # noqa: E402
    merge_iceberg,
    read_iceberg,
    write_iceberg,
)
from aws_datalake_framework_api_spark.sources.readers import load_table  # noqa: E402
from aws_datalake_framework_api_spark.streaming.replicate import (  # noqa: E402
    run_replication,
)

CLAUSES = [
    {"when": "matched", "action": "update", "condition": "t.o_orderkey % 12 = 0"},
    {"when": "matched", "action": "delete"},
    {"when": "not_matched", "action": "insert"},
]


def _orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


def _source(orders):
    return (
        orders.filter(F.col("o_orderkey") % 6 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        .unionByName(orders.filter(F.col("o_orderkey") % 3 == 1))
    )


def _jobs_in_group(spark, tag, fn):
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


def test_delta_cdc_cow_merge_job_budget(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    t = str(tmp_path / "d")
    write_delta(orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(2), t)
    alter_table_properties_delta(
        spark, t, {"delta.enableChangeDataFeed": "true"}
    )
    n = _jobs_in_group(
        spark,
        "merge-budget-delta",
        lambda: merge_delta(
            spark, t, _source(orders), on=["o_orderkey"], clauses=CLAUSES
        ),
    )
    assert n <= 19, f"CDC copy-on-write merge issued {n} jobs (budget 19)"


def test_iceberg_mor_merge_job_budget(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    t = str(tmp_path / "i")
    write_iceberg(orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(2), t)
    n = _jobs_in_group(
        spark,
        "merge-budget-iceberg",
        lambda: merge_iceberg(
            spark, t, _source(orders), on=["o_orderkey"], strategy="mor"
        ),
    )
    assert n <= 19, f"merge-on-read merge issued {n} jobs (budget 19)"


def test_replication_drain_job_budget(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    t = str(tmp_path / "d")
    replica = str(tmp_path / "r")
    write_delta(orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(2), t)
    alter_table_properties_delta(
        spark, t, {"delta.enableChangeDataFeed": "true"}
    )
    write_iceberg(orders.limit(0).coalesce(1), replica)

    def drain(tag):
        return _jobs_in_group(
            spark, tag,
            lambda: run_replication(spark, t, replica, ["o_orderkey"]),
        )

    n_genesis = drain("replicate-budget-genesis")
    merge_delta(spark, t, _source(orders), on=["o_orderkey"], clauses=CLAUSES)
    n_incremental = drain("replicate-budget-incremental")
    n_noop = drain("replicate-budget-noop")
    assert n_genesis <= 8 and n_incremental <= 8 and n_noop == 0, (
        f"replication drains issued {n_genesis} (genesis), "
        f"{n_incremental} (incremental), {n_noop} (no-op) jobs "
        "(budget 8, 8, 0)"
    )
    assert sorted(map(tuple, read_iceberg(spark, replica).collect())) == sorted(
        map(tuple, read_delta(spark, t).collect())
    )


def test_merge_pin_persist_mode_same_result(spark, sf_dir, tmp_path, monkeypatch):
    """SPARK_GRAFT_MERGE_PIN=persist (the dynamic-allocation-safe
    materialization) must produce the identical merge outcome."""
    orders = _orders(spark, sf_dir)
    outs = []
    for mode, sub in ((None, "a"), ("persist", "b")):
        if mode is None:
            monkeypatch.delenv("SPARK_GRAFT_MERGE_PIN", raising=False)
        else:
            monkeypatch.setenv("SPARK_GRAFT_MERGE_PIN", mode)
        t = str(tmp_path / sub)
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(2), t
        )
        stats = merge_iceberg(
            spark, t, _source(orders), on=["o_orderkey"],
            clauses=CLAUSES, strategy="mor",
        )
        rows = sorted(
            map(tuple, read_iceberg(spark, t).collect())
        )
        outs.append((stats["updated"], stats["deleted"], stats["inserted"], rows))
    assert outs[0] == outs[1]


def _janino_compiles(spark) -> int:
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def test_steady_merge_and_drain_round_compiles_nothing(spark, tmp_path):
    """Three rounds shaped like perfbench's lake_cdc: a MERGE of a
    fresh batch (updates of the newest keys, deletes, inserts) into a
    change-feed table, then a replication drain.  The third round
    compiles nothing.  It did compile while the codegen cache held 100
    entries (each round evicted the merge's classes) and while the
    change feed tagged rows with a per-version ``lit(v)``, which
    codegen inlines into the generated Java."""
    import pandas as pd

    cols = ["o_orderkey", "o_orderpriority", "o_totalprice"]
    schema = "o_orderkey long, o_orderpriority string, o_totalprice double"
    t, replica = str(tmp_path / "d"), str(tmp_path / "r")
    write_delta(spark.createDataFrame(pd.DataFrame(
        [(k, ("1-URGENT", "5-LOW")[k % 2], 1000.0 + k) for k in range(400)],
        columns=cols,
    ), schema), t)
    alter_table_properties_delta(
        spark, t, {"delta.enableChangeDataFeed": "true"}
    )
    write_iceberg(read_delta(spark, t).limit(0).coalesce(1), replica)
    run_replication(spark, t, replica, ["o_orderkey"])
    clauses = [
        {"when": "matched", "action": "update",
         "condition": "s.o_totalprice >= 0"},
        {"when": "matched", "action": "delete"},
        {"when": "not_matched", "action": "insert",
         "condition": "s.o_totalprice >= 0"},
    ]
    compiled = []
    for r in range(3):
        top = 400 + 10 * r
        batch = (
            [(k, "2-HIGH", 2000.0 + r) for k in range(top - 30, top)]
            + [(k, "5-LOW", -1.0) for k in range(20 * r, 20 * r + 10)]
            + [(k, "3-MEDIUM", 3000.0) for k in range(top, top + 10)]
        )
        n0 = _janino_compiles(spark)
        merge_delta(
            spark, t,
            spark.createDataFrame(
                pd.DataFrame(batch, columns=cols), schema
            ),
            ["o_orderkey"], clauses=clauses,
        )
        run_replication(spark, t, replica, ["o_orderkey"])
        compiled.append(_janino_compiles(spark) - n0)
    assert compiled[2] == 0, f"Janino compiles per round: {compiled}"
    assert sorted(map(tuple, read_iceberg(spark, replica).collect())) == sorted(
        map(tuple, read_delta(spark, t).collect())
    )
