"""Streaming MERGE into the REAL table formats (SURVEY.md §2 B9 ∪ B1,
VERDICT r7 item #3): ``readStream`` → ``foreachBatch`` →
``merge_delta`` / ``merge_iceberg``, exactly-once under micro-batch
replay.

:mod:`~.upsert` proves the exactly-once layering (checkpoint replay +
table-side high-water mark) with a whole-state Delta overwrite per
batch; this module wires the SAME guarantee into MERGE on both
connectors so a stream can MAINTAIN a Delta or Iceberg table:

1. the stream checkpoint replays an uncommitted micro-batch after a
   crash (at-least-once delivery of batches);
2. each merge rides with ``txn=(app_id, batch_id)`` — Delta's ``txn``
   protocol action (delta.py ``merge_delta``), or the
   ``txn.<app_id>`` table property on Iceberg (the watermark shape
   Flink's Iceberg sink keeps as max-committed-checkpoint-id) — and a
   replayed ``batch_id`` at or below the stored mark skips without a
   commit; at-least-once delivery + idempotent apply = exactly-once
   table effect.

Unlike :mod:`~.upsert` (overwrite of the whole state per batch), the
connector merges are COPY-ON-WRITE MERGEs: only files holding matched
keys rewrite (stats/manifest-bounds-pruned discovery), so per-batch
cost rides the touched-file bytes, not table size — the property that
makes a 100 TB continuously-merged table affordable.

Reference anchor: the file-arrival ingestion topology
(``cft/sourceSystem.yaml:29-63``) delivers files into a bucket; the
reference's empty Lambda bodies never say how arrivals become ACID
table state — this module is that path on both open formats.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.readers import load_table

#: second-wave price bump (same rule as b_stream_upsert / b_lake_upsert)
BUMP_MOD = 97
BUMP_CENTS = 500
#: third-wave NEW keys: k % INS_MOD == 1 re-keyed far above the domain
INS_MOD = 89
INS_SHIFT = 1_000_000_000
INS_DELTA = 77


def run_merge_stream(
    spark: SparkSession,
    landing_dir: str,
    feed_schema,
    checkpoint_dir: str,
    merge_batch,
) -> None:
    """Drive a file-landing stream over the current backlog, one file
    per micro-batch (``maxFilesPerTrigger=1`` keeps the multi-commit
    merge sequence real instead of collapsing the backlog), calling
    ``merge_batch(batch_df, batch_id)`` per micro-batch."""
    from .drive import run_stream_to_completion

    run_stream_to_completion(
        lambda: (
            spark.readStream.schema(feed_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing_dir)
            .writeStream.trigger(availableNow=True)
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(merge_batch)
            .start()
        )
    )


def delta_merge_batch(path: str, on: list[str], app_id: str):
    """foreachBatch callable maintaining a Delta table: each batch is
    one copy-on-write MERGE (matched → update, not matched → insert)
    carrying ``txn=(app_id, batch_id)`` so a checkpoint replay of an
    already-committed batch is a no-op."""
    from ..sources.delta import merge_delta

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        merge_delta(
            batch_df.sparkSession, path, batch_df, on,
            txn=(app_id, int(batch_id)),
        )

    return apply


def iceberg_merge_batch(
    path: str, on: list[str], app_id: str, strategy: str = "cow"
):
    """foreachBatch callable maintaining an Iceberg table — the
    ``txn.<app_id>`` property twin of :func:`delta_merge_batch`.
    ``strategy="mor"`` merges merge-on-read: per-batch commit cost
    rides the batch's changed rows (SCALE.md r8: flat commit bytes
    across 30× table growth), the right default for a hot
    continuously-merged table; compaction folds the read debt."""
    from ..sources.iceberg import merge_iceberg

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        merge_iceberg(
            batch_df.sparkSession, path, batch_df, on,
            txn=(app_id, int(batch_id)), strategy=strategy,
        )

    return apply


def _stage_single_file(df: DataFrame, landing: str, name: str) -> None:
    """One parquet file ``landing/name`` via coalesce(1) + part-file
    rename — staged with Spark writes, never a driver collect."""
    import glob

    stage = os.path.join(landing, f".{name}.stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(landing, name))
    shutil.rmtree(stage, ignore_errors=True)


def _base_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.lit(1).cast("long").alias("seq"),
    )


def stage_merge_feed(spark: SparkSession, sf_dir: str, landing: str) -> None:
    """Two deterministic CDC waves derived from orders: wave A bumps
    prices on ``k % 97 == 0`` (UPDATE path), wave B lands NEW keys
    (``k % 89 == 1`` re-keyed by +1e9, INSERT path).  mtimes pinned
    A < B because FileStreamSource orders its backlog by mtime."""
    base = _base_orders(spark, sf_dir)
    wave_a = (
        base.filter(F.col("k") % BUMP_MOD == 0)
        .withColumn("price_cents", F.col("price_cents") + F.lit(BUMP_CENTS))
        .withColumn("seq", F.lit(2).cast("long"))
    )
    wave_b = base.filter(F.col("k") % INS_MOD == 1).select(
        (F.col("k") + F.lit(INS_SHIFT)).alias("k"),
        (F.col("price_cents") + F.lit(INS_DELTA)).alias("price_cents"),
        F.lit(3).cast("long").alias("seq"),
    )
    _stage_single_file(wave_a, landing, "feed-000.parquet")
    _stage_single_file(wave_b, landing, "feed-001.parquet")
    now = time.time()
    os.utime(os.path.join(landing, "feed-000.parquet"), (now - 2, now - 2))
    os.utime(os.path.join(landing, "feed-001.parquet"), (now, now))


_SINK_ORACLE = f"""
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100.0) AS BIGINT) AS pc
      FROM orders
    ),
    final AS (
      SELECT k,
             CASE WHEN k % {BUMP_MOD} = 0 THEN pc + {BUMP_CENTS}
                  ELSE pc END AS pc,
             CASE WHEN k % {BUMP_MOD} = 0 THEN 2 ELSE 1 END AS seq
      FROM base
      UNION ALL
      SELECT k + {INS_SHIFT} AS k, pc + {INS_DELTA} AS pc, 3 AS seq
      FROM base WHERE k % {INS_MOD} = 1
    )
    SELECT count(*) AS n_rows,
           CAST(sum(pc) AS BIGINT) AS price_sum_cents,
           CAST(sum(CASE WHEN seq = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_updated,
           CAST(sum(CASE WHEN seq = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inserted,
           CAST(1 AS BIGINT) AS last_txn
    FROM final
"""


def _final_state_agg(final: DataFrame, last_txn: int) -> DataFrame:
    return final.agg(
        F.count("*").alias("n_rows"),
        F.sum("price_cents").cast("long").alias("price_sum_cents"),
        F.sum((F.col("seq") == 2).cast("long")).alias("n_updated"),
        F.sum((F.col("seq") == 3).cast("long")).alias("n_inserted"),
        F.lit(last_txn).cast("long").alias("last_txn"),
    )


@query("b_stream_delta_sink", _SINK_ORACLE)
def stream_delta_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming MERGE into a DELTA table: seed the table
    from orders, stage a two-wave CDC feed (updates then inserts), run
    the real readStream → foreachBatch → ``merge_delta(txn=…)``
    pipeline one file per micro-batch, then aggregate the FINAL TABLE
    STATE read back through the transaction log.  ``last_txn`` pins
    the committed ``txn`` high-water mark (app batch ids 0,1 → 1) —
    a broken idempotence wire flips it; checkpoint-replay no-ops are
    pinned in tests/test_streaming_sink.py."""
    from ..sources.delta import last_txn_version, read_delta, write_delta

    tmp = tempfile.mkdtemp(prefix="spark_graft_dsink_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    landing = os.path.join(tmp, "landing")
    os.makedirs(landing)
    base = _base_orders(spark, sf_dir)
    table = os.path.join(tmp, "tbl")
    write_delta(base, table, mode="error")
    stage_merge_feed(spark, sf_dir, landing)
    run_merge_stream(
        spark, landing, base.schema, os.path.join(tmp, "ckpt"),
        delta_merge_batch(table, ["k"], "sink-demo"),
    )
    final = read_delta(spark, table)
    return _final_state_agg(final, last_txn_version(spark, table, "sink-demo"))


@query("b_stream_iceberg_sink", _SINK_ORACLE)
def stream_iceberg_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Iceberg twin of :func:`stream_delta_sink`: readStream →
    foreachBatch → ``merge_iceberg(txn=…)``, watermark as the
    ``txn.<app_id>`` table property, final state read through the
    current snapshot."""
    from ..sources.iceberg import (
        last_txn_version_iceberg,
        read_iceberg,
        write_iceberg,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_isink_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    landing = os.path.join(tmp, "landing")
    os.makedirs(landing)
    base = _base_orders(spark, sf_dir)
    table = os.path.join(tmp, "tbl")
    write_iceberg(base, table, mode="error")
    stage_merge_feed(spark, sf_dir, landing)
    run_merge_stream(
        spark, landing, base.schema, os.path.join(tmp, "ckpt"),
        iceberg_merge_batch(table, ["k"], "sink-demo"),
    )
    final = read_iceberg(spark, table)
    return _final_state_agg(
        final, last_txn_version_iceberg(spark, table, "sink-demo")
    )
