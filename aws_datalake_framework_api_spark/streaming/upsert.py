"""Streaming MERGE into a Delta table (SURVEY.md §2 B9 ∪ B1):
``readStream`` → ``foreachBatch`` → Delta commit, idempotent under
micro-batch replay.

This is the streaming-lakehouse pattern the north star's
"Spark SQL + Delta/Iceberg connectors" mandate implies end-to-end: a
CDC-ish feed lands as files, Structured Streaming discovers them per
micro-batch, and each batch MERGES (last-write-wins by sequence
number) into a transaction-logged table — so readers on the table are
snapshot-isolated from the stream and a crash anywhere leaves either
the old or the new committed version, never a torn state.

Exactly-once is TWO mechanisms layered, exactly as in Delta:

1. the stream checkpoint replays an uncommitted micro-batch after a
   crash (at-least-once delivery of batches);
2. each commit carries Delta's ``txn`` action
   (``txn=(APP_ID, batch_id)``); a replayed batch with ``batch_id`` at
   or below :func:`last_txn_version` is skipped, so at-least-once
   delivery + idempotent apply = exactly-once effect.

Reference anchor: the ingestion topology (``cft/sourceSystem.yaml:
29-63``) delivers files; what the reference's empty Lambda bodies
leave unsaid — how arriving data mutates a governed table without
torn reads — is this module.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..registry import query
from ..sources.delta import (
    _table_version,
    history_delta,
    last_txn_version,
    read_delta,
    write_delta,
)
from ..sources.readers import load_table
from ..sources.table_io import stage_parquet

FEED_SCHEMA = StructType(
    [
        StructField("k", LongType(), True),
        StructField("price_cents", LongType(), True),
        StructField("seq", LongType(), True),
    ]
)

#: keys receiving a second-wave price bump (same rule as b_lake_upsert)
BUMP_MOD = 97
BUMP_CENTS = 500
#: ``txn`` application id of the stream's commits
APP_ID = "stream-upsert"


def merge_microbatch(path: str, batch_df: DataFrame, batch_id: int) -> None:
    """Apply one micro-batch to the Delta table at ``path``:
    last-write-wins by ``seq`` per key over (current state ∪ batch),
    committed as ONE overwrite version carrying ``txn=(APP_ID,
    batch_id)`` on top of the version read (a rival commit in between
    raises ``CommitConflict``).  Replay-safe: a batch at or below the committed mark
    is skipped without a commit.  The first batch creates the table."""
    spark = batch_df.sparkSession
    if batch_id <= last_txn_version(spark, path, APP_ID):
        return  # checkpoint replayed a batch the table already has
    v = _table_version(path)  # commit only on top of the state read
    if v is None:
        cur = spark.createDataFrame([], FEED_SCHEMA)
    else:
        cur = read_delta(spark, path, version_as_of=v)
    w = Window.partitionBy("k").orderBy(F.desc("seq"))
    merged = (
        cur.unionByName(batch_df.select("k", "price_cents", "seq"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .drop("rnk")
    )
    write_delta(
        merged.coalesce(1), path, mode="overwrite", txn=(APP_ID, batch_id),
        read_version=v,
    )


def run_upsert_stream(
    spark: SparkSession, landing_dir: str, path: str, checkpoint_dir: str
) -> None:
    """Drive the stream over the current backlog, one file per
    micro-batch (``maxFilesPerTrigger=1`` makes the multi-batch merge
    sequence real rather than collapsing the backlog into one batch)."""
    from .drive import run_stream_to_completion

    run_stream_to_completion(
        lambda: (
            spark.readStream.schema(FEED_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing_dir)
            .writeStream.trigger(availableNow=True)
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(lambda df, bid: merge_microbatch(path, df, bid))
            .start()
        )
    )


def _stage_feed(spark: SparkSession, sf_dir: str, landing: str) -> None:
    """Two deterministic feed files derived from orders: wave 1 = the
    base state (seq 1), wave 2 = price bumps on k % 97 == 0 (seq 2).
    Both waves are STAGED WITH SPARK WRITES (coalesce(1) to pin the
    one-file-per-micro-batch shape the stream test needs) — the feed
    never passes through the driver, so the exhibit's staging step
    survives the same scale as the pipeline it exercises.  File
    mtimes are pinned wave1 < wave2 because FileStreamSource orders
    its backlog by modification time."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.lit(1).cast("long").alias("seq"),
    )
    wave2 = (
        orders.filter(F.col("k") % BUMP_MOD == 0)
        .withColumn("price_cents", F.col("price_cents") + F.lit(BUMP_CENTS))
        .withColumn("seq", F.lit(2).cast("long"))
    )
    for i, wave in enumerate((orders, wave2)):
        # one file per wave: the stream's one-file-per-micro-batch shape
        stage_parquet(
            wave.coalesce(1), os.path.join(landing, ".stage-"), landing,
            lambda _i, _f: f"feed-{i:03d}.parquet",
        )
    now = time.time()
    os.utime(os.path.join(landing, "feed-000.parquet"), (now - 2, now - 2))
    os.utime(os.path.join(landing, "feed-001.parquet"), (now, now))


@query(
    "b_stream_upsert",
    f"""
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100.0) AS BIGINT) AS pc
      FROM orders
    )
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN k % {BUMP_MOD} = 0
                         THEN pc + {BUMP_CENTS} ELSE pc END) AS BIGINT)
             AS price_sum_cents,
           CAST(sum(CASE WHEN k % {BUMP_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bumped,
           CAST(2 AS BIGINT) AS n_commits
    FROM base
    """,
)
def stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming merge: stage a two-wave feed, run the real
    readStream → foreachBatch → Delta pipeline (one file per
    micro-batch), then aggregate the FINAL TABLE STATE read through
    its log.  The oracle recomputes the expected final state from
    raw orders and pins the commit count (2 — one per micro-batch;
    a broken idempotence guard double-applying a replay, or a backlog
    collapse into one batch, both flip it).  Replay idempotence itself
    is pinned in tests/test_streaming.py by re-applying a batch."""
    tmp = tempfile.mkdtemp(prefix="spark_graft_supsert_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    landing = os.path.join(tmp, "landing")
    os.makedirs(landing)
    _stage_feed(spark, sf_dir, landing)
    table = os.path.join(tmp, "tbl")
    run_upsert_stream(spark, landing, table, os.path.join(tmp, "ckpt"))
    final = read_delta(spark, table)
    n_commits = len(history_delta(spark, table))
    return final.agg(
        F.count("*").alias("n_rows"),
        F.sum("price_cents").cast("long").alias("price_sum_cents"),
        F.sum((F.col("k") % BUMP_MOD == 0).cast("long")).alias("n_bumped"),
        F.lit(n_commits).cast("long").alias("n_commits"),
    )
