"""Incremental MATERIALIZED-VIEW maintenance from the Delta CHANGE
FEED (SURVEY.md §2 B9 ∪ B1 composition, r8): change-feed catch-up →
signed delta application, exactly-once.

This closes the CDC loop the round opened: ``merge_delta`` WRITES
row-level changes (cdc files), ``read_delta_changes`` READS them, and
this module CONSUMES them to keep an aggregate view fresh without
ever rescanning the base table — the change-feed form of
``b_mv_incremental`` (operators/maintenance.py), and the standard
production pattern for "a dashboard over a 100 TB mutating table":
per-batch cost rides the CHANGE volume, never the table.

Delta application is the classic signed-multiset algebra: ``insert``
and ``update_postimage`` rows count +1, ``delete`` and
``update_preimage`` rows count −1; SUM/COUNT aggregates absorb signed
deltas exactly.  Money rides integer cent units (see
``functions/numeric.py``) so the incremental path is bit-identical to
a recompute — no float drift across thousands of batches.
The view is itself a Delta table, overwritten once per batch.
Exactly-once comes from the view's Delta ``txn`` action alone; there
is no stream checkpoint.  Each refresh (``streaming/catchup.py``)
reads the view's ``txn`` watermark — the source version it has
folded in — drains the changes after it, and commits the new view
with ``txn=(APP_ID, <the source's latest version>)``.  A crash before
that commit leaves the watermark where it was, so the next refresh
re-reads the same range.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..registry import query
from ..sources.delta import (
    _table_version,
    alter_table_properties_delta,
    last_txn_version,
    merge_delta,
    read_delta,
    write_delta,
)
from ..sources.readers import empty_frame, load_table
from .catchup import _PLUS, catch_up

MV_SCHEMA = StructType(
    [
        StructField("o_orderpriority", StringType(), True),
        StructField("n", LongType(), True),
        StructField("units", LongType(), True),
    ]
)

#: change types that REMOVE a row version (``_PLUS`` adds one)
_MINUS = ("delete", "update_preimage")
#: ``txn`` application id of the view's refresh commits
APP_ID = "cdf-mv"


def mv_apply_batch(view: str, batch_df: DataFrame, batch_id: int) -> None:
    """Fold one batch of CDF rows into the Delta view at ``view``:
    per-group signed deltas (one shuffle over the BATCH, never the
    base table), merged with the current state, zero-count groups
    dropped, committed as one overwrite carrying ``txn=(APP_ID,
    batch_id)`` on top of the version read (a rival commit in between
    raises ``CommitConflict``).  A replayed batch at or below the committed mark is
    skipped without a commit (exactly-once).  The first batch creates
    the view."""
    spark = batch_df.sparkSession
    if batch_id <= last_txn_version(spark, view, APP_ID):
        return
    v = _table_version(view)  # commit only on top of the state read
    if v is None:
        cur = empty_frame(spark, MV_SCHEMA)
    else:
        cur = read_delta(spark, view, version_as_of=v)
    sign = (
        F.when(F.col("_change_type").isin(*_PLUS), F.lit(1))
        .when(F.col("_change_type").isin(*_MINUS), F.lit(-1))
        .otherwise(F.lit(0))
    )
    delta = (
        batch_df.withColumn("_sign", sign)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("_sign").cast("long").alias("n"),
            F.sum(
                F.col("_sign")
                * F.round(F.col("o_totalprice") * 100).cast("long")
            ).cast("long").alias("units"),
        )
    )
    merged = (
        cur.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("units").cast("long").alias("units"),
        )
        .filter(F.col("n") != 0)
    )
    write_delta(
        merged.coalesce(1), view, mode="overwrite", txn=(APP_ID, batch_id),
        read_version=v,
    )


def run_cdf_mv_stream(spark: SparkSession, table: str, view: str) -> None:
    """Bring the view up to the table's latest version: fold the
    changes after the view's watermark (from genesis on the first
    run) in one refresh commit; no commit when nothing changed."""
    catch_up(
        spark, table, last_txn_version(spark, view, APP_ID),
        lambda df, bid: mv_apply_batch(view, df, bid),
    )


@query(
    "b_stream_cdf_mv",
    """
    WITH b AS (
      SELECT o_orderkey AS k, o_orderpriority, o_totalprice AS p
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    final AS (
      -- updated rows re-round the POSTIMAGE double ((p+1000)*100),
      -- exactly as the view folds the postimage change row — adding
      -- 100000 to the old units would diverge on half-cent doubles
      SELECT o_orderpriority,
             CASE WHEN k % 12 = 0
                  THEN CAST(round((p + 1000) * 100.0) AS BIGINT)
                  ELSE CAST(round(p * 100.0) AS BIGINT) END AS units
      FROM b
      WHERE NOT (k % 6 = 0 AND k % 12 <> 0)
      UNION ALL
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100.0) AS BIGINT) AS units
      FROM orders WHERE o_orderkey % 3 = 1
    )
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(units) AS BIGINT) / 100.0 AS total_price
    FROM final
    GROUP BY o_orderpriority
    """,
)
def stream_cdf_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END CDC-maintained aggregate: seed a CDF-enabled Delta
    table, MERGE (update/delete/insert), drain the change feed from
    genesis, and fold the batch's signed deltas into a
    grouped SUM/COUNT view — then return the VIEW, which must equal
    the oracle's from-scratch recompute of the final table state.  A
    wrong sign, a dropped preimage, or a double-applied replay all
    fail the hash compare.  (r8 — the streaming twin of
    ``b_mv_incremental``.)"""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    tmp = tempfile.mkdtemp(prefix="spark_graft_cdfmv_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    t = os.path.join(tmp, "t")
    write_delta(
        orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(2),
        t, mode="error",
    )                                                            # v0
    alter_table_properties_delta(
        spark, t, {"delta.enableChangeDataFeed": "true"}
    )                                                            # v1
    source = orders.filter(F.col("o_orderkey") % 6 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    ).unionByName(orders.filter(F.col("o_orderkey") % 3 == 1))
    merge_delta(
        spark, t, source, on=["o_orderkey"],
        clauses=[
            {"when": "matched", "action": "update",
             "condition": "t.o_orderkey % 12 = 0"},
            {"when": "matched", "action": "delete"},
            {"when": "not_matched", "action": "insert"},
        ],
    )                                                            # v2
    view = os.path.join(tmp, "mv")
    run_cdf_mv_stream(spark, t, view)
    return read_delta(spark, view).select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n"),
        (F.col("units") / F.lit(100.0)).alias("total_price"),
    )
