"""Cross-format CDC REPLICATION: drain a Delta table's change feed
into an Iceberg replica (SURVEY.md §2 B9 ∪ B1 composition, r8).

This is the Flink-CDC-into-Iceberg shape built from this engine's own
parts: the Delta side WRITES row-level changes (``merge_delta`` cdc
files), a bounded catch-up (``streaming/catchup.py``) reads everything
the replica has not seen with ``read_delta_changes``, and that batch
lands on the replica as ONE snapshot (``delete_by_key_iceberg`` with
``rows=``): an equality delete of every changed key plus an append of
each key's net-live row.  The appended rows share the delete's
sequence number, so the strict equality-delete gate spares them and
kills only the older versions.  No replica data file is read and no
position delete is written: replica cost per batch rides the CHANGE
volume on both the read and the write side — the only shape that
survives a 100 TB source.

Exactly-once comes from the replica's ``txn.<app_id>`` property
alone; there is no stream checkpoint.  The property holds the source
version the replica has applied: each run reads it, drains the
changes after it with the source's latest version as batch id, and
the batch's snapshot advances it in the same metadata version.  A
crash before that version is claimed leaves nothing committed (only
unreferenced staged files), so the next run re-reads the same range
and lands it once.  Within a batch, the NET effect per key is
applied — the last change by ``_commit_version`` wins, with add-type
changes (insert/update_postimage) outranking remove-types within the
same version because a copy-on-write rewrite emits delete+insert
pairs for carried rows whose net is "still here".
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources.readers import load_table
from .catchup import _PLUS, catch_up


def replicate_batch(
    replica: str, on: list[str], app_id: str
):
    """Per-batch callable applying one batch of CDF rows to the
    Iceberg replica as net per-key effects, in one snapshot."""
    from ..sources.iceberg import delete_by_key_iceberg
    from ..sources.merge_clauses import pin

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        cols = [
            c for c in batch_df.columns
            if c not in ("_change_type", "_commit_version")
        ]
        is_plus = F.col("_change_type").isin(*_PLUS).cast("int")
        w = Window.partitionBy(*on).orderBy(
            F.desc("_commit_version"), F.desc(F.col("_is_plus"))
        )
        # Materialize the net-effect frame ONCE (r11 optimization,
        # guide §5): the key and row staging writes both consume it
        # and would otherwise each re-execute the change-feed read
        # with its per-commit scans and DV joins.  The frame is one
        # batch's net changes — bounded by change volume.
        net = pin(
            batch_df.withColumn("_is_plus", is_plus)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
        )
        # every changed key dies (O(keys) equality delete: no replica
        # data file is read) and each net-live row is re-appended in
        # the same snapshot, which also carries the txn watermark — a
        # replay of an applied batch id commits nothing
        delete_by_key_iceberg(
            batch_df.sparkSession, replica, net.select(*on),
            rows=net.filter(F.col("_is_plus") == 1).select(*cols),
            txn=(app_id, int(batch_id)),
        )

    return apply


def run_replication(
    spark: SparkSession,
    source_table: str,
    replica: str,
    on: list[str],
    checkpoint_dir: str | None = None,
    app_id: str = "delta-replica",
) -> None:
    """Converge the Iceberg ``replica`` to ``source_table``: apply the
    source's changes after the replica's watermark (from genesis on
    the first run) as one batch.  ``checkpoint_dir`` is ignored — the
    replica's watermark is the only resume state; the parameter stays
    for callers that still pass one."""
    from ..sources.iceberg import last_txn_version_iceberg

    catch_up(
        spark, source_table,
        last_txn_version_iceberg(spark, replica, app_id),
        replicate_batch(replica, on, app_id),
    )


@query(
    "b_stream_replicate",
    """
    WITH b AS (
      SELECT o_orderkey AS k, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    final AS (
      SELECT o_orderpriority,
             CASE WHEN k % 12 = 0 THEN o_totalprice + 1000
                  ELSE o_totalprice END AS o_totalprice
      FROM b
      WHERE NOT (k % 6 = 0 AND k % 12 <> 0)
      UNION ALL
      SELECT o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 3 = 1
    )
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT))
                AS BIGINT) / 100.0 AS total_price
    FROM final
    GROUP BY o_orderpriority
    """,
)
def stream_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END cross-format replication: a CDF-enabled Delta table
    takes a full-clause MERGE (update/delete/insert); its change feed
    drains into an empty Iceberg replica as one equality-delete +
    append snapshot; the REPLICA's final state must equal the oracle's
    recompute of the Delta table's final state.  A wrong net-effect
    precedence (a COW rewrite's delete+insert pair mis-resolved), a
    lost delete, or a double-applied replay all fail the hash
    compare.  (r8 — composes the round's CDF writer, the change-feed
    catch-up, and equality deletes with a same-snapshot append.)"""
    from ..functions.numeric import money_sum
    from ..sources.delta import alter_table_properties_delta, merge_delta
    from ..sources.delta import write_delta
    from ..sources.iceberg import read_iceberg, write_iceberg

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    tmp = tempfile.mkdtemp(prefix="spark_graft_repl_")
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
    replica = os.path.join(tmp, "replica")
    write_iceberg(orders.limit(0).coalesce(1), replica, mode="error")
    run_replication(spark, t, replica, ["o_orderkey"])
    return read_iceberg(spark, replica).groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )
