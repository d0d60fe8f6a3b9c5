"""Bounded CATCH-UP over a Delta change feed: apply everything a sink
has not seen yet as one batch, then return — no Structured Streaming
query, no checkpoint directory.

The reference's ingestion is event-driven: an object-created event
invokes a function that processes what is new and returns
(``cft/sourceSystem.yaml``).  The change-feed consumers here have the
same shape.  Their sinks already carry an exactly-once watermark (the
Iceberg replica's ``txn.<app_id>`` property, the Delta view's ``txn``
action), so the watermark alone says where to resume: a drain reads
``(done, latest]`` with :func:`~..sources.delta.read_delta_changes`
and hands it to the sink's per-batch callable with the pinned source
version as batch id.  A crash before the sink's watermark commit
leaves ``done`` where it was, so the next call re-reads and re-applies
the same range; a call with nothing new commits nothing.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.delta import _table_version, read_delta, read_delta_changes

#: change types that carry a key's surviving row version
_PLUS = ("insert", "update_postimage")


def catch_up(
    spark: SparkSession,
    source: str,
    done: int,
    apply: Callable[[DataFrame, int], None],
) -> None:
    """Apply the changes of Delta table ``source`` after version
    ``done`` (the sink's watermark; -1 = nothing applied yet) as ONE
    batch: ``apply(changes, latest)``, with ``latest`` pinned before
    the read.  Returns without calling ``apply`` when the sink is
    current.  From genesis, version 0's rows lead the batch as
    ``insert`` changes at ``_commit_version`` 0 — the change reader's
    lower bound is exclusive, so it cannot express them."""
    latest = _table_version(source)
    if latest is None:
        raise FileNotFoundError(f"no delta log at {source}")
    if latest <= done:
        return
    changes = read_delta_changes(spark, source, max(done, 0), latest)
    if done < 0:
        changes = (
            read_delta(spark, source, version_as_of=0)
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(0).cast("long"))
            .unionByName(changes)
        )
    apply(changes, latest)
