"""Stream/batch parity of the Delta change planner, kept in the default
(not ``slow``) test run: the ``delta_stream`` change-feed tail and the
batch ``read_delta_changes`` both classify commits through the one
``_plan_changes`` in sources/delta.py, so these cases pin the shared
per-version rules — cdc-exclusive commits, skipped ``dataChange:
false`` actions, deletion-vector transitions in both directions —
against both executors.  The rest of the stream suite is
tests/test_delta_stream.py."""

from pyspark.sql import functions as F

from aws_datalake_framework_api_spark.sources.delta import (
    delete_where_delta,
    optimize_delta,
    write_delta,
)
from aws_datalake_framework_api_spark.streaming.delta_source import register


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, part string, v double")


def _run(spark, table, out, ckpt, **opts):
    reader = spark.readStream.format("delta_stream")
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load(table)
        .writeStream.trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()


def test_cdf_stream_derives_noncdc_commits_and_dv_deltas(spark, tmp_path):
    """Commits WITHOUT cdc actions derive from file diffs exactly
    like the batch reader: appends emit inserts, a merge-on-read DV
    DELETE emits exactly the newly-dead rows, and an OPTIMIZE
    (dataChange=false) is invisible."""
    register(spark)
    t = str(tmp_path / "t")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    rows = [(i, "a", float(i)) for i in range(8)]
    write_delta(_df(spark, rows).coalesce(1), t, mode="error")    # v0
    delete_where_delta(spark, t, F.col("k") % 4 == 0)             # v1: DV
    delete_where_delta(spark, t, F.col("k") % 2 == 0)             # v2: grown DV
    optimize_delta(spark, t)                                      # v3: invisible
    _run(spark, t, out, ckpt, readChangeFeed="true")
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    exp = sorted(
        [(i, "a", float(i), "insert", 0) for i in range(8)]
        + [(i, "a", float(i), "delete", 1) for i in (0, 4)]
        + [(i, "a", float(i), "delete", 2) for i in (2, 6)]
    )
    assert got == exp
    # batch twin equivalence on the same range
    from aws_datalake_framework_api_spark.sources.delta import (
        read_delta_changes,
    )

    batch = sorted(
        tuple(r)
        for r in read_delta_changes(spark, t, 0, 3).collect()
    )
    assert batch == sorted(
        [(i, "a", float(i), "delete", 1) for i in (0, 4)]
        + [(i, "a", float(i), "delete", 2) for i in (2, 6)]
    )


def test_cdf_stream_emits_restored_rows_as_inserts(spark, tmp_path):
    """A non-growing DV transition — RESTORE re-adding a file WITHOUT
    the deletion vector a later version gave it — must stream the
    resurrected rows as inserts, not silence (ADVICE r8: the dv_delta
    path only emitted new-minus-old dead positions, so a shrunk or
    cleared vector streamed zero changes)."""
    from aws_datalake_framework_api_spark.sources.delta import (
        read_delta_changes,
        restore_delta,
    )

    register(spark)
    t = str(tmp_path / "t")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    rows = [(i, "a", float(i)) for i in range(6)]
    write_delta(_df(spark, rows).coalesce(1), t, mode="error")    # v0
    delete_where_delta(spark, t, F.col("k").isin(2, 4))           # v1: DV
    restore_delta(spark, t, 0)                                    # v2: DV cleared
    _run(spark, t, out, ckpt, readChangeFeed="true",
         startingVersion="2")
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == [
        (2, "a", 2.0, "insert", 2), (4, "a", 4.0, "insert", 2),
    ]
    # batch twin: identical change set for the restore commit
    batch = sorted(
        tuple(r) for r in read_delta_changes(spark, t, 1, 2).collect()
    )
    assert batch == [
        (2, "a", 2.0, "insert", 2), (4, "a", 4.0, "insert", 2),
    ]
    # partial restore the other way: grow-then-shrink via a second
    # delete and a restore to the MID state keeps per-row deltas exact
    delete_where_delta(spark, t, F.col("k").isin(0, 2))           # v3: new DV
    restore_delta(spark, t, 1)                                    # v4: back to {2,4} dead
    batch = sorted(
        tuple(r) for r in read_delta_changes(spark, t, 3, 4).collect()
    )
    # v1's vector kills {2,4}; v3's kills {0,2}; the v4 transition
    # v3→v1 restores 0 and newly-kills 4 in ONE commit
    assert batch == [
        (0, "a", 0.0, "insert", 4), (4, "a", 4.0, "delete", 4),
    ]
