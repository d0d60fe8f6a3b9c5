"""delta_stream source (streaming/delta_source.py): version-offset
tailing of a ``_delta_log``, checkpoint restart, DV subtraction,
and the dataChange-remove refusal gate."""

import os

import pytest

#: driver-budget split (r12): deep suite, excluded from the default
#: run by pytest.ini; runs via  pytest -m slow  in the builder's loop
pytestmark = pytest.mark.slow
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


def _sunk(spark, out):
    return sorted(tuple(r) for r in spark.read.parquet(out).collect())


def test_tail_appends_with_checkpoint_restart(spark, tmp_path):
    """Each availableNow run consumes exactly the versions committed
    since the checkpoint's last offset: no loss, no double-read."""
    register(spark)
    t = str(tmp_path / "t")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    write_delta(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1),
                t, mode="error", partition_by=["part"])
    _run(spark, t, out, ckpt)
    assert _sunk(spark, out) == [(1, "a", 1.0), (2, "b", 2.0)]
    write_delta(_df(spark, [(3, "a", 3.0)]).coalesce(1), t,
                mode="append", partition_by=["part"])
    _run(spark, t, out, ckpt)
    assert _sunk(spark, out) == [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]
    # no new commits -> nothing re-emitted
    _run(spark, t, out, ckpt)
    assert len(_sunk(spark, out)) == 3


def test_data_change_remove_refuses_by_default(spark, tmp_path):
    """A DELETE in the tailed range must fail the stream loudly, not
    stream silence; ignoreChanges=true opts into re-add streaming
    with DV positions subtracted."""
    register(spark)
    t = str(tmp_path / "t")
    write_delta(
        _df(spark, [(i, "x", float(i)) for i in range(5)]).coalesce(1),
        t, mode="error",
    )
    delete_where_delta(spark, t, F.col("k") == 2)
    with pytest.raises(Exception, match="ignoreChanges"):
        _run(spark, t, str(tmp_path / "o1"), str(tmp_path / "c1"))
    out, ckpt = str(tmp_path / "o2"), str(tmp_path / "c2")
    _run(spark, t, out, ckpt, ignoreChanges="true")
    # v0 add streams all 5; v1 re-add streams the LIVE 4 (DV applied)
    rows = _sunk(spark, out)
    assert [r for r in rows if r[0] == 2] == [(2, "x", 2.0)]  # only from v0
    assert len(rows) == 9


def test_optimize_commits_are_invisible_to_the_tail(spark, tmp_path):
    """dataChange=false adds/removes (OPTIMIZE) must not re-emit."""
    register(spark)
    t = str(tmp_path / "t")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    for i in range(3):
        write_delta(_df(spark, [(i, "x", float(i))]).coalesce(1), t,
                    mode="error" if i == 0 else "append")
    _run(spark, t, out, ckpt)
    assert len(_sunk(spark, out)) == 3
    assert optimize_delta(spark, t)["files_after"] == 1
    _run(spark, t, out, ckpt)  # compaction tail: nothing new
    assert len(_sunk(spark, out)) == 3


def test_starting_version_skips_history(spark, tmp_path):
    register(spark)
    t = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]).coalesce(1), t, mode="error")
    write_delta(_df(spark, [(2, "b", 2.0)]).coalesce(1), t, mode="append")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(spark, t, out, ckpt, startingVersion="1")
    assert _sunk(spark, out) == [(2, "b", 2.0)]


# ------------------------------------------------------ iceberg_stream (r6)


def test_iceberg_tail_appends_with_restart(spark, tmp_path):
    from aws_datalake_framework_api_spark.sources.iceberg import write_iceberg
    from aws_datalake_framework_api_spark.streaming.iceberg_source import (
        register as ice_register,
    )

    ice_register(spark)
    t = str(tmp_path / "t")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        q = (
            spark.readStream.format("iceberg_stream").load(t)
            .writeStream.trigger(availableNow=True).format("parquet")
            .option("path", out).option("checkpointLocation", ckpt).start()
        )
        q.awaitTermination()

    write_iceberg(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1),
                  t, mode="error", partition_by=["part"])
    run()
    assert _sunk(spark, out) == [(1, "a", 1.0), (2, "b", 2.0)]
    write_iceberg(_df(spark, [(3, "a", 3.0)]).coalesce(1), t,
                  mode="append", partition_by=["part"])
    run()
    assert _sunk(spark, out) == [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]
    run()  # nothing new
    assert len(_sunk(spark, out)) == 3


def test_iceberg_delete_and_upsert_snapshots_refuse(spark, tmp_path):
    """Both a position-delete snapshot and an upsert refuse the tail
    by default (their removals are invisible to an append stream);
    ignoreChanges streams only the added files."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        delete_iceberg_rows, upsert_iceberg, write_iceberg,
    )
    from aws_datalake_framework_api_spark.streaming.iceberg_source import (
        register as ice_register,
    )

    ice_register(spark)
    t = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(i, "x", float(i)) for i in range(4)]).coalesce(1),
        t, mode="error",
    )
    delete_iceberg_rows(spark, t, F.col("k") == 1)
    upsert_iceberg(spark, t, _df(spark, [(2, "X", 20.0)]).coalesce(1), on=["k"])

    def run(out, ckpt, **opts):
        reader = spark.readStream.format("iceberg_stream")
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load(t)
            .writeStream.trigger(availableNow=True).format("parquet")
            .option("path", out).option("checkpointLocation", ckpt).start()
        )
        q.awaitTermination()

    with pytest.raises(Exception, match="ignoreChanges"):
        run(str(tmp_path / "o1"), str(tmp_path / "c1"))
    out = str(tmp_path / "o2")
    run(out, str(tmp_path / "c2"), ignoreChanges="true")
    rows = _sunk(spark, out)
    # v0's 4 rows + the upsert's added file (the new k=2 version)
    assert (2, "X", 20.0) in rows and len(rows) == 5


def test_iceberg_stream_resolves_renamed_columns_by_field_id(spark, tmp_path):
    """A stream started AFTER a rename must read pre-rename files by
    parquet field id — silent NULLs for the renamed column would be a
    misread."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        evolve_iceberg, write_iceberg,
    )
    from aws_datalake_framework_api_spark.streaming.iceberg_source import (
        register as ice_register,
    )

    ice_register(spark)
    t = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]).coalesce(1), t, mode="error")
    evolve_iceberg(t, renames={"v": "amount"})
    write_iceberg(
        spark.createDataFrame(
            [(2, "b", 2.0)], "k int, part string, amount double"
        ).coalesce(1),
        t,
        mode="append",
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("iceberg_stream").load(t)
        .writeStream.trigger(availableNow=True).format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()
    )
    q.awaitTermination()
    sunk = spark.read.parquet(out)
    assert "amount" in sunk.columns
    assert sorted(tuple(r) for r in sunk.collect()) == [
        (1, "a", 1.0), (2, "b", 2.0)
    ]


def test_stream_resolves_name_mapped_table(spark, tmp_path):
    """columnMapping=name table: data files and add.partitionValues
    spell physical col-<uuid> names — the tail must resolve them to
    logical columns and typed partition values, never stream all-NULL
    rows (ADVICE r6; parity with the batch reader)."""
    from aws_datalake_framework_api_spark.sources.delta import (
        create_mapped_delta, write_delta as _wd,
    )

    register(spark)
    t = str(tmp_path / "t")
    create_mapped_delta(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1),
        t, partition_by=["part"],
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(spark, t, out, ckpt)
    assert _sunk(spark, out) == [(1, "a", 1.0), (2, "b", 2.0)]
    # appended commits resolve too (append path writes physical names)
    _wd(_df(spark, [(3, "a", 3.0)]).coalesce(1), t, mode="append",
        partition_by=["part"])
    _run(spark, t, out, ckpt)
    assert _sunk(spark, out) == [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]


def test_stream_resolves_id_mapped_table_by_field_id(spark, tmp_path):
    """columnMapping=id table: the tail matches file columns by parquet
    field id, the matching the protocol demands there (ADVICE r6)."""
    from aws_datalake_framework_api_spark.sources.delta import (
        create_mapped_delta,
    )

    register(spark)
    t = str(tmp_path / "t")
    create_mapped_delta(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1), t,
        mode="id",
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(spark, t, out, ckpt)
    assert _sunk(spark, out) == [(1, "a", 1.0), (2, "b", 2.0)]


def test_delta_stream_restart_after_log_truncation_fails_clearly(
    spark, tmp_path
):
    """Restarting a checkpointed tail whose NEXT version's commit JSON
    was cleaned up must fail with the specific 'version gone' error,
    never stream a gap as silence (VERDICT r6 item #6)."""
    from aws_datalake_framework_api_spark.sources.delta import (
        _version_file, checkpoint_delta,
    )

    register(spark)
    t = str(tmp_path / "t")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    write_delta(_df(spark, [(1, "a", 1.0)]).coalesce(1), t, mode="error")
    _run(spark, t, out, ckpt)  # checkpoint now at version 0
    write_delta(_df(spark, [(2, "b", 2.0)]).coalesce(1), t, mode="append")
    write_delta(_df(spark, [(3, "c", 3.0)]).coalesce(1), t, mode="append")
    checkpoint_delta(spark, t)  # snapshot replay survives the cleanup
    os.unlink(_version_file(t, 1))  # the version the checkpoint needs next
    with pytest.raises(Exception, match="JSON is gone|fresh checkpoint"):
        _run(spark, t, out, ckpt)


def test_iceberg_stream_restart_after_expiry_fails_clearly(spark, tmp_path):
    """Snapshot expiry SHIFTS snapshot-log positions; a restarted tail
    must detect that its anchored starting snapshot left the log and
    refuse with the specific error — silently re-interpreting the old
    position against the shifted log would re-read or skip snapshots
    (VERDICT r6 item #6)."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        expire_snapshots, write_iceberg,
    )
    from aws_datalake_framework_api_spark.streaming.iceberg_source import (
        register as ice_register,
    )

    ice_register(spark)
    t = str(tmp_path / "t")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        q = (
            spark.readStream.format("iceberg_stream").load(t)
            .writeStream.trigger(availableNow=True).format("parquet")
            .option("path", out).option("checkpointLocation", ckpt).start()
        )
        q.awaitTermination()

    write_iceberg(_df(spark, [(1, "a", 1.0)]).coalesce(1), t, mode="error")
    run()  # checkpoint anchored at snapshot 1
    write_iceberg(_df(spark, [(2, "b", 2.0)]).coalesce(1), t, mode="append")
    write_iceberg(_df(spark, [(3, "c", 3.0)]).coalesce(1), t, mode="append")
    expire_snapshots(spark, t, keep_last=1)  # the anchor snapshot expires
    with pytest.raises(Exception, match="no longer|fresh checkpoint"):
        run()


# ------------------------------------------------------- CDF stream tail


def test_cdf_stream_carries_update_delete_commits(spark, tmp_path):
    """readChangeFeed=true: a MERGE commit carrying updates AND
    deletes streams as row-level changes (pre/postimages from the
    cdc files) instead of refusing — the no-data-loss contract the
    plain tail cannot offer (r8, VERDICT r7 item #5)."""
    from aws_datalake_framework_api_spark.sources.delta import (
        alter_table_properties_delta,
        merge_delta,
    )

    register(spark)
    t = str(tmp_path / "t")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    write_delta(
        _df(spark, [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)])
        .coalesce(1),
        t, mode="error",
    )                                                           # v0
    alter_table_properties_delta(
        spark, t, {"delta.enableChangeDataFeed": "true"}
    )                                                           # v1
    merge_delta(
        spark, t,
        _df(spark, [(1, "a", 10.0), (2, "a", 0.0), (9, "c", 9.0)]),
        on=["k"],
        clauses=[
            {"when": "matched", "action": "update",
             "condition": "s.v > t.v"},
            {"when": "matched", "action": "delete"},
            {"when": "not_matched", "action": "insert"},
        ],
    )                                                           # v2
    _run(spark, t, out, ckpt, readChangeFeed="true", startingVersion="2")
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == sorted(
        [
            (1, "a", 1.0, "update_preimage", 2),
            (1, "a", 10.0, "update_postimage", 2),
            (2, "a", 2.0, "delete", 2),
            (9, "c", 9.0, "insert", 2),
        ]
    )
    # checkpoint advance: nothing re-emitted on a no-change rerun
    _run(spark, t, out, ckpt, readChangeFeed="true", startingVersion="2")
    assert len(_sunk(spark, out)) == 4


# --------------------------------------------- Iceberg changelog tail


def _run_ice(spark, table, out, ckpt, **opts):
    reader = spark.readStream.format("iceberg_stream")
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


def test_iceberg_changelog_stream_chunks_oversized_key_files(
    spark, tmp_path
):
    """r11 (the last refusal of the residency series): a single
    equality-delete key file LARGER than maxEqDeleteRows streams
    correctly — the option is the per-task key-chunk size now
    (iter_batches), not a refusal threshold.  A 3-key file processed
    with chunk=2 must kill exactly the same rows."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        delete_by_key_iceberg,
        write_iceberg,
    )
    from aws_datalake_framework_api_spark.streaming.iceberg_source import (
        register as ice_register,
    )

    ice_register(spark)
    t = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(i, "a", float(i)) for i in range(1, 9)])
        .coalesce(1),
        t, mode="error",
    )
    delete_by_key_iceberg(
        spark, t, spark.createDataFrame([(k,) for k in (2, 4, 6)], "k int")
    )
    expected = sorted(
        [(i, "a", float(i), "insert") for i in range(1, 9)]
        + [(i, "a", float(i), "delete") for i in (2, 4, 6)]
    )
    # chunk (2) < the single key file's rows (3): streams, same rows
    out, ckpt = str(tmp_path / "o1"), str(tmp_path / "c1")
    _run_ice(spark, t, out, ckpt, readChangeFeed="true",
             maxEqDeleteRows="2")
    assert sorted(
        tuple(r) for r in spark.read.parquet(out)
        .drop("_snapshot_id").collect()
    ) == expected
    # and with a chunk larger than the file
    out2, ckpt2 = str(tmp_path / "o2"), str(tmp_path / "c2")
    _run_ice(spark, t, out2, ckpt2, readChangeFeed="true",
             maxEqDeleteRows="1000")
    assert sorted(
        tuple(r) for r in spark.read.parquet(out2)
        .drop("_snapshot_id").collect()
    ) == expected


def test_iceberg_changelog_streams_eq_backlog_beyond_total_cap(
    spark, tmp_path
):
    """VERDICT r9 item #3: a long un-compacted equality-delete backlog
    (many small per-commit key files, Flink-CDC shape) must stream —
    the residency gate is per SINGLE key file now that tasks consult
    them one at a time, so a TOTAL key volume far above
    maxEqDeleteRows no longer refuses.  Rows must match the batch
    changelog reader exactly."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        delete_by_key_iceberg,
        history_iceberg,
        read_iceberg_changes,
        write_iceberg,
    )
    from aws_datalake_framework_api_spark.streaming.iceberg_source import (
        register as ice_register,
    )

    ice_register(spark)
    t = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(i, "a", float(i)) for i in range(1, 21)])
        .coalesce(1),
        t, mode="error",
    )
    # five separate eq-delete commits, 2 keys each: total 10 keys,
    # every single file = 2 keys
    for a, b in [(2, 3), (5, 6), (8, 9), (11, 12), (14, 15)]:
        delete_by_key_iceberg(
            spark, t, spark.createDataFrame([(a,), (b,)], "k int")
        )
    out, ckpt = str(tmp_path / "o"), str(tmp_path / "c")
    # cap 2 < total 10 but == the largest single file: streams fine
    _run_ice(spark, t, out, ckpt, readChangeFeed="true",
             maxEqDeleteRows="2", startingPos="1")
    got = sorted(
        tuple(r) for r in spark.read.parquet(out)
        .drop("_snapshot_id").collect()
    )
    hist = history_iceberg(spark, t)
    batch = sorted(
        tuple(r)
        for r in read_iceberg_changes(
            spark, t, hist[0]["snapshot_id"], hist[-1]["snapshot_id"]
        ).drop("_snapshot_id").collect()
    )
    assert got == batch
    assert got == sorted(
        (i, "a", float(i), "delete")
        for i in (2, 3, 5, 6, 8, 9, 11, 12, 14, 15)
    )


def test_cdf_stream_nullfills_added_column_for_old_files(spark, tmp_path):
    """Additive schema evolution mid-history: the CDF tail serves the
    CURRENT schema, so change rows derived from pre-evolution files
    carry NULL for the added column while post-evolution changes carry
    its values — never a misread, never a schema clash."""
    from aws_datalake_framework_api_spark.sources.delta import (
        alter_table_properties_delta,
        merge_delta,
    )

    register(spark)
    t = str(tmp_path / "t")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    write_delta(_df(spark, [(1, "a", 1.0)]).coalesce(1), t)      # v0
    alter_table_properties_delta(
        spark, t, {"delta.enableChangeDataFeed": "true"}
    )                                                            # v1
    wide = spark.createDataFrame(
        [(2, "b", 2.0, 20)], "k int, part string, v double, w int"
    )
    write_delta(wide.coalesce(1), t, mode="append",
                merge_schema=True)                               # v2
    merge_delta(
        spark, t,
        spark.createDataFrame(
            [(1, "a", 10.0, 100)], "k int, part string, v double, w int"
        ),
        on=["k"],
    )                                                            # v3
    _run(spark, t, out, ckpt, readChangeFeed="true")
    got = sorted(
        tuple(r) for r in spark.read.parquet(out).collect()
    )
    assert got == sorted([
        (1, "a", 1.0, None, "insert", 0),            # pre-evolution file
        (2, "b", 2.0, 20, "insert", 2),
        (1, "a", 1.0, None, "update_preimage", 3),   # cdc preimage of a
        # pre-evolution row: w was NULL before the update
        (1, "a", 10.0, 100, "update_postimage", 3),
    ])


def test_starting_timestamp_resolves_first_version_at_or_after(
    spark, tmp_path
):
    """startingTimestamp (delta-spark's streaming option) begins the
    tail at the FIRST version committed at-or-after the instant — the
    dual of batch timestampAsOf's at-or-before — and is mutually
    exclusive with startingVersion."""
    import datetime
    import time

    register(spark)
    t = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]).coalesce(1), t, mode="error")
    time.sleep(0.25)
    cut = datetime.datetime.now(datetime.timezone.utc)
    time.sleep(0.25)
    write_delta(_df(spark, [(2, "b", 2.0)]).coalesce(1), t, mode="append")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(spark, t, out, ckpt, startingTimestamp=cut.isoformat())
    assert _sunk(spark, out) == [(2, "b", 2.0)]
    # a pre-genesis instant tails everything
    out2 = str(tmp_path / "out2")
    _run(spark, t, out2, str(tmp_path / "ck2"),
         startingTimestamp="1970-01-01T00:00:00+00:00")
    assert len(_sunk(spark, out2)) == 2
    # both options together refuse
    with pytest.raises(Exception, match="mutually exclusive"):
        _run(spark, t, str(tmp_path / "o3"), str(tmp_path / "c3"),
             startingVersion="0", startingTimestamp=cut.isoformat())


def test_iceberg_starting_snapshot_id_skips_history(spark, tmp_path):
    """startingSnapshotId (iceberg-spark's start-snapshot-id): the
    tail begins AFTER the named snapshot, on both the append tail and
    the changelog tail; an expired/unknown id refuses loudly."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        history_iceberg, write_iceberg,
    )
    from aws_datalake_framework_api_spark.streaming.iceberg_source import (
        register as ice_register,
    )

    ice_register(spark)
    t = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]).coalesce(1), t, mode="error")
    write_iceberg(_df(spark, [(2, "b", 2.0)]).coalesce(1), t, mode="append")
    first = history_iceberg(spark, t)[0]["snapshot_id"]
    out = str(tmp_path / "out")
    _run_ice(spark, t, out, str(tmp_path / "ck"),
             startingSnapshotId=str(first))
    assert _sunk(spark, out) == [(2, "b", 2.0)]
    out2 = str(tmp_path / "out2")
    _run_ice(spark, t, out2, str(tmp_path / "ck2"),
             readChangeFeed="true", startingSnapshotId=str(first))
    assert sorted(
        tuple(r) for r in spark.read.parquet(out2)
        .drop("_snapshot_id").collect()
    ) == [(2, "b", 2.0, "insert")]
    with pytest.raises(Exception, match="not in the snapshot log"):
        _run_ice(spark, t, str(tmp_path / "o3"), str(tmp_path / "c3"),
                 startingSnapshotId="12345")
