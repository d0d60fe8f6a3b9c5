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


def test_changes_take_foreign_cdc_partition_values_by_file_name(
    spark, tmp_path
):
    """A foreign writer's cdc file holds only the data columns; its
    partition values live in the cdc action.  The batch reader scans
    such files in one scan beside this writer's cdc files, and each row
    must still carry its file's partition value (NULL included) and
    the version that committed it."""
    import json
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_datalake_framework_api_spark.sources.delta import (
        alter_table_properties_delta,
        read_delta_changes,
        update_delta,
    )

    t = str(tmp_path / "t")
    rows = [(i, ("a", "b", None)[i % 3], float(i)) for i in range(12)]
    write_delta(_df(spark, rows).coalesce(1), t, mode="error",
                partition_by=["part"])                            # v0
    alter_table_properties_delta(
        spark, t, {"delta.enableChangeDataFeed": "true"}
    )                                                             # v1
    update_delta(spark, t, F.col("k") < 6, {"v": -1.0})           # v2: cdc
    update_delta(spark, t, F.col("k") >= 9, {"v": -2.0})          # v3: cdc
    want = sorted(
        map(tuple, read_delta_changes(spark, t, 1, 3).collect()),
        key=repr,
    )
    assert {r[-1] for r in want} == {2, 3}
    assert {r[1] for r in want} == {"a", "b", None}

    # lay out v2's change files the way a foreign writer does: one
    # file per partition directory, the partition column only in the
    # action
    log = os.path.join(t, "_delta_log", f"{2:020d}.json")
    with open(log) as fh:
        acts = [json.loads(line) for line in fh if line.strip()]
    rewritten = []
    for a in acts:
        if "cdc" not in a:
            rewritten.append(a)
            continue
        table = pq.read_table(os.path.join(t, a["cdc"]["path"]))
        by_part: dict = {}
        for rec in table.to_pylist():
            by_part.setdefault(rec.pop("part"), []).append(rec)
        data_schema = table.schema.remove(table.schema.get_field_index("part"))
        for p, recs in by_part.items():
            d = f"part={'__HIVE_DEFAULT_PARTITION__' if p is None else p}"
            rel = f"_change_data/{d}/cdc-{uuid.uuid4()}.c000.snappy.parquet"
            os.makedirs(os.path.join(t, "_change_data", d), exist_ok=True)
            pq.write_table(
                pa.Table.from_pylist(recs, schema=data_schema),
                os.path.join(t, rel),
            )
            rewritten.append({"cdc": {
                "path": rel, "partitionValues": {"part": p},
                "size": os.path.getsize(os.path.join(t, rel)),
                "dataChange": False,
            }})
    with open(log, "w") as fh:
        fh.write("".join(json.dumps(a) + "\n" for a in rewritten))

    got = sorted(
        map(tuple, read_delta_changes(spark, t, 1, 3).collect()), key=repr
    )
    assert got == want
