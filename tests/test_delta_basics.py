"""Delta table basics kept in the default (not ``slow``) test run:
append/overwrite with time travel, vacuum, stats-based file skipping,
deletion-vector deletes and restore — the table operations the lake
exhibits and streaming sinks build on.  The deep protocol suite is
tests/test_delta.py."""

import json
import os

import pytest
from pyspark.sql import functions as F

from aws_datalake_framework_api_spark.sources.delta import (
    _commit,
    _version_file,
    prune_files,
    read_delta,
    read_delta_range,
    vacuum_delta,
    write_delta,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, part string, v double")


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _adds_at_version(path, v):
    with open(_version_file(path, v)) as fh:
        return [
            json.loads(line)["add"]
            for line in fh
            if line.strip() and "add" in json.loads(line)
        ]


def test_append_overwrite_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    write_delta(_df(spark, [(9, "z", 9.0)]), path, mode="overwrite")
    assert _sorted_rows(read_delta(spark, path)) == [(9, "z", 9.0)]
    # time travel: version 1 still sees the pre-overwrite rows
    assert _sorted_rows(read_delta(spark, path, version_as_of=1)) == [
        (1, "a", 1.0),
        (2, "b", 2.0),
    ]
    assert _sorted_rows(read_delta(spark, path, version_as_of=0)) == [
        (1, "a", 1.0)
    ]
    with pytest.raises(FileExistsError):
        write_delta(_df(spark, [(0, "x", 0.0)]), path, mode="error")


def test_vacuum_reclaims_tombstoned_files_only(spark, tmp_path):
    """VACUUM with zero retention deletes files the current version no
    longer references (tombstones AND orphan debris) while the live
    snapshot stays readable; time travel past the vacuum horizon dies,
    which is the documented Delta contract."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_delta(_df(spark, [(9, "z", 9.0)]), path, mode="overwrite")
    with open(os.path.join(path, "debris.parquet"), "wb") as fh:
        fh.write(b"junk")
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    res = vacuum_delta(spark, path, retention_ms=0, force=True)
    assert res["deleted_files"] >= 1
    n_after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_after < n_before
    assert _sorted_rows(read_delta(spark, path)) == [(9, "z", 9.0)]
    # a second vacuum is a no-op
    assert vacuum_delta(spark, path, retention_ms=0, force=True)["deleted_files"] == 0


def test_stats_skipping_prunes_files_losslessly(spark, tmp_path):
    """Four disjoint-range appends; a range read inside one slice must
    skip the other three via add.stats alone, and return exactly the
    rows an unpruned scan + filter returns."""
    path = str(tmp_path / "t")
    for i, mode in zip(range(4), ["error", "append", "append", "append"]):
        rows = [(k, "p", float(k)) for k in range(i * 100, i * 100 + 50)]
        write_delta(
            spark.createDataFrame(rows, "k int, part string, v double")
            .coalesce(1),
            path,
            mode=mode,
        )
    kept, skipped = prune_files(spark, path, "k", 110, 140)
    assert len(kept) == 1 and len(skipped) == 3
    got = _sorted_rows(read_delta_range(spark, path, "k", 110, 140))
    want = _sorted_rows(read_delta(spark, path).filter("k BETWEEN 110 AND 140"))
    assert got == want and len(got) == 31


def test_delete_where_writes_deletion_vectors(spark, tmp_path):
    """delete_where_delta must delete by DV, not rewrite: data files
    keep their bytes, the protocol upgrades to (3,7)+deletionVectors,
    and repeated deletes UNION into the replacement vector."""
    from aws_datalake_framework_api_spark.sources.delta import delete_where_delta

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "x", float(i)) for i in range(10)], "k int, part string, v double"
    ).coalesce(1)
    write_delta(df, path, mode="error")
    data = {
        a["path"]: os.path.getmtime(os.path.join(path, a["path"]))
        for a in _adds_at_version(path, 0)
    }
    v, n = delete_where_delta(spark, path, F.col("k") < 3)
    assert (v, n) == (1, 3)
    for p, mt in data.items():  # no data file rewritten
        assert os.path.getmtime(os.path.join(path, p)) == mt
    assert sorted(r["k"] for r in read_delta(spark, path).collect()) == [
        3, 4, 5, 6, 7, 8, 9,
    ]
    # protocol upgraded exactly once
    with open(_version_file(path, 1)) as fh:
        acts = [json.loads(line) for line in fh]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["readerFeatures"]
    # second delete unions with the existing vector, no new upgrade
    v, n = delete_where_delta(spark, path, F.col("k") == 5)
    assert (v, n) == (2, 1)
    with open(_version_file(path, 2)) as fh:
        acts = [json.loads(line) for line in fh]
    assert not any("protocol" in a for a in acts)
    assert sorted(r["k"] for r in read_delta(spark, path).collect()) == [
        3, 4, 6, 7, 8, 9,
    ]
    # pre-delete versions still time-travel complete
    assert read_delta(spark, path, version_as_of=0).count() == 10
    # no match commits nothing
    assert delete_where_delta(spark, path, F.col("k") == 999) == (2, 0)


def test_restore_delta_preserves_history(spark, tmp_path):
    """RESTORE re-points the table at an old snapshot in ONE commit
    without copying data; history to the un-restored state survives,
    a vacuumed old file refuses, and appendOnly refuses."""
    from aws_datalake_framework_api_spark.sources.delta import (
        delete_where_delta,
        restore_delta,
    )

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    delete_where_delta(spark, path, F.col("k") == 1)  # v2: DV delete
    write_delta(_df(spark, [(9, "z", 9.0)]), path, mode="overwrite")
    assert _sorted_rows(read_delta(spark, path)) == [(9, "z", 9.0)]
    v = restore_delta(spark, path, 1)  # pre-delete, pre-overwrite
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0),
    ]
    # un-restored state still time-travels
    assert _sorted_rows(read_delta(spark, path, version_as_of=3)) == [
        (9, "z", 9.0)
    ]
    # restoring to the DV-delete version applies the vector again
    restore_delta(spark, path, 2)
    assert _sorted_rows(read_delta(spark, path)) == [(2, "b", 2.0)]
    ops = [h["operation"] for h in
           __import__("aws_datalake_framework_api_spark.sources.delta",
                      fromlist=["history_delta"]).history_delta(spark, path)]
    assert ops.count("RESTORE") == 2
    # appendOnly refuses restores
    import json as _json

    snap_meta = _json.loads(
        open(_version_file(path, 0)).readlines()[2]
    )["metaData"]
    snap_meta["configuration"] = {"delta.appendOnly": "true"}
    _commit(path, v + 2, [{"metaData": snap_meta}])
    with pytest.raises(ValueError, match="append-only"):
        restore_delta(spark, path, 1)


def test_restore_to_missing_version_raises(spark, tmp_path):
    from aws_datalake_framework_api_spark.sources.delta import restore_delta

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    with pytest.raises(ValueError, match="not reconstructable"):
        restore_delta(spark, path, 99)
    assert _sorted_rows(read_delta(spark, path)) == [(1, "a", 1.0)]


def test_last_txn_version_is_minus_one_without_a_table(spark, tmp_path):
    """A sink that has never committed reads watermark -1, whether its
    path does not exist yet or holds no Delta log — the first batch's
    replay guard must not raise."""
    from aws_datalake_framework_api_spark.sources.delta import (
        last_txn_version,
    )

    missing = str(tmp_path / "never_written")
    assert last_txn_version(spark, missing, "app") == -1
    empty = tmp_path / "empty_dir"
    empty.mkdir()
    assert last_txn_version(spark, str(empty), "app") == -1
    write_delta(
        _df(spark, [(1, "a", 1.0)]), str(empty), mode="error",
        txn=("app", 3),
    )
    assert last_txn_version(spark, str(empty), "app") == 3


def test_write_at_read_version_conflicts_once_the_table_moved(
    spark, tmp_path, monkeypatch
):
    """``read_version`` makes a write land only as the next version
    after the one it read.  A table already past it raises
    ``CommitConflict`` before anything is staged; a rival claiming the
    next version mid-write raises too — even for an append, which
    without ``read_version`` would be rebased onto the rival."""
    import aws_datalake_framework_api_spark.sources.delta as delta_mod
    from aws_datalake_framework_api_spark.sources.delta import (
        CommitConflict,
        history_delta,
    )

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_delta(_df(spark, [(2, "a", 2.0)]), path, mode="append")  # v1
    with pytest.raises(CommitConflict):
        write_delta(_df(spark, [(9, "x", 9.0)]), path, mode="overwrite",
                    read_version=0)
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "a", 2.0)
    ]

    stage = delta_mod._stage_files
    rivals = []

    def rival_commits_first(*args, **kwargs):
        if not rivals:  # the rival's own write stages normally
            rivals.append(True)
            write_delta(_df(spark, [(3, "r", 3.0)]), path, mode="append")
        return stage(*args, **kwargs)

    monkeypatch.setattr(delta_mod, "_stage_files", rival_commits_first)
    with pytest.raises(CommitConflict):
        write_delta(_df(spark, [(4, "x", 4.0)]), path, mode="append",
                    read_version=1)
    assert [h["version"] for h in history_delta(spark, path)][-1] == 2
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "a", 2.0), (3, "r", 3.0)
    ]
    # the same race without read_version: a blind append is rebased
    rivals.clear()
    assert write_delta(_df(spark, [(5, "b", 5.0)]), path, mode="append") == 4
    assert (5, "b", 5.0) in _sorted_rows(read_delta(spark, path))


def test_write_that_commits_nothing_unlinks_its_staged_files(
    spark, tmp_path, monkeypatch
):
    """A write that loses its commit deletes the data files it staged:
    after a rival claims the version a ``read_version`` overwrite
    computed against, and after a rival applies the same ``txn`` first,
    every parquet file in the table root is named by some ``add`` in
    the log."""
    import urllib.parse

    import aws_datalake_framework_api_spark.sources.delta as delta_mod
    from aws_datalake_framework_api_spark.sources.delta import (
        CommitConflict,
        _table_version,
    )

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    stage = delta_mod._stage_files
    rival_writes = []

    def rival_commits_first(*args, **kwargs):
        if rival_writes:  # the rival's own write stages normally
            rows, txn = rival_writes.pop()
            write_delta(_df(spark, rows), path, mode="append", txn=txn)
        return stage(*args, **kwargs)

    def orphans():
        added = {
            urllib.parse.unquote(a["path"])
            for v in range(_table_version(path) + 1)
            for a in _adds_at_version(path, v)
        }
        return {
            f for f in os.listdir(path) if f.endswith(".parquet")
        } - added

    monkeypatch.setattr(delta_mod, "_stage_files", rival_commits_first)
    rival_writes.append(([(2, "r", 2.0)], ("app", 1)))
    with pytest.raises(CommitConflict):
        write_delta(_df(spark, [(3, "x", 3.0)]), path, mode="overwrite",
                    read_version=0)
    assert orphans() == set()
    # a blind append carrying the txn the rival already applied
    rival_writes.append(([(4, "r", 4.0)], ("app", 2)))
    v = write_delta(_df(spark, [(4, "r", 4.0)]), path, mode="append",
                    txn=("app", 2))
    assert v == _table_version(path)
    assert orphans() == set()
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "r", 2.0), (4, "r", 4.0)
    ]
