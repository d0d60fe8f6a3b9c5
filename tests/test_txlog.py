"""Transaction-log table format (txlog.py): commit atomicity,
snapshot isolation, optimistic concurrency, history/time travel,
vacuum — the ACID-ish properties the lake and streaming tables built
on it ride on."""

import json
import os

import pytest

from pyspark.sql.types import LongType, StringType, StructField, StructType

from aws_datalake_framework_api_spark.txlog import LOG_DIR, TxLogTable

SCHEMA = StructType(
    [
        StructField("k", LongType(), True),
        StructField("v", StringType(), True),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def table(spark, tmp_path):
    return TxLogTable(spark, str(tmp_path / "t"))


def test_overwrite_append_read_roundtrip(spark, table):
    table.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    assert {r["k"] for r in table.read(SCHEMA).collect()} == {1, 2}
    table.append(_df(spark, [(3, "c")]))
    assert {r["k"] for r in table.read(SCHEMA).collect()} == {1, 2, 3}
    # append kept the old data dir + added one; overwrite resets to one
    assert len(table.snapshot()["dirs"]) == 2
    table.overwrite(_df(spark, [(9, "z")]))
    assert len(table.snapshot()["dirs"]) == 1
    assert {r["k"] for r in table.read(SCHEMA).collect()} == {9}


def test_history_and_time_travel(spark, table):
    table.overwrite(_df(spark, [(1, "a")]), op="create")
    table.append(_df(spark, [(2, "b")]))
    table.overwrite(_df(spark, [(3, "c")]), op="update")
    hist = table.history()
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert [h["op"] for h in hist] == ["create", "append", "update"]
    # every retained version stays readable (snapshot isolation in time)
    assert {r["k"] for r in table.read(SCHEMA, version=1).collect()} == {1}
    assert {r["k"] for r in table.read(SCHEMA, version=2).collect()} == {1, 2}
    assert {r["k"] for r in table.read(SCHEMA, version=3).collect()} == {3}


def test_staged_but_uncommitted_data_is_invisible(spark, table):
    """A crash between staging and commit must leave the table
    unchanged: readers resolve manifests, never list data dirs."""
    table.overwrite(_df(spark, [(1, "a")]))
    # simulate the crash: stage a data dir, never write a commit record
    orphan, _ = table._stage(_df(spark, [(666, "orphan")]))
    assert os.path.isdir(os.path.join(table.path, orphan))
    assert {r["k"] for r in table.read(SCHEMA).collect()} == {1}
    # vacuum removes the orphan, keeps the live dir
    removed = table.vacuum()
    assert orphan in removed
    assert {r["k"] for r in table.read(SCHEMA).collect()} == {1}


def test_commit_race_loser_rebases(spark, table):
    """Two writers racing for the same version: the hard-link publish
    makes version numbers mutually exclusive, and the loser retries on
    top of the winner's snapshot (append semantics survive)."""
    table.overwrite(_df(spark, [(1, "a")]))
    # simulate a concurrent writer claiming version 2 first
    winner = {
        "version": 2,
        "op": "append",
        "dirs": table.snapshot()["dirs"],
        "ts": "2026-01-01T00:00:00+00:00",
        "format": "txlog-v1",
    }
    with open(os.path.join(table.path, LOG_DIR, "00000002.json"), "w") as f:
        json.dump(winner, f)
    entry = table.append(_df(spark, [(2, "b")]))
    assert entry["version"] == 3  # rebased past the winner
    assert {r["k"] for r in table.read(SCHEMA).collect()} == {1, 2}


def test_stats_skipping_prunes_only_provably_dead_dirs(spark, table):
    """Manifest stats must carry through append rebases, prune exactly
    the dirs whose [min,max] cannot intersect the range, and keep any
    dir without stats (or with NULL stats) conservatively."""
    table.append(_df(spark, [(1, "a"), (5, "b")]), stats_cols=("k",))
    table.append(_df(spark, [(10, "c"), (20, "d")]), stats_cols=("k",))
    table.append(_df(spark, [(100, "e")]), stats_cols=("k",))
    table.append(_df(spark, [(7, "no-stats")]))  # stats omitted → always kept

    kept, skipped = table.prune_dirs("k", 8, 30)
    assert len(kept) == 2 and len(skipped) == 2  # [10,20] dir + stat-less dir

    got = {r["k"] for r in table.read_range(SCHEMA, "k", 8, 30).collect()}
    assert got == {10, 20}  # row filter still applies inside kept dirs

    # NULL-valued stats column: min/max are None → conservatively kept.
    table.append(_df(spark, [(None, "f")]), stats_cols=("k",))
    kept2, _ = table.prune_dirs("k", 8, 30)
    assert len(kept2) == 3


def test_stats_survive_in_manifest_json(spark, table):
    """Stats are manifest payload (one JSON read decides pruning), not
    parquet-footer reads at query time."""
    table.append(_df(spark, [(3, "x"), (9, "y")]), stats_cols=("k",))
    snap = table.snapshot()
    (d,) = snap["dirs"]
    assert snap["stats"][d]["k"] == [3, 9]


def test_deletion_vectors_merge_on_read(spark, table):
    """DELETE commits no data rewrite; tombstones are scoped to the
    dirs that existed at delete time, so a later re-insert of the same
    key is visible; purge folds DVs in and vacuum reclaims the
    tombstone + shadowed dirs."""
    table.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    dirs_before = set(table.snapshot()["dirs"])

    table.delete_keys(_df(spark, [(2, None)]).select("k"), "k")
    snap = table.snapshot()
    assert set(snap["dirs"]) == dirs_before  # data untouched
    assert len(snap["dv"]) == 1
    assert {r["k"] for r in table.read(SCHEMA).collect()} == {1, 3}

    # re-insert AFTER the delete: new dir is not covered by the DV
    table.append(_df(spark, [(2, "b2")]))
    got = {(r["k"], r["v"]) for r in table.read(SCHEMA).collect()}
    assert got == {(1, "a"), (3, "c"), (2, "b2")}

    # purge materializes the DV-applied state; vacuum reclaims the
    # tombstone dir and the two pre-purge data dirs
    table.purge_deletes(SCHEMA)
    assert table.snapshot()["dv"] == []
    removed = table.vacuum()
    assert len(removed) == 3
    assert {(r["k"], r["v"]) for r in table.read(SCHEMA).collect()} == got


def test_dv_read_is_broadcast_anti_join(spark, table):
    """The merge-on-read cost model in-plan: tombstones apply as a
    BROADCAST anti-join (the tombstone side is small by design) — a
    shuffled anti-join would tax every read with a full-data exchange."""
    import contextlib
    import io

    table.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    table.delete_keys(_df(spark, [(2, None)]).select("k"), "k")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        table.read(SCHEMA).explain("formatted")
    plan = buf.getvalue()
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_restore_is_forward_commit_reusing_old_dirs(spark, table):
    """RESTORE: v4 reproduces v1's content by REUSING its dirs (no
    data rewrite), history keeps the bad versions, and a vacuum after
    the restore reclaims only the rolled-back dirs."""
    table.append(_df(spark, [(1, "a"), (2, "b")]))       # v1 good
    table.append(_df(spark, [(3, "bad")]))               # v2 bad
    table.delete_keys(_df(spark, [(1, "a")]).select("k"), "k")  # v3 bad
    entry = table.restore(1)
    assert entry["op"] == "restore"
    assert entry["meta"]["restored_from"] == 1
    assert {r["k"] for r in table.read(SCHEMA).collect()} == {1, 2}
    assert [h["version"] for h in table.history()] == [1, 2, 3, 4]
    # restored manifest REUSES v1's dir names — nothing was rewritten
    assert table.snapshot()["dirs"] == table.snapshot(1)["dirs"]
    # vacuum now reclaims the bad append's dir (+ the DV tombstone dir)
    removed = table.vacuum()
    assert len(removed) >= 1
    assert {r["k"] for r in table.read(SCHEMA).collect()} == {1, 2}


def test_restore_to_missing_version_raises(spark, table):
    table.append(_df(spark, [(1, "a")]))
    import pytest

    with pytest.raises(ValueError):
        table.restore(99)
