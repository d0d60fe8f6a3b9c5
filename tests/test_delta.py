"""Delta-protocol connector tests (sources/delta.py): round-trip,
append/overwrite semantics, time travel, checkpoint replay, partition
tombstones + value injection, protocol gating, commit atomicity, and
URL-encoded log paths — each against the PUBLIC log layout, never the
directory listing."""

import json
import os

import pytest

#: driver-budget split (r12): deep suite, excluded from the default
#: run by pytest.ini; runs via  pytest -m slow  in the builder's loop
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from aws_datalake_framework_api_spark.sources.delta import (
    _commit,
    _list_versions,
    _version_file,
    checkpoint_delta,
    delete_partition,
    history_delta,
    last_txn_version,
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


def test_roundtrip_unpartitioned(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _df(spark, [(1, "a", 1.5), (2, "b", 2.5)])
    assert write_delta(df, path, mode="error") == 0
    back = read_delta(spark, path)
    assert back.schema == df.schema
    assert _sorted_rows(back) == _sorted_rows(df)


def test_partition_values_injected_from_log(spark, tmp_path):
    """Partitioned data files do NOT contain the partition column; the
    reader must materialize it from add.partitionValues."""
    path = str(tmp_path / "t")
    df = _df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)])
    write_delta(df, path, mode="error", partition_by=["part"])
    # data files are flattened into the root with no hive dirs: the
    # partition column can only have come from the log
    data_files = [
        f for f in os.listdir(path) if f.endswith(".parquet")
    ]
    assert data_files and all(os.path.isfile(os.path.join(path, f)) for f in data_files)
    raw = spark.read.parquet(os.path.join(path, data_files[0]))
    assert "part" not in raw.columns
    assert _sorted_rows(read_delta(spark, path)) == _sorted_rows(df)


def test_partition_delete_is_metadata_only(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)])
    write_delta(df, path, mode="error", partition_by=["part"])
    n_files_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    delete_partition(spark, path, "part", "a")
    # no data file was touched — only tombstones were written
    n_files_after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_files_after == n_files_before
    assert _sorted_rows(read_delta(spark, path)) == [(2, "b", 2.0)]


def test_checkpoint_caps_json_replay(spark, tmp_path):
    """After a checkpoint, the reader must reconstruct state WITHOUT
    the earlier JSON commits — prove it by deleting them."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error",
                partition_by=["part"])
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append",
                partition_by=["part"])
    checkpoint_delta(spark, path)
    write_delta(_df(spark, [(3, "c", 3.0)]), path, mode="append",
                partition_by=["part"])
    os.unlink(_version_file(path, 0))
    os.unlink(_version_file(path, 1))
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0),
        (2, "b", 2.0),
        (3, "c", 3.0),
    ]


def test_unsupported_reader_features_refused(spark, tmp_path):
    """A table demanding a reader feature we don't implement (e.g.
    variantType) must be refused, not misread.  (columnMapping,
    deletionVectors and v2Checkpoint graduated from this list in r6;
    typeWidening in r9.)"""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    _commit(
        path,
        1,
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["variantType"]}}],
    )
    with pytest.raises(ValueError, match="variantType"):
        read_delta(spark, path)
    # time travel to the pre-upgrade version still works
    assert _sorted_rows(read_delta(spark, path, version_as_of=0)) == [
        (1, "a", 1.0)
    ]


def test_commit_atomicity_put_if_absent(spark, tmp_path):
    """Two writers racing the same version: exactly one wins."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    _commit(path, 1, [{"commitInfo": {"operation": "WINNER"}}])
    with pytest.raises(FileExistsError):
        _commit(path, 1, [{"commitInfo": {"operation": "LOSER"}}])
    with open(_version_file(path, 1)) as fh:
        assert json.loads(fh.readline())["commitInfo"]["operation"] == "WINNER"
    assert _list_versions(path) == [0, 1]


def test_url_encoded_paths(spark, tmp_path):
    """add.path is URL-encoded per the protocol; the reader must
    decode it before touching the filesystem."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    # hand-craft a second add whose physical name needs decoding;
    # link the NON-EMPTY part file (a 1-row write can also emit
    # zero-row parts, and listdir order is arbitrary)
    src = max(
        (f for f in os.listdir(path) if f.endswith(".parquet")),
        key=lambda f: os.path.getsize(os.path.join(path, f)),
    )
    fancy = "part with space.parquet"
    os.link(os.path.join(path, src), os.path.join(path, fancy))
    _commit(
        path,
        1,
        [{"add": {"path": "part%20with%20space.parquet",
                  "partitionValues": {}, "size": 1,
                  "modificationTime": 0, "dataChange": True}}],
    )
    assert read_delta(spark, path).count() == 2


def test_reads_are_log_addressed_not_listed(spark, tmp_path):
    """An orphan parquet file in the table dir (failed writer debris)
    must be invisible: the log, not the listing, names the data."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    orphan = _df(spark, [(99, "x", 99.0)])
    orphan.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "o"))
    part = [f for f in os.listdir(str(tmp_path / "o")) if f.endswith(".parquet")][0]
    os.replace(os.path.join(str(tmp_path / "o"), part),
               os.path.join(path, "orphan-debris.parquet"))
    assert _sorted_rows(read_delta(spark, path)) == [(1, "a", 1.0)]


def test_pushdown_reaches_branch_scans(spark, tmp_path):
    """Each per-partition branch is a plain parquet FileScan: a filter
    on the read must appear as a PushedFilter, and the injected
    partition column must prune whole branches at plan time."""
    path = str(tmp_path / "t")
    df = _df(spark, [(i, "a" if i % 2 else "b", float(i)) for i in range(10)])
    write_delta(df, path, mode="error", partition_by=["part"])
    plan = (
        read_delta(spark, path)
        .filter((F.col("k") > 3) & (F.col("part") == "a"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(k), GreaterThan(k,3)]" in plan


def test_log_gap_past_replay_start_refused(spark, tmp_path):
    """A missing commit INSIDE the replay range means the state cannot
    be reconstructed — the reader must refuse, not return a silently
    partial table.  (Gaps before a checkpoint are fine: log cleanup.)"""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    write_delta(_df(spark, [(3, "c", 3.0)]), path, mode="append")
    os.unlink(_version_file(path, 1))
    with pytest.raises(ValueError, match="delta log gap"):
        read_delta(spark, path)
    # version 0 alone is still reconstructable
    assert _sorted_rows(read_delta(spark, path, version_as_of=0)) == [
        (1, "a", 1.0)
    ]


# ---------------------------------------------------------- property test

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_PARTS = ["a", "b", "c"]
_row = st.tuples(
    st.integers(min_value=0, max_value=99),
    st.sampled_from(_PARTS),
    st.floats(min_value=0, max_value=9, allow_nan=False, width=32),
)
_op = st.one_of(
    st.tuples(st.just("append"), st.lists(_row, min_size=0, max_size=4)),
    st.tuples(st.just("overwrite"), st.lists(_row, min_size=0, max_size=4)),
    st.tuples(st.just("delete"), st.sampled_from(_PARTS)),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op, min_size=1, max_size=5))
def test_delta_log_replay_matches_sequential_model(spark, tmp_path_factory, ops):
    """Model-based check: ANY sequence of append / overwrite /
    partition-delete commits must replay — at EVERY version — to the
    same state a plain sequential model holds.  Covers interleavings
    the example tests don't enumerate (delete of a never-written
    partition, overwrite-after-delete, empty appends...)."""
    path = str(tmp_path_factory.mktemp("dl") / "t")
    schema = "k int, part string, v float"
    model: list[list[tuple]] = []
    active: list[tuple] = []
    first = True
    for op in ops:
        if op[0] == "append":
            rows = [tuple(r) for r in op[1]]
            write_delta(
                spark.createDataFrame(rows, schema),
                path,
                mode="error" if first else "append",
                partition_by=["part"],
            )
            first = False
            active = active + rows
        elif op[0] == "overwrite":
            rows = [tuple(r) for r in op[1]]
            write_delta(
                spark.createDataFrame(rows, schema),
                path,
                mode="error" if first else "overwrite",
                partition_by=["part"],
            )
            first = False
            active = rows
        else:
            if first:
                continue  # no table yet to delete from
            delete_partition(spark, path, "part", op[1])
            active = [r for r in active if r[1] != op[1]]
        model.append(sorted(active))
    for version, expected in enumerate(model):
        got = _sorted_rows(read_delta(spark, path, version_as_of=version))
        assert got == expected, f"version {version}: {got} != {expected}"


def test_history_lists_operations(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error",
                partition_by=["part"])
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append",
                partition_by=["part"])
    delete_partition(spark, path, "part", "a")
    h = history_delta(spark, path)
    assert [e["version"] for e in h] == [0, 1, 2]
    assert [e["operation"] for e in h] == ["WRITE", "WRITE", "DELETE"]


def test_stats_survive_checkpoint(spark, tmp_path):
    """File skipping must still work when state comes from a parquet
    checkpoint instead of the JSON commits."""
    path = str(tmp_path / "t")
    for i, mode in zip(range(2), ["error", "append"]):
        rows = [(k, "p", float(k)) for k in range(i * 100, i * 100 + 50)]
        write_delta(
            spark.createDataFrame(rows, "k int, part string, v double")
            .coalesce(1),
            path,
            mode=mode,
        )
    checkpoint_delta(spark, path)
    os.unlink(_version_file(path, 0))
    os.unlink(_version_file(path, 1))
    kept, skipped = prune_files(spark, path, "k", 0, 10)
    assert len(kept) == 1 and len(skipped) == 1
    assert read_delta_range(spark, path, "k", 0, 10).count() == 11


def test_missing_stats_kept_conservatively(spark, tmp_path):
    """An add action without stats (foreign writer) is never pruned."""
    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(1, "a", 1.0)]).coalesce(1), path, mode="error"
    )
    src = max(
        (f for f in os.listdir(path) if f.endswith(".parquet")),
        key=lambda f: os.path.getsize(os.path.join(path, f)),
    )
    os.link(os.path.join(path, src), os.path.join(path, "foreign.parquet"))
    _commit(
        path,
        1,
        [{"add": {"path": "foreign.parquet", "partitionValues": {},
                  "size": 1, "modificationTime": 0, "dataChange": True}}],
    )
    kept, skipped = prune_files(spark, path, "k", 500, 600)
    assert "foreign.parquet" in kept  # no stats -> unprunable
    assert len(skipped) >= 1  # the stats-bearing original IS pruned


def test_txn_action_makes_appends_idempotent(spark, tmp_path):
    """A retried micro-batch (same appId + batch version) must land
    exactly once; a NEW batch version lands normally."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(0, "a", 0.0)]), path, mode="error")
    write_delta(_df(spark, [(1, "b", 1.0)]), path, mode="append",
                txn=("stream-1", 7))
    assert read_delta(spark, path).count() == 2
    # crash-retry of batch 7: no duplicate rows, version unchanged
    v = write_delta(_df(spark, [(1, "b", 1.0)]), path, mode="append",
                    txn=("stream-1", 7))
    assert read_delta(spark, path).count() == 2
    assert v == 1
    assert last_txn_version(spark, path, "stream-1") == 7
    assert last_txn_version(spark, path, "other-app") == -1
    # the next batch commits
    write_delta(_df(spark, [(2, "c", 2.0)]), path, mode="append",
                txn=("stream-1", 8))
    assert read_delta(spark, path).count() == 3


def test_mismatched_stat_types_kept_conservatively(spark, tmp_path):
    """Bounds that don't compare with a foreign writer's stats types
    must keep the file, not crash or prune it."""
    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(1, "a", 1.0)]).coalesce(1), path, mode="error"
    )
    kept, skipped = prune_files(spark, path, "k", "zzz", "zzz2")
    assert skipped == [] and len(kept) >= 1


# ----------------------------------------------- review-hardening tests


def test_checkpoint_only_table_is_still_an_existing_table(spark, tmp_path):
    """After full JSON cleanup (checkpoint only), writes must version
    PAST the checkpoint — basing the next version on JSON files alone
    would commit version 0 over live state and lose the append."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    checkpoint_delta(spark, path)
    os.unlink(_version_file(path, 0))
    os.unlink(_version_file(path, 1))
    # mode="error" must refuse: the table exists
    with pytest.raises(FileExistsError):
        write_delta(_df(spark, [(0, "x", 0.0)]), path, mode="error")
    v = write_delta(_df(spark, [(3, "c", 3.0)]), path, mode="append")
    assert v == 2
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0),
    ]
    # maintenance ops work on the checkpoint-only-plus-tail state too
    assert checkpoint_delta(spark, path) == 2
    delete_partition(spark, path, "part", "never-written")  # no-op commit
    assert read_delta(spark, path).count() == 3


def test_append_schema_mismatch_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    wrong = spark.createDataFrame([(1, "a")], "k int, part string")
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta(wrong, path, mode="append")
    wrong_type = spark.createDataFrame(
        [(1, "a", 1)], "k int, part string, v long"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta(wrong_type, path, mode="append")


def test_append_partitioning_mismatch_refused(spark, tmp_path):
    """An append without the table's partition_by would store the
    partition column's real values in files the reader then ignores
    (it injects from partitionValues) — must refuse, not corrupt."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error",
                partition_by=["part"])
    with pytest.raises(ValueError, match="partitioning mismatch"):
        write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")


def test_invalid_mode_always_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    with pytest.raises(ValueError, match="unknown mode"):
        write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="Overwrite")
    assert read_delta(spark, path).count() == 1  # nothing committed


def test_unsupported_writer_features_refused(spark, tmp_path):
    """Appending to a table that requires a capability this writer
    lacks (icebergCompatV2 here) would corrupt its semantics —
    refuse.  A columnMapping feature flag alone no longer refuses:
    the writer handles the logical→physical rename itself.
    (identityColumns graduated from this list in r9; rowTracking and
    clustering in r11 — see test_row_tracking_lifecycle /
    test_clustered_table_optimize.)"""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    _commit(
        path, 1,
        [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                       "writerFeatures": ["icebergCompatV2"]}}],
    )
    with pytest.raises(ValueError, match="writer capabilities"):
        write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")


def test_cmap_feature_flag_without_mode_is_writable(spark, tmp_path):
    """A (2,5)-era table that declares the columnMapping writer
    feature but configures no delta.columnMapping.mode uses plain
    names on disk — the capability gate checks what the table USES,
    so this append must succeed."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    _commit(
        path, 1,
        [{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}],
    )
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    assert read_delta(spark, path).count() == 2


def test_append_only_table_refuses_overwrite_and_delete(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error",
                partition_by=["part"])
    # flip the table property the way a foreign ALTER TABLE would
    snap_meta = json.loads(open(_version_file(path, 0)).readlines()[2])["metaData"]
    snap_meta["configuration"] = {"delta.appendOnly": "true"}
    _commit(path, 1, [{"metaData": snap_meta}])
    with pytest.raises(ValueError, match="append-only"):
        write_delta(_df(spark, [(9, "z", 9.0)]), path, mode="overwrite",
                    partition_by=["part"])
    with pytest.raises(ValueError, match="append-only"):
        delete_partition(spark, path, "part", "a")
    # appends still fine
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append",
                partition_by=["part"])
    assert read_delta(spark, path).count() == 2


def test_v2_uuid_checkpoint_discovered_and_read(spark, tmp_path):
    """A v2 (uuid-named) checkpoint with no 'parts' pointer must be
    DISCOVERED from the log listing and read like any checkpoint —
    this is what modern Databricks writers leave behind."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    checkpoint_delta(spark, path)
    log = os.path.join(path, "_delta_log")
    classic = os.path.join(log, f"{1:020d}.checkpoint.parquet")
    os.replace(
        classic,
        os.path.join(
            log, f"{1:020d}.checkpoint.0f1e2d3c-0000-4000-8000-abcdef012345"
            ".parquet"
        ),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 1}, fh)  # no parts — v2 pointer shape
    # force the checkpoint to be the only source of history
    os.unlink(_version_file(path, 0))
    os.unlink(_version_file(path, 1))
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0),
    ]


def _v2_sidecar_table(spark, tmp_path, cp_meta_version=1):
    """Hand-build a v2 JSON checkpoint whose file actions live in a
    parquet SIDECAR under _delta_log/_sidecars/ (the spec layout)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    log = os.path.join(path, "_delta_log")
    actions = {"add": [], "metaData": None, "protocol": None}
    for v in (0, 1):
        with open(_version_file(path, v)) as fh:
            for line in fh:
                a = json.loads(line)
                for k in actions:
                    if k in a:
                        if k == "add":
                            actions["add"].append(a["add"])
                        else:
                            actions[k] = a[k]
    sdir = os.path.join(log, "_sidecars")
    os.makedirs(sdir)
    add_t = pa.struct([
        ("path", pa.string()),
        ("partitionValues", pa.map_(pa.string(), pa.string())),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
    ])
    adds = [
        {k: a.get(k) for k in (
            "path", "partitionValues", "size", "modificationTime",
            "dataChange",
        )}
        for a in actions["add"]
    ]
    pq.write_table(
        pa.table({"add": pa.array(adds, type=add_t)}),
        os.path.join(sdir, "sc-1.parquet"),
    )
    cp = os.path.join(
        log, f"{1:020d}.checkpoint.11112222-3333-4444-8555-666677778888"
        ".json"
    )
    with open(cp, "w") as fh:
        fh.write(json.dumps(
            {"checkpointMetadata": {"version": cp_meta_version}}) + "\n")
        fh.write(json.dumps({"protocol": actions["protocol"]}) + "\n")
        fh.write(json.dumps({"metaData": actions["metaData"]}) + "\n")
        fh.write(json.dumps({"sidecar": {
            "path": "sc-1.parquet",
            "sizeInBytes": os.path.getsize(
                os.path.join(sdir, "sc-1.parquet")),
        }}) + "\n")
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 1}, fh)
    os.unlink(_version_file(path, 0))
    os.unlink(_version_file(path, 1))
    return path


def test_v2_json_checkpoint_with_parquet_sidecar(spark, tmp_path):
    """The full v2 layout: JSON-format main checkpoint holding
    protocol/metaData/checkpointMetadata + a sidecar action, file
    actions in a parquet sidecar; post-checkpoint commits still
    replay on top."""
    path = _v2_sidecar_table(spark, tmp_path)
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0),
    ]
    # a post-checkpoint JSON commit replays on top of the v2 state
    write_delta(_df(spark, [(3, "c", 3.0)]), path, mode="append")
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0),
    ]


def test_v2_checkpoint_version_mismatch_refused(spark, tmp_path):
    """checkpointMetadata.version contradicting the file name means
    corrupt/misplaced state — refuse, never replay it."""
    path = _v2_sidecar_table(spark, tmp_path, cp_meta_version=9)
    with pytest.raises(ValueError, match="claims version"):
        read_delta(spark, path)


def test_v2_checkpoint_feature_gates_and_write(spark, tmp_path):
    """The v2Checkpoint reader feature is accepted, appends stay
    legal, and checkpoint_delta WRITES the v2 layout on such tables:
    uuid-named JSON main + parquet sidecar, round-tripping through
    this reader after the JSON prefix is deleted."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    _commit(
        path, 1,
        [{"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["v2Checkpoint"],
            "writerFeatures": ["v2Checkpoint"],
        }}],
    )
    assert read_delta(spark, path).count() == 1
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    assert read_delta(spark, path).count() == 2
    v = checkpoint_delta(spark, path)
    log = os.path.join(path, "_delta_log")
    mains = [
        f for f in os.listdir(log)
        if f.startswith(f"{v:020d}.checkpoint.") and f.endswith(".json")
    ]
    assert len(mains) == 1  # uuid-named v2 main, not a classic parquet
    assert os.path.isdir(os.path.join(log, "_sidecars"))
    for ver in range(v + 1):
        os.unlink(_version_file(path, ver))
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0),
    ]
    # txn high-water marks must ride the v2 main too
    write_delta(_df(spark, [(3, "c", 3.0)]), path, mode="append",
                txn=("app-v2", 5))
    checkpoint_delta(spark, path)
    from aws_datalake_framework_api_spark.sources.delta import (
        last_txn_version,
    )

    assert last_txn_version(spark, path, "app-v2") == 5


def test_txn_high_water_mark_survives_checkpoint(spark, tmp_path):
    """The exactly-once gate must hold across log cleanup: txn rows
    ride the checkpoint, so a retried batch is still deduped after the
    JSON prefix is deleted."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(0, "a", 0.0)]), path, mode="error")
    write_delta(_df(spark, [(1, "b", 1.0)]), path, mode="append",
                txn=("stream-1", 7))
    checkpoint_delta(spark, path)
    os.unlink(_version_file(path, 0))
    os.unlink(_version_file(path, 1))
    assert last_txn_version(spark, path, "stream-1") == 7
    write_delta(_df(spark, [(1, "b", 1.0)]), path, mode="append",
                txn=("stream-1", 7))  # retry: must dedup
    assert read_delta(spark, path).count() == 2


def test_multipart_checkpoint_read(spark, tmp_path):
    """A foreign writer's multi-part checkpoint (parts field in
    _last_checkpoint, V.checkpoint.<i>.<n>.parquet files) must read."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    checkpoint_delta(spark, path)
    log = os.path.join(path, "_delta_log")
    single = os.path.join(log, f"{1:020d}.checkpoint.parquet")
    # split the single-file checkpoint into a 2-part layout: part 1 =
    # the real rows, part 2 = an empty parquet with the same schema
    p1 = os.path.join(log, f"{1:020d}.checkpoint.{1:010d}.{2:010d}.parquet")
    p2 = os.path.join(log, f"{1:020d}.checkpoint.{2:010d}.{2:010d}.parquet")
    os.rename(single, p1)
    cp_df = spark.read.parquet(p1)
    empty_dir = str(tmp_path / "empty_cp")
    cp_df.limit(0).coalesce(1).write.mode("overwrite").parquet(empty_dir)
    part = [f for f in os.listdir(empty_dir) if f.endswith(".parquet")][0]
    os.replace(os.path.join(empty_dir, part), p2)
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 1, "parts": 2}, fh)
    os.unlink(_version_file(path, 0))
    os.unlink(_version_file(path, 1))
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0),
    ]


def test_vacuum_retention_floor(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    with pytest.raises(ValueError, match="safety floor"):
        vacuum_delta(spark, path, retention_ms=0)


# ------------------------------------------------- round-6 protocol fixes


def _metadata_action(schema_json: str, partition_columns=(), configuration=None):
    return {
        "metaData": {
            "id": "test-meta",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_json,
            "partitionColumns": list(partition_columns),
            "configuration": configuration or {},
            "createdTime": 0,
        }
    }


def test_checkpoint_preserves_configuration(spark, tmp_path):
    """metaData.configuration must survive a checkpoint: dropping it
    would stop delta.appendOnly being enforced on the reconstructed
    snapshot (ADVICE r5 — createDataFrame silently drops dict keys
    absent from the checkpoint schema)."""
    path = str(tmp_path / "t")
    df = _df(spark, [(1, "a", 1.0)])
    write_delta(df, path, mode="error")
    _commit(
        path, 1,
        [_metadata_action(df.schema.json(),
                          configuration={"delta.appendOnly": "true"})],
    )
    checkpoint_delta(spark, path)
    os.unlink(_version_file(path, 0))
    os.unlink(_version_file(path, 1))
    # state now reconstructs purely from the checkpoint — the
    # append-only constraint must still be enforced
    with pytest.raises(ValueError, match="append-only"):
        write_delta(_df(spark, [(9, "z", 9.0)]), path, mode="overwrite")
    assert read_delta(spark, path).count() == 1


def test_invariant_tables_refused_for_write(spark, tmp_path):
    """A schema declaring delta.invariants must refuse writes (this
    writer cannot EVALUATE invariant expressions — blindly appending
    could violate a constraint a real writer would reject), while
    reads stay unaffected (ADVICE r5)."""
    path = str(tmp_path / "t")
    df = _df(spark, [(1, "a", 1.0)])
    write_delta(df, path, mode="error")
    schema_json = json.loads(df.schema.json())
    schema_json["fields"][0]["metadata"] = {
        "delta.invariants": '{"expression": {"expression": "k > 0"}}'
    }
    _commit(path, 1, [_metadata_action(json.dumps(schema_json))])
    with pytest.raises(ValueError, match="invariant"):
        write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    assert read_delta(spark, path).count() == 1


def test_null_into_nonnullable_fails_at_write(spark, tmp_path):
    """Nullability is part of the declared schema and is enforced at
    RUNTIME (AssertNotNull semantics, ADVICE r5): a nullable-typed
    write WITHOUT nulls succeeds — Spark types every file-source read
    as nullable, so a read→transform→overwrite round-trip must work —
    but an actual NULL in a declared-non-nullable column fails the
    write job, so no NULL ever lands where the log schema says none
    can exist."""
    from pyspark.sql.types import (
        DoubleType, IntegerType, StringType, StructField, StructType,
    )

    path = str(tmp_path / "t")
    strict = StructType([
        StructField("k", IntegerType(), False),
        StructField("part", StringType(), True),
        StructField("v", DoubleType(), True),
    ])
    write_delta(
        spark.createDataFrame([(1, "a", 1.0)], strict), path, mode="error"
    )
    # nullable-TYPED but null-free: succeeds (round-trip contract)
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    assert read_delta(spark, path).count() == 2
    # an actual NULL key: the write job fails, nothing commits
    with pytest.raises(Exception, match="non-nullable"):
        write_delta(_df(spark, [(None, "c", 3.0)]), path, mode="append")
    assert read_delta(spark, path).count() == 2
    assert _list_versions(path)[-1] == 1


def test_corrupt_last_checkpoint_recovered(spark, tmp_path):
    """A truncated _last_checkpoint (crash mid-write by a foreign
    writer) must not make the table unreadable: the reader falls back
    to scanning the log dir for the newest complete checkpoint
    (ADVICE r5)."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    checkpoint_delta(spark, path)
    write_delta(_df(spark, [(3, "c", 3.0)]), path, mode="append")
    # make the checkpoint the ONLY route to versions 0-1, then corrupt
    # the pointer file the way a crashed plain-write would
    os.unlink(_version_file(path, 0))
    os.unlink(_version_file(path, 1))
    with open(os.path.join(path, "_delta_log", "_last_checkpoint"), "w") as fh:
        fh.write('{"version": 1, "si')
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0),
    ]
    # our own checkpoint write replaces the corrupt pointer atomically
    checkpoint_delta(spark, path)
    assert read_delta(spark, path).count() == 3


def test_vacuum_reclaims_nested_hive_layout(spark, tmp_path):
    """A foreign writer lays data out in hive-style subdirectories;
    vacuum must walk them, not just the table root (VERDICT r5)."""
    import urllib.parse

    import pandas as pd

    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "part=a"))
    for name in ("live", "dead"):
        pd.DataFrame({"k": [1], "v": [1.0]}).to_parquet(
            os.path.join(path, "part=a", f"{name}.parquet")
        )
    schema_json = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "part", "type": "string", "nullable": True, "metadata": {}},
            {"name": "v", "type": "double", "nullable": True, "metadata": {}},
        ],
    })
    rel_live = urllib.parse.quote("part=a/live.parquet")
    rel_dead = urllib.parse.quote("part=a/dead.parquet")
    _commit(path, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _metadata_action(schema_json, partition_columns=["part"]),
        {"add": {"path": rel_live, "partitionValues": {"part": "a"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": rel_dead, "partitionValues": {"part": "a"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ])
    _commit(path, 1, [
        {"remove": {"path": rel_dead, "deletionTimestamp": 1000,
                    "dataChange": True}},
    ])
    out = vacuum_delta(spark, path, retention_ms=0, force=True)
    assert out["deleted_files"] == 1
    assert not os.path.exists(os.path.join(path, "part=a", "dead.parquet"))
    assert os.path.exists(os.path.join(path, "part=a", "live.parquet"))
    assert _sorted_rows(read_delta(spark, path)) == [(1, "a", 1.0)]


def test_many_partition_read_plans_single_scan(spark, tmp_path):
    """Past _UNION_BRANCH_CAP distinct partition tuples the read must
    plan ONE FileScan + broadcast join, not one union branch per
    partition — plan size must be O(1) in partition count
    (VERDICT r5: a 10k-partition foreign table must not cost 10k
    analysis-time branches)."""
    path = str(tmp_path / "t")
    df = spark.range(500).select(
        F.col("id").cast("int").alias("k"),
        F.col("id").cast("string").alias("part"),
        (F.col("id") * 1.0).alias("v"),
    )
    write_delta(df, path, mode="error", partition_by=["part"])
    back = read_delta(spark, path)
    plan = back._jdf.queryExecution().executedPlan().toString()
    # one data FileScan (the broadcast map is a LocalTableScan)
    assert plan.count("FileScan parquet") == 1
    assert "Union" not in plan
    # correctness: every partition value comes back through the join
    assert back.count() == 500
    assert back.filter(F.col("part") == "123").collect()[0]["k"] == 123
    # pushdown on data columns still reaches the scan through the join
    plan2 = (
        read_delta(spark, path)
        .filter(F.col("k") > 490)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "GreaterThan(k,490)" in plan2


def test_partition_filter_prunes_at_planning_time(spark, tmp_path):
    """partition_filter is the FileIndex-style planning-time prune:
    only the selected partitions' files may appear in the plan."""
    path = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 50).cast("string").alias("part"),
        (F.col("id") * 1.0).alias("v"),
    )
    write_delta(df, path, mode="error", partition_by=["part"])
    pruned = read_delta(spark, path, partition_filter={"part": ["7", "11"]})
    rows = _sorted_rows(pruned.select("k", "part", "v"))
    assert [r[0] for r in rows] == [7, 11, 57, 61]
    # the plan reads only the two partitions' files
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    n_live = len(
        read_delta(spark, path).inputFiles()
    )
    assert len(pruned.inputFiles()) < n_live
    assert plan.count("FileScan parquet") <= 2


# --------------------------------------------------- deletion vectors (r6)


def _adds_at_version(path, v):
    with open(_version_file(path, v)) as fh:
        return [
            json.loads(line)["add"]
            for line in fh
            if line.strip() and "add" in json.loads(line)
        ]


def _data_add(path, v=0):
    """The non-empty add action of version v (a coalesce(1) write can
    still emit zero-row parts)."""
    adds = _adds_at_version(path, v)
    return max(adds, key=lambda a: a["size"])


def test_roaring_codec_roundtrip():
    """RoaringBitmapArray portable codec: array containers, bitmap
    containers (>4096 per 16-bit key block), and >2^32 positions."""
    from aws_datalake_framework_api_spark.sources.delta import (
        _decode_dv_bitmap, _encode_dv_bitmap,
    )

    cases = [
        [],
        [0],
        [0, 2, 65535, 65536, 131072 + 5],
        list(range(5000)),                       # bitmap container
        [1, (1 << 32) + 7, (2 << 32) + 123456],  # multiple high keys
    ]
    for positions in cases:
        assert _decode_dv_bitmap(_encode_dv_bitmap(sorted(positions))) == sorted(
            positions
        )


def test_roaring_run_container_decodes():
    """Foreign writers may serialize run containers (cookie 12347 +
    run bitset); the decoder must handle them."""
    import struct

    from aws_datalake_framework_api_spark.sources.delta import (
        _decode_dv_bitmap, _ROARING_MAGIC,
    )

    # one container, run-encoded: runs [(10, len 3), (100, len 1)]
    n = 1
    cookie = struct.pack("<I", 12347 | ((n - 1) << 16))
    run_bits = bytes([0b1])
    desc = struct.pack("<HH", 0, 5 - 1)  # key 0, cardinality 5
    # n < 4 -> no offset header
    runs = struct.pack("<H", 2) + struct.pack("<HH", 10, 2) + struct.pack(
        "<HH", 100, 0
    )
    bitmap = cookie + run_bits + desc + runs
    data = struct.pack("<iq", _ROARING_MAGIC, 1) + bitmap
    assert _decode_dv_bitmap(data) == [10, 11, 12, 100]


def test_z85_roundtrip():
    import uuid as _uuid

    from aws_datalake_framework_api_spark.sources.delta import (
        _z85_decode, _z85_encode,
    )

    for _ in range(5):
        b = _uuid.uuid4().bytes
        assert _z85_decode(_z85_encode(b)) == b


def test_deletion_vector_file_read(spark, tmp_path):
    """A DV-enabled table (on-disk 'u' vector, protocol upgraded to
    readerFeatures=[deletionVectors]) must read with deleted rows
    absent, survive a checkpoint, and still time-travel to the pre-DV
    version (VERDICT r5 item #3)."""
    from aws_datalake_framework_api_spark.sources.delta import write_dv_file

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "x", float(i)) for i in range(10)], "k int, part string, v double"
    ).coalesce(1)
    write_delta(df, path, mode="error")
    add = _data_add(path)
    dv = write_dv_file(path, [0, 2, 9])
    _commit(path, 1, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"remove": {"path": add["path"], "deletionTimestamp": 1,
                    "dataChange": True}},
        {"add": {**add, "deletionVector": dv}},
    ])
    back = read_delta(spark, path)
    assert sorted(r["k"] for r in back.collect()) == [1, 3, 4, 5, 6, 7, 8]
    # pre-DV version still reads complete
    assert read_delta(spark, path, version_as_of=0).count() == 10
    # DVs survive a checkpoint (protocol requires them in the
    # reconstructed adds; dropping one resurrects deleted rows)
    checkpoint_delta(spark, path)
    os.unlink(_version_file(path, 0))
    os.unlink(_version_file(path, 1))
    assert sorted(r["k"] for r in read_delta(spark, path).collect()) == [
        1, 3, 4, 5, 6, 7, 8,
    ]
    # deletionVectors is a SUPPORTED writer feature (r6): appends to a
    # DV table land, and the vectors keep applying
    write_delta(_df(spark, [(99, "z", 9.0)]), path, mode="append")
    assert sorted(r["k"] for r in read_delta(spark, path).collect()) == [
        1, 3, 4, 5, 6, 7, 8, 99,
    ]
    # a feature we genuinely lack still refuses
    _commit(path, _list_versions(path)[-1] + 1, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors", "icebergCompatV2"]}},
    ])
    with pytest.raises(ValueError, match="writer capabilities"):
        write_delta(_df(spark, [(7, "q", 7.0)]), path, mode="append")


def test_deletion_vector_inline_read(spark, tmp_path):
    """storageType 'i': the vector bytes live Z85-encoded in the log
    itself (padded to a multiple of 4; sizeInBytes is the true
    length)."""
    from aws_datalake_framework_api_spark.sources.delta import (
        _encode_dv_bitmap, _z85_encode,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "x", float(i)) for i in range(6)], "k int, part string, v double"
    ).coalesce(1)
    write_delta(df, path, mode="error")
    add = _data_add(path)
    data = _encode_dv_bitmap([1, 4])
    padded = data + b"\x00" * (-len(data) % 4)
    dv = {"storageType": "i", "pathOrInlineDv": _z85_encode(padded),
          "sizeInBytes": len(data), "cardinality": 2}
    _commit(path, 1, [
        {"remove": {"path": add["path"], "deletionTimestamp": 1,
                    "dataChange": True}},
        {"add": {**add, "deletionVector": dv}},
    ])
    assert sorted(r["k"] for r in read_delta(spark, path).collect()) == [
        0, 2, 3, 5,
    ]


def test_dv_reconciliation_is_keyed_by_path_and_dvid(spark, tmp_path):
    """File actions are keyed by (path, dvId): within a DV-update
    commit the remove of the OLD (path, dv) must not kill the re-added
    new version, regardless of action order."""
    from aws_datalake_framework_api_spark.sources.delta import write_dv_file

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "x", float(i)) for i in range(5)], "k int, part string, v double"
    ).coalesce(1)
    write_delta(df, path, mode="error")
    add = _data_add(path)
    dv = write_dv_file(path, [0])
    # adversarial order: add-with-new-DV FIRST, then remove of the
    # DV-less old version
    _commit(path, 1, [
        {"add": {**add, "deletionVector": dv}},
        {"remove": {"path": add["path"], "deletionTimestamp": 1,
                    "dataChange": True}},
    ])
    assert sorted(r["k"] for r in read_delta(spark, path).collect()) == [
        1, 2, 3, 4,
    ]


def test_dv_applies_in_range_read_and_many_partition_scan(spark, tmp_path):
    """DVs must subtract rows in BOTH plan shapes: the stats-pruned
    range read and the single-scan (many-partition) shape."""
    from aws_datalake_framework_api_spark.sources.delta import write_dv_file

    path = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").cast("int").alias("k"),
        F.col("id").cast("string").alias("part"),
        (F.col("id") * 1.0).alias("v"),
    )
    write_delta(df, path, mode="error", partition_by=["part"])
    # tombstone row 0 of partition part=7's single file
    adds = _adds_at_version(path, 0)
    target = next(a for a in adds if a["partitionValues"]["part"] == "7")
    dv = write_dv_file(path, [0])
    _commit(path, 1, [
        {"remove": {"path": target["path"], "deletionTimestamp": 1,
                    "dataChange": True}},
        {"add": {**target, "deletionVector": dv}},
    ])
    back = read_delta(spark, path)  # 100 partitions -> single-scan shape
    assert back.count() == 99
    assert back.filter(F.col("part") == "7").count() == 0
    rng = read_delta_range(spark, path, "k", 0, 10)
    assert sorted(r["k"] for r in rng.collect()) == [
        0, 1, 2, 3, 4, 5, 6, 8, 9, 10,
    ]


# ------------------------------------------------- copy-on-write UPDATE (r6)


def test_update_delta_rewrites_only_hit_files(spark, tmp_path):
    """UPDATE's cost model: files without matched rows keep their
    original add actions and on-disk bytes; only hit files are
    removed+re-added, in one commit."""
    from aws_datalake_framework_api_spark.sources.delta import update_delta

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]).coalesce(1), path, mode="error")
    write_delta(_df(spark, [(2, "b", 2.0)]).coalesce(1), path, mode="append")
    write_delta(_df(spark, [(3, "c", 3.0)]).coalesce(1), path, mode="append")
    adds_before = {
        a["path"]: os.path.getmtime(os.path.join(path, a["path"]))
        for v in range(3)
        for a in _adds_at_version(path, v)
    }
    v, matched = update_delta(
        spark, path, F.col("k") == 2, {"v": 20.0, "part": "B"}
    )
    assert (v, matched) == (3, 1)
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "B", 20.0), (3, "c", 3.0),
    ]
    # pre-update state still time-travels
    assert _sorted_rows(read_delta(spark, path, version_as_of=2)) == [
        (1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0),
    ]
    with open(_version_file(path, 3)) as fh:
        actions = [json.loads(line) for line in fh]
    removes = [a["remove"]["path"] for a in actions if "remove" in a]
    adds = [a["add"]["path"] for a in actions if "add" in a]
    assert len(removes) == 1 and removes[0] in adds_before
    untouched = set(adds_before) - set(removes)
    for p in untouched:
        assert os.path.getmtime(os.path.join(path, p)) == adds_before[p]
    assert len(untouched) == 2


def test_update_delta_no_match_commits_nothing(spark, tmp_path):
    from aws_datalake_framework_api_spark.sources.delta import (
        _table_version, update_delta,
    )

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    v, matched = update_delta(spark, path, F.col("k") == 99, {"v": 0.0})
    assert (v, matched) == (0, 0)
    assert _table_version(path) == 0


def test_update_delta_respects_append_only(spark, tmp_path):
    """delta.appendOnly forbids UPDATE (it tombstones files) — refuse,
    exactly like overwrite/delete."""
    from aws_datalake_framework_api_spark.sources.delta import update_delta

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    with open(_version_file(path, 0)) as fh:
        actions = [json.loads(line) for line in fh]
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    meta["configuration"] = {"delta.appendOnly": "true"}
    _commit(path, 1, [{"metaData": meta}])
    with pytest.raises(ValueError, match="append-only"):
        update_delta(spark, path, F.col("k") == 1, {"v": 2.0})


def test_update_delta_folds_deletion_vector(spark, tmp_path):
    """Rewriting a DV-carrying file folds the DV in: the new file holds
    only live rows, the remove names the old (path, dv), and deleted
    rows stay deleted."""
    from aws_datalake_framework_api_spark.sources.delta import (
        update_delta, write_dv_file,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "x", float(i)) for i in range(6)], "k int, part string, v double"
    ).coalesce(1)
    write_delta(df, path, mode="error")
    add = _data_add(path)
    dv = write_dv_file(path, [0, 3])  # delete k=0 and k=3
    _commit(path, 1, [
        {"remove": {"path": add["path"], "deletionTimestamp": 1,
                    "dataChange": True}},
        {"add": {**add, "deletionVector": dv}},
    ])
    v, matched = update_delta(spark, path, F.col("k") == 4, {"v": 40.0})
    assert (v, matched) == (2, 1)
    assert sorted((r["k"], r["v"]) for r in read_delta(spark, path).collect()) == [
        (1, 1.0), (2, 2.0), (4, 40.0), (5, 5.0),
    ]
    with open(_version_file(path, 2)) as fh:
        actions = [json.loads(line) for line in fh]
    rm = next(a["remove"] for a in actions if "remove" in a)
    assert rm["deletionVector"]["pathOrInlineDv"] == dv["pathOrInlineDv"]
    new_add = next(a["add"] for a in actions if "add" in a)
    assert not new_add.get("deletionVector")


def test_update_delta_partitioned_moves_rows_between_partitions(spark, tmp_path):
    """Updating a partition column restages the row under its new
    partition value (partitionValues re-derived at stage time)."""
    from aws_datalake_framework_api_spark.sources.delta import update_delta

    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]),
        path, mode="error", partition_by=["part"],
    )
    v, matched = update_delta(spark, path, F.col("k") == 1, {"part": "b"})
    assert matched == 1
    back = read_delta(spark, path, partition_filter={"part": "b"})
    assert sorted(r["k"] for r in back.collect()) == [1, 2]


# -------------------------------------- merge-on-read DELETE + MERGE (r6)


def test_delete_where_then_update_folds_and_vacuum_reclaims_dv(spark, tmp_path):
    """An UPDATE rewrite folds DVs in; vacuum then reclaims the
    superseded DV .bin file but never a referenced one."""
    from aws_datalake_framework_api_spark.sources.delta import (
        delete_where_delta, update_delta,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "x", float(i)) for i in range(6)], "k int, part string, v double"
    ).coalesce(1)
    write_delta(df, path, mode="error")
    delete_where_delta(spark, path, F.col("k") == 0)
    dv_bins = [f for f in os.listdir(path) if f.startswith("deletion_vector_")]
    assert len(dv_bins) == 1
    # referenced DV survives vacuum
    vacuum_delta(spark, path, retention_ms=0, force=True)
    assert os.path.isfile(os.path.join(path, dv_bins[0]))
    # the rewrite folds the DV; the .bin becomes unreferenced debris
    update_delta(spark, path, F.col("k") == 5, {"v": 50.0})
    assert sorted((r["k"], r["v"]) for r in read_delta(spark, path).collect()) == [
        (1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0), (5, 50.0),
    ]
    vacuum_delta(spark, path, retention_ms=0, force=True)
    assert not os.path.isfile(os.path.join(path, dv_bins[0]))
    # and the table still reads after vacuum
    assert read_delta(spark, path).count() == 5


def test_merge_delta_upsert(spark, tmp_path):
    """MERGE: matched rows take the source version, unmatched source
    rows insert, only hit files rewrite, one atomic commit."""
    from aws_datalake_framework_api_spark.sources.delta import merge_delta

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1),
                path, mode="error")
    write_delta(_df(spark, [(3, "c", 3.0), (4, "d", 4.0)]).coalesce(1),
                path, mode="append")
    untouched = {
        a["path"]: os.path.getmtime(os.path.join(path, a["path"]))
        for a in _adds_at_version(path, 0)
    }
    source = _df(spark, [(3, "C", 30.0), (5, "e", 5.0)])
    out = merge_delta(spark, path, source, on=["k"])
    assert out["updated"] == 1 and out["inserted"] == 1
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0), (3, "C", 30.0), (4, "d", 4.0),
        (5, "e", 5.0),
    ]
    # version-0 file (no matches) untouched on disk and still active
    for p, mt in untouched.items():
        assert os.path.getmtime(os.path.join(path, p)) == mt
    with open(_version_file(path, 2)) as fh:
        acts = [json.loads(line) for line in fh]
    removes = [a for a in acts if "remove" in a]
    assert len(removes) == 1  # only the file holding k=3
    assert removes[0]["remove"]["path"] not in untouched
    # duplicate-key source refuses
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_delta(spark, path,
                    _df(spark, [(1, "x", 0.0), (1, "y", 0.0)]), on=["k"])


def test_merge_delta_folds_existing_dv(spark, tmp_path):
    """MERGE over a DV-carrying file must not resurrect DV-deleted
    rows in the rewrite."""
    from aws_datalake_framework_api_spark.sources.delta import (
        delete_where_delta, merge_delta,
    )

    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]).coalesce(1),
        path, mode="error",
    )
    delete_where_delta(spark, path, F.col("k") == 2)
    out = merge_delta(spark, path, _df(spark, [(3, "C", 30.0)]), on=["k"])
    assert out == {"version": 2, "updated": 1, "deleted": 0, "inserted": 0}
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (3, "C", 30.0),
    ]


def test_write_delta_merge_schema_additive(spark, tmp_path):
    """merge_schema=True: a new nullable column commits updated
    metaData with the data; old files read as NULL; drops and type
    changes still refuse."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    wide = spark.createDataFrame(
        [(2, "b", 2.0, "tag2")], "k int, part string, v double, tag string"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta(wide, path, mode="append")  # without the flag
    write_delta(wide, path, mode="append", merge_schema=True)
    back = read_delta(spark, path)
    assert back.schema.simpleString() == (
        "struct<k:int,part:string,v:double,tag:string>"
    )
    rows = {r["k"]: r["tag"] for r in back.collect()}
    assert rows == {1: None, 2: "tag2"}
    # narrow appends now refuse (must carry every declared column)...
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta(_df(spark, [(3, "c", 3.0)]), path, mode="append")
    # ...even WITH the flag (additive only, no drops)
    with pytest.raises(ValueError, match="cannot drop"):
        write_delta(_df(spark, [(3, "c", 3.0)]), path, mode="append",
                    merge_schema=True)
    with pytest.raises(ValueError, match="cannot change"):
        write_delta(
            spark.createDataFrame(
                [(3, "c", 3.0, 7)], "k int, part string, v double, tag int"
            ),
            path, mode="append", merge_schema=True,
        )


# ------------------------------------------------ OPTIMIZE + change feed (r6)


def test_optimize_bin_packs_and_folds_dv(spark, tmp_path):
    """OPTIMIZE merges small files per partition with dataChange=false
    on both sides (incremental consumers skip it), folds DVs, and
    changes no rows."""
    from aws_datalake_framework_api_spark.sources.delta import (
        delete_where_delta, optimize_delta,
    )

    path = str(tmp_path / "t")
    for i in range(4):  # four tiny files
        write_delta(
            _df(spark, [(i, "x", float(i))]).coalesce(1), path,
            mode="error" if i == 0 else "append",
        )
    delete_where_delta(spark, path, F.col("k") == 2)
    before = _sorted_rows(read_delta(spark, path))
    out = optimize_delta(spark, path)
    assert out["files_before"] >= 4 and out["files_after"] == 1
    assert _sorted_rows(read_delta(spark, path)) == before == [
        (0, "x", 0.0), (1, "x", 1.0), (3, "x", 3.0),
    ]
    with open(_version_file(path, out["version"])) as fh:
        acts = [json.loads(line) for line in fh]
    for a in acts:
        if "add" in a:
            assert a["add"]["dataChange"] is False
            assert not a["add"].get("deletionVector")  # DV folded
        if "remove" in a:
            assert a["remove"]["dataChange"] is False
    # nothing left to compact -> no commit
    again = optimize_delta(spark, path)
    assert again["partitions_compacted"] == 0
    assert again["version"] == out["version"]


def test_optimize_respects_partition_scope(spark, tmp_path):
    from aws_datalake_framework_api_spark.sources.delta import optimize_delta

    path = str(tmp_path / "t")
    df = _df(spark, [(1, "a", 1.0), (2, "b", 2.0)])
    write_delta(df, path, mode="error", partition_by=["part"])
    write_delta(_df(spark, [(3, "a", 3.0), (4, "b", 4.0)]), path,
                mode="append", partition_by=["part"])
    out = optimize_delta(spark, path, partition_filter={"part": "a"})
    assert out["partitions_compacted"] == 1
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0), (4, "b", 4.0),
    ]


def test_change_feed_inserts_deletes_and_dv_delta(spark, tmp_path):
    """read_delta_changes: appends surface as inserts, DV deletes as
    positional deletes (exactly the grown positions), copy-on-write
    rewrites as delete+insert pairs, OPTIMIZE as nothing."""
    from aws_datalake_framework_api_spark.sources.delta import (
        delete_where_delta, optimize_delta, read_delta_changes, update_delta,
    )

    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1), path,
        mode="error",
    )
    write_delta(_df(spark, [(3, "c", 3.0)]).coalesce(1), path, mode="append")  # v1
    delete_where_delta(spark, path, F.col("k") == 1)                           # v2
    update_delta(spark, path, F.col("k") == 3, {"v": 30.0})                    # v3
    opt = optimize_delta(spark, path)                                          # v4

    def changes(lo, hi):
        return sorted(
            (r["_commit_version"], r["_change_type"], r["k"])
            for r in read_delta_changes(spark, path, lo, hi).collect()
        )

    assert changes(0, 1) == [(1, "insert", 3)]
    # the DV delete surfaces ONLY row k=1, not the file's other row
    assert changes(1, 2) == [(2, "delete", 1)]
    # copy-on-write update: delete+insert pair for the rewritten file
    assert changes(2, 3) == [(3, "delete", 3), (3, "insert", 3)]
    # OPTIMIZE (dataChange=false) contributes nothing
    assert changes(3, opt["version"]) == []
    # and the full range composes
    assert changes(0, opt["version"]) == [
        (1, "insert", 3), (2, "delete", 1),
        (3, "delete", 3), (3, "insert", 3),
    ]


def test_optimize_zorder_prunes_on_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER: after re-clustering on (a, b), a narrow range
    read on EITHER column scans a strict subset of files — the
    footer min/max got tight on both axes — and no row changed."""
    from aws_datalake_framework_api_spark.sources.delta import (
        optimize_delta, prune_files,
    )

    path = str(tmp_path / "t")
    n = 2000
    df = spark.createDataFrame(
        [(i, f"s{i}", float((i * 7919) % n)) for i in range(n)],
        "k int, part string, v double",
    ).orderBy(F.xxhash64("k")).repartition(4)  # scattered layout
    write_delta(df, path, mode="error")
    before = _sorted_rows(read_delta(spark, path))
    out = optimize_delta(
        spark, path, target_file_bytes=8192, zorder_by=["k", "v"]
    )
    assert out["files_after"] >= 3  # multiple tight files
    assert _sorted_rows(read_delta(spark, path)) == before
    kept_k, skipped_k = prune_files(spark, path, "k", 0, n // 10)
    kept_v, skipped_v = prune_files(spark, path, "v", 0.0, float(n // 10))
    assert skipped_k, "z-order must let a k-range skip files"
    assert skipped_v, "z-order must let a v-range skip files"
    rr = read_delta_range(spark, path, "k", 0, 50)
    assert sorted(r["k"] for r in rr.collect()) == list(range(51))
    with pytest.raises(ValueError, match="locality"):
        optimize_delta(spark, path, zorder_by=["part"])


# ---------------------------------------------------------- column mapping


def _mapped_table(spark, tmp_path, partition_by=None):
    from aws_datalake_framework_api_spark.sources.delta import (
        create_mapped_delta,
    )

    path = str(tmp_path / "cmap")
    df = _df(
        spark,
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0), (4, "b", 4.0)],
    )
    l2p = create_mapped_delta(df, path, partition_by=partition_by)
    return path, l2p


def test_column_mapping_roundtrip_logical_names(spark, tmp_path):
    """Data files are written under col-<uuid> physical names; the read
    must project back to logical names with NO mapping metadata in the
    result schema."""
    path, l2p = _mapped_table(spark, tmp_path)
    back = read_delta(spark, path)
    assert back.columns == ["k", "part", "v"]
    assert all(not f.metadata for f in back.schema.fields)
    assert _sorted_rows(back) == [
        (1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0), (4, "b", 4.0)
    ]
    # and the files really do NOT contain the logical names
    import pyarrow.parquet as pq

    data_files = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_")
    ]
    cols = set(pq.ParquetFile(os.path.join(path, data_files[0])).schema.names)
    assert cols == set(l2p.values())
    assert all(p.startswith("col-") for p in l2p.values())


def test_column_mapping_partition_values_physical_keys(spark, tmp_path):
    """add.partitionValues are keyed by PHYSICAL name (protocol); the
    read injects the partition column under its LOGICAL name and a
    logical partition_filter prunes files at planning time."""
    path, l2p = _mapped_table(spark, tmp_path, partition_by=["part"])
    with open(_version_file(path, 0)) as fh:
        adds = [
            json.loads(ln)["add"]
            for ln in fh
            if ln.strip() and "add" in json.loads(ln)
        ]
    for a in adds:
        assert set(a["partitionValues"]) == {l2p["part"]}
    back = read_delta(spark, path, partition_filter={"part": "a"})
    assert _sorted_rows(back) == [(1, "a", 1.0), (2, "a", 2.0)]


def test_column_mapping_stats_pruning_physical_keys(spark, tmp_path):
    """Stats are recorded under physical names; prune_files and
    read_delta_range take the LOGICAL column and must translate."""
    from aws_datalake_framework_api_spark.sources.delta import (
        create_mapped_delta,
    )

    path = str(tmp_path / "cmap_stats")
    # two files with disjoint k ranges → one must be pruned
    df1 = _df(spark, [(1, "a", 1.0), (2, "a", 2.0)]).coalesce(1)
    df2 = _df(spark, [(100, "b", 3.0), (200, "b", 4.0)]).coalesce(1)
    l2p = create_mapped_delta(df1.unionByName(df2).repartitionByRange(2, "k"), path)
    kept, skipped = prune_files(spark, path, "k", 1, 10)
    assert len(kept) == 1 and len(skipped) == 1
    back = read_delta_range(spark, path, "k", 1, 10)
    assert back.columns == ["k", "part", "v"]
    assert _sorted_rows(back) == [(1, "a", 1.0), (2, "a", 2.0)]


def test_column_mapping_nested_struct_renamed(spark, tmp_path):
    """physicalName metadata on NESTED struct fields renames inside the
    files; the read must rename them back positionally."""
    from aws_datalake_framework_api_spark.sources.delta import (
        create_mapped_delta,
    )

    path = str(tmp_path / "cmap_nested")
    df = spark.createDataFrame(
        [(1, {"x": 10, "y": "p"}), (2, {"x": 20, "y": "q"})],
        "k int, s struct<x: int, y: string>",
    )
    create_mapped_delta(df, path)
    back = read_delta(spark, path)
    assert back.schema.simpleString() == "struct<k:int,s:struct<x:int,y:string>>"
    assert sorted((r["k"], r["s"]["x"], r["s"]["y"]) for r in back.collect()) == [
        (1, 10, "p"), (2, 20, "q")
    ]


def test_column_mapping_id_mode_matches_by_field_id(spark, tmp_path):
    """'id' mode matches file columns by PARQUET FIELD ID — prove it by
    scrambling a file's column NAMES while keeping its field ids: a
    name-based read would produce garbage, the id-based read must not
    notice."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from aws_datalake_framework_api_spark.sources.delta import (
        create_mapped_delta,
    )

    path = str(tmp_path / "cmap_id")
    df = _df(spark, [(1, "a", 1.0), (2, "b", 2.0)])
    create_mapped_delta(df, path, mode="id")
    data_files = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_")
    ]
    # scramble the physical names in one file, ids intact
    f = os.path.join(path, data_files[0])
    t = pq.read_table(f)
    # scramble names AND order — neither name nor position matching
    # can accidentally pass; only field-id matching survives
    perm = list(reversed(range(len(t.schema))))
    scrambled = pa.schema(
        [t.schema.field(i).with_name(f"junk_{i}") for i in perm]
    )
    pq.write_table(
        pa.Table.from_arrays([t.columns[i] for i in perm], schema=scrambled),
        f,
    )
    back = read_delta(spark, path)
    assert back.columns == ["k", "part", "v"]
    assert _sorted_rows(back) == [(1, "a", 1.0), (2, "b", 2.0)]


def test_column_mapping_id_mode_idless_file_fails_loudly(spark, tmp_path):
    """An id-mode file WITHOUT parquet field ids is a spec violation —
    the scan must fail loudly (Spark's fieldId matching with
    ignoreMissing left false), never serve all-NULL rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from aws_datalake_framework_api_spark.sources.delta import (
        create_mapped_delta,
    )

    path = str(tmp_path / "cmap_noid")
    create_mapped_delta(
        _df(spark, [(1, "a", 1.0)]).coalesce(1), path, mode="id"
    )
    data_files = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_")
    ]
    assert len(data_files) == 1
    f = os.path.join(path, data_files[0])
    t = pq.read_table(f)
    pq.write_table(
        t.cast(pa.schema([fl.remove_metadata() for fl in t.schema])), f
    )
    with pytest.raises(Exception, match="FAILED_READ_FILE|field"):
        read_delta(spark, path).collect()


def test_column_mapping_unknown_mode_refused(spark, tmp_path):
    path, _ = _mapped_table(spark, tmp_path)
    with open(_version_file(path, 0)) as fh:
        lines = [json.loads(ln) for ln in fh if ln.strip()]
    for act in lines:
        if "metaData" in act:
            act["metaData"]["configuration"]["delta.columnMapping.mode"] = "glyph"
    with open(_version_file(path, 0), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in lines))
    with pytest.raises(ValueError, match="columnMapping.mode 'glyph'"):
        read_delta(spark, path).collect()


def test_column_mapping_append_writes_physical_names(spark, tmp_path):
    """Appends to a mapped table take LOGICAL columns and must land as
    PHYSICAL-named files + physical partitionValues keys (r6: mapped
    tables are append/overwrite-writable, not just readable)."""
    import pyarrow.parquet as pq

    path, l2p = _mapped_table(spark, tmp_path, partition_by=["part"])
    v = write_delta(
        _df(spark, [(9, "z", 9.0)]), path, mode="append",
        partition_by=["part"],
    )
    assert v == 1
    with open(_version_file(path, 1)) as fh:
        adds = [
            json.loads(ln)["add"] for ln in fh
            if ln.strip() and "add" in json.loads(ln)
        ]
    assert adds and all(
        set(a["partitionValues"]) == {l2p["part"]} for a in adds
    )
    new_file = os.path.join(path, adds[0]["path"])
    assert set(pq.read_schema(new_file).names) <= set(l2p.values())
    back = read_delta(spark, path)
    assert (9, "z", 9.0) in _sorted_rows(back)
    assert len(_sorted_rows(back)) == 5


def test_column_mapping_id_mode_append_stamps_ids(spark, tmp_path):
    import pyarrow.parquet as pq
    from aws_datalake_framework_api_spark.sources.delta import (
        create_mapped_delta,
    )

    path = str(tmp_path / "cmap_id_append")
    create_mapped_delta(_df(spark, [(1, "a", 1.0)]), path, mode="id")
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    with open(_version_file(path, 1)) as fh:
        adds = [
            json.loads(ln)["add"] for ln in fh
            if ln.strip() and "add" in json.loads(ln)
        ]
    sch = pq.read_schema(os.path.join(path, adds[0]["path"]))
    assert all((f.metadata or {}).get(b"PARQUET:field_id") for f in sch)
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0)
    ]


def test_column_mapping_merge_schema_assigns_ids(spark, tmp_path):
    """ADDITIVE mergeSchema on a mapped table assigns the new column a
    fresh column id past maxColumnId and a col-<uuid> physical name;
    pre-evolution files read the new column as NULL, and the new
    file spells it physically.  (The last mapped-write refusal,
    lifted late in r6.)"""
    path, l2p = _mapped_table(spark, tmp_path)
    write_delta(
        _df(spark, [(9, "z", 9.0)]).withColumn("extra", F.lit(1)),
        path, mode="append", merge_schema=True,
    )
    back = read_delta(spark, path)
    assert back.columns == ["k", "part", "v", "extra"]
    got = {(r["k"], r["extra"]) for r in back.collect()}
    assert (9, 1) in got and (1, None) in got
    # the evolved schemaString carries mapping metadata for the new
    # column and bumps maxColumnId
    snap = _snapshot_of(spark, path)
    sj = json.loads(snap.metadata["schemaString"])
    extra = next(f for f in sj["fields"] if f["name"] == "extra")
    md = extra["metadata"]
    assert md["delta.columnMapping.physicalName"].startswith("col-")
    ids = [f["metadata"]["delta.columnMapping.id"] for f in sj["fields"]]
    assert md["delta.columnMapping.id"] == max(ids)
    assert int(
        snap.metadata["configuration"]["delta.columnMapping.maxColumnId"]
    ) == max(ids)
    # the new data file spells ONLY physical names
    import pyarrow.parquet as pq

    phys = {
        f["metadata"]["delta.columnMapping.physicalName"]
        for f in sj["fields"]
    }
    newest = max(
        (f for f in os.listdir(path) if f.endswith(".parquet")
         and not f.startswith("_")),
        key=lambda f: os.path.getmtime(os.path.join(path, f)),
    )
    names = set(pq.ParquetFile(os.path.join(path, newest)).schema.names)
    assert names <= phys and len(names) == 4


def _snapshot_of(spark, path):
    from aws_datalake_framework_api_spark.sources.delta import _snapshot

    return _snapshot(spark, path)[0]


def test_legacy_writer_versions_gate_on_actual_capabilities(spark, tmp_path):
    """A (2,5) table with nothing else configured is writable; CDF
    enabled on the same protocol is writable too since r7 (mutations
    stage _change_data); an identity column on a COLUMN-MAPPED table
    — the combination this writer doesn't implement — refuses with a
    pointed diagnosis, never a silent misallocation (plain identity
    tables write since r9)."""
    path, _ = _mapped_table(spark, tmp_path)
    with open(_version_file(path, 0)) as fh:
        lines = [json.loads(ln) for ln in fh if ln.strip()]
    for act in lines:
        if "metaData" in act:
            act["metaData"]["configuration"][
                "delta.enableChangeDataFeed"
            ] = "true"
    with open(_version_file(path, 0), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in lines))
    write_delta(_df(spark, [(9, "z", 9.0)]), path, mode="append")
    assert (9, "z", 9.0) in _sorted_rows(read_delta(spark, path))
    # identity + column mapping generates since r11 —
    # see test_identity_on_column_mapped_table


def test_column_mapping_survives_checkpoint(spark, tmp_path):
    """checkpoint_delta round-trips schemaString + configuration, so a
    checkpoint-based read still resolves the mapping."""
    path, _ = _mapped_table(spark, tmp_path)
    checkpoint_delta(spark, path)
    # force a checkpoint-rooted read by dropping the JSON commit
    os.remove(_version_file(path, 0))
    back = read_delta(spark, path)
    assert back.columns == ["k", "part", "v"]
    assert len(_sorted_rows(back)) == 4


def test_column_mapping_rewrite_mutations(spark, tmp_path):
    """UPDATE / merge-on-read DELETE / MERGE / OPTIMIZE on a
    column-mapped table: predicates and assignments spell LOGICAL
    names, the rewritten files must spell PHYSICAL ones — a staging
    path that leaked logical names would write files every other
    mapped reader misreads as all-NULL."""
    from aws_datalake_framework_api_spark.sources.delta import (
        create_mapped_delta,
        delete_where_delta,
        merge_delta,
        optimize_delta,
        update_delta,
    )

    path = str(tmp_path / "cmap")
    l2p = create_mapped_delta(
        _df(spark, [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)]), path,
        partition_by=["part"],
    )
    # copy-on-write UPDATE by logical predicate/assignment
    _v, matched = update_delta(
        spark, path, F.col("k") == 2, {"v": 20.0}
    )
    assert matched == 1
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "a", 20.0), (3, "b", 3.0),
    ]
    # merge-on-read DELETE (deletion vector, no rewrite)
    _v, n = delete_where_delta(spark, path, F.col("k") == 1)
    assert n == 1
    assert _sorted_rows(read_delta(spark, path)) == [
        (2, "a", 20.0), (3, "b", 3.0),
    ]
    # MERGE: update k=3, insert k=9
    out = merge_delta(
        spark, path, _df(spark, [(3, "b", 30.0), (9, "c", 9.0)]),
        on=["k"],
    )
    assert (out["updated"], out["inserted"]) == (1, 1)
    assert _sorted_rows(read_delta(spark, path)) == [
        (2, "a", 20.0), (3, "b", 30.0), (9, "c", 9.0),
    ]
    # OPTIMIZE folds the DV and compacts — content unchanged
    res = optimize_delta(spark, path, partition_filter={"part": "a"})
    assert res["files_before"] >= 1
    assert _sorted_rows(read_delta(spark, path)) == [
        (2, "a", 20.0), (3, "b", 30.0), (9, "c", 9.0),
    ]
    # every data file still spells ONLY physical names
    import pyarrow.parquet as pq

    for f in os.listdir(path):
        if f.endswith(".parquet") and not f.startswith(
            ("_", "deletion_vector")
        ):
            names = set(
                pq.ParquetFile(os.path.join(path, f)).schema.names
            )
            assert names <= set(l2p.values()), f
    # logical partition pruning still works over the rewritten files
    back = read_delta(spark, path, partition_filter={"part": "b"})
    assert _sorted_rows(back) == [(3, "b", 30.0)]


def test_column_mapping_id_mode_update(spark, tmp_path):
    """The same UPDATE path in id mode: rewritten files must carry
    parquet field ids (id-mode readers match on them; an id-less
    rewrite would be the spec violation this reader itself refuses)."""
    from aws_datalake_framework_api_spark.sources.delta import (
        create_mapped_delta,
        update_delta,
    )

    path = str(tmp_path / "cmap")
    create_mapped_delta(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), path, mode="id"
    )
    update_delta(spark, path, F.col("k") == 1, {"v": 10.0})
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 10.0), (2, "b", 2.0),
    ]
    import pyarrow.parquet as pq

    for f in os.listdir(path):
        if f.endswith(".parquet") and not f.startswith("_"):
            sch = pq.ParquetFile(os.path.join(path, f)).schema_arrow
            assert all(
                (fld.metadata or {}).get(b"PARQUET:field_id") is not None
                for fld in sch
            ), f


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """timestampAsOf resolves to the latest commit at-or-before the
    instant (delta-spark's rule); an instant before the first commit
    refuses."""
    import datetime as dt

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    # pin distinguishable commit times (commitInfo.timestamp is millis)
    def _stamp(v, millis):
        vf = _version_file(path, v)
        lines = open(vf).read().splitlines()
        out = []
        for ln in lines:
            a = json.loads(ln)
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = millis
            out.append(json.dumps(a))
        open(vf, "w").write("\n".join(out) + "\n")

    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    _stamp(0, 1_000_000_000_000)  # 2001-09-09T01:46:40Z
    _stamp(1, 1_500_000_000_000)  # 2017-07-14
    assert _sorted_rows(
        read_delta(spark, path, timestamp_as_of=1_200_000_000_000)
    ) == [(1, "a", 1.0)]
    assert _sorted_rows(
        read_delta(spark, path, timestamp_as_of="2020-01-01T00:00:00+00:00")
    ) == [(1, "a", 1.0), (2, "b", 2.0)]
    assert _sorted_rows(
        read_delta(
            spark, path,
            timestamp_as_of=dt.datetime(2010, 1, 1,
                                        tzinfo=dt.timezone.utc),
        )
    ) == [(1, "a", 1.0)]
    with pytest.raises(ValueError, match="begins later"):
        read_delta(spark, path, timestamp_as_of=999)
    with pytest.raises(ValueError, match="not both"):
        read_delta(spark, path, version_as_of=0, timestamp_as_of=999)


def test_v2_checkpoint_pyarrow_loader(spark, tmp_path):
    """The sessionless loader (what the streaming source's DataSource
    worker uses) must reconstruct v2 checkpoints too — JSON main,
    parquet sidecar, no SparkSession."""
    from aws_datalake_framework_api_spark.sources.delta import _snapshot

    path = _v2_sidecar_table(spark, tmp_path)
    snap_pa, v = _snapshot(None, path)
    assert v == 1
    snap_spark, _ = _snapshot(spark, path)
    assert set(snap_pa.files) == set(snap_spark.files)
    assert snap_pa.metadata["schemaString"] == (
        snap_spark.metadata["schemaString"]
    )


# ------------------------------------------------- ADVICE r6 fixes


def test_vacuum_ages_on_latest_tombstone_per_path(spark, tmp_path):
    """A path removed more than once (DV update, then a final rewrite)
    must age from its LATEST deletionTimestamp: an ancient DV-update
    remove must not let vacuum reclaim a file whose final tombstone is
    seconds old (ADVICE r6 — delta-spark ages on the current
    tombstone)."""
    from aws_datalake_framework_api_spark.sources.delta import (
        delete_where_delta,
    )

    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(i, "x", float(i)) for i in range(4)]).coalesce(1),
        path, mode="error",
    )                                               # v0: one data file
    delete_where_delta(spark, path, F.col("k") == 1)  # v1: remove+re-add (DV)
    write_delta(_df(spark, [(9, "z", 9.0)]).coalesce(1), path,
                mode="overwrite")                     # v2: final tombstone
    # backdate ONLY the v1 DV-update remove to the distant past
    vf = _version_file(path, 1)
    acts = [json.loads(ln) for ln in open(vf) if ln.strip()]
    for a in acts:
        if "remove" in a:
            a["remove"]["deletionTimestamp"] = 1_000  # 1970
    open(vf, "w").write("\n".join(json.dumps(a) for a in acts) + "\n")
    # retention of 1h: the ancient v1 remove qualifies, the seconds-old
    # v2 tombstone does not — the data file must survive
    res = vacuum_delta(spark, path, retention_ms=3_600_000, force=True)
    assert res["deleted_files"] == 0
    # recent-version time travel still works
    assert _sorted_rows(read_delta(spark, path, version_as_of=1)) == [
        (0, "x", 0.0), (2, "x", 2.0), (3, "x", 3.0),
    ]


def test_changes_rejects_negative_starting_version(spark, tmp_path):
    """Changes-from-genesis is not expressible (exclusive lower bound);
    starting_version < 0 must refuse with a clear error, not crash in
    schema resolution (ADVICE r6)."""
    from aws_datalake_framework_api_spark.sources.delta import (
        read_delta_changes,
    )

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    with pytest.raises(ValueError, match="starting_version must be >= 0"):
        read_delta_changes(spark, path, -1)


def test_changes_skips_unchanged_dv_readd_pair(spark, tmp_path):
    """A commit that removes and re-adds the same path with an
    UNCHANGED deletion-vector uid changed no rows; the change feed
    must emit nothing for it, not re-stream the file as fresh inserts
    (ADVICE r6)."""
    from aws_datalake_framework_api_spark.sources.delta import (
        read_delta_changes,
    )

    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1),
        path, mode="error",
    )
    add0 = next(
        json.loads(ln)["add"]
        for ln in open(_version_file(path, 0))
        if ln.strip() and "\"add\"" in ln
    )
    _commit(path, 1, [
        {"commitInfo": {"timestamp": 1_700_000_000_000,
                        "operation": "REORG"}},
        {"remove": {"path": add0["path"], "dataChange": True,
                    "deletionTimestamp": 1_700_000_000_000}},
        {"add": {**add0, "dataChange": True}},
    ])
    assert read_delta_changes(spark, path, 0, 1).count() == 0
    # the table itself still reads whole
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0),
    ]


def test_timestamp_resolution_commitinfo_not_first(spark, tmp_path):
    """The protocol does not mandate commitInfo first in a commit; a
    foreign writer that orders it after other actions must still get
    timestamp-based resolution from commitInfo.timestamp, not silently
    fall back to file mtime (ADVICE r6)."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    for v, millis in ((0, 1_000_000_000_000), (1, 1_500_000_000_000)):
        vf = _version_file(path, v)
        acts = [json.loads(ln) for ln in open(vf) if ln.strip()]
        rest, infos = [], []
        for a in acts:
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = millis
                infos.append(a)
            else:
                rest.append(a)
        open(vf, "w").write(
            "\n".join(json.dumps(a) for a in rest + infos) + "\n"
        )  # commitInfo LAST
    assert _sorted_rows(
        read_delta(spark, path, timestamp_as_of=1_200_000_000_000)
    ) == [(1, "a", 1.0)]
    assert _sorted_rows(
        read_delta(spark, path, timestamp_as_of=1_600_000_000_000)
    ) == [(1, "a", 1.0), (2, "b", 2.0)]


# ------------------------------------- VERDICT r6: executor-side DV apply


def test_dv_positions_never_materialize_on_the_driver(spark, tmp_path,
                                                      monkeypatch):
    """The scale contract for merge-on-read: deletion-vector BITMAPS are
    decoded executor-side on read, and DELETE merges + writes the new
    bitmaps executor-side — the driver only ever carries O(files)
    descriptors.  Enforced by pid-guarding the decoder: any driver-
    process decode trips the assertion, while executor processes (their
    own module import, different pid) run the real one."""
    import os as _os

    from aws_datalake_framework_api_spark.sources import delta as D

    path = str(tmp_path / "t")
    rows = [(i, "a" if i % 2 else "b", float(i)) for i in range(100)]
    write_delta(_df(spark, rows).coalesce(2), path, mode="error")

    driver_pid = _os.getpid()
    orig = D._load_dv_positions

    def guard(p, dv):
        assert _os.getpid() != driver_pid, "DV bitmap decoded on the driver"
        return orig(p, dv)

    monkeypatch.setattr(D, "_load_dv_positions", guard)

    # merge-on-read DELETE: bitmap write happens in applyInPandas tasks
    v1, n1 = D.delete_where_delta(spark, path, F.col("k") < 10)
    assert n1 == 10
    # second DELETE must merge the EXISTING vector — still executor-side
    v2, n2 = D.delete_where_delta(spark, path, F.col("k") < 20)
    assert n2 == 10
    # read applies both vectors without a driver decode
    got = _sorted_rows(read_delta(spark, path))
    assert got == [(i, "a" if i % 2 else "b", float(i)) for i in range(20, 100)]
    # and the decode is visibly a distributed operator, not a
    # driver-built local relation of positions
    plan = read_delta(spark, path)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


# ------------------------------------- VERDICT r6 item 4: MERGE clauses


def test_merge_clause_parity_matrix(spark, tmp_path):
    """delta-spark's full MERGE clause surface in one statement:
    conditional WHEN MATCHED UPDATE, WHEN MATCHED DELETE (first match
    wins), conditional WHEN NOT MATCHED INSERT, and WHEN NOT MATCHED BY
    SOURCE update/delete — with untouched files preserved."""
    from aws_datalake_framework_api_spark.sources.delta import merge_delta

    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(k, "p", float(k) * 10) for k in range(1, 7)])
        .coalesce(1),
        path, mode="error",
    )
    source = _df(
        spark,
        [(4, "p", 99.0), (5, "p", 1.0), (6, "p", 88.0),
         (7, "p", 7.0), (8, "p", 8.0)],
    )
    out = merge_delta(
        spark, path, source, on=["k"],
        clauses=[
            {"when": "matched", "action": "update",
             "set": {"v": "s.v"}, "condition": "s.v > t.v"},
            {"when": "matched", "action": "delete"},
            {"when": "not_matched", "action": "insert",
             "condition": "s.k % 2 = 1"},
            {"when": "not_matched_by_source", "action": "delete",
             "condition": "t.k = 1"},
            {"when": "not_matched_by_source", "action": "update",
             "set": {"part": "'stale'"}, "condition": "t.k = 2"},
        ],
    )
    # matched: k=4 updated (99>40), k=5 deleted (1<=50), k=6 updated;
    # unmatched source: 7 inserts (odd), 8 dropped;
    # by source: k=1 deleted, k=2 part-updated, k=3 carried.
    assert (out["updated"], out["deleted"], out["inserted"]) == (3, 2, 1)
    assert _sorted_rows(read_delta(spark, path)) == [
        (2, "stale", 20.0), (3, "p", 30.0), (4, "p", 99.0),
        (6, "p", 88.0), (7, "p", 7.0),
    ]


def test_merge_update_only_and_delete_only(spark, tmp_path):
    """Clause subsets: update-only merges insert nothing; matched-delete
    merges act as a keyed anti-delete; by-source-delete alone prunes
    rows absent from the source (the snapshot-sync idiom) and rewrites
    ONLY the files its condition hits."""
    from aws_datalake_framework_api_spark.sources.delta import merge_delta

    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)])
        .coalesce(1),
        path, mode="error",
    )
    # update-only: unmatched source rows are NOT inserted
    out = merge_delta(
        spark, path, _df(spark, [(1, "a", 10.0), (9, "z", 9.0)]), on=["k"],
        clauses=[{"when": "matched", "action": "update"}],
    )
    assert (out["updated"], out["deleted"], out["inserted"]) == (1, 0, 0)
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 10.0), (2, "b", 2.0), (3, "c", 3.0),
    ]
    # matched-delete-only: source keys vanish, nothing else changes
    out = merge_delta(
        spark, path, _df(spark, [(2, "b", 0.0)]), on=["k"],
        clauses=[{"when": "matched", "action": "delete"}],
    )
    assert (out["updated"], out["deleted"], out["inserted"]) == (0, 1, 0)
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 10.0), (3, "c", 3.0),
    ]
    # by-source-delete (full sync): keep only keys the source carries
    out = merge_delta(
        spark, path, _df(spark, [(1, "a", 10.0)]), on=["k"],
        clauses=[{"when": "not_matched_by_source", "action": "delete"}],
    )
    assert (out["updated"], out["deleted"], out["inserted"]) == (0, 1, 0)
    assert _sorted_rows(read_delta(spark, path)) == [(1, "a", 10.0)]
    # bad clause shapes refuse
    with pytest.raises(ValueError, match="unknown merge clause"):
        merge_delta(spark, path, _df(spark, [(1, "a", 1.0)]), on=["k"],
                    clauses=[{"when": "sometimes", "action": "update"}])
    with pytest.raises(ValueError, match="supports"):
        merge_delta(spark, path, _df(spark, [(1, "a", 1.0)]), on=["k"],
                    clauses=[{"when": "not_matched", "action": "delete"}])


# --------------------------------- VERDICT r6 item 3: concurrency retry


def test_concurrent_blind_appends_both_land(spark, tmp_path, monkeypatch):
    """Two interleaved appenders: the loser of the version race
    auto-rebases onto the winner — both appends land, no row lost, no
    version clobbered (delta-spark's winning-commit reconciliation
    for the blind-append class)."""
    from aws_datalake_framework_api_spark.sources import delta as D

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    orig = D._commit
    state = {"raced": False}

    def racing(p, version, actions):
        if not state["raced"]:
            state["raced"] = True
            # a competitor commits the SAME version first
            D.write_delta(_df(spark, [(2, "b", 2.0)]), p, mode="append")
        return orig(p, version, actions)

    monkeypatch.setattr(D, "_commit", racing)
    v = D.write_delta(_df(spark, [(3, "c", 3.0)]), path, mode="append")
    assert v == 2  # rebased past the competitor's version 1
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0),
    ]


def test_concurrent_append_vs_metadata_change_refuses(
    spark, tmp_path, monkeypatch
):
    """A winner that changed table metadata makes the loser's schema
    validation stale: the rebase must REFUSE deterministically, not
    rebase blindly."""
    from aws_datalake_framework_api_spark.sources import delta as D

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    orig = D._commit
    state = {"raced": False}

    def racing(p, version, actions):
        if not state["raced"]:
            state["raced"] = True
            wide = spark.createDataFrame(
                [(2, "b", 2.0, "t")],
                "k int, part string, v double, tag string",
            )
            D.write_delta(wide, p, mode="append", merge_schema=True)
        return orig(p, version, actions)

    monkeypatch.setattr(D, "_commit", racing)
    with pytest.raises(D.CommitConflict, match="metadata/protocol"):
        D.write_delta(_df(spark, [(3, "c", 3.0)]), path, mode="append")


def test_concurrent_mutations_refuse_deterministically(
    spark, tmp_path, monkeypatch
):
    """Snapshot-dependent operations (DELETE / MERGE / overwrite) read
    state a concurrent winner may have changed — they surface
    CommitConflict with a re-run instruction, never a silent rebase."""
    from aws_datalake_framework_api_spark.sources import delta as D

    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1),
        path, mode="error",
    )
    orig = D._commit
    state = {"raced": False}

    def racing(p, version, actions):
        if not state["raced"]:
            state["raced"] = True
            D.write_delta(_df(spark, [(9, "z", 9.0)]), p, mode="append")
        return orig(p, version, actions)

    monkeypatch.setattr(D, "_commit", racing)
    with pytest.raises(D.CommitConflict, match="re-run"):
        D.delete_where_delta(spark, path, F.col("k") == 1)
    # the competitor's append won; the delete did NOT half-apply
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0), (9, "z", 9.0),
    ]
    state["raced"] = False
    with pytest.raises(D.CommitConflict, match="re-run"):
        D.write_delta(_df(spark, [(7, "q", 7.0)]), path, mode="overwrite")


def test_concurrent_txn_append_is_idempotent(spark, tmp_path, monkeypatch):
    """If a concurrent writer already applied the same (appId, version)
    txn, the rebase recognizes it and returns the winner's version
    instead of double-applying the batch."""
    from aws_datalake_framework_api_spark.sources import delta as D

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    orig = D._commit
    state = {"raced": False}

    def racing(p, version, actions):
        if not state["raced"]:
            state["raced"] = True
            D.write_delta(_df(spark, [(5, "e", 5.0)]), p, mode="append",
                          txn=("app", 7))
        return orig(p, version, actions)

    monkeypatch.setattr(D, "_commit", racing)
    v = D.write_delta(_df(spark, [(5, "e", 5.0)]), path, mode="append",
                      txn=("app", 7))
    assert v == 1  # the competitor's commit IS this transaction
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (5, "e", 5.0),
    ]


def test_change_feed_remove_of_dv_file_emits_only_live_rows(spark, tmp_path):
    """A dataChange remove of a file that CARRIES a deletion vector
    must surface only its LIVE rows as deletes (old DV applied,
    executor-decoded) — and the overwrite's adds as inserts."""
    from aws_datalake_framework_api_spark.sources.delta import (
        delete_where_delta, read_delta_changes,
    )

    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(k, "p", float(k)) for k in range(5)]).coalesce(1),
        path, mode="error",
    )
    delete_where_delta(spark, path, F.col("k") == 2)      # v1: DV
    write_delta(_df(spark, [(9, "z", 9.0)]).coalesce(1),
                path, mode="overwrite")                    # v2: remove+add
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in read_delta_changes(spark, path, 1, 2).collect()
    )
    # k=2 was already dead at v1 — it must NOT re-surface as a delete
    assert got == [
        (2, "delete", 0), (2, "delete", 1), (2, "delete", 3),
        (2, "delete", 4), (2, "insert", 9),
    ]


# --------------------------------------------- r7: CHECK constraints


def test_check_constraints_enforced_on_every_write_path(spark, tmp_path):
    """ADD CONSTRAINT verifies existing rows, later writes enforce it
    (append, UPDATE, MERGE), NULL evaluations pass (SQL three-valued
    logic), and DROP re-admits — delta-spark's CHECK surface."""
    from aws_datalake_framework_api_spark.sources.delta import (
        add_constraint_delta, drop_constraint_delta, merge_delta,
        update_delta,
    )

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), path,
                mode="error")
    v = add_constraint_delta(spark, path, "v_positive", "v > 0")
    assert v == 1
    # violating append fails the WRITE JOB and commits nothing
    with pytest.raises(Exception, match="v_positive"):
        write_delta(_df(spark, [(3, "c", -3.0)]), path, mode="append")
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0),
    ]
    # passing append lands; NULL evaluation passes (three-valued logic)
    write_delta(
        spark.createDataFrame([(4, "d", None)],
                              "k int, part string, v double"),
        path, mode="append",
    )
    # UPDATE that would violate fails; one that passes lands
    with pytest.raises(Exception, match="v_positive"):
        update_delta(spark, path, F.col("k") == 1, {"v": -5.0})
    update_delta(spark, path, F.col("k") == 1, {"v": 10.0})
    # MERGE enforcement
    with pytest.raises(Exception, match="v_positive"):
        merge_delta(spark, path, _df(spark, [(2, "b", -2.0)]), on=["k"])
    # adding a constraint existing rows violate is refused
    with pytest.raises(ValueError, match="existing row"):
        add_constraint_delta(spark, path, "k_small", "k < 3")
    # duplicate name refused; drop re-admits negative values
    with pytest.raises(ValueError, match="already exists"):
        add_constraint_delta(spark, path, "v_positive", "v > 0")
    drop_constraint_delta(spark, path, "v_positive")
    write_delta(_df(spark, [(9, "z", -9.0)]), path, mode="append")
    assert (9, "z", -9.0) in _sorted_rows(read_delta(spark, path))


def test_foreign_constraint_table_is_writable_with_enforcement(
    spark, tmp_path
):
    """A foreign (1,3) table carrying delta.constraints.* — previously
    refused by the legacy-version gate — is now writable, with the
    constraint enforced."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    # retrofit the shape a legacy delta-spark writer leaves
    acts = [json.loads(ln) for ln in open(_version_file(path, 0))]
    for a in acts:
        if "metaData" in a:
            a["metaData"]["configuration"] = {
                "delta.constraints.positive": "v > 0"
            }
        if "protocol" in a:
            a["protocol"] = {"minReaderVersion": 1, "minWriterVersion": 3}
    open(_version_file(path, 0), "w").write(
        "\n".join(json.dumps(a) for a in acts) + "\n"
    )
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    with pytest.raises(Exception, match="positive"):
        write_delta(_df(spark, [(3, "c", -1.0)]), path, mode="append")
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0),
    ]


def test_generated_columns_enforced_not_refused(spark, tmp_path):
    """A foreign table with delta.generationExpression (writer v4)
    is writable: provided values that EQUAL the expression land,
    mismatching ones fail the write job — delta-spark's
    provided-value rule for generated columns."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "p1", 1.0)]), path, mode="error")
    acts = [json.loads(ln) for ln in open(_version_file(path, 0))]
    for a in acts:
        if "metaData" in a:
            sj = json.loads(a["metaData"]["schemaString"])
            for f in sj["fields"]:
                if f["name"] == "part":
                    f["metadata"] = {
                        "delta.generationExpression":
                            "concat('p', cast(k as string))"
                    }
            a["metaData"]["schemaString"] = json.dumps(sj)
        if "protocol" in a:
            a["protocol"] = {"minReaderVersion": 1, "minWriterVersion": 4}
    open(_version_file(path, 0), "w").write(
        "\n".join(json.dumps(a) for a in acts) + "\n"
    )
    write_delta(_df(spark, [(2, "p2", 2.0)]), path, mode="append")
    with pytest.raises(Exception, match="generation expression"):
        write_delta(_df(spark, [(3, "wrong", 3.0)]), path, mode="append")
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "p1", 1.0), (2, "p2", 2.0),
    ]
    # UPDATE that would break the generation expression fails too
    from aws_datalake_framework_api_spark.sources.delta import update_delta
    with pytest.raises(Exception, match="generation expression"):
        update_delta(spark, path, F.col("k") == 2, {"part": "nope"})
    # identity columns are writable since r9: explicit values still
    # gate on allowExplicitInsert
    acts = [json.loads(ln) for ln in open(_version_file(path, 0))]
    for a in acts:
        if "metaData" in a:
            sj = json.loads(a["metaData"]["schemaString"])
            sj["fields"][0]["metadata"] = {"delta.identity.start": "1"}
            a["metaData"]["schemaString"] = json.dumps(sj)
    open(_version_file(path, 0), "w").write(
        "\n".join(json.dumps(a) for a in acts) + "\n"
    )
    with pytest.raises(ValueError, match="explicit"):
        write_delta(_df(spark, [(9, "p9", 9.0)]), path, mode="append")


# ----------------------------------------------------- r7: CDF writes


def test_cdf_mutations_write_and_read_row_level_changes(spark, tmp_path):
    """With delta.enableChangeDataFeed=true, DELETE/UPDATE/MERGE stage
    row-level _change_data files (cdc actions, dataChange=false) and
    read_delta_changes reads those commits from the cdc files
    EXCLUSIVELY — update_preimage/postimage pairs instead of
    file-granular delete+insert noise."""
    from aws_datalake_framework_api_spark.sources.delta import (
        alter_table_properties_delta, delete_where_delta, merge_delta,
        read_delta_changes, update_delta,
    )

    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0),
                    (4, "d", 4.0)]).coalesce(1),
        path, mode="error",
    )
    alter_table_properties_delta(
        spark, path, {"delta.enableChangeDataFeed": "true"}
    )                                                        # v1
    delete_where_delta(spark, path, F.col("k") == 2)         # v2
    update_delta(spark, path, F.col("k") == 3, {"v": 30.0})  # v3
    merge_delta(spark, path,
                _df(spark, [(4, "d", 40.0), (9, "z", 9.0)]), on=["k"])  # v4

    def changes(lo, hi):
        return sorted(
            (r["_commit_version"], r["_change_type"], r["k"], r["v"])
            for r in read_delta_changes(spark, path, lo, hi).collect()
        )

    # DELETE: exactly the deleted ROW, not the file's other rows
    assert changes(1, 2) == [(2, "delete", 2, 2.0)]
    # UPDATE: pre/post images, not delete+insert of the whole file
    assert changes(2, 3) == [
        (3, "update_postimage", 3, 30.0), (3, "update_preimage", 3, 3.0),
    ]
    # MERGE: row-level update pair + insert; carried rows are silent
    assert changes(3, 4) == [
        (4, "insert", 9, 9.0),
        (4, "update_postimage", 4, 40.0), (4, "update_preimage", 4, 4.0),
    ]
    # the cdc actions exist and are dataChange=false under _change_data/
    acts = [json.loads(ln) for ln in open(_version_file(path, 2))]
    cdcs = [a["cdc"] for a in acts if "cdc" in a]
    assert cdcs and all(
        not c["dataChange"] and c["path"].startswith("_change_data/")
        for c in cdcs
    )
    # table state itself is unaffected by cdc files
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (3, "c", 30.0), (4, "d", 40.0), (9, "z", 9.0),
    ]


def test_cdf_foreign_v4_table_writable_and_append_derived(spark, tmp_path):
    """A foreign writer-v4 CDF table is writable now; plain appends
    carry no cdc actions and still derive as inserts."""
    from aws_datalake_framework_api_spark.sources.delta import (
        read_delta_changes,
    )

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    acts = [json.loads(ln) for ln in open(_version_file(path, 0))]
    for a in acts:
        if "metaData" in a:
            a["metaData"]["configuration"] = {
                "delta.enableChangeDataFeed": "true"
            }
        if "protocol" in a:
            a["protocol"] = {"minReaderVersion": 1, "minWriterVersion": 4}
    open(_version_file(path, 0), "w").write(
        "\n".join(json.dumps(a) for a in acts) + "\n"
    )
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")  # v1
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in read_delta_changes(spark, path, 0, 1).collect()
    )
    assert got == [(1, "insert", 2)]


def test_merge_hit_discovery_is_stats_pruned(spark, tmp_path, monkeypatch):
    """A key-clustered merge source must discover its hit files against
    only the stats-overlapping files: the pruned discovery scan reads
    strictly fewer files than the table holds, and the merge result is
    unchanged."""
    from aws_datalake_framework_api_spark.sources import delta as D

    path = str(tmp_path / "t")
    # 4 disjoint-range files
    for i, mode in zip(range(4), ["error", "append", "append", "append"]):
        rows = [(k, "p", float(k)) for k in range(i * 100, i * 100 + 100)]
        write_delta(
            spark.createDataFrame(rows, "k int, part string, v double")
            .coalesce(1),
            path, mode=mode,
        )
    calls = {}
    orig = D._prune_snapshot

    def spy(snap, col, lo, hi):
        kept, skipped = orig(snap, col, lo, hi)
        calls["kept"], calls["skipped"] = len(kept), len(skipped)
        return kept, skipped

    monkeypatch.setattr(D, "_prune_snapshot", spy)
    out = D.merge_delta(
        spark, path,
        _df(spark, [(105, "p", 9999.0), (110, "p", 8888.0)]), on=["k"],
    )
    assert (out["updated"], out["inserted"]) == (2, 0)
    # discovery pruned to the one file whose range holds 105/110
    assert calls == {"kept": 1, "skipped": 3}
    got = {r["k"]: r["v"] for r in read_delta(spark, path).collect()}
    assert got[105] == 9999.0 and got[110] == 8888.0 and len(got) == 400
    # only that file was rewritten
    acts = [json.loads(ln) for ln in open(_version_file(path, 4))]
    assert len([a for a in acts if "remove" in a]) == 1


def test_cdf_enable_upgrades_protocol(spark, tmp_path):
    """ADVICE r7: enabling delta.enableChangeDataFeed must raise the
    protocol (minWriterVersion 4 legacy, changeDataFeed feature on
    v7) so a legacy writer-v2 client cannot legally mutate the table
    without writing cdc files; unrelated properties leave it alone."""
    from aws_datalake_framework_api_spark.sources.delta import (
        alter_table_properties_delta,
    )

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    # unrelated property: no protocol action in the commit
    v = alter_table_properties_delta(
        spark, path, {"delta.appendOnly": "false"}
    )
    acts = [json.loads(ln) for ln in open(_version_file(path, v))]
    assert not any("protocol" in a for a in acts)
    # CDF on a legacy (1,2) table: bump to minWriterVersion 4
    v = alter_table_properties_delta(
        spark, path, {"delta.enableChangeDataFeed": "true"}
    )
    acts = [json.loads(ln) for ln in open(_version_file(path, v))]
    protos = [a["protocol"] for a in acts if "protocol" in a]
    assert protos == [{"minReaderVersion": 1, "minWriterVersion": 4}]
    # v7 table missing the feature: the named feature is appended
    path7 = str(tmp_path / "t7")
    write_delta(_df(spark, [(1, "a", 1.0)]), path7, mode="error")
    acts = [json.loads(ln) for ln in open(_version_file(path7, 0))]
    for a in acts:
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 1, "minWriterVersion": 7,
                "writerFeatures": ["appendOnly"],
            }
    open(_version_file(path7, 0), "w").write(
        "\n".join(json.dumps(a) for a in acts) + "\n"
    )
    v = alter_table_properties_delta(
        spark, path7, {"delta.enableChangeDataFeed": "true"}
    )
    acts = [json.loads(ln) for ln in open(_version_file(path7, v))]
    protos = [a["protocol"] for a in acts if "protocol" in a]
    assert protos and protos[0]["writerFeatures"] == [
        "appendOnly", "changeDataFeed",
    ]


def test_merge_noop_commits_nothing(spark, tmp_path):
    """ADVICE r7 ×2: a MERGE where every clause condition misses must
    not commit — no version churn, and on a CDF table no dataChange
    rewrite whose file-diff derivation would surface carried rows as
    spurious delete+insert changes."""
    from aws_datalake_framework_api_spark.sources.delta import (
        alter_table_properties_delta, merge_delta, read_delta_changes,
    )

    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1),
        path, mode="error",
    )
    alter_table_properties_delta(
        spark, path, {"delta.enableChangeDataFeed": "true"}
    )                                                           # v1
    # key 1 MATCHES (the hit-file discovery finds its file) but the
    # clause condition excludes it; nothing inserts either
    out = merge_delta(
        spark, path, _df(spark, [(1, "a", 99.0), (7, "z", 7.0)]),
        on=["k"],
        clauses=[
            {"when": "matched", "action": "update",
             "condition": "s.v < t.v"},
            {"when": "not_matched", "action": "insert",
             "condition": "s.k > 100"},
        ],
    )
    assert out == {"version": 1, "updated": 0, "deleted": 0,
                   "inserted": 0}
    assert not os.path.exists(_version_file(path, 2))
    assert read_delta_changes(spark, path, 1, 1).count() == 0
    assert _sorted_rows(read_delta(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0),
    ]


def test_merge_composite_key_discovery_is_stats_pruned(
    spark, tmp_path, monkeypatch
):
    """r8: a COMPOSITE merge key conjoins per-column stats bounds —
    each column alone overlaps two files here, but only their
    intersection (one file) is scanned for discovery and rewritten."""
    from aws_datalake_framework_api_spark.sources import delta as D

    path = str(tmp_path / "t")
    # 4 files: k-range × part-value grid — (k,part) unique table-wide
    specs = [(0, "a"), (0, "b"), (100, "a"), (100, "b")]
    for i, (base, p) in enumerate(specs):
        rows = [(k, p, float(k)) for k in range(base, base + 100)]
        write_delta(
            spark.createDataFrame(rows, "k int, part string, v double")
            .coalesce(1),
            path, mode="error" if i == 0 else "append",
        )
    calls = {}
    orig = D._prune_snapshot

    def spy(snap, col, lo, hi):
        kept, skipped = orig(snap, col, lo, hi)
        calls[col] = (len(kept), len(skipped))
        return kept, skipped

    monkeypatch.setattr(D, "_prune_snapshot", spy)
    out = D.merge_delta(
        spark, path, _df(spark, [(150, "a", 9999.0)]),
        on=["k", "part"],
    )
    assert (out["updated"], out["inserted"]) == (1, 0)
    # each column's bounds alone keep 2 of 4 files...
    assert calls == {"k": (2, 2), "part": (2, 2)}
    # ...but only their intersection (one file) was rewritten
    acts = [json.loads(ln) for ln in open(_version_file(path, 4))]
    assert len([a for a in acts if "remove" in a]) == 1
    got = {(r["k"], r["part"]): r["v"]
           for r in read_delta(spark, path).collect()}
    assert got[(150, "a")] == 9999.0 and got[(150, "b")] == 150.0
    assert len(got) == 400


def test_mor_merge_matches_cow_with_identical_cdf(spark, tmp_path):
    """merge_delta(strategy="mor"): deletion-vector MERGE lands the
    exact state the copy-on-write strategy lands — full clause matrix
    over a table with a PRE-EXISTING deletion vector — while
    rewriting NO data file, and a CDF reader sees IDENTICAL change
    rows from both strategies (r8; the Delta twin of
    merge_iceberg(strategy='mor'))."""
    from aws_datalake_framework_api_spark.sources.delta import (
        alter_table_properties_delta,
        delete_where_delta,
        merge_delta,
        read_delta_changes,
    )

    states, changes, stats = [], [], []
    for strat in ("cow", "mor"):
        path = str(tmp_path / strat)
        write_delta(
            spark.createDataFrame(
                [(i, f"g{i % 3}", float(i)) for i in range(40)],
                "k int, part string, v double",
            ).coalesce(2),
            path, mode="error",
        )                                                        # v0
        alter_table_properties_delta(
            spark, path, {"delta.enableChangeDataFeed": "true"}
        )                                                        # v1
        delete_where_delta(spark, path, F.col("k") % 10 == 0)    # v2: DV
        src = spark.createDataFrame(
            [(i, "gX", 1000.0 + i) for i in range(0, 60, 4)],
            "k int, part string, v double",
        )
        before = set(os.listdir(path))
        out = merge_delta(
            spark, path, src, ["k"],
            clauses=[
                {"when": "matched", "action": "update",
                 "condition": "t.k % 8 = 0"},
                {"when": "matched", "action": "delete"},
                {"when": "not_matched", "action": "insert"},
                {"when": "not_matched_by_source", "action": "delete",
                 "condition": "t.k = 33"},
            ],
            strategy=strat,
        )                                                        # v3
        stats.append(
            (out["updated"], out["deleted"], out["inserted"])
        )
        states.append(_sorted_rows(read_delta(spark, path)))
        changes.append(sorted(
            tuple(r)
            for r in read_delta_changes(spark, path, 2, out["version"])
            .collect()
        ))
        if strat == "mor":
            # every pre-merge parquet file still present (DV-only kill)
            gone = {
                f for f in before - set(os.listdir(path))
                if f.endswith(".parquet")
            }
            assert gone == set()
    assert stats[0] == stats[1]
    assert states[0] == states[1]
    assert changes[0] == changes[1]  # CDF parity between strategies


def test_mor_merge_replayed_txn_skips(spark, tmp_path):
    """The txn watermark rides the MOR merge commit exactly as it
    rides COW — a replayed micro-batch is a no-op."""
    from aws_datalake_framework_api_spark.sources.delta import (
        last_txn_version, merge_delta,
    )

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]).coalesce(1), path, mode="error")
    out = merge_delta(
        spark, path, _df(spark, [(1, "a", 2.0)]), ["k"],
        txn=("app", 0), strategy="mor",
    )
    assert out["updated"] == 1
    assert last_txn_version(spark, path, "app") == 0
    out = merge_delta(
        spark, path, _df(spark, [(1, "a", 99.0)]), ["k"],
        txn=("app", 0), strategy="mor",
    )
    assert out.get("skipped") is True
    assert _sorted_rows(read_delta(spark, path)) == [(1, "a", 2.0)]


# ------------------------------------------------------ type widening (r9)


def test_widen_type_reads_across_eras_and_mutates(spark, tmp_path):
    """widen_type_delta (the protocol's typeWidening feature): old
    int32/float32/decimal(6,2) physicals read back under the widened
    declared schema; appends, DV deletes, and MERGE keep working on
    the widened table; the protocol carries the feature on BOTH
    lists; transitions are recorded in field metadata."""
    import decimal

    from aws_datalake_framework_api_spark.sources.delta import (
        delete_where_delta,
        merge_delta,
        widen_type_delta,
    )

    path = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(1, 1.5, decimal.Decimal("12.34")),
             (2, 2.5, decimal.Decimal("99.99"))],
            "k int, v float, d decimal(6,2)",
        ).coalesce(1),
        path,
        mode="error",
    )
    widen_type_delta(
        spark, path, {"k": "long", "v": "double", "d": "decimal(12,2)"}
    )
    write_delta(
        spark.createDataFrame(
            [(3_000_000_000, 3.25, decimal.Decimal("1234567890.12"))],
            "k long, v double, d decimal(12,2)",
        ).coalesce(1),
        path,
        mode="append",
    )
    back = read_delta(spark, path)
    assert back.schema.simpleString() == (
        "struct<k:bigint,v:double,d:decimal(12,2)>"
    )
    assert sorted(tuple(r) for r in back.collect()) == [
        (1, 1.5, decimal.Decimal("12.34")),
        (2, 2.5, decimal.Decimal("99.99")),
        (3_000_000_000, 3.25, decimal.Decimal("1234567890.12")),
    ]
    from aws_datalake_framework_api_spark.sources.delta import _snapshot

    snap, _v = _snapshot(spark, path)
    proto = snap.protocol
    assert "typeWidening" in (proto.get("readerFeatures") or [])
    assert "typeWidening" in (proto.get("writerFeatures") or [])
    fields = json.loads(snap.metadata["schemaString"])["fields"]
    trans = {
        f["name"]: (f.get("metadata") or {}).get("delta.typeWidening")
        for f in fields
    }
    assert trans["k"][0]["fromType"] == "integer"
    assert trans["k"][0]["toType"] == "long"
    # mutations on the widened table: DV delete + full MERGE
    delete_where_delta(spark, path, F.col("k") == 1)
    out = merge_delta(
        spark, path,
        spark.createDataFrame(
            [(2, 9.0, decimal.Decimal("1.00")),
             (7, 7.0, decimal.Decimal("7.77"))],
            "k long, v double, d decimal(12,2)",
        ),
        on=["k"],
    )
    assert out["updated"] == 1 and out["inserted"] == 1
    assert sorted(tuple(r) for r in read_delta(spark, path).collect()) == [
        (2, 9.0, decimal.Decimal("1.00")),
        (7, 7.0, decimal.Decimal("7.77")),
        (3_000_000_000, 3.25, decimal.Decimal("1234567890.12")),
    ]


def test_widen_type_illegal_refused(spark, tmp_path):
    """Narrowings, cross-family changes, partition columns, and
    unknown columns all refuse; a legal widen on a legacy (1,2) table
    upgrades the protocol to (3,7) declaring used capabilities."""
    from aws_datalake_framework_api_spark.sources.delta import (
        widen_type_delta,
    )

    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(1, "a", 1.0)]), path, mode="error",
        partition_by=["part"],
    )
    for bad in (
        {"k": "short"},        # narrowing
        {"v": "float"},        # narrowing
        {"k": "double"},       # cross-family
        {"part": "binary"},    # cross-family + partition col
        {"missing": "long"},   # no such column
        {"k": "int"},          # no-op (int spells 'integer' in JSON)
        {},                    # nothing to do
    ):
        with pytest.raises(ValueError):
            widen_type_delta(spark, path, bad)
    # a LEGAL widening shape on a partition column still refuses
    p2 = str(tmp_path / "t2")
    write_delta(
        _df(spark, [(1, "a", 1.0)]), p2, mode="error", partition_by=["k"]
    )
    with pytest.raises(ValueError, match="partition column"):
        widen_type_delta(spark, p2, {"k": "long"})


def test_foreign_widened_table_reads(spark, tmp_path):
    """A FOREIGN-written typeWidening table (protocol declares the
    feature, schemaString already wide, files narrow) reads without
    our widen function ever running — the r8 refusal is gone."""
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    with open(_version_file(path, 0)) as fh:
        acts = [json.loads(line) for line in fh if line.strip()]
    md = next(a["metaData"] for a in acts if "metaData" in a)
    schema = json.loads(md["schemaString"])
    for f in schema["fields"]:
        if f["name"] == "k":
            f["type"] = "long"
    md = {**md, "schemaString": json.dumps(schema)}
    _commit(
        path,
        1,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["typeWidening"],
                          "writerFeatures": ["typeWidening"]}},
            {"metaData": md},
        ],
    )
    back = read_delta(spark, path)
    assert dict(back.dtypes)["k"] == "bigint"
    assert _sorted_rows(back) == [(1, "a", 1.0)]


# ---------------------------------------------------- identity columns (r9)


def test_identity_create_append_and_watermark(spark, tmp_path):
    """create_identity_delta + plain appends: values unique and on the
    start+k·step lattice across MULTI-partition writes, the watermark
    rides the same commit as its rows (one version per write), and a
    fresh append never collides with any prior value."""
    from aws_datalake_framework_api_spark.sources.delta import (
        _list_versions,
        create_identity_delta,
    )

    path = str(tmp_path / "t")
    create_identity_delta(
        spark,
        spark.createDataFrame([(c,) for c in "abc"], "name string"),
        path, "id", start=100, step=5,
    )
    write_delta(
        spark.createDataFrame([(c,) for c in "de"], "name string"),
        path, mode="append",
    )
    write_delta(
        spark.createDataFrame([(c,) for c in "fg"], "name string"),
        path, mode="append",
    )
    rows = read_delta(spark, path).collect()
    ids = [r["id"] for r in rows]
    assert len(rows) == 7 and len(set(ids)) == 7
    assert all((i - 100) % 5 == 0 and i >= 100 for i in ids)
    # one commit per write: watermark never got its own version
    assert _list_versions(path) == [0, 1, 2]


def test_identity_explicit_insert_rounds_watermark_to_lattice(
    spark, tmp_path
):
    """allowExplicitInsert=true accepts caller values (even
    off-lattice) and rounds the watermark UP to the next lattice
    point, so later generated values cannot collide."""
    from aws_datalake_framework_api_spark.sources.delta import (
        create_identity_delta,
    )

    path = str(tmp_path / "t")
    create_identity_delta(
        spark,
        spark.createDataFrame([("a",)], "name string").coalesce(1),
        path, "id", start=10, step=10, allow_explicit=True,
    )
    # off-lattice explicit value far beyond the watermark
    write_delta(
        spark.createDataFrame([("b", 1234)], "name string, id long"),
        path, mode="append",
    )
    write_delta(
        spark.createDataFrame([("c",)], "name string"),
        path, mode="append",
    )
    got = {r["name"]: r["id"] for r in read_delta(spark, path).collect()}
    assert got["a"] == 10 and got["b"] == 1234
    # next generated value: first lattice point past 1234, plus step
    assert got["c"] >= 1240 and (got["c"] - 10) % 10 == 0
    assert len(set(got.values())) == 3


def test_identity_refusals(spark, tmp_path):
    """Explicit inserts refuse without the flag (appends AND merge
    sources carrying the column); UPDATE naming the identity column
    refuses; DV delete and a second create refuse appropriately."""
    from aws_datalake_framework_api_spark.sources.delta import (
        create_identity_delta,
        delete_where_delta,
        merge_delta,
        update_delta,
    )

    path = str(tmp_path / "t")
    create_identity_delta(
        spark,
        spark.createDataFrame([("a",), ("b",)], "name string"),
        path, "id",
    )
    with pytest.raises(ValueError, match="explicit"):
        write_delta(
            spark.createDataFrame([("x", 9)], "name string, id long"),
            path, mode="append",
        )
    with pytest.raises(ValueError, match="writer-owned"):
        update_delta(spark, path, F.col("name") == "a", {"id": 99})
    # merge source CARRYING the identity column + INSERT * = explicit
    with pytest.raises(ValueError, match="explicit"):
        merge_delta(
            spark, path,
            spark.createDataFrame([("q", 1)], "name string, id long"),
            on=["id"],
        )
    # update SET naming the identity column inside a merge clause
    with pytest.raises(ValueError, match="writer-owned"):
        merge_delta(
            spark, path,
            spark.createDataFrame([("q",)], "name string"),
            on=["name"],
            clauses=[{"when": "matched", "action": "update",
                      "set": {"id": "s.`id`"}}],
        )
    # delete never mints rows — allowed
    delete_where_delta(spark, path, F.col("name") == "a")
    assert sorted(
        r["name"] for r in read_delta(spark, path).collect()
    ) == ["b"]
    with pytest.raises(FileExistsError):
        create_identity_delta(
            spark, spark.createDataFrame([("z",)], "name string"),
            path, "id2",
        )


def test_identity_update_preserves_values(spark, tmp_path):
    """VERDICT r9 item #5: UPDATE on an identity table works when the
    assignments don't name the identity column — the rewrite carries
    every row's identity value unchanged and the watermark stays put
    (no rows minted)."""
    from aws_datalake_framework_api_spark.sources.delta import (
        _identity_specs,
        _snapshot,
        create_identity_delta,
        update_delta,
    )

    path = str(tmp_path / "t")
    create_identity_delta(
        spark,
        spark.createDataFrame([("a", 1.0), ("b", 2.0)], "name string, v double"),
        path, "id", start=7, step=3,
    )
    before = {r["name"]: r["id"] for r in read_delta(spark, path).collect()}
    wm_before = _identity_specs(_snapshot(spark, path)[0])["id"]["wm"]
    version, matched = update_delta(
        spark, path, F.col("name") == "a", {"v": 10.0}
    )
    assert matched == 1
    got = {r["name"]: (r["id"], r["v"]) for r in read_delta(spark, path).collect()}
    assert got["a"] == (before["a"], 10.0)
    assert got["b"] == (before["b"], 2.0)
    assert _identity_specs(_snapshot(spark, path)[0])["id"]["wm"] == wm_before


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_identity_merge_generates_and_advances_watermark(
    spark, tmp_path, strategy
):
    """VERDICT r9 item #5: MERGE on an identity table — matched
    updates keep the target's identity value (UPDATE * excludes the
    column), unmatched inserts GENERATE unique on-lattice values from
    a source that simply omits the column, and the high watermark
    advances in the SAME commit, so a second merge cannot collide."""
    from aws_datalake_framework_api_spark.sources.delta import (
        _identity_specs,
        _list_versions,
        _snapshot,
        create_identity_delta,
        merge_delta,
    )

    path = str(tmp_path / f"t_{strategy}")
    create_identity_delta(
        spark,
        spark.createDataFrame(
            [("a", 1.0), ("b", 2.0)], "name string, v double"
        ),
        path, "id", start=100, step=5,
    )
    before = {r["name"]: r["id"] for r in read_delta(spark, path).collect()}
    # upsert: update a (keeps id), insert c + d (generated ids)
    res = merge_delta(
        spark, path,
        spark.createDataFrame(
            [("a", 11.0), ("c", 3.0), ("d", 4.0)], "name string, v double"
        ),
        on=["name"], strategy=strategy,
    )
    assert res["updated"] == 1 and res["inserted"] == 2
    rows = {r["name"]: r for r in read_delta(spark, path).collect()}
    assert rows["a"]["id"] == before["a"] and rows["a"]["v"] == 11.0
    assert rows["b"]["id"] == before["b"]
    ids = [r["id"] for r in rows.values()]
    assert len(set(ids)) == 4
    assert all((i - 100) % 5 == 0 and i >= 100 for i in ids)
    # watermark rode the merge commit (no extra version) and covers
    # the minted values
    wm = _identity_specs(_snapshot(spark, path)[0])["id"]["wm"]
    assert wm >= max(ids)
    assert len(_list_versions(path)) == 2
    # a second merge's generated values cannot collide
    merge_delta(
        spark, path,
        spark.createDataFrame([("e", 5.0)], "name string, v double"),
        on=["name"], strategy=strategy,
    )
    ids2 = [r["id"] for r in read_delta(spark, path).collect()]
    assert len(set(ids2)) == 5


def test_identity_merge_cdf_rows_match_table_values(spark, tmp_path):
    """r10 review finding: generated identity values ride a
    nondeterministic expression, and a CDF-enabled merge evaluates the
    insert subplan twice (data stage + _change_data stage) — the
    minted rows are localCheckpoint'ed so the change feed carries
    EXACTLY the committed values."""
    from aws_datalake_framework_api_spark.sources.delta import (
        alter_table_properties_delta,
        create_identity_delta,
        merge_delta,
        read_delta_changes,
    )

    path = str(tmp_path / "t")
    create_identity_delta(
        spark,
        spark.createDataFrame([("a", 1.0)], "name string, v double"),
        path, "id", start=5, step=5,
    )
    alter_table_properties_delta(
        spark, path, {"delta.enableChangeDataFeed": "true"}
    )
    merge_delta(
        spark, path,
        spark.createDataFrame(
            [(f"n{i}", float(i)) for i in range(30)],
            "name string, v double",
        ).repartition(4),
        on=["name"],
    )
    table_ids = {
        r["name"]: r["id"] for r in read_delta(spark, path).collect()
    }
    cdc_inserts = {
        r["name"]: r["id"]
        for r in read_delta_changes(spark, path, 1, 2)
        .filter(F.col("_change_type") == "insert")
        .collect()
    }
    assert cdc_inserts == {
        k: v for k, v in table_ids.items() if k != "a"
    }


def test_identity_merge_explicit_insert_with_flag(spark, tmp_path):
    """allowExplicitInsert=true merges take the source's identity
    values (INSERT *) and the watermark rounds up to the next lattice
    point past the inserted maximum, so later generation is safe."""
    from aws_datalake_framework_api_spark.sources.delta import (
        _identity_specs,
        _snapshot,
        create_identity_delta,
        merge_delta,
        write_delta as _wd,
    )

    path = str(tmp_path / "t")
    create_identity_delta(
        spark,
        spark.createDataFrame([("a",)], "name string").coalesce(1),
        path, "id", start=10, step=10, allow_explicit=True,
    )
    merge_delta(
        spark, path,
        spark.createDataFrame([("b", 1234)], "name string, id long"),
        on=["name"],
    )
    got = {r["name"]: r["id"] for r in read_delta(spark, path).collect()}
    assert got["b"] == 1234
    wm = _identity_specs(_snapshot(spark, path)[0])["id"]["wm"]
    assert wm >= 1240 and (wm - 10) % 10 == 0
    # later plain append generates past the ceiled watermark
    _wd(spark.createDataFrame([("c",)], "name string"), path, mode="append")
    got2 = {r["name"]: r["id"] for r in read_delta(spark, path).collect()}
    assert got2["c"] > 1234 and len(set(got2.values())) == 3


def test_identity_foreign_legacy_v6_table_appends(spark, tmp_path):
    """A FOREIGN legacy writer-v6 table declaring an identity column
    (the shape r8 refused outright): a plain append now generates
    values beyond the declared watermark and advances it."""
    path = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([("a", 7)], "name string, id long")
        .coalesce(1),
        path, mode="error",
    )
    with open(_version_file(path, 0)) as fh:
        acts = [json.loads(line) for line in fh if line.strip()]
    md = next(a["metaData"] for a in acts if "metaData" in a)
    schema = json.loads(md["schemaString"])
    for f in schema["fields"]:
        if f["name"] == "id":
            f["metadata"] = {
                "delta.identity.start": 7,
                "delta.identity.step": 7,
                "delta.identity.highWaterMark": 7,
                "delta.identity.allowExplicitInsert": False,
            }
    _commit(
        path, 1,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}},
            {"metaData": {**md, "schemaString": json.dumps(schema)}},
        ],
    )
    write_delta(
        spark.createDataFrame([("b",), ("c",)], "name string"),
        path, mode="append",
    )
    rows = {r["name"]: r["id"] for r in read_delta(spark, path).collect()}
    assert rows["a"] == 7
    assert rows["b"] != rows["c"]
    assert all(v % 7 == 0 and v >= 14 for v in (rows["b"], rows["c"]))
    # watermark advanced past everything handed out
    from aws_datalake_framework_api_spark.sources.delta import _snapshot

    snap, _ = _snapshot(spark, path)
    f = next(
        f for f in json.loads(snap.metadata["schemaString"])["fields"]
        if f["name"] == "id"
    )
    assert int(f["metadata"]["delta.identity.highWaterMark"]) >= max(
        rows.values()
    )


# ------------------------------------------------------------ shallow clone


def test_clone_reads_source_state_and_diverges(spark, tmp_path):
    """A shallow clone reads the source's state (including an
    inherited deletion vector), then diverges; the SOURCE is byte-for-
    byte untouched by clone mutations."""
    from aws_datalake_framework_api_spark.sources.delta import (
        clone_delta,
        delete_where_delta,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = _df(spark, [(k, "a" if k % 2 else "b", float(k)) for k in range(20)])
    write_delta(df, src, mode="error")
    delete_where_delta(spark, src, F.col("k") < 4)  # src carries a DV
    src_before = _sorted_rows(read_delta(spark, src))
    src_log_before = sorted(os.listdir(os.path.join(src, "_delta_log")))

    clone_delta(spark, src, dst)
    assert _sorted_rows(read_delta(spark, dst)) == src_before  # incl. DV

    # diverge: append + a clone-local DV stacked on a referenced file
    write_delta(
        _df(spark, [(100, "z", 100.0)]), dst, mode="append"
    )
    delete_where_delta(spark, dst, F.col("k") == 10)
    got = _sorted_rows(read_delta(spark, dst))
    assert (100, "z", 100.0) in got
    assert not any(r[0] == 10 for r in got)
    assert not any(r[0] < 4 for r in got)  # inherited DV still applies

    # source untouched: same rows, same log, no new files in its root
    assert _sorted_rows(read_delta(spark, src)) == src_before
    assert sorted(os.listdir(os.path.join(src, "_delta_log"))) == (
        src_log_before
    )


def test_clone_vacuum_never_reclaims_source_bytes(spark, tmp_path):
    """vacuum on the clone walks only the clone directory, so the
    referenced source parquet files survive even when the clone has
    removed them from its own state."""
    from aws_datalake_framework_api_spark.sources.delta import (
        clone_delta,
        delete_where_delta,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_delta(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), src, mode="error")
    src_parquet = {
        f for f in os.listdir(src) if f.endswith(".parquet")
    }
    clone_delta(spark, src, dst)
    # clone rewrites everything (copy-on-write UPDATE-like overwrite):
    # referenced files leave the clone's state entirely
    write_delta(
        _df(spark, [(3, "c", 3.0)]), dst, mode="overwrite"
    )
    vacuum_delta(spark, dst, retention_ms=0, force=True)
    assert {
        f for f in os.listdir(src) if f.endswith(".parquet")
    } == src_parquet
    assert _sorted_rows(read_delta(spark, src)) == [
        (1, "a", 1.0), (2, "b", 2.0)
    ]
    delete_where_delta(spark, dst, F.col("k") == 3)  # clone stays writable


def test_clone_refuses_existing_destination(spark, tmp_path):
    from aws_datalake_framework_api_spark.sources.delta import clone_delta

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_delta(_df(spark, [(1, "a", 1.0)]), src, mode="error")
    write_delta(_df(spark, [(2, "b", 2.0)]), dst, mode="error")
    with pytest.raises(FileExistsError):
        clone_delta(spark, src, dst)


# ---------------------------------------------------------------- OPTIMIZE


def test_optimize_folds_dvs_and_cdf_skips_it(spark, tmp_path):
    """Post-OPTIMIZE the snapshot carries no deletion vectors (the
    rewrite folds them) and a CDF read across the OPTIMIZE version
    yields zero changes (dataChange=false commits are invisible to
    incremental consumers)."""
    from aws_datalake_framework_api_spark.sources.delta import (
        _snapshot,
        alter_table_properties_delta,
        delete_where_delta,
        optimize_delta,
        read_delta_changes,
    )

    path = str(tmp_path / "t")
    df = _df(spark, [(k, "a", float(k)) for k in range(40)])
    write_delta(df.repartition(4), path, mode="error")
    alter_table_properties_delta(
        spark, path, {"delta.enableChangeDataFeed": "true"}
    )
    delete_where_delta(spark, path, F.col("k") % 10 == 0)
    before = _sorted_rows(read_delta(spark, path))
    res = optimize_delta(spark, path, zorder_by=["k"])
    assert res["files_after"] < res["files_before"]
    assert _sorted_rows(read_delta(spark, path)) == before
    snap, latest = _snapshot(spark, path)
    assert not any(
        a.get("deletionVector") for a in snap.files.values()
    )
    assert (
        read_delta_changes(spark, path, res["version"], latest).count() == 0
    )


# ------------------------------------------------- iceberg -> delta convert


def test_convert_iceberg_reads_and_diverges_without_touching_source(
    spark, tmp_path
):
    from aws_datalake_framework_api_spark.sources.delta import (
        convert_iceberg_to_delta,
        delete_where_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        read_iceberg,
        write_iceberg,
    )

    src, dst = str(tmp_path / "ice"), str(tmp_path / "dl")
    df = _df(spark, [(k, "a" if k % 2 else "b", float(k)) for k in range(10)])
    write_iceberg(df.coalesce(1), src, mode="error", partition_by=["part"])
    src_rows = _sorted_rows(read_iceberg(spark, src))

    convert_iceberg_to_delta(spark, src, dst)
    assert _sorted_rows(read_delta(spark, dst)) == src_rows

    # diverge delta-side: append + DV delete on a referenced file
    write_delta(
        _df(spark, [(100, "a", 100.0)]), dst, mode="append",
        partition_by=["part"],
    )
    delete_where_delta(spark, dst, F.col("k") == 2)
    got = _sorted_rows(read_delta(spark, dst))
    assert (100, "a", 100.0) in got and not any(r[0] == 2 for r in got)
    # iceberg source unaffected by the delta-side life
    assert _sorted_rows(read_iceberg(spark, src)) == src_rows


def test_convert_serializes_date_and_bool_partitions(spark, tmp_path):
    """ADVICE r9: identity partition values of date/boolean type must
    land in Delta's wire form ('yyyy-MM-dd', lowercase 'true'/'false')
    — Python str() of the avro physical form (epoch-day int, 'True')
    made the Delta reader misread the injected partition columns."""
    import datetime as dt
    import json as _json

    from aws_datalake_framework_api_spark.sources.delta import (
        convert_iceberg_to_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        read_iceberg,
        write_iceberg,
    )

    src, dst = str(tmp_path / "ice"), str(tmp_path / "dl")
    df = spark.createDataFrame(
        [
            (1, dt.date(2024, 1, 2), True, 1.0),
            (2, dt.date(2024, 1, 2), False, 2.0),
            (3, dt.date(2024, 3, 4), True, 3.0),
        ],
        "k int, d date, flag boolean, v double",
    )
    write_iceberg(df, src, mode="error", partition_by=["d", "flag"])
    src_rows = _sorted_rows(read_iceberg(spark, src))

    convert_iceberg_to_delta(spark, src, dst)
    assert _sorted_rows(read_delta(spark, dst)) == src_rows

    # the log itself must spell the protocol wire forms
    pvals = set()
    with open(
        os.path.join(dst, "_delta_log", "00000000000000000000.json")
    ) as fh:
        for line in fh:
            a = _json.loads(line).get("add")
            if a:
                pv = a["partitionValues"]
                pvals.add((pv["d"], pv["flag"]))
    assert pvals == {
        ("2024-01-02", "true"),
        ("2024-01-02", "false"),
        ("2024-03-04", "true"),
    }


def test_convert_materializes_mor_deletes_as_dvs(spark, tmp_path):
    """r11 (VERDICT r10 'missing' #2, reverse direction): a snapshot
    carrying BOTH merge-on-read delete shapes converts — the killed
    positions materialize as Delta deletion vectors in the version-0
    commit, zero data files copied, protocol upgraded to (3, 7) +
    deletionVectors."""
    from aws_datalake_framework_api_spark.sources.delta import (
        _snapshot,
        convert_iceberg_to_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        delete_by_key_iceberg,
        delete_iceberg_rows,
        read_iceberg,
        write_iceberg,
    )

    src, dst = str(tmp_path / "ice"), str(tmp_path / "dl")
    df = _df(spark, [(k, "a" if k % 2 else "b", float(k)) for k in range(20)])
    write_iceberg(df.coalesce(1), src, mode="error", partition_by=["part"])
    write_iceberg(
        _df(spark, [(k, "c", float(k)) for k in range(20, 30)]).coalesce(1),
        src, mode="append", partition_by=["part"],
    )
    delete_iceberg_rows(spark, src, F.col("k") % 5 == 0)  # position deletes
    delete_by_key_iceberg(  # equality deletes (Flink-CDC shape)
        spark, src, spark.createDataFrame([(3,), (21,)], "k int")
    )
    truth = _sorted_rows(read_iceberg(spark, src))
    assert len(truth) == 30 - 6 - 2

    convert_iceberg_to_delta(spark, src, dst)
    assert _sorted_rows(read_delta(spark, dst)) == truth
    # zero-copy: every referenced data file still lives under src
    snap, _ = _snapshot(spark, dst)
    import urllib.parse as _up

    assert snap.files and all(
        _up.unquote(rel).startswith(src) for rel in snap.files
    )
    # DVs attached where the deletes landed; protocol declares them
    dv_cards = sorted(
        int(a["deletionVector"]["cardinality"])
        for a in snap.files.values()
        if a.get("deletionVector")
    )
    assert sum(dv_cards) == 8
    assert snap.protocol["minReaderVersion"] == 3
    assert "deletionVectors" in snap.protocol["readerFeatures"]
    # the source table is untouched by the conversion
    assert _sorted_rows(read_iceberg(spark, src)) == truth
    # and the converted table lives a normal delta DV life afterwards
    from aws_datalake_framework_api_spark.sources.delta import (
        delete_where_delta,
    )

    delete_where_delta(spark, dst, F.col("k") == 7)
    got = _sorted_rows(read_delta(spark, dst))
    assert not any(r[0] == 7 for r in got) and len(got) == len(truth) - 1


def test_convert_drops_hidden_transform_partitioning(spark, tmp_path):
    """r11: bucket/truncate spec fields have no Delta partitionValues
    equivalent, but native files CONTAIN the source columns — the
    field is dropped from the Delta partitioning (pruning loss only),
    identity fields still carry over."""
    import json as _json

    from aws_datalake_framework_api_spark.sources.delta import (
        convert_iceberg_to_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        read_iceberg,
        write_iceberg,
    )

    src, dst = str(tmp_path / "ice2"), str(tmp_path / "dl2")
    df = _df(spark, [(k, "a" if k % 2 else "b", float(k)) for k in range(12)])
    write_iceberg(
        df, src, mode="error", partition_by=["part", "bucket(4, k)"]
    )
    truth = _sorted_rows(read_iceberg(spark, src))
    convert_iceberg_to_delta(spark, src, dst)
    assert _sorted_rows(read_delta(spark, dst)) == truth
    with open(
        os.path.join(dst, "_delta_log", "00000000000000000000.json")
    ) as fh:
        metas = [
            _json.loads(line)["metaData"]
            for line in fh
            if '"metaData"' in line
        ]
    assert metas[0]["partitionColumns"] == ["part"]


def test_convert_refuses_renamed_history(spark, tmp_path):
    """r11: a renamed-column schema history used to convert silently
    into a MISREADING Delta table (files spell era names, Delta reads
    by name) — now it refuses toward rewrite_data_files."""
    from aws_datalake_framework_api_spark.sources.delta import (
        convert_iceberg_to_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        evolve_iceberg,
        write_iceberg,
    )

    src = str(tmp_path / "ice3")
    write_iceberg(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), src, mode="error")
    evolve_iceberg(src, renames={"v": "val"})
    with pytest.raises(ValueError, match="renamed"):
        convert_iceberg_to_delta(spark, src, str(tmp_path / "d3"))


def test_identity_merge_mints_contiguous_block(spark, tmp_path):
    """ADVICE r10: generated identity values for one merge's insert
    frame must be EXACTLY base..base+step·(n-1) — contiguous per-merge
    block allocation like delta-spark — not the step·2^33-per-partition
    jumps a bare monotonically_increasing_id() mint produced.  The
    source is multi-partition on purpose."""
    from aws_datalake_framework_api_spark.sources.delta import (
        _identity_specs,
        _snapshot,
        create_identity_delta,
        merge_delta,
    )

    path = str(tmp_path / "t")
    create_identity_delta(
        spark,
        spark.createDataFrame([("seed", 0.0)], "name string, v double"),
        path, "id", start=100, step=5,
    )
    merge_delta(
        spark, path,
        spark.createDataFrame(
            [(f"n{i}", float(i)) for i in range(40)], "name string, v double"
        ).repartition(8),
        on=["name"],
    )
    ids = sorted(
        r["id"] for r in read_delta(spark, path).collect()
        if r["name"] != "seed"
    )
    assert ids == [105 + 5 * k for k in range(40)]  # base=wm+step=105
    wm = _identity_specs(_snapshot(spark, path)[0])["id"]["wm"]
    assert wm == ids[-1]  # watermark advanced to exactly the last mint


def test_identity_on_column_mapped_table(spark, tmp_path):
    """VERDICT r10 item #8: identity columns on a COLUMN-MAPPED table
    generate instead of refusing.  Foreign-table simulation: an empty
    identity table is retrofitted with name-mode mapping (physical
    ``col-<n>`` names differing from the logical ones), so every
    staged file spells physical names and the watermark reader must
    translate logical→physical to find the extremum in footer stats.
    Appends and MERGE inserts mint on-lattice contiguous values, the
    watermark rides the same commit, and UPDATE preserves values."""
    from aws_datalake_framework_api_spark.sources.delta import (
        _identity_specs,
        _snapshot,
        create_identity_delta,
        merge_delta,
        update_delta,
    )

    path = str(tmp_path / "t")
    create_identity_delta(
        spark,
        spark.createDataFrame([], "name string, v double"),
        path, "id", start=10, step=5,
    )
    # retrofit name-mode column mapping with DIFFERING physical names
    # (legal: the table is empty, so no existing file spells logical
    # names) — the shape a foreign mapped+identity table would have
    with open(_version_file(path, 0)) as fh:
        lines = [json.loads(ln) for ln in fh if ln.strip()]
    for act in lines:
        if "metaData" in act:
            sj = json.loads(act["metaData"]["schemaString"])
            for i, f in enumerate(sj["fields"]):
                f.setdefault("metadata", {})
                f["metadata"]["delta.columnMapping.id"] = i + 1
                f["metadata"]["delta.columnMapping.physicalName"] = (
                    f"col-{i + 1}"
                )
            act["metaData"]["schemaString"] = json.dumps(sj)
            act["metaData"].setdefault("configuration", {})
            act["metaData"]["configuration"][
                "delta.columnMapping.mode"
            ] = "name"
            act["metaData"]["configuration"][
                "delta.columnMapping.maxColumnId"
            ] = "3"
        if "protocol" in act:
            for side in ("readerFeatures", "writerFeatures"):
                feats = set(act["protocol"].get(side) or [])
                feats.add("columnMapping")
                act["protocol"][side] = sorted(feats)
    with open(_version_file(path, 0), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in lines))

    # append WITHOUT the column: generated, physical staging
    write_delta(
        spark.createDataFrame(
            [("a", 1.0), ("b", 2.0)], "name string, v double"
        ),
        path, mode="append",
    )
    got = {r["name"]: r["id"] for r in read_delta(spark, path).collect()}
    assert sorted(got.values()) == [10, 15]
    wm1 = _identity_specs(_snapshot(spark, path)[0])["id"]["wm"]
    assert wm1 == 15  # translated-stats extremum, same commit
    # the staged file spells PHYSICAL names only
    import glob as _glob

    import pyarrow.parquet as _pq

    fcols = {
        c
        for f in _glob.glob(path + "/*.parquet")
        if _pq.ParquetFile(f).metadata.num_rows  # skip the empty v0 file
        for c in _pq.read_schema(f).names
    }
    assert "id" not in fcols and "col-3" in fcols
    # MERGE: matched update keeps the value, insert generates past wm
    res = merge_delta(
        spark, path,
        spark.createDataFrame(
            [("a", 11.0), ("c", 3.0)], "name string, v double"
        ),
        on=["name"],
    )
    assert res["updated"] == 1 and res["inserted"] == 1
    rows = {r["name"]: r for r in read_delta(spark, path).collect()}
    assert rows["a"]["id"] == got["a"] and rows["a"]["v"] == 11.0
    assert rows["c"]["id"] == 20  # wm 15 + step 5, contiguous
    wm2 = _identity_specs(_snapshot(spark, path)[0])["id"]["wm"]
    assert wm2 == 20
    # UPDATE not naming the identity column preserves values
    update_delta(spark, path, F.col("name") == "b", {"v": 99.0})
    rows2 = {r["name"]: r for r in read_delta(spark, path).collect()}
    assert rows2["b"]["id"] == got["b"] and rows2["b"]["v"] == 99.0
    assert _identity_specs(_snapshot(spark, path)[0])["id"]["wm"] == wm2


def test_upgrade_mapping_rename_drop_lifecycle(spark, tmp_path):
    """r11 column evolution: upgrade a PLAIN table to name-mode
    mapping (metadata-only, physicalName = current name), rename data
    AND partition columns (ids/physical names stable, so every
    existing file keeps resolving), append under the new logical
    names, run mapped DML, time-travel to pre-rename names, then drop
    a column (metadata-only; files untouched)."""
    from aws_datalake_framework_api_spark.sources.delta import (
        _mapping_mode,
        _snapshot,
        delete_where_delta,
        drop_column_delta,
        rename_column_delta,
        upgrade_column_mapping_delta,
    )

    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(k, "a" if k % 2 else "b", float(k)) for k in range(8)]),
        path, mode="error", partition_by=["part"],
    )
    # rename before mapping refuses toward the upgrade
    with pytest.raises(ValueError, match="upgrade_column_mapping_delta"):
        rename_column_delta(spark, path, {"v": "amount"})
    upgrade_column_mapping_delta(spark, path)
    snap, _ = _snapshot(spark, path)
    assert _mapping_mode(snap) == "name"
    # upgrade is zero-copy and reads are unchanged
    assert _sorted_rows(read_delta(spark, path)) == [
        (k, "a" if k % 2 else "b", float(k)) for k in range(8)
    ]
    # double upgrade refuses
    with pytest.raises(ValueError, match="already"):
        upgrade_column_mapping_delta(spark, path)
    v_pre_rename = rename_column_delta(
        spark, path, {"v": "amount", "part": "region"}
    ) - 1
    back = read_delta(spark, path)
    assert back.columns == ["k", "region", "amount"]
    # partition filter by the NEW logical name prunes through mapping
    assert (
        read_delta(spark, path, partition_filter={"region": "a"}).count()
        == 4
    )
    # append under the new logical names; the staged file spells the
    # STABLE physical (= original) names
    write_delta(
        spark.createDataFrame(
            [(100, "a", 100.0)], "k int, region string, amount double"
        ),
        path, mode="append", partition_by=["region"],
    )
    assert (100, "a", 100.0) in _sorted_rows(read_delta(spark, path))
    import glob as _glob

    import pyarrow.parquet as _pq

    assert all(
        set(_pq.read_schema(f).names) <= {"k", "v"}
        for f in _glob.glob(path + "/**/*.parquet", recursive=True)
    ), "a data file spells a logical name (physical must be stable)"
    # mapped DML on the renamed table: DV delete by new names
    delete_where_delta(
        spark, path, (F.col("region") == "a") & (F.col("k") == 1)
    )
    assert not any(
        r[0] == 1 for r in read_delta(spark, path).collect()
    )
    # time travel to the pre-rename version shows the OLD names
    old = read_delta(spark, path, version_as_of=v_pre_rename)
    assert old.columns == ["k", "part", "v"]
    # drop refusals: partition column, unknown column
    with pytest.raises(ValueError, match="partition"):
        drop_column_delta(spark, path, "region")
    with pytest.raises(ValueError, match="no such column"):
        drop_column_delta(spark, path, "nope")
    # drop a data column: metadata-only, remaining data intact
    drop_column_delta(spark, path, "k")
    got = read_delta(spark, path)
    assert got.columns == ["region", "amount"]
    assert (("a", 100.0) in _sorted_rows(got))


def test_rename_refuses_constraint_reference(spark, tmp_path):
    from aws_datalake_framework_api_spark.sources.delta import (
        add_constraint_delta,
        rename_column_delta,
        upgrade_column_mapping_delta,
    )

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    add_constraint_delta(spark, path, "v_positive", "v > 0")
    upgrade_column_mapping_delta(spark, path)
    with pytest.raises(ValueError, match="v_positive"):
        rename_column_delta(spark, path, {"v": "amount"})
    with pytest.raises(ValueError, match="v_positive"):
        from aws_datalake_framework_api_spark.sources.delta import (
            drop_column_delta,
        )

        drop_column_delta(spark, path, "v")
    # renaming an UNreferenced column is fine
    rename_column_delta(spark, path, {"k": "key"})
    assert read_delta(spark, path).columns == ["key", "part", "v"]


def test_in_commit_timestamps_lifecycle(spark, tmp_path):
    """r11: the protocol's In-Commit Timestamps writer feature.
    Enabling ``delta.enableInCommitTimestamps`` upgrades the protocol
    (writer-7 + the feature, legacy bundle expanded), stamps the
    enablement commit itself, records the enablement version and
    timestamp in the configuration, and every later commit carries a
    STRICTLY increasing ``inCommitTimestamp`` as its first action's
    commitInfo.  History and timestamp time travel use the ICT as the
    authoritative clock — a corrupted/drifted wall ``timestamp`` field
    must not change resolution."""
    from aws_datalake_framework_api_spark.sources.delta import (
        _snapshot,
        _version_at_timestamp,
        alter_table_properties_delta,
        delete_where_delta,
        history_delta,
    )

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")   # v0
    alter_table_properties_delta(
        spark, path, {"delta.enableInCommitTimestamps": "true"}
    )                                                              # v1
    snap, _ = _snapshot(spark, path)
    conf = snap.metadata["configuration"]
    assert conf["delta.inCommitTimestampEnablementVersion"] == "1"
    proto = snap.protocol
    assert proto["minWriterVersion"] == 7
    assert "inCommitTimestamp" in proto["writerFeatures"]
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")  # v2
    delete_where_delta(spark, path, F.col("k") == 1)               # v3

    def commit_info(v):
        with open(_version_file(path, v)) as fh:
            lines = [json.loads(ln) for ln in fh if ln.strip()]
        assert "commitInfo" in lines[0], "commitInfo must be FIRST"
        return lines[0]["commitInfo"]

    icts = [commit_info(v).get("inCommitTimestamp") for v in (1, 2, 3)]
    assert all(t is not None for t in icts)
    assert icts[0] < icts[1] < icts[2]
    assert int(conf["delta.inCommitTimestampEnablementTimestamp"]) == icts[0]
    assert commit_info(0).get("inCommitTimestamp") is None  # pre-enable
    # history shows the ICT clock
    hist = {h["version"]: h["timestamp"] for h in history_delta(spark, path)}
    assert hist[2] == icts[1] and hist[3] == icts[2]
    # timestamp time travel resolves on ICT even when the wall
    # `timestamp` field is corrupted (clock drift / log copy)
    with open(_version_file(path, 3)) as fh:
        lines = [json.loads(ln) for ln in fh if ln.strip()]
    lines[0]["commitInfo"]["timestamp"] = 12345  # ancient nonsense
    with open(_version_file(path, 3), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in lines))
    assert _version_at_timestamp(path, icts[2]) == 3
    assert _version_at_timestamp(path, icts[2] - 1) == 2
    # the table still reads fine and the DV delete held
    assert _sorted_rows(read_delta(spark, path)) == [(2, "b", 2.0)]


def test_in_commit_timestamps_monotonic_vs_clock(spark, tmp_path):
    """A previous ICT far in the FUTURE (writer clock skew) must not
    produce a non-increasing timestamp: the next commit clamps to
    prev+1, delta-spark's rule."""
    import json as _json

    from aws_datalake_framework_api_spark.sources.delta import (
        alter_table_properties_delta,
    )

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    alter_table_properties_delta(
        spark, path, {"delta.enableInCommitTimestamps": "true"}
    )
    # push v1's ICT 10 minutes into the future
    future = int((__import__("time").time() + 600) * 1000)
    with open(_version_file(path, 1)) as fh:
        lines = [_json.loads(ln) for ln in fh if ln.strip()]
    lines[0]["commitInfo"]["inCommitTimestamp"] = future
    with open(_version_file(path, 1), "w") as fh:
        fh.write("\n".join(_json.dumps(a) for a in lines))
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")  # v2
    with open(_version_file(path, 2)) as fh:
        lines = [_json.loads(ln) for ln in fh if ln.strip()]
    assert lines[0]["commitInfo"]["inCommitTimestamp"] == future + 1


def test_in_commit_timestamps_clone_reanchors(spark, tmp_path):
    """A shallow clone of an ICT table is a NEW table: the enablement
    version/timestamp must re-anchor at the clone's v0 (the inherited
    ones point into the SOURCE's history) and the clone's commits keep
    their own monotonic ICT sequence."""
    import json as _json

    from aws_datalake_framework_api_spark.sources.delta import (
        _snapshot,
        alter_table_properties_delta,
        clone_delta,
    )

    src, dst = str(tmp_path / "s"), str(tmp_path / "c")
    write_delta(_df(spark, [(1, "a", 1.0)]), src, mode="error")
    alter_table_properties_delta(
        spark, src, {"delta.enableInCommitTimestamps": "true"}
    )
    clone_delta(spark, src, dst)
    snap, _ = _snapshot(spark, dst)
    conf = snap.metadata["configuration"]
    assert conf["delta.inCommitTimestampEnablementVersion"] == "0"
    with open(_version_file(dst, 0)) as fh:
        ci = [_json.loads(ln) for ln in fh if ln.strip()][0]["commitInfo"]
    assert ci["inCommitTimestamp"] == int(
        conf["delta.inCommitTimestampEnablementTimestamp"]
    )
    # clone-side commits continue the clone's own ICT sequence
    write_delta(_df(spark, [(2, "b", 2.0)]), dst, mode="append")
    with open(_version_file(dst, 1)) as fh:
        ci1 = [_json.loads(ln) for ln in fh if ln.strip()][0]["commitInfo"]
    assert ci1["inCommitTimestamp"] > ci["inCommitTimestamp"]


# ---------------------------------------------------------- row tracking


def test_row_tracking_lifecycle(spark, tmp_path):
    """r11 rowTracking: enable backfills stable ids, appends mint
    above the watermark, DV deletes keep survivors' ids, and
    row-copying operations refuse (no materialization)."""
    from aws_datalake_framework_api_spark.sources.delta import (
        _snapshot,
        delete_where_delta,
        enable_row_tracking_delta,
        optimize_delta,
        read_delta_row_ids,
        update_delta,
        write_delta,
    )

    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(k, "a", float(k)) for k in range(10)])
        .coalesce(1).sortWithinPartitions("k"),
        path, mode="error",
    )
    with pytest.raises(ValueError, match="not enabled"):
        read_delta_row_ids(spark, path)
    enable_row_tracking_delta(spark, path)
    with pytest.raises(ValueError, match="already enabled"):
        enable_row_tracking_delta(spark, path)

    ids0 = {
        r["k"]: r["_row_id"]
        for r in read_delta_row_ids(spark, path).collect()
    }
    assert ids0 == {k: k for k in range(10)}  # sorted single file

    # append mints ABOVE the watermark, same commit
    write_delta(
        _df(spark, [(k, "b", float(k)) for k in range(100, 105)])
        .coalesce(1).sortWithinPartitions("k"),
        path, mode="append",
    )
    got = {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_delta_row_ids(spark, path).collect()
    }
    assert got[100] == (10, 2) and got[104] == (14, 2)
    assert got[0] == (0, 1)

    # DV delete: survivors KEEP their ids
    delete_where_delta(spark, path, F.col("k").isin(0, 3, 101))
    after = {
        r["k"]: r["_row_id"]
        for r in read_delta_row_ids(spark, path).collect()
    }
    assert 0 not in after and 3 not in after and 101 not in after
    assert after[4] == 4 and after[102] == 12

    # high watermark persisted in domain metadata
    snap, _ = _snapshot(spark, path)
    import json as _json

    assert _json.loads(snap.domains["delta.rowTracking"]) == {
        "rowIdHighWaterMark": 14
    }
    assert "rowTracking" in snap.protocol["writerFeatures"]
    assert "domainMetadata" in snap.protocol["writerFeatures"]

    # row-copying operations refuse rather than re-mint
    with pytest.raises(ValueError, match="row tracking"):
        update_delta(spark, path, F.col("k") == 4, {"v": F.lit(0.0)})
    with pytest.raises(ValueError, match="row tracking"):
        optimize_delta(spark, path)


def test_row_tracking_survives_checkpoint(spark, tmp_path):
    """The rowTracking domain metadata and per-add baseRowId must ride
    through a parquet checkpoint: after log-prefix cleanup the next
    append still mints above the watermark and reads still serve the
    original ids."""
    import os as _os

    from aws_datalake_framework_api_spark.sources.delta import (
        checkpoint_delta,
        enable_row_tracking_delta,
        read_delta_row_ids,
        write_delta,
    )

    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(k, "a", float(k)) for k in range(6)])
        .coalesce(1).sortWithinPartitions("k"),
        path, mode="error",
    )
    enable_row_tracking_delta(spark, path)
    checkpoint_delta(spark, path)
    # delete the JSON prefix the checkpoint replaces
    for v in (0, 1):
        _os.unlink(
            _os.path.join(path, "_delta_log", f"{v:020d}.json")
        )
    write_delta(
        _df(spark, [(100, "b", 100.0)]), path, mode="append",
    )
    got = {
        r["k"]: r["_row_id"]
        for r in read_delta_row_ids(spark, path).collect()
    }
    assert got == {**{k: k for k in range(6)}, 100: 6}


def test_row_tracking_supported_not_enabled_obligations(spark, tmp_path):
    """Spec: when the rowTracking FEATURE is declared but
    delta.enableRowTracking is not yet set (mid-enablement by another
    writer), appends must still assign baseRowId and advance the
    watermark; a later enable preserves the already-issued ids."""
    import json as _json

    from aws_datalake_framework_api_spark.sources.delta import (
        _commit,
        _snapshot,
        enable_row_tracking_delta,
        read_delta_row_ids,
        write_delta,
    )

    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(k, "a", float(k)) for k in range(4)])
        .coalesce(1).sortWithinPartitions("k"),
        path, mode="error",
    )
    # foreign mid-enablement state: feature present, config absent
    _commit(
        path, 1,
        [{"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["domainMetadata", "rowTracking"],
        }}],
    )
    write_delta(
        _df(spark, [(10, "b", 10.0), (11, "b", 11.0)])
        .coalesce(1).sortWithinPartitions("k"),
        path, mode="append",
    )
    snap, _ = _snapshot(spark, path)
    tracked = [
        a for a in snap.files.values() if a.get("baseRowId") is not None
    ]
    assert len(tracked) == 1 and tracked[0]["baseRowId"] == 0
    assert _json.loads(snap.domains["delta.rowTracking"]) == {
        "rowIdHighWaterMark": 1
    }
    # enable: backfills ONLY the pre-feature file, above the watermark
    enable_row_tracking_delta(spark, path)
    got = {
        r["k"]: r["_row_id"]
        for r in read_delta_row_ids(spark, path).collect()
    }
    assert got[10] == 0 and got[11] == 1  # issued ids preserved
    assert sorted(got[k] for k in range(4)) == [2, 3, 4, 5]


def test_clone_carries_row_tracking_domain(spark, tmp_path):
    """r11 review finding: a shallow clone of a row-tracked table must
    carry the rowIdHighWaterMark domain — otherwise the clone's first
    append re-mints the cloned files' ids."""
    from aws_datalake_framework_api_spark.sources.delta import (
        clone_delta,
        enable_row_tracking_delta,
        read_delta_row_ids,
        write_delta,
    )

    src, dst = str(tmp_path / "s"), str(tmp_path / "c")
    write_delta(
        _df(spark, [(k, "a", float(k)) for k in range(5)])
        .coalesce(1).sortWithinPartitions("k"),
        src, mode="error",
    )
    enable_row_tracking_delta(spark, src)
    clone_delta(spark, src, dst)
    write_delta(
        _df(spark, [(100, "b", 100.0)]), dst, mode="append",
    )
    ids = [
        r["_row_id"] for r in read_delta_row_ids(spark, dst).collect()
    ]
    assert sorted(ids) == [0, 1, 2, 3, 4, 5]  # no duplicate ids


def test_alter_properties_single_protocol_action(spark, tmp_path):
    """r11 review finding: enabling CDF and ICT in ONE call must emit
    ONE protocol action carrying BOTH features (the earlier shape
    emitted two, and the last dropped changeDataFeed)."""
    import json as _json
    import os as _os

    from aws_datalake_framework_api_spark.sources.delta import (
        _commit,
        _snapshot,
        alter_table_properties_delta,
        write_delta,
    )

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    _commit(
        path, 1,
        [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                       "writerFeatures": []}}],
    )
    alter_table_properties_delta(
        spark, path,
        set_props={
            "delta.enableChangeDataFeed": "true",
            "delta.enableInCommitTimestamps": "true",
        },
    )
    with open(
        _os.path.join(path, "_delta_log", "00000000000000000002.json")
    ) as fh:
        protos = [
            _json.loads(line)["protocol"]
            for line in fh
            if '"protocol"' in line and _json.loads(line).get("protocol")
        ]
    assert len(protos) == 1
    feats = set(protos[0]["writerFeatures"])
    assert {"changeDataFeed", "inCommitTimestamp"} <= feats
    snap, _ = _snapshot(spark, path)
    assert "changeDataFeed" in snap.protocol["writerFeatures"]


def test_refs_guard_sees_backquoted_references(spark, tmp_path):
    """r11 review finding: a CHECK constraint spelling its column
    reference backquoted must still block the drop."""
    from aws_datalake_framework_api_spark.sources.delta import (
        add_constraint_delta,
        drop_column_delta,
        upgrade_column_mapping_delta,
        write_delta,
    )

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    add_constraint_delta(spark, path, "c1", "`v` > 0")
    upgrade_column_mapping_delta(spark, path)
    with pytest.raises(ValueError, match="referenced by"):
        drop_column_delta(spark, path, "v")


def test_clustered_table_optimize(spark, tmp_path):
    """r11 clustered tables: CLUSTER BY records the layout intent in
    delta.clustering domain metadata (physical names, delta-spark's
    wire shape) and a bare OPTIMIZE re-clusters on those columns —
    post-optimize footers carry tight per-file bounds on the
    clustering column so range reads prune."""
    import json as _json

    from aws_datalake_framework_api_spark.sources.delta import (
        _snapshot,
        alter_cluster_by_delta,
        optimize_delta,
        prune_files,
        write_delta,
    )

    path = str(tmp_path / "t")
    # many small files, k values interleaved so pre-optimize bounds
    # are wide everywhere
    for i in range(6):
        write_delta(
            _df(spark, [(k, "a", float(k)) for k in range(i, 600, 6)])
            .coalesce(1),
            path, mode="error" if i == 0 else "append",
        )
    with pytest.raises(ValueError, match="no such column"):
        alter_cluster_by_delta(spark, path, ["nope"])
    alter_cluster_by_delta(spark, path, ["k"])
    snap, _ = _snapshot(spark, path)
    assert "clustering" in snap.protocol["writerFeatures"]
    assert _json.loads(snap.domains["delta.clustering"]) == {
        "clusteringColumns": [["k"]]
    }
    before = _sorted_rows(read_delta(spark, path))
    # no zorder_by: OPTIMIZE picks the domain's clustering columns;
    # a small target size forces multiple range-clustered outputs so
    # pruning is observable
    res = optimize_delta(spark, path, target_file_bytes=2048)
    assert res["partitions_compacted"] == 1
    assert _sorted_rows(read_delta(spark, path)) == before
    # the re-clustered layout prunes a narrow range
    kept, skipped = prune_files(spark, path, "k", 10, 20)
    assert skipped  # wide interleaved files could never skip
