"""The format-neutral layer under both connectors
(``sources/table_io.py``): a failed Spark write leaves no staging
directory and commits nothing, both connectors raise one
``CommitConflict``, a commit a rival refused (a create included)
leaves no file that no version names, maintenance spares a commit in
flight, both connectors' bounds codecs prune the same files through
the one interval test, both merges refuse a duplicate-key source with
one message, both connectors read through the one tagged scan and
refuse two live files sharing a basename, and the driver-memory
default fits the host."""

import datetime
import errno
import json
import os
import urllib.parse

import pytest
from pyspark.sql import functions as F

from aws_datalake_framework_api_spark import session
from aws_datalake_framework_api_spark.sources import delta as D
from aws_datalake_framework_api_spark.sources import iceberg as I
from aws_datalake_framework_api_spark.sources import table_io
from aws_datalake_framework_api_spark.sources.avro_codec import read_avro_file


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, part string, v double")


def _staging_entries(root):
    return [
        os.path.join(r, n)
        for r, dirs, files in os.walk(root)
        for n in dirs + files
        if n.startswith((".staging-", "_stage-"))
    ]


_WRITERS = {
    "delta": (D.write_delta, D._list_versions),
    "iceberg": (I.write_iceberg, lambda p: sorted(I._metadata_versions(p))),
}


@pytest.mark.parametrize("existing", [False, True], ids=["new", "existing"])
@pytest.mark.parametrize("fmt", sorted(_WRITERS))
def test_failed_write_leaves_no_staging_and_no_version(
    spark, tmp_path, fmt, existing
):
    """A write whose job fails mid-way (a UDF raises in the task)
    removes its staging directory and commits nothing, on a new table
    and on an existing one."""
    write, versions = _WRITERS[fmt]
    path = str(tmp_path / "t")
    if existing:
        write(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    before = versions(path)

    @F.udf("double")
    def boom(v):
        raise ValueError("task fails mid-write")

    bad = _df(spark, [(2, "b", 2.0)]).coalesce(1).withColumn(
        "v", boom(F.col("v"))
    )
    with pytest.raises(Exception, match="task fails mid-write"):
        write(bad, path, mode="append" if existing else "error")
    assert _staging_entries(str(tmp_path)) == []
    assert versions(path) == before


def test_one_commit_conflict_class():
    assert D.CommitConflict is I.CommitConflict


def test_driver_memory_is_half_the_host_with_a_floor(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_mem_total_mb", lambda: 15 * 1024)
    assert session.driver_memory() == "7680m"
    monkeypatch.setattr(session, "_mem_total_mb", lambda: 1500)
    assert session.driver_memory() == "1024m"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _delta_unnamed(path):
    """Files in the table that no version of its log names."""
    named = set()
    for v in D._list_versions(path):
        for a in D._version_actions(path, v):
            for kind in ("add", "remove", "cdc"):
                if kind not in a:
                    continue
                named.add(os.path.join(
                    path, urllib.parse.unquote(a[kind]["path"])
                ))
                dv = a[kind].get("deletionVector")
                if dv and dv.get("storageType") == "u":
                    named.add(D._dv_file_path(path, dv))
    return {
        os.path.join(r, f)
        for r, _dirs, files in os.walk(path)
        if D._LOG not in r.split(os.sep)
        for f in files
    } - named


def _iceberg_unnamed(path):
    """Data, delete and Avro files that no snapshot names."""
    meta = I._load_metadata(path)
    loc = meta.get("location") or path
    named = set()
    for s in meta.get("snapshots") or []:
        ml = I._resolve(s["manifest-list"], path, loc)
        named.add(os.path.abspath(ml))
        for mf in read_avro_file(ml)[1]:
            mp = I._resolve(mf["manifest_path"], path, loc)
            named.add(os.path.abspath(mp))
            for e in read_avro_file(mp)[1]:
                named.add(os.path.abspath(
                    I._resolve(e["data_file"]["file_path"], path, loc)
                ))
    return {
        os.path.abspath(os.path.join(r, f))
        for r, _dirs, files in os.walk(path)
        for f in files
        if not f.endswith(".metadata.json") and f != "version-hint.text"
    } - named


def _race(monkeypatch, mod, seam, rival):
    """Patch the claim seam so that a rival commits first, once."""
    orig = getattr(mod, seam)
    raced = []

    def racing(*args):
        if not raced:
            raced.append(True)
            rival(args[0])
        return orig(*args)

    monkeypatch.setattr(mod, seam, racing)


def _cdf_table(spark, path):
    D.write_delta(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1), path,
        mode="error",
    )
    D.alter_table_properties_delta(
        spark, path, {"delta.enableChangeDataFeed": "true"}
    )


_REFUSED = {
    "update_delta": lambda spark, p: D.update_delta(
        spark, p, F.col("k") == 1, {"v": 10.0}
    ),
    "delete_where_delta": lambda spark, p: D.delete_where_delta(
        spark, p, F.col("k") == 1
    ),
    "merge_delta": lambda spark, p: D.merge_delta(
        spark, p, _df(spark, [(1, "a", 10.0), (5, "e", 5.0)]), on=["k"]
    ),
    "write_delta_overwrite": lambda spark, p: D.write_delta(
        _df(spark, [(7, "q", 7.0)]), p, mode="overwrite"
    ),
    "merge_iceberg": lambda spark, p: I.merge_iceberg(
        spark, p, _df(spark, [(1, "a", 10.0), (5, "e", 5.0)]), on=["k"]
    ),
    "delete_by_key_iceberg": lambda spark, p: I.delete_by_key_iceberg(
        spark, p, spark.createDataFrame([(1,)], "k int")
    ),
}


@pytest.mark.parametrize("op", sorted(_REFUSED))
def test_refused_commit_leaves_no_unnamed_file(spark, tmp_path, monkeypatch, op):
    """A commit a rival claimed first raises ``CommitConflict``, leaves
    the rows as the rival left them, and unlinks everything it staged:
    no file is left that no version or snapshot names."""
    path = str(tmp_path / "t")
    rival_row = (9, "z", 9.0)
    if op.endswith("_iceberg"):
        I.write_iceberg(
            _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1), path,
            mode="error",
        )
        read, unnamed = I.read_iceberg, _iceberg_unnamed
        _race(monkeypatch, I, "_claim_metadata", lambda p: I.write_iceberg(
            _df(spark, [rival_row]), p, mode="append"
        ))
    else:
        _cdf_table(spark, path)
        read, unnamed = D.read_delta, _delta_unnamed
        _race(monkeypatch, D, "_commit", lambda p: D.write_delta(
            _df(spark, [rival_row]), p, mode="append"
        ))
    before = _rows(read(spark, path))
    with pytest.raises(D.CommitConflict):
        _REFUSED[op](spark, path)
    assert _rows(read(spark, path)) == sorted(before + [rival_row])
    assert unnamed(path) == set()


def _restore(spark, path):
    D.write_delta(_df(spark, [(3, "c", 3.0)]), path, mode="overwrite")
    return lambda: D.restore_delta(spark, path, 0)


def _dv_delete(spark, path):
    return lambda: D.delete_where_delta(spark, path, F.col("k") == 1)


@pytest.mark.parametrize("make", [_restore, _dv_delete],
                         ids=["restore", "delete_where"])
def test_refused_commit_keeps_the_files_it_only_references(
    spark, tmp_path, monkeypatch, make
):
    """RESTORE re-adds the target version's files and a DV delete
    re-adds the data file it gives a new vector: neither stages those
    files, so a lost race must not unlink them — every version still
    reads."""
    path = str(tmp_path / "t")
    D.write_delta(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1), path,
        mode="error",
    )
    refused = make(spark, path)
    _race(monkeypatch, D, "_commit", lambda p: D.write_delta(
        _df(spark, [(9, "z", 9.0)]), p, mode="append"
    ))
    with pytest.raises(D.CommitConflict):
        refused()
    for v in D._list_versions(path):
        assert D.read_delta(spark, path, version_as_of=v).count() >= 1
    assert _delta_unnamed(path) == set()


def test_rebased_iceberg_append_leaves_no_losing_manifest_list(
    spark, tmp_path, monkeypatch
):
    """A blind append that loses once lands on top of the rival, and
    the manifest list of its losing attempt is gone."""
    path = str(tmp_path / "t")
    I.write_iceberg(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    _race(monkeypatch, I, "_claim_metadata", lambda p: I.write_iceberg(
        _df(spark, [(2, "b", 2.0)]), p, mode="append"
    ))
    assert I.write_iceberg(
        _df(spark, [(3, "c", 3.0)]), path, mode="append"
    ) == 3
    assert _rows(I.read_iceberg(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0),
    ]
    assert _iceberg_unnamed(path) == set()


def test_expire_between_staging_and_claim_spares_the_append(
    spark, tmp_path, monkeypatch
):
    """``expire_snapshots`` running after an append staged its files
    and before it claims its version must not delete what the append
    staged: the append lands on top of the expire and the table
    reads."""
    path = str(tmp_path / "t")
    I.write_iceberg(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    I.write_iceberg(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    _race(monkeypatch, I, "_claim_metadata", lambda p: I.expire_snapshots(
        spark, p, keep_last=1
    ))
    I.write_iceberg(_df(spark, [(3, "c", 3.0)]), path, mode="append")
    assert len(I._load_metadata(path)["snapshots"]) == 2
    assert _rows(I.read_iceberg(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0),
    ]


def test_put_if_absent_unlinks_its_temp_file_when_the_write_fails(
    tmp_path, monkeypatch
):
    """A write that raises (a full disk) leaves no ``.tmp-`` file and
    publishes nothing."""
    real_open = open

    class _Full:
        def __init__(self, fh):
            self.fh = fh

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.fh.close()

        def write(self, text):
            raise OSError(errno.ENOSPC, "No space left on device")

    monkeypatch.setattr(
        table_io, "open", lambda p, mode="r": _Full(real_open(p, mode)),
        raising=False,
    )
    final = str(tmp_path / "00000000000000000001.json")
    with pytest.raises(OSError, match="No space left"):
        table_io.put_if_absent(final, "{}")
    assert os.listdir(tmp_path) == []


def _convert(spark, tmp_path, path):
    src = str(tmp_path / "ice")
    I.write_iceberg(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1), src,
        mode="error",
    )
    I.delete_iceberg_rows(spark, src, F.col("k") == 1)  # a position delete
    return lambda: D.convert_iceberg_to_delta(spark, src, path)


_CREATES = {
    "create_identity_delta": lambda spark, tmp_path, p: (
        lambda: D.create_identity_delta(
            spark, _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), p, "id"
        )
    ),
    "create_mapped_delta": lambda spark, tmp_path, p: (
        lambda: D.create_mapped_delta(
            _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), p
        )
    ),
    "convert_iceberg_to_delta": _convert,
}


@pytest.mark.parametrize("op", sorted(_CREATES))
def test_create_that_loses_the_race_leaves_no_unnamed_file(
    spark, tmp_path, monkeypatch, op
):
    """A create whose version 0 a rival create claimed first raises
    ``FileExistsError`` and unlinks what it staged (data files, or
    the deletion vectors a conversion writes): the table is the
    rival's, and no file is left that version 0 does not name."""
    path = str(tmp_path / "t")
    create = _CREATES[op](spark, tmp_path, path)
    _race(monkeypatch, D, "_commit", lambda p: D.write_delta(
        _df(spark, [(9, "z", 9.0)]), p, mode="error"
    ))
    with pytest.raises(FileExistsError):
        create()
    assert D._list_versions(path) == [0]
    assert _rows(D.read_delta(spark, path)) == [(9, "z", 9.0)]
    assert _delta_unnamed(path) == set()


# (name, {column: (min, max)}): per-file bounds, encoded below once as
# Delta stats JSON and once as Iceberg binary bounds.  A None end is a
# bound the file does not record.
_FILES = [
    ("f0", {"k": (0, 99), "part": ("a", "a")}),
    ("f1", {"k": (100, 199), "part": ("b", "b")}),
    ("f2", {}),
    ("f3", {"k": (0, None), "part": ("a", "a")}),
    ("f4", {"k": (200, 299), "part": ("a", "b")}),
]
_ICE_FIELDS = [
    {"id": 1, "name": "k", "required": False, "type": "int"},
    {"id": 2, "name": "part", "required": False, "type": "string"},
    {"id": 3, "name": "s", "required": False, "type": {
        "type": "struct", "fields": [
            {"id": 4, "name": "x", "required": False, "type": "int"},
        ],
    }},
]


def _delta_codec():
    snap = D._Snapshot()
    for name, b in _FILES:
        stats = {
            "numRecords": 1,
            "minValues": {c: lo for c, (lo, _) in b.items() if lo is not None},
            "maxValues": {c: hi for c, (_, hi) in b.items() if hi is not None},
        }
        snap.files[name] = {"path": name, "stats": json.dumps(stats)}
    return list(snap.files), D._stats_bounds(snap, {"k": "k", "part": "part"})


def _iceberg_codec():
    types = {f["name"]: (f["id"], f["type"]) for f in _ICE_FIELDS}

    def encode(b, end):
        return {
            types[c][0]: I._sv_encode(types[c][1], v[end])
            for c, v in b.items() if v[end] is not None
        } or None

    recs = [
        {"path": name, "lower": encode(b, 0), "upper": encode(b, 1)}
        for name, b in _FILES
    ]
    return recs, I._manifest_bounds({"fields": _ICE_FIELDS})


@pytest.mark.parametrize("ranges, kept", [
    # an endpoint equal to lo or hi is kept
    ([("k", 99, 100)], ["f0", "f1", "f2", "f3"]),
    ([("k", 300, 400)], ["f2", "f3"]),
    # uncomparable bounds keep every file
    ([("k", datetime.date(2020, 1, 1), datetime.date(2020, 1, 2))],
     ["f0", "f1", "f2", "f3", "f4"]),
    # a None end ignores that column
    ([("k", None, 5)], ["f0", "f1", "f2", "f3", "f4"]),
    ([("k", 300, None), ("part", "b", "b")], ["f1", "f2", "f4"]),
    # a two-column key prunes on either column
    ([("k", 150, 150), ("part", "a", "a")], ["f2", "f3"]),
    ([("k", 50, 250), ("part", "b", "b")], ["f1", "f2", "f4"]),
    # a column without single-value bounds keeps every file
    ([("s", 1, 2)], ["f0", "f1", "f2", "f3", "f4"]),
])
def test_both_codecs_prune_the_same_files(ranges, kept):
    """``prune_by_bounds`` over Delta stats JSON and over Iceberg
    binary bounds keeps the same files, in input order; no Spark
    session is involved."""
    names, delta_bounds = _delta_codec()
    d_kept, d_skipped = table_io.prune_by_bounds(names, delta_bounds, ranges)
    recs, ice_bounds = _iceberg_codec()
    i_kept, i_skipped = table_io.prune_by_bounds(recs, ice_bounds, ranges)
    assert d_kept == kept
    assert [r["path"] for r in i_kept] == kept
    assert d_skipped == [n for n in names if n not in kept]
    assert [r["path"] for r in i_skipped] == d_skipped


_MERGES = {"delta": D.merge_delta, "iceberg": I.merge_iceberg}


@pytest.mark.parametrize("fmt", sorted(_MERGES))
def test_merge_refuses_a_source_with_duplicate_keys(spark, tmp_path, fmt):
    """Both merges refuse a source that holds one key twice, with the
    one message of the shared key aggregate, and commit nothing."""
    write, versions = _WRITERS[fmt]
    path = str(tmp_path / "t")
    write(
        _df(spark, [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0),
                    (4, "b", 4.0)]).coalesce(1),
        path, mode="error",
    )
    before = versions(path)
    with pytest.raises(ValueError) as e:
        _MERGES[fmt](
            spark, path, _df(spark, [(2, "a", 20.0), (2, "a", 21.0)]),
            on=["k"],
        )
    assert str(e.value) == (
        "merge source has duplicate keys on ['k'] — a target row "
        "would match more than one source row"
    )
    assert versions(path) == before


def test_basenames_unquote_and_refuse_a_collision():
    assert table_io.basenames(["/t/a%20b.parquet", "file:/t/p=1/c.parquet"]) == [
        "a b.parquet", "c.parquet"
    ]
    with pytest.raises(ValueError, match="duplicate data file basenames"):
        table_io.basenames(["/t/p=1/f.parquet", "/t/p=2/f.parquet"])


def _delta_dup(spark, path):
    """Commit an add of a hardlink of one live file, under ``dup/``."""
    snap, v = D._snapshot(spark, path)
    rel = sorted(snap.files)[0]
    src = os.path.join(path, urllib.parse.unquote(rel))
    os.makedirs(os.path.join(path, "dup"))
    os.link(src, os.path.join(path, "dup", os.path.basename(src)))
    add = {k: x for k, x in snap.files[rel].items() if k != "deletionVector"}
    add.update(path="dup/" + os.path.basename(rel), dataChange=True)
    D._commit(path, v + 1, [{"add": add}])


def _iceberg_dup(spark, path):
    """Commit an append of a hardlink of one live data file, under
    ``dup/``; returns the original file's path."""
    meta = I._load_metadata(path)
    schema_json = I._current_schema(meta)
    data, _pos, _eq = I._manifest_entries(
        path, meta, I._snapshot_by_id(meta, None)
    )
    r = data[0]
    dst = os.path.join(path, "dup", os.path.basename(r["path"]))
    os.makedirs(os.path.dirname(dst))
    os.link(r["path"], dst)
    entry = {
        "status": 1, "snapshot_id": None, "sequence_number": None,
        "file_sequence_number": None,
        "data_file": {
            "content": 0, "file_path": dst, "file_format": "PARQUET",
            "partition": r["partition"], "record_count": r["record_count"],
            "file_size_in_bytes": os.path.getsize(dst),
            "lower_bounds": None, "upper_bounds": None,
        },
    }
    manifest = I._write_manifest(
        path, [entry], I._spec_from_meta(meta, schema_json), 0, "data",
        schema_json, spec_id=int(r["spec_id"]),
    )
    I._commit_snapshot(
        path, meta, [manifest], I._carry_manifests(path, meta), "append"
    )
    return r["path"]


_SCANS = {
    "delta": (D.read_delta, D.delete_where_delta, _delta_dup),
    "iceberg": (I.read_iceberg, I.delete_iceberg_rows, _iceberg_dup),
}


@pytest.mark.parametrize("n_parts", [3, 40])
@pytest.mark.parametrize("fmt", sorted(_SCANS))
def test_shared_scan_in_both_codecs(spark, tmp_path, fmt, n_parts):
    """Both connectors read through the one tagged scan: partition
    values served per file, one row removed by a deletion vector or a
    position delete, one FileScan over the data past Delta's union
    cap, and one refusal when two live files share a basename."""
    write = _WRITERS[fmt][0]
    read, delete, dup = _SCANS[fmt]
    path = str(tmp_path / "t")
    rows = [(k, f"p{k % n_parts}", float(k)) for k in range(2 * n_parts)]
    write(_df(spark, rows), path, mode="error", partition_by=["part"])
    delete(spark, path, F.col("k") == 1)
    back = read(spark, path)
    assert _rows(back.select("k", "part", "v")) == sorted(
        r for r in rows if r[0] != 1
    )
    if n_parts > D._UNION_BRANCH_CAP:
        plan = back._jdf.queryExecution().executedPlan().toString()
        data_scans = [
            line for line in plan.splitlines()
            if "FileScan parquet" in line and "file_path" not in line
        ]
        assert len(data_scans) == 1
        assert "Union" not in plan
    dup(spark, path)
    with pytest.raises(ValueError, match="duplicate data file basenames"):
        read(spark, path).collect()


def test_changelog_refuses_two_carried_files_with_one_basename(
    spark, tmp_path
):
    """A new position delete is attributed to a carried file by
    basename; two carried files sharing one would both emit a delete
    row for the killed position, so the changelog refuses."""
    path = str(tmp_path / "t")
    I.write_iceberg(
        _df(spark, [(1, "a", 1.0), (2, "a", 2.0)]).coalesce(1), path,
        mode="error",
    )
    first = _iceberg_dup(spark, path)
    meta = I._load_metadata(path)
    before = int(meta["current-snapshot-id"])
    del_files = I._stage_pos_delete(
        spark, path,
        spark.createDataFrame([(first, 0)], "file_path string, pos long"),
    )
    I._commit_snapshot(
        path, meta,
        [I._delete_manifest(path, del_files, I._current_schema(meta))],
        I._carry_manifests(path, meta), "delete", staged=del_files,
    )
    with pytest.raises(ValueError, match="duplicate data file basenames"):
        I.read_iceberg_changes(spark, path, before).collect()
