"""Iceberg-v2 connector tests (sources/iceberg.py + avro_codec.py):
Avro container codec (incl. interop with the JVM's real avro-1.12.1),
metadata/manifest replay, snapshots + time travel, identity partition
handling, positional deletes with sequence-number gating, stats-based
range skipping, commit atomicity, and the honest refusal gates —
each against the PUBLIC spec layout, never a directory listing."""

import json
import os
import shutil

import pytest

#: driver-budget split (r12): deep suite, excluded from the default
#: run by pytest.ini; runs via  pytest -m slow  in the builder's loop
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from aws_datalake_framework_api_spark.sources.avro_codec import (
    read_avro_file,
    write_avro_file,
)
from aws_datalake_framework_api_spark.sources.iceberg import (
    _load_metadata,
    _manifest_entry_schema,
    _MANIFEST_LIST_SCHEMA,
    _meta_dir,
    delete_by_key_iceberg,
    delete_iceberg_rows,
    history_iceberg,
    read_iceberg,
    read_iceberg_range,
    write_iceberg,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, part string, v double")


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------------------------------ avro codec


def test_avro_roundtrip_all_shapes(tmp_path):
    schema = {
        "type": "record", "name": "t", "fields": [
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "s", "type": ["null", "string"], "default": None},
            {"name": "b", "type": "bytes"},
            {"name": "d", "type": "double"},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {"name": "rec", "type": {"type": "record", "name": "inner",
             "fields": [{"name": "x", "type": ["null", "int"],
                         "default": None}]}},
        ],
    }
    recs = [
        {"i": -1, "l": 1 << 40, "s": "héllo", "b": b"\x00\xff", "d": 2.5,
         "arr": [1, 2, 3], "m": {"a": "x"}, "rec": {"x": 7}},
        {"i": 0, "l": -5, "s": None, "b": b"", "d": -0.0,
         "arr": [], "m": {}, "rec": {"x": None}},
    ]
    for codec in ("deflate", "null"):
        p = str(tmp_path / f"t-{codec}.avro")
        write_avro_file(p, schema, recs, codec=codec)
        s2, back = read_avro_file(p)
        assert back == recs
        assert s2["name"] == "t"


def test_avro_interop_with_jvm_library(spark, tmp_path):
    """Our codec must speak REAL Avro, not a private dialect: the
    JVM's avro-1.12.1 (on Spark's classpath) writes a deflate file we
    read, and reads a file we wrote."""
    jvm = spark._jvm  # noqa: SLF001 — the point is the foreign impl
    schema_json = json.dumps({
        "type": "record", "name": "t", "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": ["null", "string"], "default": None},
        ],
    })
    sch = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    p = str(tmp_path / "j.avro")
    w = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(sch)
    )
    w.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    w.create(sch, jvm.java.io.File(p))
    for i in range(3):
        r = jvm.org.apache.avro.generic.GenericData.Record(sch)
        r.put("k", i)
        r.put("s", None if i == 1 else f"v{i}")
        w.append(r)
    w.close()
    _, recs = read_avro_file(p)
    assert [(r["k"], r["s"]) for r in recs] == [(0, "v0"), (1, None), (2, "v2")]
    p2 = str(tmp_path / "p.avro")
    write_avro_file(p2, json.loads(schema_json), [{"k": 9, "s": "x"}])
    rd = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(p2), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    rows = []
    while rd.hasNext():
        rows.append(rd.next())
    rd.close()
    assert len(rows) == 1 and rows[0].get("k") == 9 and str(rows[0].get("s")) == "x"


def test_avro_unsupported_codec_refused(tmp_path):
    p = str(tmp_path / "t.avro")
    with pytest.raises(ValueError, match="codec"):
        write_avro_file(p, {"type": "record", "name": "t", "fields": []},
                        [], codec="snappy")


# -------------------------------------------------------------- connector core


def test_roundtrip_partitioned_and_typed_partition_values(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)])
    assert write_iceberg(df, path, mode="error", partition_by=["part"]) == 1
    back = read_iceberg(spark, path)
    assert back.schema == df.schema
    assert _sorted_rows(back) == _sorted_rows(df)
    # data files CONTAIN the partition column (Iceberg, unlike Delta)
    import pyarrow.parquet as pq

    any_file = [f for f in os.listdir(os.path.join(path, "data"))
                if f.endswith(".parquet")][0]
    names = pq.ParquetFile(os.path.join(path, "data", any_file)).schema_arrow.names
    assert "part" in names


def test_append_overwrite_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_iceberg(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    write_iceberg(_df(spark, [(9, "z", 9.0)]), path, mode="overwrite")
    assert _sorted_rows(read_iceberg(spark, path)) == [(9, "z", 9.0)]
    h = history_iceberg(spark, path)
    assert [x["operation"] for x in h] == ["append", "append", "overwrite"]
    assert _sorted_rows(
        read_iceberg(spark, path, snapshot_id=h[1]["snapshot_id"])
    ) == [(1, "a", 1.0), (2, "b", 2.0)]
    with pytest.raises(FileExistsError):
        write_iceberg(_df(spark, [(0, "x", 0.0)]), path, mode="error")


def test_schema_and_partitioning_mismatch_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path, mode="error",
                  partition_by=["part"])
    with pytest.raises(ValueError, match="schema mismatch"):
        write_iceberg(
            spark.createDataFrame([(1, "a")], "k int, part string"),
            path, mode="append", partition_by=["part"],
        )
    with pytest.raises(ValueError, match="partitioning mismatch"):
        write_iceberg(_df(spark, [(1, "a", 1.0)]), path, mode="append")


def test_positional_delete_merge_on_read(spark, tmp_path):
    """DELETE writes a delete manifest + parquet delete file; no data
    file is rewritten, and reads subtract exactly the deleted rows."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "x", float(i)) for i in range(20)], "k int, part string, v double"
    ).coalesce(1)
    write_iceberg(df, path, mode="error")
    data_files = {
        f: os.path.getmtime(os.path.join(path, "data", f))
        for f in os.listdir(os.path.join(path, "data"))
    }
    delete_iceberg_rows(spark, path, F.col("k") % 5 == 0)
    # every pre-existing data file untouched on disk
    for f, mt in data_files.items():
        assert os.path.getmtime(os.path.join(path, "data", f)) == mt
    got = sorted(r["k"] for r in read_iceberg(spark, path).collect())
    assert got == [k for k in range(20) if k % 5]
    # the pre-delete snapshot still reads complete
    h = history_iceberg(spark, path)
    assert read_iceberg(spark, path, snapshot_id=h[0]["snapshot_id"]).count() == 20
    # appended rows at the same positions are NOT shadowed
    write_iceberg(
        spark.createDataFrame([(100, "x", 1.0)], "k int, part string, v double"),
        path, mode="append",
    )
    got = sorted(r["k"] for r in read_iceberg(spark, path).collect())
    assert got == [k for k in range(20) if k % 5] + [100]


def test_delete_sequence_number_gating(spark, tmp_path):
    """Spec rule: a position delete applies only to data files whose
    data sequence number is <= the delete's.  Hand-built metadata
    with a STALE delete (seq 1) against a NEWER data file (seq 5) —
    the delete must not apply; bumping the delete to seq 7 applies
    it."""
    from aws_datalake_framework_api_spark.sources.avro_codec import (
        write_avro_file as _wav,
    )

    path = str(tmp_path / "t")
    ddir = os.path.join(path, "data")
    os.makedirs(ddir)
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k int, part string, v double"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    part = [f for f in os.listdir(str(tmp_path / "stage"))
            if f.endswith(".parquet")][0]
    dfile = os.path.join(ddir, "f1.parquet")
    os.replace(os.path.join(str(tmp_path / "stage"), part), dfile)
    spark.createDataFrame([(dfile, 0)], "file_path string, pos long").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "dstage"))
    dpart = [f for f in os.listdir(str(tmp_path / "dstage"))
             if f.endswith(".parquet")][0]
    delfile = os.path.join(ddir, "d1.parquet")
    os.replace(os.path.join(str(tmp_path / "dstage"), dpart), delfile)

    schema_json = {
        "schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "k", "required": False, "type": "int"},
            {"id": 2, "name": "part", "required": False, "type": "string"},
            {"id": 3, "name": "v", "required": False, "type": "double"},
        ],
    }

    def build(delete_seq):
        md = _meta_dir(path)
        shutil.rmtree(md, ignore_errors=True)
        os.makedirs(md)
        ent = _manifest_entry_schema([])

        def entry(fp, content, seq):
            return {
                "status": 0, "snapshot_id": 7, "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": content, "file_path": fp,
                    "file_format": "PARQUET", "partition": {},
                    "record_count": 2 if content == 0 else 1,
                    "file_size_in_bytes": os.path.getsize(fp),
                    "lower_bounds": None, "upper_bounds": None,
                },
            }

        m_data = os.path.join(md, "m-data.avro")
        _wav(m_data, ent, [entry(dfile, 0, 5)],
             metadata={"format-version": "2", "content": "data"})
        m_del = os.path.join(md, "m-del.avro")
        _wav(m_del, ent, [entry(delfile, 1, delete_seq)],
             metadata={"format-version": "2", "content": "deletes"})
        ml = os.path.join(md, "snap-7-1-x.avro")

        def mf(p, content, seq):
            return {
                "manifest_path": p, "manifest_length": os.path.getsize(p),
                "partition_spec_id": 0, "content": content,
                "sequence_number": seq, "min_sequence_number": seq,
                "added_snapshot_id": 7, "added_files_count": 1,
                "existing_files_count": 0, "deleted_files_count": 0,
                "added_rows_count": 2, "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }

        _wav(ml, _MANIFEST_LIST_SCHEMA,
             [mf(m_data, 0, 5), mf(m_del, 1, delete_seq)],
             metadata={"format-version": "2"})
        meta = {
            "format-version": 2, "table-uuid": "u", "location": path,
            "last-sequence-number": max(5, delete_seq),
            "last-updated-ms": 1, "last-column-id": 3,
            "schemas": [schema_json], "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "default-spec-id": 0, "last-partition-id": 999,
            "properties": {},
            "snapshots": [{"snapshot-id": 7,
                           "sequence-number": max(5, delete_seq),
                           "timestamp-ms": 1,
                           "summary": {"operation": "append"},
                           "manifest-list": ml, "schema-id": 0}],
            "current-snapshot-id": 7, "snapshot-log": [], "metadata-log": [],
        }
        with open(os.path.join(md, "v1.metadata.json"), "w") as fh:
            json.dump(meta, fh)

    build(delete_seq=1)  # stale delete: must NOT apply
    assert sorted(r["k"] for r in read_iceberg(spark, path).collect()) == [1, 2]
    build(delete_seq=7)  # newer delete: applies to row at pos 0
    assert sorted(r["k"] for r in read_iceberg(spark, path).collect()) == [2]


def test_equality_delete_without_ids_refused(spark, tmp_path):
    """A content=2 entry that lists no equality_ids is spec-invalid —
    there is no way to know which columns it deletes by; refuse,
    never silently keep rows an equality delete removed."""
    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]).coalesce(1), path, mode="error")
    meta = _load_metadata(path)
    _, mls = read_avro_file(meta["snapshots"][0]["manifest-list"])
    _, entries = read_avro_file(mls[0]["manifest_path"])
    entries[0]["data_file"]["content"] = 2
    write_avro_file(
        mls[0]["manifest_path"], _manifest_entry_schema([]), entries,
        metadata={"format-version": "2", "content": "deletes"},
    )
    with pytest.raises(ValueError, match="equality_ids"):
        read_iceberg(spark, path)


def test_delete_by_key_equality_delete_end_to_end(spark, tmp_path):
    """delete_by_key_iceberg is an O(keys) merge-on-read DELETE: no
    data file is read or rewritten, the keys land in a content=2
    delete file, and the STRICT sequence gate means a later re-insert
    of the same key survives the earlier delete."""
    path = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)]),
        path, mode="error", partition_by=["part"],
    )
    data_dir = os.path.join(path, "data")
    before = {
        f for f in os.listdir(data_dir) if not f.startswith("eq-delete-")
    }
    delete_by_key_iceberg(
        spark, path, spark.createDataFrame([(1,), (3,)], "k int")
    )
    # no data file rewritten — only the equality delete file appeared
    after = {
        f for f in os.listdir(data_dir) if not f.startswith("eq-delete-")
    }
    assert after == before
    assert any(f.startswith("eq-delete-") for f in os.listdir(data_dir))
    assert _sorted_rows(read_iceberg(spark, path)) == [(2, "a", 2.0)]
    # strict gate: a re-insert of k=1 AFTER the delete survives it
    write_iceberg(
        _df(spark, [(1, "a", 10.0)]), path, mode="append",
        partition_by=["part"],
    )
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (1, "a", 10.0), (2, "a", 2.0),
    ]
    # time travel still sees the pre-delete snapshot
    meta = _load_metadata(path)
    first = min(
        meta["snapshots"], key=lambda s: s.get("sequence-number", 0)
    )["snapshot-id"]
    assert len(read_iceberg(spark, path, snapshot_id=first).collect()) == 3


def test_equality_delete_multi_column_and_null_key(spark, tmp_path):
    """Composite keys AND the spec's null-matching rule: a delete row
    with a NULL key column removes data rows whose value IS NULL
    (IS-NOT-DISTINCT-FROM, not SQL equality)."""
    path = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (1, None, 5.0), (2, "a", 2.0)]),
        path, mode="error",
    )
    delete_by_key_iceberg(
        spark, path,
        spark.createDataFrame([(1, None)], "k int, part string"),
    )
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (1, "a", 1.0), (2, "a", 2.0),
    ]


def test_foreign_equality_delete_partition_scoping(spark, tmp_path):
    """A delete file written under a PARTITIONED spec scopes to its
    own partition: the same key value in another partition must
    survive (the spec's rule that keeps partition-local deletes from
    over-deleting)."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        _carry_manifests,
        _commit_snapshot,
        _delete_manifest,
        _write_manifest,
    )

    path = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (1, "b", 9.0), (2, "a", 2.0)]),
        path, mode="error", partition_by=["part"],
    )
    meta = _load_metadata(path)
    # hand-stage a delete keyed on k=1 scoped to partition part='a'
    spark.createDataFrame([(1,)], "k int").coalesce(1).write.parquet(
        str(tmp_path / "stage")
    )
    src = next(
        f for f in os.listdir(str(tmp_path / "stage"))
        if f.endswith(".parquet")
    )
    dst = os.path.join(path, "data", "eqd-scoped.parquet")
    os.replace(os.path.join(str(tmp_path / "stage"), src), dst)
    entry = {
        "status": 1, "snapshot_id": None, "sequence_number": None,
        "file_sequence_number": None,
        "data_file": {
            "content": 2, "file_path": dst, "file_format": "PARQUET",
            "partition": {"part": "a"}, "record_count": 1,
            "file_size_in_bytes": os.path.getsize(dst),
            "lower_bounds": None, "upper_bounds": None,
            "equality_ids": [1],
        },
    }
    schema_json = json.loads(
        json.dumps(
            {
                "schema-id": 0, "type": "struct",
                "fields": meta["schemas"][0]["fields"],
            }
        )
    )
    manifest = _write_manifest(
        path, [entry], [("part", "string")], 0, "deletes", schema_json
    )
    _commit_snapshot(path, meta, [manifest], _carry_manifests(path, meta),
                     "delete")
    # k=1 gone from partition a only; partition b's k=1 survives
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (1, "b", 9.0), (2, "a", 2.0),
    ]


def test_compaction_folds_equality_deletes(spark, tmp_path):
    """rewrite_data_files must FOLD equality deletes into the
    rewritten rows (a rewrite that dropped them would resurrect
    deleted rows): after compaction the table reads identically, the
    rewritten files physically lack the deleted row, and a later
    re-insert of the key still survives (the carried delete's strict
    gate doesn't cover the new sequence numbers)."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        rewrite_data_files,
    )

    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0), (2, "a", 2.0)]), path,
                  mode="error")
    write_iceberg(_df(spark, [(3, "b", 3.0)]), path, mode="append")
    delete_by_key_iceberg(
        spark, path, spark.createDataFrame([(1,)], "k int")
    )
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (2, "a", 2.0), (3, "b", 3.0),
    ]
    out = rewrite_data_files(spark, path, target_file_bytes=1 << 20)
    assert out["files_before"] >= 2
    # same table content after the rewrite
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (2, "a", 2.0), (3, "b", 3.0),
    ]
    # the deleted row is PHYSICALLY absent from the rewritten files
    import pyarrow.parquet as pq

    meta = _load_metadata(path)
    from aws_datalake_framework_api_spark.sources.iceberg import (
        _manifest_entries as _me,
        _snapshot_by_id as _sbi,
    )

    data, _d, _e = _me(path, meta, _sbi(meta, None))
    ks = []
    for r in data:
        ks += pq.read_table(r["path"], columns=["k"]).column("k").to_pylist()
    assert sorted(ks) == [2, 3]
    # re-insert after the fold still works
    write_iceberg(_df(spark, [(1, "a", 10.0)]), path, mode="append")
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (1, "a", 10.0), (2, "a", 2.0), (3, "b", 3.0),
    ]


def test_delete_by_key_with_rows_is_one_upsert_snapshot(spark, tmp_path):
    """``delete_by_key_iceberg(rows=, txn=)`` is the spec's upsert
    shape in ONE snapshot: every key's older version dies, a key
    deleted and re-appended in the same snapshot survives (the strict
    sequence gate spares rows at the delete's own sequence), the
    changelog emits the pair as delete + insert, compaction folds the
    snapshot to the same rows, a replayed ``txn`` commits nothing,
    ``rows`` must match the table schema, and a table with no rows
    gets no delete file."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        _manifest_entries,
        _metadata_versions,
        _snapshot_by_id,
        last_txn_version_iceberg,
        read_iceberg_changes,
        rewrite_data_files,
    )

    path = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)]),
        path, mode="error",
    )
    before = history_iceberg(spark, path)[-1]["snapshot_id"]
    n_snaps = len(history_iceberg(spark, path))
    delete_by_key_iceberg(                  # update 1, delete 2, insert 4
        spark, path, spark.createDataFrame([(1,), (2,), (4,)], "k int"),
        rows=_df(spark, [(1, "a", 10.0), (4, "c", 4.0)]),
        txn=("app", 7),
    )
    expect = [(1, "a", 10.0), (3, "b", 3.0), (4, "c", 4.0)]
    assert _sorted_rows(read_iceberg(spark, path)) == expect
    assert len(history_iceberg(spark, path)) == n_snaps + 1
    assert last_txn_version_iceberg(spark, path, "app") == 7
    meta = _load_metadata(path)
    _data, pos, eq = _manifest_entries(path, meta, _snapshot_by_id(meta, None))
    assert not pos and len(eq) >= 1         # equality deletes only
    assert sorted(
        (r["_change_type"], r["k"], r["v"])
        for r in read_iceberg_changes(spark, path, before).collect()
    ) == [
        ("delete", 1, 1.0), ("delete", 2, 2.0),
        ("insert", 1, 10.0), ("insert", 4, 4.0),
    ]
    # a replayed (or older) txn version commits nothing
    n_meta = len(_metadata_versions(path))
    for v in (7, 3):
        delete_by_key_iceberg(
            spark, path, spark.createDataFrame([(3,)], "k int"),
            rows=_df(spark, [(3, "b", 30.0)]), txn=("app", v),
        )
    assert len(_metadata_versions(path)) == n_meta
    assert _sorted_rows(read_iceberg(spark, path)) == expect
    with pytest.raises(ValueError, match="schema mismatch"):
        delete_by_key_iceberg(
            spark, path, spark.createDataFrame([(3,)], "k int"),
            rows=spark.createDataFrame([(3, "b")], "k int, part string"),
        )
    assert rewrite_data_files(spark, path)["files_before"] >= 1
    assert _sorted_rows(read_iceberg(spark, path)) == expect
    # a table holding no rows yet (a replica's first drain) stages no
    # equality delete: the keys could kill nothing
    empty = str(tmp_path / "e")
    write_iceberg(_df(spark, []).coalesce(1), empty, mode="error")
    delete_by_key_iceberg(
        spark, empty, spark.createDataFrame([(1,)], "k int"),
        rows=_df(spark, [(1, "a", 1.0)]),
    )
    assert not [
        f for f in os.listdir(os.path.join(empty, "data"))
        if f.startswith("eq-delete-")
    ]
    assert _sorted_rows(read_iceberg(spark, empty)) == [(1, "a", 1.0)]


def test_partition_filter_prunes_at_planning_time(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"p{i % 4}", float(i)) for i in range(40)],
        "k int, part string, v double",
    )
    write_iceberg(df, path, mode="error", partition_by=["part"])
    full = read_iceberg(spark, path)
    pruned = read_iceberg(spark, path, partition_filter={"part": "p2"})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert sorted(r["k"] for r in pruned.collect()) == list(range(2, 40, 4))


def _build_transform_table(spark, path, spec_fields, part_types, files):
    """Hand-build a single-snapshot foreign table with an arbitrary
    partition SPEC (hidden partitioning: bucket/truncate/day...).
    ``files``: list of (rows, partition_dict); rows follow the _df
    schema.  Returns nothing — read with read_iceberg."""
    from aws_datalake_framework_api_spark.sources.avro_codec import (
        write_avro_file as _wav,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        _MANIFEST_LIST_SCHEMA as _MLS,
        _manifest_entry_schema as _mes,
        _meta_dir as _md,
    )

    ddir = os.path.join(path, "data")
    os.makedirs(ddir)
    entries = []
    for i, (rows, part) in enumerate(files):
        stage = os.path.join(path, f"_s{i}")
        _df(spark, rows).coalesce(1).write.parquet(stage)
        src = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        fp = os.path.join(ddir, f"f{i}.parquet")
        os.replace(os.path.join(stage, src), fp)
        shutil.rmtree(stage)
        entries.append({
            "status": 0, "snapshot_id": 7, "sequence_number": 1,
            "file_sequence_number": 1,
            "data_file": {
                "content": 0, "file_path": fp, "file_format": "PARQUET",
                "partition": part, "record_count": len(rows),
                "file_size_in_bytes": os.path.getsize(fp),
                "lower_bounds": None, "upper_bounds": None,
            },
        })
    md = _md(path)
    os.makedirs(md)
    part_fields = [(f["name"], part_types[f["name"]]) for f in spec_fields]
    m = os.path.join(md, "m-0.avro")
    _wav(m, _mes(part_fields), entries,
         metadata={"format-version": "2", "content": "data"})
    ml = os.path.join(md, "snap-7.avro")
    _wav(ml, _MLS, [{
        "manifest_path": m, "manifest_length": os.path.getsize(m),
        "partition_spec_id": 0, "content": 0, "sequence_number": 1,
        "min_sequence_number": 1, "added_snapshot_id": 7,
        "added_files_count": len(files), "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": sum(len(r) for r, _ in files),
        "existing_rows_count": 0, "deleted_rows_count": 0,
    }], metadata={"format-version": "2"})
    meta = {
        "format-version": 2, "table-uuid": "u", "location": path,
        "last-sequence-number": 1, "last-updated-ms": 1,
        "last-column-id": 3,
        "schemas": [{
            "schema-id": 0, "type": "struct", "fields": [
                {"id": 1, "name": "k", "required": False, "type": "int"},
                {"id": 2, "name": "part", "required": False,
                 "type": "string"},
                {"id": 3, "name": "v", "required": False, "type": "double"},
            ],
        }],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0, "last-partition-id": 1000 + len(spec_fields),
        "properties": {},
        "snapshots": [{"snapshot-id": 7, "sequence-number": 1,
                       "timestamp-ms": 1,
                       "summary": {"operation": "append"},
                       "manifest-list": ml, "schema-id": 0}],
        "current-snapshot-id": 7, "snapshot-log": [], "metadata-log": [],
    }
    with open(os.path.join(md, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)


def test_bucket_transform_pruning(spark, tmp_path):
    """Hidden partitioning: a filter on the SOURCE column prunes via
    the spec's bucket transform (murmur3 seed 0 per Appendix B).
    bucket[4](34)=3, bucket[4](35)=1 — filtering k=34 must scan only
    the bucket-3 file."""
    path = str(tmp_path / "t")
    _build_transform_table(
        spark, path,
        [{"name": "k_bucket", "transform": "bucket[4]",
          "source-id": 1, "field-id": 1000}],
        {"k_bucket": "int"},
        [([(34, "a", 1.0)], {"k_bucket": 3}),
         ([(35, "b", 2.0)], {"k_bucket": 1})],
    )
    full = read_iceberg(spark, path)
    assert _sorted_rows(full) == [(34, "a", 1.0), (35, "b", 2.0)]
    pruned = read_iceberg(spark, path, partition_filter={"k": 34})
    assert len(pruned.inputFiles()) == 1
    assert _sorted_rows(pruned) == [(34, "a", 1.0)]


def test_truncate_transform_pruning(spark, tmp_path):
    """truncate[2] on a string source: filtering part='abc' keeps only
    files whose partition value is 'ab'."""
    path = str(tmp_path / "t")
    _build_transform_table(
        spark, path,
        [{"name": "part_trunc", "transform": "truncate[2]",
          "source-id": 2, "field-id": 1000}],
        {"part_trunc": "string"},
        [([(1, "abc", 1.0)], {"part_trunc": "ab"}),
         ([(2, "xyz", 2.0)], {"part_trunc": "xy"})],
    )
    pruned = read_iceberg(spark, path, partition_filter={"part": "abc"})
    assert len(pruned.inputFiles()) == 1
    assert _sorted_rows(pruned) == [(1, "abc", 1.0)]


def test_unknown_transform_keeps_files(spark, tmp_path):
    """An unevaluable transform must KEEP files (pruning is an
    optimization, never a correctness lever)."""
    path = str(tmp_path / "t")
    _build_transform_table(
        spark, path,
        [{"name": "k_weird", "transform": "someFutureTransform",
          "source-id": 1, "field-id": 1000}],
        {"k_weird": "int"},
        [([(34, "a", 1.0)], {"k_weird": 3}),
         ([(35, "b", 2.0)], {"k_weird": 0})],
    )
    kept = read_iceberg(spark, path, partition_filter={"k": 34})
    assert len(kept.inputFiles()) == 2  # both kept — never misread


def test_hidden_partitioning_bucket_write_and_prune(spark, tmp_path):
    """Hidden partitioning WRITES: ``partition_by=["bucket(4, k)"]``
    computes the murmur3 seed-0 bucket per row (Arrow-batched numpy),
    lays files out by bucket, and records the real transform in the
    spec — then the reader's Python-side transform evaluation must
    agree with the writer's numpy one (the round trip IS the test:
    a seed or serialization mismatch strands every filter on the
    wrong bucket)."""
    path = str(tmp_path / "t")
    rows = [(k, f"p{k}", float(k)) for k in range(40)]
    write_iceberg(_df(spark, rows), path, mode="error",
                  partition_by=["bucket(4, k)"])
    full = read_iceberg(spark, path)
    assert len(full.collect()) == 40
    assert len(full.inputFiles()) >= 2
    for k in (0, 7, 34):
        pruned = read_iceberg(spark, path, partition_filter={"k": k})
        assert len(pruned.inputFiles()) < len(full.inputFiles())
        assert k in {r["k"] for r in pruned.collect()}
    # appends must repeat the same spec expression
    write_iceberg(_df(spark, [(100, "x", 1.0)]), path, mode="append",
                  partition_by=["bucket(4, k)"])
    assert len(read_iceberg(spark, path).collect()) == 41
    with pytest.raises(ValueError, match="partitioning mismatch"):
        write_iceberg(_df(spark, [(101, "y", 1.0)]), path, mode="append",
                      partition_by=["k"])


def test_hidden_partitioning_day_write_and_prune(spark, tmp_path):
    """day(ts) writes: the partition value is the epoch-day ordinal;
    a filter on ANY time within a day prunes to that day's files."""
    import datetime as dt

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 5)), (2, dt.datetime(2024, 1, 1, 23)),
         (3, dt.datetime(2024, 3, 15, 0))],
        "k int, ts timestamp",
    )
    write_iceberg(df.coalesce(1), path, mode="error",
                  partition_by=["day(ts)"])
    full = read_iceberg(spark, path)
    assert len(full.inputFiles()) == 2  # two distinct days
    pruned = read_iceberg(
        spark, path, partition_filter={"ts": "2024-01-01T15:00:00"}
    )
    assert len(pruned.inputFiles()) == 1
    assert sorted(r["k"] for r in pruned.collect()) == [1, 2]


def test_hidden_partitioning_temporal_bucket(spark, tmp_path):
    """bucket over a timestamp source: the writer hashes epoch MICROS
    (numpy) and the read planner hashes the filter value's micros
    (pure Python) — the round trip catches any unit or serialization
    drift between them."""
    import datetime as dt

    path = str(tmp_path / "t")
    stamps = [dt.datetime(2024, 1, d, 12) for d in (1, 2, 3, 4, 5, 6)]
    df = spark.createDataFrame(
        [(i, ts) for i, ts in enumerate(stamps)], "k int, ts timestamp"
    )
    write_iceberg(df, path, mode="error", partition_by=["bucket(3, ts)"])
    full = read_iceberg(spark, path)
    assert len(full.collect()) == 6
    for i, ts in enumerate(stamps):
        pruned = read_iceberg(
            spark, path, partition_filter={"ts": ts.isoformat()}
        )
        assert i in {r["k"] for r in pruned.collect()}
        assert len(pruned.inputFiles()) <= len(full.inputFiles())


def test_hidden_partitioning_null_source_value(spark, tmp_path):
    """A NULL source value transforms to a NULL partition value
    (written as the default-partition dir, read back as null) and a
    NULL filter value matches exactly those files."""
    path = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (None, "b", 2.0)]).coalesce(1),
        path, mode="error", partition_by=["bucket(4, k)"],
    )
    assert len(read_iceberg(spark, path).collect()) == 2
    pruned = read_iceberg(spark, path, partition_filter={"k": None})
    assert {r["part"] for r in pruned.collect()} == {"b"}


def test_hidden_partitioning_truncate_upsert_roundtrip(spark, tmp_path):
    """truncate(2, part) through the FULL mutation surface: the
    upsert's staging must recompute the transform for the new rows
    (a stale identity assumption would misplace them and the reader's
    partition injection would lie)."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        upsert_iceberg,
    )

    path = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "abc", 1.0), (2, "abd", 2.0), (3, "xyz", 3.0)]),
        path, mode="error", partition_by=["truncate(2, part)"],
    )
    upsert_iceberg(
        spark, path,
        _df(spark, [(1, "abq", 10.0), (4, "xyw", 4.0)]), on=["k"],
    )
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (1, "abq", 10.0), (2, "abd", 2.0), (3, "xyz", 3.0), (4, "xyw", 4.0),
    ]
    pruned = read_iceberg(spark, path, partition_filter={"part": "xy_"})
    assert sorted(r["k"] for r in pruned.collect()) == [3, 4]


def test_partition_spec_evolution(spark, tmp_path):
    """Partition-spec evolution is metadata-only: old files keep
    their old spec (and stay prunable under IT), appends stage under
    the new spec, and compaction migrates everything to the new
    layout.  bucket[4]: 1→0, 2→0, 3→3."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        _manifest_entries as _me,
        _snapshot_by_id as _sbi,
        evolve_spec_iceberg,
        rewrite_data_files,
    )

    path = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "ab", 1.0), (2, "cd", 2.0)]), path, mode="error",
        partition_by=["part"],
    )
    evolve_spec_iceberg(path, ["bucket(4, k)"])
    # appends must now spell the NEW spec
    with pytest.raises(ValueError, match="partitioning mismatch"):
        write_iceberg(_df(spark, [(9, "xx", 9.0)]), path, mode="append",
                      partition_by=["part"])
    write_iceberg(_df(spark, [(3, "ef", 3.0)]), path, mode="append",
                  partition_by=["bucket(4, k)"])
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (1, "ab", 1.0), (2, "cd", 2.0), (3, "ef", 3.0),
    ]
    # old-spec files still prune under the OLD spec; the new-spec file
    # has no 'part' field and is conservatively kept
    pruned = read_iceberg(spark, path, partition_filter={"part": "ab"})
    assert sorted(r["k"] for r in pruned.collect()) == [1, 3]
    # filter on k: old files unprunable (their spec has no k field),
    # the new-spec file prunes by bucket — k=1 hits bucket 0, k=3's
    # file is bucket 3, so the new file is dropped
    pruned2 = read_iceberg(spark, path, partition_filter={"k": 1})
    assert sorted(r["k"] for r in pruned2.collect()) == [1, 2]
    # compaction migrates every file to the new default spec
    rewrite_data_files(spark, path, target_file_bytes=1 << 20)
    meta = _load_metadata(path)
    data, _d, _e = _me(path, meta, _sbi(meta, None))
    assert {int(r["spec_id"]) for r in data} == {meta["default-spec-id"]}
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (1, "ab", 1.0), (2, "cd", 2.0), (3, "ef", 3.0),
    ]
    # post-migration the bucket field prunes EVERY file
    pruned3 = read_iceberg(spark, path, partition_filter={"k": 3})
    assert sorted(r["k"] for r in pruned3.collect()) == [3]


def test_spec_evolution_mixed_kept_manifests(spark, tmp_path):
    """Compaction with files under TWO specs where some old-spec
    files are KEPT: the kept manifest must be written under the OLD
    spec's partition record — nulling its values would break later
    pruning and partition injection."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        _manifest_entries as _me,
        _snapshot_by_id as _sbi,
        delete_iceberg_rows,
        evolve_spec_iceberg,
        rewrite_data_files,
    )

    path = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "ab", 1.0), (2, "cd", 2.0)]), path, mode="error",
        partition_by=["part"],
    )
    evolve_spec_iceberg(path, ["bucket(4, k)"])
    write_iceberg(_df(spark, [(3, "ef", 3.0), (4, "gh", 4.0)]),
                  path, mode="append", partition_by=["bucket(4, k)"])
    # position-delete one NEW-spec row: compaction then rewrites only
    # the dv-hit new-spec files; the old-spec files are "small" too so
    # force keeping them by a tiny target (nothing is small enough)
    delete_iceberg_rows(spark, path, F.col("k") == 4)
    rewrite_data_files(spark, path, target_file_bytes=1)
    meta = _load_metadata(path)
    data, _d, _e = _me(path, meta, _sbi(meta, None))
    # old-spec kept files still carry their identity partition values
    old = [r for r in data if int(r["spec_id"]) == 0]
    assert {r["partition"].get("part") for r in old} == {"ab", "cd"}
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (1, "ab", 1.0), (2, "cd", 2.0), (3, "ef", 3.0),
    ]
    # old-spec pruning still works off the kept manifest
    pruned = read_iceberg(spark, path, partition_filter={"part": "cd"})
    assert 2 in {r["k"] for r in pruned.collect()}
    assert 1 not in {r["k"] for r in pruned.collect()}


def test_range_read_skips_files_via_bounds(spark, tmp_path):
    """Manifest lower/upper bounds (single-value serialization) must
    skip whole files: a range covering one file's keys scans fewer
    files than the table holds, and still filters rows exactly."""
    path = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(i, "a", float(i)) for i in range(0, 10)]).coalesce(1),
        path, mode="error",
    )
    write_iceberg(
        _df(spark, [(i, "a", float(i)) for i in range(100, 110)]).coalesce(1),
        path, mode="append",
    )
    rr = read_iceberg_range(spark, path, "k", 3, 5)
    assert len(rr.inputFiles()) == 1
    assert sorted(r["k"] for r in rr.collect()) == [3, 4, 5]


def test_version_hint_corruption_recovers(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_iceberg(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    with open(os.path.join(_meta_dir(path), "version-hint.text"), "w") as fh:
        fh.write("garbage")
    assert read_iceberg(spark, path).count() == 2


def test_foreign_metadata_naming_resolves(spark, tmp_path):
    """Java writers name metadata ``{NNNNN}-{uuid}.metadata.json``; the
    reader must pick the highest version across BOTH namings."""
    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_iceberg(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    md = _meta_dir(path)
    os.replace(
        os.path.join(md, "v2.metadata.json"),
        os.path.join(md, "00002-0f8e4f0a-9c1d-4d3a-bb1e-abcdefabcdef.metadata.json"),
    )
    os.unlink(os.path.join(md, "version-hint.text"))
    assert read_iceberg(spark, path).count() == 2


def test_relocated_table_reads_via_prefix_swap(spark, tmp_path):
    """Manifests store absolute paths; moving the table directory must
    still read (declared-location prefix swapped onto the real root —
    the delta-rs behavior)."""
    src = str(tmp_path / "orig")
    write_iceberg(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), src, mode="error")
    delete_iceberg_rows(spark, src, F.col("k") == 1)
    dst = str(tmp_path / "moved")
    shutil.move(src, dst)
    assert _sorted_rows(read_iceberg(spark, dst)) == [(2, "b", 2.0)]


def test_empty_table_and_missing_metadata(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_iceberg(spark, str(tmp_path / "nope"))


def test_commit_claims_are_exclusive(spark, tmp_path):
    """The os.link put-if-absent: a pre-claimed next version makes the
    commit fail loudly instead of silently clobbering."""
    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    with open(os.path.join(_meta_dir(path), "v2.metadata.json"), "w") as fh:
        fh.write("{}")
    with pytest.raises(RuntimeError, match="commit conflict"):
        write_iceberg(_df(spark, [(2, "b", 2.0)]), path, mode="append")


def test_jvm_avro_reads_our_manifests(spark, tmp_path):
    """The metadata we write is REAL Avro: the JVM library must be able
    to open a manifest and see the entry fields."""
    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]).coalesce(1), path, mode="error")
    meta = _load_metadata(path)
    _, mls = read_avro_file(meta["snapshots"][0]["manifest-list"])
    jvm = spark._jvm  # noqa: SLF001
    rd = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(mls[0]["manifest_path"]),
        jvm.org.apache.avro.generic.GenericDatumReader(),
    )
    rows = []
    while rd.hasNext():
        rows.append(rd.next())
    rd.close()
    assert len(rows) == 1
    df_rec = rows[0].get("data_file")
    assert str(df_rec.get("file_format")) == "PARQUET"
    assert int(df_rec.get("record_count")) == 1


def test_upsert_iceberg_atomic_merge_on_read(spark, tmp_path):
    """upsert_iceberg: ONE snapshot carrying both the position-delete
    manifest and the new-data manifest; no data file rewritten; old
    row versions invisible, new rows present; time travel intact."""
    from aws_datalake_framework_api_spark.sources.iceberg import upsert_iceberg

    path = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]).coalesce(1),
        path, mode="error",
    )
    data_dir = os.path.join(path, "data")
    before = {f: os.path.getmtime(os.path.join(data_dir, f))
              for f in os.listdir(data_dir)}
    upsert_iceberg(
        spark, path, _df(spark, [(2, "B", 20.0), (9, "z", 9.0)]), on=["k"]
    )
    for f, mt in before.items():
        assert os.path.getmtime(os.path.join(data_dir, f)) == mt
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (1, "a", 1.0), (2, "B", 20.0), (3, "c", 3.0), (9, "z", 9.0),
    ]
    h = history_iceberg(spark, path)
    assert len(h) == 2  # the upsert is ONE snapshot
    assert _sorted_rows(
        read_iceberg(spark, path, snapshot_id=h[0]["snapshot_id"])
    ) == [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]
    # a second upsert touching the SAME key stacks correctly (the new
    # row version lives in a file the first delete must not shadow)
    upsert_iceberg(spark, path, _df(spark, [(2, "BB", 200.0)]), on=["k"])
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (1, "a", 1.0), (2, "BB", 200.0), (3, "c", 3.0), (9, "z", 9.0),
    ]
    with pytest.raises(ValueError, match="schema mismatch"):
        upsert_iceberg(
            spark, path, spark.createDataFrame([(1,)], "k int"), on=["k"]
        )


def test_rewrite_data_files_compacts_and_folds_deletes(spark, tmp_path):
    """Compaction merges small files, folds applicable position
    deletes into the rewrite, keeps untouched files by reference
    (EXISTING entries), and changes no rows."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        rewrite_data_files,
    )

    path = str(tmp_path / "t")
    for i in range(4):
        write_iceberg(
            _df(spark, [(i, "x", float(i))]).coalesce(1), path,
            mode="error" if i == 0 else "append",
        )
    delete_iceberg_rows(spark, path, F.col("k") == 2)
    before = _sorted_rows(read_iceberg(spark, path))
    out = rewrite_data_files(spark, path)
    assert out["files_before"] >= 4 and out["files_after"] == 1
    assert _sorted_rows(read_iceberg(spark, path)) == before == [
        (0, "x", 0.0), (1, "x", 1.0), (3, "x", 3.0),
    ]
    # nothing left to compact -> no commit
    again = rewrite_data_files(spark, path)
    assert again["partitions_compacted"] == 0
    # pre-compaction snapshots still time-travel
    h = history_iceberg(spark, path)
    assert [x["operation"] for x in h][-1] == "replace"
    assert read_iceberg(spark, path, snapshot_id=h[0]["snapshot_id"]).count() == 1


def test_expire_snapshots_reclaims_unreferenced_files(spark, tmp_path):
    """Snapshot expiration drops history and physically reclaims files
    no surviving snapshot references; live reads are unaffected."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        expire_snapshots,
    )

    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]).coalesce(1), path, mode="error")
    write_iceberg(_df(spark, [(9, "z", 9.0)]).coalesce(1), path,
                  mode="overwrite")  # v1's file now historical
    n_files = len(os.listdir(os.path.join(path, "data")))
    live = _sorted_rows(read_iceberg(spark, path))
    out = expire_snapshots(spark, path, keep_last=1)
    assert out["expired"] == 1 and out["files_deleted"] >= 1
    assert len(os.listdir(os.path.join(path, "data"))) < n_files
    assert _sorted_rows(read_iceberg(spark, path)) == live == [(9, "z", 9.0)]
    h = history_iceberg(spark, path)
    assert len(h) == 1  # expired snapshot gone from metadata
    # idempotent
    assert expire_snapshots(spark, path, keep_last=1)["expired"] == 0


# ------------------------------------------------------- schema evolution


def _data_files(path):
    d = os.path.join(path, "data")
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


def test_writer_stamps_parquet_field_ids(spark, tmp_path):
    """The spec requires writers to record field ids in data files —
    they are what makes rename-safe resolution possible."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "ids")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    sch = pq.read_schema(_data_files(path)[0])
    got = {
        f.name: int((f.metadata or {})[b"PARQUET:field_id"]) for f in sch
    }
    meta = _load_metadata(path)
    want = {
        f["name"]: int(f["id"])
        for f in meta["schemas"][0]["fields"]
    }
    assert got == want


def test_rename_resolves_old_files_by_field_id(spark, tmp_path):
    """Files written BEFORE a rename spell the old column name; the
    read must resolve them by field id and serve the new name."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        evolve_iceberg,
    )

    path = str(tmp_path / "ren")
    write_iceberg(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), path)
    evolve_iceberg(path, renames={"v": "amount"})
    back = read_iceberg(spark, path)
    assert back.columns == ["k", "part", "amount"]
    assert _sorted_rows(back) == [(1, "a", 1.0), (2, "b", 2.0)]


def test_rename_then_append_mixes_old_and_new_spellings(spark, tmp_path):
    from aws_datalake_framework_api_spark.sources.iceberg import (
        evolve_iceberg,
    )

    path = str(tmp_path / "mix")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path)
    evolve_iceberg(path, renames={"v": "amount"})
    write_iceberg(
        spark.createDataFrame([(2, "b", 2.0)], "k int, part string, amount double"),
        path,
        mode="append",
    )
    back = read_iceberg(spark, path)
    assert _sorted_rows(back) == [(1, "a", 1.0), (2, "b", 2.0)]


def test_add_column_reads_null_from_old_files(spark, tmp_path):
    from aws_datalake_framework_api_spark.sources.iceberg import (
        evolve_iceberg,
    )

    path = str(tmp_path / "add")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path)
    evolve_iceberg(path, add_columns=[("bonus", "double")])
    write_iceberg(
        spark.createDataFrame(
            [(2, "b", 2.0, 0.5)], "k int, part string, v double, bonus double"
        ),
        path,
        mode="append",
    )
    back = read_iceberg(spark, path)
    assert sorted(
        (r["k"], r["bonus"]) for r in back.collect()
    ) == [(1, None), (2, 0.5)]


def test_rename_partition_source_refused(spark, tmp_path):
    from aws_datalake_framework_api_spark.sources.iceberg import (
        evolve_iceberg,
    )

    path = str(tmp_path / "psrc")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path, partition_by=["part"])
    with pytest.raises(ValueError, match="partition source"):
        evolve_iceberg(path, renames={"part": "region"})


def test_retype_promotions_read_across_eras(spark, tmp_path):
    """Legal type promotions (int→long, float→double, decimal
    widening — spec §Schema Evolution, r9): pre-promotion files read
    at their PHYSICAL width and cast; post-promotion appends carry
    values only the wide type can hold."""
    import decimal

    from aws_datalake_framework_api_spark.sources.iceberg import (
        evolve_iceberg,
    )

    path = str(tmp_path / "promo")
    write_iceberg(
        spark.createDataFrame(
            [(1, 1.5, decimal.Decimal("12.34")),
             (2, 2.5, decimal.Decimal("99.99"))],
            "k int, v float, d decimal(6,2)",
        ).coalesce(1),
        path,
    )
    evolve_iceberg(
        path,
        retype_columns={
            "k": "long", "v": "double", "d": "decimal(12, 2)",
        },
    )
    write_iceberg(
        spark.createDataFrame(
            [(3_000_000_000, 3.25, decimal.Decimal("1234567890.12"))],
            "k long, v double, d decimal(12,2)",
        ).coalesce(1),
        path,
        mode="append",
    )
    back = read_iceberg(spark, path)
    assert back.schema.simpleString() == (
        "struct<k:bigint,v:double,d:decimal(12,2)>"
    )
    assert sorted(tuple(r) for r in back.collect()) == [
        (1, 1.5, decimal.Decimal("12.34")),
        (2, 2.5, decimal.Decimal("99.99")),
        (3_000_000_000, 3.25, decimal.Decimal("1234567890.12")),
    ]


def test_retype_illegal_promotions_refused(spark, tmp_path):
    """Narrowings and cross-family changes refuse loudly; so does a
    partition-source promotion (manifest records spell the width)."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        evolve_iceberg,
    )

    path = str(tmp_path / "bad")
    write_iceberg(
        spark.createDataFrame(
            [(1, "a", 2.0)], "k int, part string, v double"
        ),
        path,
        partition_by=["part"],
    )
    for bad in (
        {"v": "float"},          # narrowing
        {"k": "double"},         # cross-family
        {"k": "string"},         # cross-family
        {"part": "binary"},      # cross-family on a string
        {"missing": "long"},     # no such column
        {"k": "int"},            # no-op retype
    ):
        with pytest.raises(ValueError):
            evolve_iceberg(path, retype_columns=bad)
    with pytest.raises(ValueError, match="partition source"):
        # legal promotion shape, but on a partition source column —
        # make one by repartitioning a fresh table on an int column
        p2 = str(tmp_path / "bad2")
        write_iceberg(
            spark.createDataFrame([(1, "a", 2.0)],
                                  "k int, part string, v double"),
            p2,
            partition_by=["k"],
        )
        evolve_iceberg(p2, retype_columns={"k": "long"})


def test_retype_composes_with_rename_and_merge(spark, tmp_path):
    """Promotion + rename in ONE evolution commit, then a MERGE under
    the new schema: matched-row discovery and the rewrite must read
    old narrow files through the same branch-and-cast path."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        evolve_iceberg,
        merge_iceberg,
    )

    path = str(tmp_path / "combo")
    write_iceberg(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k int, part string, cents int"
        ).coalesce(1),
        path,
    )
    evolve_iceberg(
        path,
        renames={"cents": "amount"},
        # retype names refer to the POST-rename schema (retypes apply
        # after renames within the commit)
        retype_columns={"amount": "long", "k": "long"},
    )
    out = merge_iceberg(
        spark, path,
        spark.createDataFrame(
            [(2, "b", 9_000_000_000), (5, "c", 50)],
            "k long, part string, amount long",
        ),
        on=["k"],
    )
    assert out["updated"] == 1 and out["inserted"] == 1
    back = read_iceberg(spark, path)
    assert sorted(tuple(r) for r in back.collect()) == [
        (1, "a", 10), (2, "b", 9_000_000_000), (5, "c", 50),
    ]


def test_idless_old_files_resolve_via_history_name_map(spark, tmp_path):
    """A file written by a pre-field-id writer resolves through the
    history's unambiguous name→id map."""
    import pyarrow.parquet as pq
    from aws_datalake_framework_api_spark.sources.iceberg import (
        evolve_iceberg,
    )

    path = str(tmp_path / "idless")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path)
    # strip the field ids in place (legacy-writer simulation)
    f = _data_files(path)[0]
    t = pq.read_table(f)
    t = t.cast(
        __import__("pyarrow").schema(
            [fl.remove_metadata() for fl in t.schema]
        )
    )
    pq.write_table(t, f)
    evolve_iceberg(path, renames={"v": "amount"})
    back = read_iceberg(spark, path)
    assert back.columns == ["k", "part", "amount"]
    assert _sorted_rows(back) == [(1, "a", 1.0)]


def test_idless_ambiguous_name_refused(spark, tmp_path):
    """rename v→w then add a NEW column v (fresh id): an id-less file
    spelling 'v' is now ambiguous and must be refused, not guessed."""
    import pyarrow.parquet as pq
    from aws_datalake_framework_api_spark.sources.iceberg import (
        evolve_iceberg,
    )

    path = str(tmp_path / "ambig")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path)
    f = _data_files(path)[0]
    t = pq.read_table(f)
    t = t.cast(
        __import__("pyarrow").schema(
            [fl.remove_metadata() for fl in t.schema]
        )
    )
    pq.write_table(t, f)
    evolve_iceberg(path, renames={"v": "w"})
    evolve_iceberg(path, add_columns=[("v", "double")])
    with pytest.raises(ValueError, match="multiple field ids"):
        read_iceberg(spark, path).collect()
    # the same table with field ids intact reads fine
    path2 = str(tmp_path / "ambig_ok")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path2)
    evolve_iceberg(path2, renames={"v": "w"})
    evolve_iceberg(path2, add_columns=[("v", "double")])
    back = read_iceberg(spark, path2)
    assert back.columns == ["k", "part", "w", "v"]
    assert _sorted_rows(back) == [(1, "a", 1.0, None)]


def test_range_read_prunes_after_rename(spark, tmp_path):
    """Manifest bounds are keyed by FIELD ID, so stats skipping keeps
    working across a rename."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        evolve_iceberg,
    )

    path = str(tmp_path / "renrange")
    write_iceberg(_df(spark, [(1, "a", 1.0)]).coalesce(1), path)
    write_iceberg(
        _df(spark, [(100, "b", 2.0)]).coalesce(1), path, mode="append"
    )
    evolve_iceberg(path, renames={"k": "key"})
    back = read_iceberg_range(spark, path, "key", 0, 10)
    assert _sorted_rows(back) == [(1, "a", 1.0)]


def test_type_evolution_promotes_or_refuses(spark, tmp_path):
    """A FOREIGN-written type change across schema history: a legal
    promotion (int→long, r9) resolves — old int32 files read at their
    physical width and serve long — while an illegal change (int→
    string) still refuses the read loudly."""
    path = str(tmp_path / "tevo")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path)
    meta_dir = _meta_dir(path)
    hint = os.path.join(meta_dir, "version-hint.text")
    with open(hint) as fh:
        v = int(fh.read().strip())
    mf = os.path.join(meta_dir, f"v{v}.metadata.json")
    with open(mf) as fh:
        meta = json.load(fh)

    def retype_k(t, sid):
        m = json.loads(json.dumps(meta))
        new = json.loads(json.dumps(m["schemas"][0]))
        new["schema-id"] = sid
        for f in new["fields"]:
            if f["name"] == "k":
                f["type"] = t
        m["schemas"].append(new)
        m["current-schema-id"] = sid
        with open(mf, "w") as fh:
            json.dump(m, fh)

    retype_k("long", 1)
    back = read_iceberg(spark, path)
    assert dict(back.dtypes)["k"] == "bigint"
    assert _sorted_rows(back) == [(1, "a", 1.0)]
    retype_k("string", 2)
    with pytest.raises(ValueError, match="changed type"):
        read_iceberg(spark, path)


def test_drop_column_and_readd_under_new_id(spark, tmp_path):
    """DROP removes the column from reads without touching files; a
    LATER re-add of the same name gets a fresh id, and old files (ids
    intact) serve NULL for it instead of resurrecting old bytes."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        evolve_iceberg,
    )

    path = str(tmp_path / "drop")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path)
    evolve_iceberg(path, drop_columns=["v"])
    back = read_iceberg(spark, path)
    assert back.columns == ["k", "part"]
    assert _sorted_rows(back) == [(1, "a")]
    # same-commit drop+re-add is the refused ambiguity
    with pytest.raises(ValueError, match="same commit"):
        evolve_iceberg(
            path, drop_columns=["part"], add_columns=[("part", "string")]
        )
    # a later re-add allocates a fresh id; old files read NULL
    evolve_iceberg(path, add_columns=[("v", "double")])
    back = read_iceberg(spark, path)
    assert _sorted_rows(back) == [(1, "a", None)]


def test_delete_and_upsert_resolve_renamed_tables(spark, tmp_path):
    """A DELETE/UPSERT condition names CURRENT columns; pre-rename
    files must still be matched (by field id), not silently skipped."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        evolve_iceberg, upsert_iceberg,
    )

    path = str(tmp_path / "mut_ren")
    write_iceberg(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1), path)
    evolve_iceberg(path, renames={"v": "amount"})
    # delete by the NEW name must hit the OLD file
    delete_iceberg_rows(spark, path, F.col("amount") == 1.0)
    assert _sorted_rows(read_iceberg(spark, path)) == [(2, "b", 2.0)]
    # upsert matching a pre-rename row
    upsert_iceberg(
        spark, path,
        spark.createDataFrame(
            [(2, "b", 20.0)], "k int, part string, amount double"
        ).coalesce(1),
        on=["k"],
    )
    assert _sorted_rows(read_iceberg(spark, path)) == [(2, "b", 20.0)]


def test_refs_tag_read_and_expiry_pin(spark, tmp_path):
    """Named refs: a tag pins a snapshot — read_iceberg(ref=) resolves
    it, expire_snapshots must NOT reclaim it, and dropping the tag
    makes it expirable again."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        drop_ref_iceberg,
        expire_snapshots,
        tag_iceberg,
    )

    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    tag_iceberg(path, "v1-audit")  # pins the current (first) snapshot
    write_iceberg(_df(spark, [(9, "z", 9.0)]), path, mode="overwrite")
    write_iceberg(_df(spark, [(10, "y", 10.0)]), path, mode="append")
    assert _sorted_rows(read_iceberg(spark, path, ref="v1-audit")) == [
        (1, "a", 1.0)
    ]
    out = expire_snapshots(spark, path, keep_last=1)
    # the tagged snapshot survived the expiry
    assert _sorted_rows(read_iceberg(spark, path, ref="v1-audit")) == [
        (1, "a", 1.0)
    ]
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (9, "z", 9.0), (10, "y", 10.0),
    ]
    with pytest.raises(ValueError, match="no such ref"):
        read_iceberg(spark, path, ref="nope")
    drop_ref_iceberg(path, "v1-audit")
    expire_snapshots(spark, path, keep_last=1)
    with pytest.raises(ValueError, match="no such ref"):
        read_iceberg(spark, path, ref="v1-audit")


def test_as_of_timestamp_time_travel(spark, tmp_path):
    """as-of-timestamp resolves through the snapshot-log to the
    snapshot current at-or-before the instant; earlier-than-history
    refuses, and combining selectors refuses."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        _metadata_versions,
    )

    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_iceberg(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    # pin distinguishable log timestamps (same-millisecond commits
    # would make the boundary untestable)
    vers = _metadata_versions(path)
    mf = os.path.join(_meta_dir(path), vers[max(vers)])
    meta = json.load(open(mf))
    assert len(meta["snapshot-log"]) == 2
    meta["snapshot-log"][0]["timestamp-ms"] = 1_000_000_000_000
    meta["snapshot-log"][1]["timestamp-ms"] = 1_500_000_000_000
    json.dump(meta, open(mf, "w"))
    assert _sorted_rows(
        read_iceberg(spark, path, as_of_timestamp=1_200_000_000_000)
    ) == [(1, "a", 1.0)]
    assert _sorted_rows(
        read_iceberg(spark, path,
                     as_of_timestamp="2020-01-01T00:00:00+00:00")
    ) == [(1, "a", 1.0), (2, "b", 2.0)]
    with pytest.raises(ValueError, match="begins later"):
        read_iceberg(spark, path, as_of_timestamp=999)
    with pytest.raises(ValueError, match="at most one"):
        read_iceberg(spark, path, snapshot_id=1, as_of_timestamp=999)


def test_duplicate_partition_field_names_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    with pytest.raises(ValueError, match="duplicate partition field"):
        write_iceberg(
            _df(spark, [(1, "a", 1.0)]), path, mode="error",
            partition_by=["bucket(4, k)", "bucket(8, k)"],
        )


def test_branch_write_audit_publish(spark, tmp_path):
    """The WAP pattern: append to a BRANCH (main readers see nothing),
    audit via ref=, then fast_forward publishes atomically.  A publish
    after main moved refuses — never silently drops a concurrent
    commit."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        fast_forward_iceberg,
    )

    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_iceberg(_df(spark, [(2, "b", 2.0)]), path, mode="append",
                  branch="audit")
    write_iceberg(_df(spark, [(3, "c", 3.0)]), path, mode="append",
                  branch="audit")
    # main unchanged; the branch carries base + both staged appends
    assert _sorted_rows(read_iceberg(spark, path)) == [(1, "a", 1.0)]
    assert _sorted_rows(read_iceberg(spark, path, ref="audit")) == [
        (1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0),
    ]
    fast_forward_iceberg(path, "audit")
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0),
    ]
    # fork again, move main concurrently → publish must refuse
    write_iceberg(_df(spark, [(4, "d", 4.0)]), path, mode="append",
                  branch="audit2")
    write_iceberg(_df(spark, [(9, "z", 9.0)]), path, mode="append")
    with pytest.raises(ValueError, match="main moved"):
        fast_forward_iceberg(path, "audit2")
    with pytest.raises(ValueError, match="no such branch"):
        fast_forward_iceberg(path, "nope")
    with pytest.raises(ValueError, match="create a table on a branch"):
        write_iceberg(_df(spark, [(0, "x", 0.0)]),
                      str(tmp_path / "t2"), mode="error", branch="b")


# ---------------------------------- VERDICT r6 item 5: copy-on-write MERGE


def test_merge_iceberg_clause_matrix_and_delete_fold(spark, tmp_path):
    """merge_iceberg: conditional matched-update, fall-through
    matched-delete, conditional insert, and by-source delete in ONE
    snapshot — with a PRE-EXISTING positional delete folded into the
    rewrite (a dead row must neither count as matched nor resurrect)
    and untouched files preserved byte-identical."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        merge_iceberg,
    )

    path = str(tmp_path / "t")
    # file A: k=1..3 ("a"), file B: k=4..6 ("b") — partition by part so
    # the two files are separable
    write_iceberg(
        _df(spark, [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0),
                    (4, "b", 40.0), (5, "b", 50.0), (6, "b", 60.0)])
        .repartition(1),
        path, mode="error", partition_by=["part"],
    )
    # position-delete k=2 (merge-on-read) — the fold subject
    assert delete_iceberg_rows(spark, path, F.col("k") == 2) == 2
    untouched = {
        f: os.path.getmtime(os.path.join(root, f))
        for root, _d, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and "part=b" in root
    }
    source = _df(spark, [(1, "a", 99.0),   # matched, v>old -> update
                         (3, "a", 1.0),    # matched, v<=old -> delete
                         (2, "a", 2.0),    # key is DEAD -> insert (not matched)
                         (7, "c", 7.0)])   # new -> insert
    out = merge_iceberg(
        spark, path, source, on=["k"],
        clauses=[
            {"when": "matched", "action": "update",
             "condition": "s.v > t.v"},
            {"when": "matched", "action": "delete"},
            {"when": "not_matched", "action": "insert"},
        ],
    )
    assert (out["updated"], out["deleted"], out["inserted"]) == (1, 1, 2)
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (1, "a", 99.0), (2, "a", 2.0), (4, "b", 40.0), (5, "b", 50.0),
        (6, "b", 60.0), (7, "c", 7.0),
    ]
    # file B (no matches) untouched on disk
    for root, _d, files in os.walk(path):
        for f in files:
            if f in untouched:
                assert os.path.getmtime(os.path.join(root, f)) == untouched[f]
    # ONE new snapshot; operation recorded
    hist = history_iceberg(spark, path)
    assert hist[-1]["operation"] == "overwrite"
    # time travel to the pre-merge snapshot still subtracts the DV
    prev = hist[-2]["snapshot_id"]
    assert _sorted_rows(
        read_iceberg(spark, path, snapshot_id=prev)
    ) == [(1, "a", 10.0), (3, "a", 30.0), (4, "b", 40.0),
          (5, "b", 50.0), (6, "b", 60.0)]


def test_merge_iceberg_folds_equality_deletes_and_by_source(spark, tmp_path):
    """A prior equality delete must not resurrect in the rewrite, and
    not_matched_by_source delete prunes rows absent from the source
    while rewriting only the files its condition hits."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        merge_iceberg,
    )

    path = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (2, "a", 2.0), (3, "a", 3.0)])
        .coalesce(1),
        path, mode="error",
    )
    delete_by_key_iceberg(spark, path,
                          _df(spark, [(2, "a", 2.0)]).select("k"))
    out = merge_iceberg(
        spark, path, _df(spark, [(1, "a", 10.0)]), on=["k"],
        clauses=[
            {"when": "matched", "action": "update"},
            {"when": "not_matched_by_source", "action": "delete",
             "condition": "t.k > 2"},
        ],
    )
    # k=1 updated; k=2 already eq-deleted (must NOT count or return);
    # k=3 by-source deleted; no inserts clause
    assert (out["updated"], out["deleted"], out["inserted"]) == (1, 1, 0)
    assert _sorted_rows(read_iceberg(spark, path)) == [(1, "a", 10.0)]
    # duplicate-key source refuses
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_iceberg(spark, path,
                      _df(spark, [(1, "x", 0.0), (1, "y", 0.0)]), on=["k"])
    # no-op merge (nothing matched, nothing to insert) commits nothing
    hist_len = len(history_iceberg(spark, path))
    out = merge_iceberg(
        spark, path, _df(spark, [(42, "z", 0.0)]), on=["k"],
        clauses=[{"when": "matched", "action": "update"}],
    )
    assert (out["updated"], out["deleted"], out["inserted"]) == (0, 0, 0)
    assert len(history_iceberg(spark, path)) == hist_len


# --------------------------------- VERDICT r6 item 3: concurrency retry


def test_concurrent_iceberg_appends_both_land(spark, tmp_path, monkeypatch):
    """Two interleaved appenders: the loser reloads the winner's
    metadata, recomputes its carried manifests, and re-commits — both
    appends land and the winner's rows are carried, not dropped."""
    from aws_datalake_framework_api_spark.sources import iceberg as I

    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    orig = I._claim_metadata
    state = {"raced": False}

    def racing(p, meta, version):
        if not state["raced"]:
            state["raced"] = True
            I.write_iceberg(_df(spark, [(2, "b", 2.0)]), p, mode="append")
        return orig(p, meta, version)

    monkeypatch.setattr(I, "_claim_metadata", racing)
    v = I.write_iceberg(_df(spark, [(3, "c", 3.0)]), path, mode="append")
    assert v == 3  # rebased past the competitor's version 2
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0),
    ]


def test_concurrent_iceberg_mutations_refuse(spark, tmp_path, monkeypatch):
    """Snapshot-dependent Iceberg operations (merge / overwrite /
    delete) surface CommitConflict deterministically when a concurrent
    writer wins — never a blind rebase of a stale snapshot set."""
    from aws_datalake_framework_api_spark.sources import iceberg as I

    path = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1),
        path, mode="error",
    )
    orig = I._claim_metadata
    state = {"raced": False}

    def racing(p, meta, version):
        if not state["raced"]:
            state["raced"] = True
            I.write_iceberg(_df(spark, [(9, "z", 9.0)]), p, mode="append")
        return orig(p, meta, version)

    monkeypatch.setattr(I, "_claim_metadata", racing)
    with pytest.raises(I.CommitConflict, match="retry"):
        I.merge_iceberg(spark, path, _df(spark, [(1, "a", 10.0)]),
                        on=["k"])
    # the competitor's append won; the merge did NOT half-apply
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0), (9, "z", 9.0),
    ]
    state["raced"] = False
    with pytest.raises(I.CommitConflict, match="retry"):
        I.write_iceberg(_df(spark, [(7, "q", 7.0)]), path,
                        mode="overwrite")


def test_concurrent_append_vs_schema_evolution_refuses(
    spark, tmp_path, monkeypatch
):
    """A winner that evolved the schema makes the loser's validation
    stale — the append rebase refuses instead of committing data the
    new declared schema may not describe."""
    from aws_datalake_framework_api_spark.sources import iceberg as I

    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    orig = I._claim_metadata
    state = {"raced": False}

    def racing(p, meta, version):
        if not state["raced"]:
            state["raced"] = True
            I.evolve_iceberg(p, add_columns=[("tag", "string")])
        return orig(p, meta, version)

    monkeypatch.setattr(I, "_claim_metadata", racing)
    with pytest.raises(I.CommitConflict, match="schema evolution"):
        I.write_iceberg(_df(spark, [(3, "c", 3.0)]), path, mode="append")


# ------------------------------ VERDICT r6 item 7: foreign plan-size gate


def test_iceberg_many_partition_read_plans_single_scan(spark, tmp_path):
    """A 500-partition Iceberg table must plan O(1) scan nodes — ONE
    FileScan, no per-partition unions — with manifest-level partition
    pruning and data-column pushdown intact (the Delta connector's
    test_many_partition_read_plans_single_scan, mirrored per VERDICT
    r6 item #7)."""
    path = str(tmp_path / "t")
    df = spark.range(500).select(
        F.col("id").cast("int").alias("k"),
        F.col("id").cast("string").alias("part"),
        (F.col("id") * 1.0).alias("v"),
    )
    write_iceberg(df, path, mode="error", partition_by=["part"])
    back = read_iceberg(spark, path)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "Union" not in plan
    assert back.count() == 500
    # planning-time partition pruning through manifest partition values
    pruned = read_iceberg(spark, path, partition_filter={"part": ["7", "11"]})
    assert sorted(r["k"] for r in pruned.collect()) == [7, 11]
    assert len(pruned.inputFiles()) < len(back.inputFiles())
    assert len(pruned.inputFiles()) <= 2
    # data-column pushdown reaches the scan
    plan2 = (
        read_iceberg(spark, path)
        .filter(F.col("k") > 490)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "GreaterThan(k,490)" in plan2


def test_required_fields_enforced_on_write(spark, tmp_path):
    """A table created from a non-nullable column records it
    ``required``; a later append feeding NULL into it must fail the
    write job (spec: required fields cannot hold NULL), while
    non-null appends land."""
    from pyspark.sql.types import (
        DoubleType, IntegerType, StringType, StructField,
        StructType as ST,
    )

    schema = ST([
        StructField("k", IntegerType(), nullable=False),
        StructField("part", StringType(), nullable=True),
        StructField("v", DoubleType(), nullable=True),
    ])
    path = str(tmp_path / "t")
    write_iceberg(
        spark.createDataFrame([(1, "a", 1.0)], schema), path, mode="error"
    )
    meta = _load_metadata(path)
    fields = {f["name"]: f for f in meta["schemas"][0]["fields"]}
    assert fields["k"]["required"] and not fields["part"]["required"]
    # a nullable-typed append with no actual NULLs lands (runtime guard)
    write_iceberg(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    with pytest.raises(Exception, match="required column 'k'"):
        write_iceberg(
            spark.createDataFrame([(None, "c", 3.0)],
                                  "k int, part string, v double"),
            path, mode="append",
        )
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (1, "a", 1.0), (2, "b", 2.0),
    ]


# ----------------------------------------------- r7: changelog read


def test_changelog_inserts_deletes_and_upsert_net_effect(spark, tmp_path):
    """read_iceberg_changes: appends stream as inserts, positional
    deletes as exactly the newly-dead rows, an upsert as its NET
    effect (pos-deletes + inserts in one snapshot), equality deletes
    as the rows they kill, and expired starting snapshots refuse."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        expire_snapshots, read_iceberg_changes, upsert_iceberg,
    )

    path = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1),
        path, mode="error",
    )                                                              # s1
    write_iceberg(_df(spark, [(3, "c", 3.0)]).coalesce(1),
                  path, mode="append")                             # s2
    assert delete_iceberg_rows(spark, path, F.col("k") == 1) >= 1  # s3
    upsert_iceberg(spark, path,
                   _df(spark, [(3, "c", 30.0), (4, "d", 4.0)]),
                   on=["k"])                                       # s4
    delete_by_key_iceberg(spark, path,
                          _df(spark, [(2, "b", 2.0)]).select("k"))  # s5
    hist = history_iceberg(spark, path)
    sids = [h["snapshot_id"] for h in hist]

    def changes(lo, hi):
        return sorted(
            (r["_change_type"], r["k"], r["v"])
            for r in read_iceberg_changes(spark, path, lo, hi).collect()
        )

    # genesis replay: everything net of the full history
    assert changes(None, sids[0]) == [
        ("insert", 1, 1.0), ("insert", 2, 2.0),
    ]
    assert changes(sids[0], sids[1]) == [("insert", 3, 3.0)]
    # positional delete: ONLY the dead row, not the file's other row
    assert changes(sids[1], sids[2]) == [("delete", 1, 1.0)]
    # upsert: net effect = delete of the old k=3 version + 2 inserts
    assert changes(sids[2], sids[3]) == [
        ("delete", 3, 3.0), ("insert", 3, 30.0), ("insert", 4, 4.0),
    ]
    # equality delete: the killed row
    assert changes(sids[3], sids[4]) == [("delete", 2, 2.0)]
    # table state agrees with the accumulated changelog
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (3, "c", 30.0), (4, "d", 4.0),
    ]
    # expired starting snapshot refuses with the specific error
    expire_snapshots(spark, path, keep_last=1)
    with pytest.raises(ValueError, match="not in the snapshot log"):
        read_iceberg_changes(spark, path, sids[0])


def test_changelog_compaction_is_file_granular(spark, tmp_path):
    """rewrite_data_files surfaces as delete+insert pairs (file-level
    CDC contract) whose net row multiset is EMPTY — consumers
    key-dedupe, same as the Delta derivation path documents."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        read_iceberg_changes, rewrite_data_files,
    )

    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]).coalesce(1), path,
                  mode="error")
    write_iceberg(_df(spark, [(2, "b", 2.0)]).coalesce(1), path,
                  mode="append")
    out = rewrite_data_files(spark, path, target_file_bytes=1 << 20)
    assert out["files_after"] >= 1
    hist = history_iceberg(spark, path)
    rows = read_iceberg_changes(
        spark, path, hist[-2]["snapshot_id"], hist[-1]["snapshot_id"]
    ).collect()
    ins = sorted((r["k"], r["v"]) for r in rows
                 if r["_change_type"] == "insert")
    dels = sorted((r["k"], r["v"]) for r in rows
                  if r["_change_type"] == "delete")
    assert ins == dels == [(1, 1.0), (2, 2.0)]


def test_merge_hit_discovery_is_bounds_pruned(spark, tmp_path):
    """merge_iceberg's matched-hit discovery prunes by manifest
    lower/upper bounds: a key-clustered source rewrites only the
    overlapping file and untouched files stay byte-identical."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        merge_iceberg,
    )

    path = str(tmp_path / "t")
    for i, mode in zip(range(4), ["error", "append", "append", "append"]):
        rows = [(k, "p", float(k)) for k in range(i * 100, i * 100 + 100)]
        write_iceberg(
            spark.createDataFrame(rows, "k int, part string, v double")
            .coalesce(1),
            path, mode=mode,
        )
    untouched = {
        os.path.join(root, f): os.path.getmtime(os.path.join(root, f))
        for root, _d, files in os.walk(os.path.join(path, "data"))
        for f in files if f.endswith(".parquet")
    }
    out = merge_iceberg(
        spark, path,
        _df(spark, [(205, "p", 9999.0)]), on=["k"],
    )
    assert (out["updated"], out["inserted"]) == (1, 0)
    got = {r["k"]: r["v"] for r in read_iceberg(spark, path).collect()}
    assert got[205] == 9999.0 and len(got) == 400
    # exactly one pre-existing file left the snapshot; the other three
    # are untouched on disk
    moved = [
        p for p, mt in untouched.items()
        if not os.path.exists(p) or os.path.getmtime(p) != mt
    ]
    assert moved == []  # copy-on-write leaves originals in place
    hist = history_iceberg(spark, path)
    assert hist[-1]["operation"] == "overwrite"


def test_nested_required_fields_enforced_on_write(spark, tmp_path):
    """ADVICE r7: required-ness must hold for fields NESTED inside
    struct/list/map types, not just top-level columns — a NULL in a
    nested required slot writes a file that is spec-corrupt for every
    other Iceberg reader.  A NULL *container* stays legal when the
    container itself is optional."""
    from pyspark.sql.types import (
        ArrayType, IntegerType, StringType, StructField,
        StructType as ST,
    )

    inner = ST([
        StructField("a", IntegerType(), nullable=False),
        StructField("b", StringType(), nullable=True),
    ])
    schema = ST([
        StructField("k", IntegerType(), nullable=False),
        StructField("s", ST(inner.fields), nullable=True),
        StructField("arr", ArrayType(IntegerType(), containsNull=False),
                    nullable=True),
    ])
    path = str(tmp_path / "t")
    write_iceberg(
        spark.createDataFrame([(1, (10, "x"), [1, 2])], schema),
        path, mode="error",
    )
    meta = _load_metadata(path)
    fields = {f["name"]: f for f in meta["schemas"][0]["fields"]}
    assert fields["s"]["type"]["fields"][0]["required"]
    assert fields["arr"]["type"]["element-required"]
    nullable = "k int, s struct<a:int,b:string>, arr array<int>"
    # NULL container is fine (s itself is optional), non-null nested ok
    write_iceberg(
        spark.createDataFrame([(2, None, None), (3, (30, None), [3])],
                              nullable),
        path, mode="append",
    )
    # NULL in the required struct field fails the write job
    with pytest.raises(Exception, match="required column 's'"):
        write_iceberg(
            spark.createDataFrame([(4, (None, "y"), [4])], nullable),
            path, mode="append",
        )
    # NULL list element fails the write job
    with pytest.raises(Exception, match="required column 'arr'"):
        write_iceberg(
            spark.createDataFrame([(5, (50, "z"), [5, None])], nullable),
            path, mode="append",
        )
    got = sorted(
        (r["k"], tuple(r["s"]) if r["s"] else None,
         tuple(r["arr"]) if r["arr"] is not None else None)
        for r in read_iceberg(spark, path).collect()
    )
    assert got == [
        (1, (10, "x"), (1, 2)), (2, None, None), (3, (30, None), (3,)),
    ]


def test_merge_composite_key_discovery_is_bounds_pruned(
    spark, tmp_path, monkeypatch
):
    """r8: merge_iceberg conjoins per-column manifest bounds for a
    COMPOSITE key — each key column alone overlaps two files, but
    discovery scans only their one-file intersection."""
    from aws_datalake_framework_api_spark.sources import iceberg as I

    path = str(tmp_path / "t")
    specs = [(0, "a"), (0, "b"), (100, "a"), (100, "b")]
    for i, (base, p) in enumerate(specs):
        rows = [(k, p, float(k)) for k in range(base, base + 100)]
        write_iceberg(
            spark.createDataFrame(rows, "k int, part string, v double")
            .coalesce(1),
            path, mode="error" if i == 0 else "append",
        )
    sizes = []
    orig = I._plan_scan

    def spy(spark_, schema_, data, *a, **kw):
        sizes.append(len(data))
        return orig(spark_, schema_, data, *a, **kw)

    monkeypatch.setattr(I, "_plan_scan", spy)
    out = I.merge_iceberg(
        spark, path, _df(spark, [(150, "a", 9999.0)]),
        on=["k", "part"],
    )
    assert (out["updated"], out["inserted"]) == (1, 0)
    # full live scan saw 4 files; pruned discovery scan saw exactly 1
    assert 4 in sizes and 1 in sizes
    got = {(r["k"], r["part"]): r["v"]
           for r in read_iceberg(spark, path).collect()}
    assert got[(150, "a")] == 9999.0 and got[(150, "b")] == 150.0
    assert len(got) == 400


def test_mor_merge_matches_cow_and_rewrites_nothing(spark, tmp_path):
    """strategy="mor" must land the exact table state the
    copy-on-write strategy lands — full clause matrix incl. by-source
    delete and a pre-existing positional delete — while rewriting NO
    data file: touched rows stage as position deletes, postimages +
    inserts append, existing files stay byte-identical (r8)."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        merge_iceberg,
    )

    rows = [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0),
            (4, "b", 40.0), (5, "b", 50.0), (6, "b", 60.0)]
    source = _df(spark, [(1, "a", 99.0),   # matched, v>old -> update
                         (3, "a", 1.0),    # matched, v<=old -> delete
                         (2, "a", 2.0),    # key is DEAD -> insert
                         (7, "c", 7.0)])   # new -> insert
    clauses = [
        {"when": "matched", "action": "update",
         "condition": "s.v > t.v"},
        {"when": "matched", "action": "delete"},
        {"when": "not_matched", "action": "insert"},
        {"when": "not_matched_by_source", "action": "delete",
         "condition": "t.k = 6"},
    ]
    states, stats = [], []
    for strat in ("cow", "mor"):
        path = str(tmp_path / strat)
        write_iceberg(
            _df(spark, rows).repartition(1), path, mode="error",
            partition_by=["part"],
        )
        assert delete_iceberg_rows(spark, path, F.col("k") == 2) == 2
        before = {
            os.path.join(root, f)
            for root, _d, files in os.walk(path)
            for f in files
            if f.endswith(".parquet") and "delete-" not in f
        }
        out = merge_iceberg(
            spark, path, source, on=["k"], clauses=clauses,
            strategy=strat,
        )
        stats.append(
            (out["updated"], out["deleted"], out["inserted"])
        )
        states.append(_sorted_rows(read_iceberg(spark, path)))
        if strat == "mor":
            # every pre-merge data file still present, none rewritten
            assert before <= {
                os.path.join(root, f)
                for root, _d, files in os.walk(path)
                for f in files
            }
    assert stats[0] == stats[1] == (1, 2, 2)
    assert states[0] == states[1] == [
        (1, "a", 99.0), (2, "a", 2.0), (4, "b", 40.0), (5, "b", 50.0),
        (7, "c", 7.0),
    ]


def test_mor_merge_then_compaction_folds_the_read_debt(spark, tmp_path):
    """rewrite_data_files after a MOR merge folds the merge's
    position deletes: same visible state, no delete files applied on
    the post-compaction read, and the pre-compaction snapshot still
    time-travels with the deletes applied."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        merge_iceberg,
        rewrite_data_files,
    )

    path = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(i, "a", float(i)) for i in range(1, 9)])
        .repartition(1),
        path, mode="error",
    )
    out = merge_iceberg(
        spark, path,
        _df(spark, [(2, "a", 200.0), (4, "a", 400.0), (9, "a", 9.0)]),
        on=["k"], strategy="mor",
    )
    assert (out["updated"], out["inserted"]) == (2, 1)
    exp = [(1, "a", 1.0), (2, "a", 200.0), (3, "a", 3.0),
           (4, "a", 400.0), (5, "a", 5.0), (6, "a", 6.0),
           (7, "a", 7.0), (8, "a", 8.0), (9, "a", 9.0)]
    assert _sorted_rows(read_iceberg(spark, path)) == exp
    pre = history_iceberg(spark, path)[-1]["snapshot_id"]
    rewrite_data_files(spark, path)
    assert _sorted_rows(read_iceberg(spark, path)) == exp
    # time travel to the MOR snapshot still applies its deletes
    assert _sorted_rows(
        read_iceberg(spark, path, snapshot_id=pre)
    ) == exp


def test_rollback_to_snapshot(spark, tmp_path):
    """rollback_to_snapshot: metadata-only rewind — the abandoned
    suffix stays time-travelable, the next write parents on the
    rollback target, and non-ancestor / unknown / already-current
    targets refuse."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        history_iceberg,
        rollback_iceberg,
    )

    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path)              # s1
    write_iceberg(_df(spark, [(2, "b", 2.0)]), path, mode="append")  # s2
    hist = history_iceberg(spark, path)
    s1, s2 = hist[0]["snapshot_id"], hist[1]["snapshot_id"]
    rollback_iceberg(path, s1)
    assert _sorted_rows(read_iceberg(spark, path)) == [(1, "a", 1.0)]
    # the rolled-past snapshot is still a valid time-travel target
    assert _sorted_rows(read_iceberg(spark, path, snapshot_id=s2)) == [
        (1, "a", 1.0), (2, "b", 2.0),
    ]
    # a write after rollback diverges from the abandoned suffix
    write_iceberg(_df(spark, [(3, "c", 3.0)]), path, mode="append")  # s3
    assert _sorted_rows(read_iceberg(spark, path)) == [
        (1, "a", 1.0), (3, "c", 3.0),
    ]
    # refusals: s2 is no longer an ancestor of the new head
    with pytest.raises(ValueError, match="not an ancestor"):
        rollback_iceberg(path, s2)
    with pytest.raises(ValueError, match="not in table history"):
        rollback_iceberg(path, 123456789)
    cur = history_iceberg(spark, path)[-1]["snapshot_id"]
    with pytest.raises(ValueError, match="already current"):
        rollback_iceberg(path, cur)


def test_metadata_tables_reflect_table_state(spark, tmp_path):
    """read_iceberg_meta's five relations agree with the table: files
    record-counts sum to the row count, partitions roll files up,
    snapshots/history track commits, refs list tags."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        read_iceberg_meta,
        tag_iceberg,
    )

    path = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1),
        path, mode="error", partition_by=["part"],
    )
    write_iceberg(
        _df(spark, [(3, "a", 3.0)]).coalesce(1),
        path, mode="append", partition_by=["part"],
    )
    tag_iceberg(path, "v1")

    files = read_iceberg_meta(spark, path, "files")
    assert files.count() == 3  # one file per partition per append
    assert (
        files.agg(F.sum("record_count")).collect()[0][0]
        == read_iceberg(spark, path).count()
        == 3
    )
    parts = {
        r["partition"]: (r["file_count"], r["record_count"])
        for r in read_iceberg_meta(spark, path, "partitions").collect()
    }
    assert parts == {'{"part": "a"}': (2, 2), '{"part": "b"}': (1, 1)}
    snaps = read_iceberg_meta(spark, path, "snapshots").collect()
    assert len(snaps) == 2
    assert {s["operation"] for s in snaps} <= {"append", "overwrite"}
    hist = read_iceberg_meta(spark, path, "history").collect()
    assert [h["snapshot_id"] for h in hist] == [
        s["snapshot_id"] for s in sorted(snaps, key=lambda s: s["sequence_number"])
    ]
    refs = read_iceberg_meta(spark, path, "refs").collect()
    assert [(r["name"], r["type"]) for r in refs] == [("v1", "tag")]
    with pytest.raises(ValueError, match="unknown metadata table"):
        read_iceberg_meta(spark, path, "nope")


def test_convert_delta_reads_and_diverges_without_touching_source(
    spark, tmp_path
):
    from aws_datalake_framework_api_spark.sources.delta import (
        read_delta,
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        convert_delta_to_iceberg,
        delete_iceberg_rows,
    )

    src, dst = str(tmp_path / "dl"), str(tmp_path / "ice")
    df = _df(spark, [(k, "a" if k % 2 else "b", float(k)) for k in range(10)])
    write_delta(df, src, mode="error")
    src_rows = _sorted_rows(read_delta(spark, src))

    convert_delta_to_iceberg(spark, src, dst)
    assert _sorted_rows(read_iceberg(spark, dst)) == src_rows

    # iceberg-side life: append (id-stamped files) + positional delete
    write_iceberg(_df(spark, [(100, "z", 100.0)]), dst, mode="append")
    delete_iceberg_rows(spark, dst, F.col("k") == 2)
    got = _sorted_rows(read_iceberg(spark, dst))
    assert (100, "z", 100.0) in got and not any(r[0] == 2 for r in got)
    # delta source unaffected
    assert _sorted_rows(read_delta(spark, src)) == src_rows


def test_convert_mapped_delta_to_iceberg(spark, tmp_path):
    """r11 (the family's last gate): a column-mapped Delta table
    (physical ``col-<uuid>`` parquet names) converts — the Iceberg
    metadata records the physical-name era schema 0 under the logical
    current schema 1 with shared field ids, and id-less files resolve
    through the history name→id map.  Both mapping modes."""
    from aws_datalake_framework_api_spark.sources.delta import (
        create_mapped_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        convert_delta_to_iceberg,
        read_iceberg,
        write_iceberg,
    )

    for mode in ("name", "id"):
        s = str(tmp_path / f"d_{mode}")
        i = str(tmp_path / f"i_{mode}")
        create_mapped_delta(
            _df(spark, [(k, "a" if k % 2 else "b", float(k))
                        for k in range(8)]),
            s, mode=mode,
        )
        from aws_datalake_framework_api_spark.sources.delta import (
            read_delta,
        )

        truth = _sorted_rows(read_delta(spark, s))
        convert_delta_to_iceberg(spark, s, i)
        got_df = read_iceberg(spark, i)
        assert [f.name for f in got_df.schema.fields] == ["k", "part", "v"]
        assert _sorted_rows(got_df) == truth
        # iceberg-side life on top (id-stamped files under logical
        # names joining the physical-named referenced ones)
        write_iceberg(_df(spark, [(100, "z", 100.0)]), i, mode="append")
        assert (100, "z", 100.0) in _sorted_rows(read_iceberg(spark, i))
        assert _sorted_rows(read_delta(spark, s)) == truth  # untouched


def test_convert_upgraded_renamed_partitioned_mapped_delta(
    spark, tmp_path
):
    """r11, the full mid-life shape in one table: plain partitioned
    Delta → upgrade to column mapping (physical names pinned to what
    the files spell) → RENAME a data column and the partition column
    → DV DELETE → convert to Iceberg.  The converted read must serve
    logical names, inject the renamed partition column from manifest
    metadata, and keep the DV-deleted rows dead via the materialized
    position deletes."""
    from aws_datalake_framework_api_spark.sources.delta import (
        delete_where_delta,
        read_delta,
        rename_column_delta,
        upgrade_column_mapping_delta,
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        convert_delta_to_iceberg,
        read_iceberg,
    )

    s, i = str(tmp_path / "dm"), str(tmp_path / "im")
    write_delta(
        _df(spark, [(k, "a" if k % 2 else "b", float(k))
                    for k in range(10)]),
        s, mode="error", partition_by=["part"],
    )
    upgrade_column_mapping_delta(spark, s)
    rename_column_delta(spark, s, {"v": "val", "part": "bucket"})
    delete_where_delta(spark, s, F.col("k") % 5 == 0)
    truth = _sorted_rows(read_delta(spark, s))
    assert len(truth) == 8

    convert_delta_to_iceberg(spark, s, i)
    got_df = read_iceberg(spark, i)
    assert [f.name for f in got_df.schema.fields] == [
        "k", "bucket", "val"
    ]
    assert _sorted_rows(got_df) == truth


def test_convert_dv_carrying_delta_to_iceberg(spark, tmp_path):
    """VERDICT r10 item #4: a mid-life Delta table with merge-on-read
    deletes converts — each file's deletion vector materializes as
    Iceberg position-delete rows (content=1) in the same v1 commit,
    zero data-file copies.  The converted table reads identically to
    the Delta source through BOTH the native reader and the format
    facade, lives a normal iceberg life on top, and the Delta source
    stays untouched."""
    from aws_datalake_framework_api_spark.sources.delta import (
        delete_where_delta,
        read_delta,
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.format_facade import (
        register_formats,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        convert_delta_to_iceberg,
        delete_iceberg_rows,
    )

    src, dst = str(tmp_path / "d"), str(tmp_path / "i")
    write_delta(
        _df(spark, [(k, "a" if k % 2 else "b", float(k)) for k in range(20)]),
        src, mode="error", partition_by=["part"],
    )
    delete_where_delta(spark, src, F.col("k") % 5 == 0)  # DVs, 2 files
    want = _sorted_rows(read_delta(spark, src))
    assert len(want) == 16
    convert_delta_to_iceberg(spark, src, dst)
    assert _sorted_rows(read_iceberg(spark, dst)) == want
    register_formats(spark)
    assert _sorted_rows(
        spark.read.format("iceberg").load(dst)
        .select("k", "part", "v")
    ) == want
    # no data bytes copied: every content=0 entry points into src
    import glob as _glob

    copied = [
        f for f in _glob.glob(dst + "/data/*.parquet")
        if "delete-" not in os.path.basename(f)
    ]
    assert copied == []
    # iceberg-side life on top; delta source untouched
    delete_iceberg_rows(spark, dst, F.col("k") == 3)
    assert _sorted_rows(read_iceberg(spark, dst)) == [
        r for r in want if r[0] != 3
    ]
    assert _sorted_rows(read_delta(spark, src)) == want


def test_convert_partitioned_delta_to_iceberg(spark, tmp_path):
    """VERDICT r9 item #4: a PARTITIONED Delta table converts — the
    log's partitionColumns become an identity spec, each add's
    partitionValues the file's manifest partition tuple, and reads
    serve the (file-absent) partition columns from partition metadata
    via the constants injection.  Partition pruning, a MOR delete
    keyed on the partition column, and an iceberg-side append all
    work on the converted table; the Delta source stays untouched."""
    from aws_datalake_framework_api_spark.sources.delta import (
        read_delta,
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        convert_delta_to_iceberg,
        delete_iceberg_rows,
    )

    src, dst = str(tmp_path / "dl"), str(tmp_path / "ice")
    df = _df(spark, [(k, "a" if k % 2 else "b", float(k)) for k in range(10)])
    write_delta(df, src, mode="error", partition_by=["part"])
    src_rows = _sorted_rows(read_delta(spark, src))

    convert_delta_to_iceberg(spark, src, dst)
    assert _sorted_rows(read_iceberg(spark, dst)) == src_rows
    # partition filter prunes through the identity spec
    assert _sorted_rows(
        read_iceberg(spark, dst, partition_filter={"part": "a"})
    ) == [r for r in src_rows if r[1] == "a"]

    # MOR delete whose CONDITION names the partition column — the
    # injected constants must feed the predicate (a raw scan would
    # NULL the column and silently delete nothing)
    delete_iceberg_rows(
        spark, dst, (F.col("part") == "b") & (F.col("k") == 0)
    )
    got = _sorted_rows(read_iceberg(spark, dst))
    assert not any(r[0] == 0 for r in got)
    assert len(got) == len(src_rows) - 1

    # iceberg-side append joins the converted files under the spec
    write_iceberg(
        _df(spark, [(100, "a", 100.0)]), dst, mode="append",
        partition_by=["part"],
    )
    assert (100, "a", 100.0) in _sorted_rows(read_iceberg(spark, dst))
    # delta source unaffected by the iceberg-side life
    assert _sorted_rows(read_delta(spark, src)) == src_rows


def test_convert_partitioned_round_trip_to_delta(spark, tmp_path):
    """Partitioned delta → iceberg → delta: identity partition tuples
    survive both zero-copy hops (Delta wire string → avro physical →
    Delta wire string) and all three tables read the same rows."""
    from aws_datalake_framework_api_spark.sources.delta import (
        convert_iceberg_to_delta,
        read_delta,
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        convert_delta_to_iceberg,
    )

    a, b, c = (
        str(tmp_path / "a_delta"),
        str(tmp_path / "b_ice"),
        str(tmp_path / "c_delta"),
    )
    df = _df(spark, [(k, "a" if k % 3 else "b", float(k)) for k in range(9)])
    write_delta(df, a, mode="error", partition_by=["part"])
    convert_delta_to_iceberg(spark, a, b)
    convert_iceberg_to_delta(spark, b, c)
    want = _sorted_rows(read_delta(spark, a))
    assert _sorted_rows(read_iceberg(spark, b)) == want
    assert _sorted_rows(read_delta(spark, c)) == want


def test_convert_round_trip_delta_iceberg_delta(spark, tmp_path):
    """delta → iceberg → delta: both conversions are zero-copy
    references to the SAME original parquet; content survives both
    hops and each table diverges independently afterwards."""
    from aws_datalake_framework_api_spark.sources.delta import (
        convert_iceberg_to_delta,
        read_delta,
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        convert_delta_to_iceberg,
    )

    a = str(tmp_path / "a_delta")
    b = str(tmp_path / "b_ice")
    c = str(tmp_path / "c_delta")
    df = _df(spark, [(k, "a", float(k)) for k in range(6)])
    write_delta(df, a, mode="error")
    convert_delta_to_iceberg(spark, a, b)
    convert_iceberg_to_delta(spark, b, c)
    want = _sorted_rows(read_delta(spark, a))
    assert _sorted_rows(read_iceberg(spark, b)) == want
    assert _sorted_rows(read_delta(spark, c)) == want
    # diverge the last hop; the first two stay put
    write_delta(_df(spark, [(9, "z", 9.0)]), c, mode="append")
    assert _sorted_rows(read_delta(spark, a)) == want
    assert _sorted_rows(read_iceberg(spark, b)) == want
    assert (9, "z", 9.0) in _sorted_rows(read_delta(spark, c))


def test_identity_const_plan_collision_native_vs_converted():
    """ADVICE r10: a duplicate data-file basename must downgrade the
    constants plan to None (read the columns from the files) on a
    NATIVE table — injection is only a pruning optimization there —
    and keep the loud refusal only on converted/migrated provenance,
    where the files lack the columns and constants are the sole
    correct source."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        _identity_const_plan,
    )

    schema_json = {
        "fields": [
            {"id": 1, "name": "part", "type": "string"},
            {"id": 2, "name": "v", "type": "long"},
        ]
    }
    meta = {
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {"transform": "identity", "source-id": 1,
                     "name": "part"}
                ],
            }
        ],
        "properties": {},
    }
    collide = [
        {"spec_id": 0, "path": "/a/f1.parquet", "partition": {"part": "x"}},
        {"spec_id": 0, "path": "/b/f1.parquet", "partition": {"part": "y"}},
    ]
    assert _identity_const_plan(meta, schema_json, collide) is None
    # no collision: the plan stands
    clean = [
        {"spec_id": 0, "path": "/a/f1.parquet", "partition": {"part": "x"}},
        {"spec_id": 0, "path": "/b/f2.parquet", "partition": {"part": "y"}},
    ]
    cols, files = _identity_const_plan(meta, schema_json, clean)
    assert cols == ["part"] and set(files) == {"f1.parquet", "f2.parquet"}
    # converted provenance: collision must refuse, not misread
    meta["properties"] = {"converted-from-delta": "true"}
    with pytest.raises(ValueError, match="duplicate data"):
        _identity_const_plan(meta, schema_json, collide)


# ------------------------------------------------------------ uniform


def test_uniform_dual_format_reads_and_refresh(spark, tmp_path):
    """r11 UniForm: one directory, two read protocols.  Iceberg reads
    the same bytes Delta reads; a Delta era on top is invisible to the
    Iceberg side until refresh re-points the snapshot; DVs materialize
    as position deletes that survive a vacuum."""
    from aws_datalake_framework_api_spark.sources.delta import (
        delete_where_delta,
        read_delta,
        vacuum_delta,
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        enable_uniform_iceberg,
        read_iceberg,
        refresh_uniform_iceberg,
    )

    path = str(tmp_path / "u")
    write_delta(
        _df(spark, [(k, "a" if k % 2 else "b", float(k))
                    for k in range(10)]),
        path, mode="error", partition_by=["part"],
    )
    enable_uniform_iceberg(spark, path)
    v0 = _sorted_rows(read_delta(spark, path))
    assert _sorted_rows(read_iceberg(spark, path)) == v0

    # delta era on top: append + DV delete — iceberg snapshot is
    # PINNED until refresh (the upstream contract)
    write_delta(
        _df(spark, [(k, "c", float(k)) for k in range(10, 14)]),
        path, mode="append", partition_by=["part"],
    )
    delete_where_delta(spark, path, F.col("k") % 5 == 1)
    assert _sorted_rows(read_iceberg(spark, path)) == v0  # pinned
    refresh_uniform_iceberg(spark, path)
    truth = _sorted_rows(read_delta(spark, path))
    assert len(truth) == 14 - 3
    assert _sorted_rows(read_iceberg(spark, path)) == truth

    # vacuum never reclaims the iceberg-owned position-delete files
    # (they live under metadata/, which the walk skips)
    vacuum_delta(spark, path, retention_ms=0, force=True)
    assert _sorted_rows(read_iceberg(spark, path)) == truth
    assert _sorted_rows(read_delta(spark, path)) == truth


def test_uniform_schema_evolution_appends_history(spark, tmp_path):
    """A Delta-side schema widening (append-at-end column) refreshes
    into an APPENDED iceberg schema: old snapshots keep their ids,
    the new column reads NULL from pre-evolution files."""
    from aws_datalake_framework_api_spark.sources.delta import (
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        _load_metadata,
        enable_uniform_iceberg,
        read_iceberg,
        refresh_uniform_iceberg,
    )

    path = str(tmp_path / "ue")
    write_delta(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double"),
        path, mode="error",
    )
    enable_uniform_iceberg(spark, path)
    write_delta(
        spark.createDataFrame(
            [(3, 3.0, "x")], "k int, v double, tag string"
        ),
        path, mode="append", merge_schema=True,
    )
    refresh_uniform_iceberg(spark, path)
    got = _sorted_rows(read_iceberg(spark, path))
    assert got == [(1, 1.0, None), (2, 2.0, None), (3, 3.0, "x")]
    meta = _load_metadata(path)
    assert len(meta["schemas"]) == 2 and meta["current-schema-id"] == 1


def test_uniform_enable_refresh_gates(spark, tmp_path):
    from aws_datalake_framework_api_spark.sources.delta import (
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        enable_uniform_iceberg,
        refresh_uniform_iceberg,
    )

    path = str(tmp_path / "ug")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    with pytest.raises(FileNotFoundError, match="enable_uniform"):
        refresh_uniform_iceberg(spark, path)
    enable_uniform_iceberg(spark, path)
    with pytest.raises(FileExistsError, match="refresh_uniform"):
        enable_uniform_iceberg(spark, path)


def test_uniform_mapped_rename_refresh(spark, tmp_path):
    """UniForm on a COLUMN-MAPPED Delta table across a rename: enable
    records the physical/logical schema pair; a Delta-side RENAME +
    append + refresh appends the new logical schema to the Iceberg
    history (same field ids), and the Iceberg read serves the renamed
    names over all file eras."""
    from aws_datalake_framework_api_spark.sources.delta import (
        create_mapped_delta,
        read_delta,
        rename_column_delta,
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        enable_uniform_iceberg,
        read_iceberg,
        refresh_uniform_iceberg,
    )

    path = str(tmp_path / "um")
    create_mapped_delta(
        _df(spark, [(k, "a" if k % 2 else "b", float(k))
                    for k in range(6)]),
        path,
    )
    enable_uniform_iceberg(spark, path)
    assert _sorted_rows(read_iceberg(spark, path)) == _sorted_rows(
        read_delta(spark, path)
    )
    rename_column_delta(spark, path, {"v": "val"})
    write_delta(
        spark.createDataFrame(
            [(100, "c", 100.0)], "k int, part string, val double"
        ),
        path, mode="append",
    )
    refresh_uniform_iceberg(spark, path)
    got = read_iceberg(spark, path)
    assert [f.name for f in got.schema.fields] == ["k", "part", "val"]
    assert _sorted_rows(got) == _sorted_rows(read_delta(spark, path))
    assert (100, "c", 100.0) in _sorted_rows(got)


def test_rewrite_data_files_partition_scoped(spark, tmp_path):
    """r11: rewrite_data_files(partition_filter=...) compacts ONLY the
    scoped partition — out-of-scope small files ride as EXISTING
    entries untouched (at 100 TB a maintenance pass must scope to the
    recent partitions)."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        _load_metadata,
        _manifest_entries,
        _snapshot_by_id,
        read_iceberg,
        rewrite_data_files,
        write_iceberg,
    )

    path = str(tmp_path / "t")
    for i in range(3):  # 3 small files per partition
        write_iceberg(
            _df(spark, [(10 * i + j, "a" if j % 2 else "b", float(j))
                        for j in range(6)]).coalesce(1),
            path, mode="error" if i == 0 else "append",
            partition_by=["part"],
        )
    before = _sorted_rows(read_iceberg(spark, path))

    def files_by_part():
        meta = _load_metadata(path)
        snap = _snapshot_by_id(meta, None)
        data, _, _ = _manifest_entries(path, meta, snap)
        out: dict[str, list[str]] = {}
        for r in data:
            out.setdefault(r["partition"].get("part"), []).append(
                r["path"]
            )
        return out

    pre = files_by_part()
    assert len(pre["a"]) == 3 and len(pre["b"]) == 3
    res = rewrite_data_files(spark, path, partition_filter={"part": "a"})
    assert res["partitions_compacted"] == 1
    post = files_by_part()
    assert len(post["a"]) == 1
    assert sorted(post["b"]) == sorted(pre["b"])  # untouched, same files
    assert _sorted_rows(read_iceberg(spark, path)) == before


def test_converted_table_refuses_unservable_constants(spark, tmp_path):
    """r11 review finding: when a converted/migrated table's identity
    partition constants can no longer be served consistently (spec
    evolved away from identity + new-spec files mixed in), reads must
    REFUSE — the referenced files lack the column, and the earlier
    conservative fall-back silently NULL-filled it."""
    from aws_datalake_framework_api_spark.sources.delta import (
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        convert_delta_to_iceberg,
        evolve_spec_iceberg,
        read_iceberg,
        write_iceberg,
    )

    src, dst = str(tmp_path / "d"), str(tmp_path / "i")
    write_delta(
        _df(spark, [(k, "a" if k % 2 else "b", float(k))
                    for k in range(6)]),
        src, mode="error", partition_by=["part"],
    )
    convert_delta_to_iceberg(spark, src, dst)
    assert len(_sorted_rows(read_iceberg(spark, dst))) == 6  # fine
    evolve_spec_iceberg(dst, ["bucket(4, k)"])  # identity field gone
    write_iceberg(
        _df(spark, [(100, "c", 100.0)]), dst, mode="append",
        partition_by=["bucket(4, k)"],
    )
    with pytest.raises(ValueError, match="rewrite_data_files"):
        read_iceberg(spark, dst).collect()
