"""Batch ``spark.read.format("delta"/"iceberg")`` facade
(sources/format_facade.py): the public ``format()`` gesture must
return the same rows as the native function-call readers across the
protocol features each connector implements — time travel, column
mapping, deletion vectors, renamed-column resolution, and
merge-on-read delete gating."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from aws_datalake_framework_api_spark.sources.delta import (
    create_mapped_delta,
    delete_where_delta,
    read_delta,
    write_delta,
)
from aws_datalake_framework_api_spark.sources.format_facade import (
    register_formats,
    register_lake_view,
)
from aws_datalake_framework_api_spark.sources.iceberg import (
    delete_by_key_iceberg,
    delete_iceberg_rows,
    evolve_iceberg,
    read_iceberg,
    write_iceberg,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, part string, v double")


# ------------------------------------------------------------------ delta


def test_delta_format_matches_native_with_dvs(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(k, "a" if k % 2 else "b", float(k)) for k in range(20)]),
        path,
        mode="error",
        partition_by=["part"],
    )
    delete_where_delta(spark, path, F.col("k") % 5 == 0)
    register_formats(spark)
    got = spark.read.format("delta").load(path)
    native = read_delta(spark, path)
    # same names and types (nullability flags may differ: the facade
    # serves the log's declared schema, the native reader the scan's)
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in native.schema.fields
    ]
    assert _rows(got) == _rows(native)
    assert not any(r[0] % 5 == 0 for r in got.collect())


def test_delta_format_time_travel_options(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_delta(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    register_formats(spark)
    v0 = spark.read.format("delta").option("versionAsOf", 0).load(path)
    assert _rows(v0) == [(1, "a", 1.0)]
    latest = spark.read.format("delta").load(path)
    assert len(_rows(latest)) == 2
    # timestampAsOf far in the future resolves to the latest version
    ts = (
        dt.datetime.now(dt.timezone.utc) + dt.timedelta(days=1)
    ).isoformat()
    both = (
        spark.read.format("delta").option("timestampAsOf", ts).load(path)
    )
    assert len(_rows(both)) == 2
    with pytest.raises(Exception, match="not both"):
        spark.read.format("delta").option("versionAsOf", 0).option(
            "timestampAsOf", ts
        ).load(path).collect()


def test_delta_format_column_mapped_table(spark, tmp_path):
    path = str(tmp_path / "t")
    create_mapped_delta(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]),
        path,
        partition_by=["part"],
    )
    register_formats(spark)
    got = spark.read.format("delta").load(path)
    # logical names out, physical col-<uuid> names resolved inside
    assert got.columns == ["k", "part", "v"]
    assert _rows(got) == _rows(read_delta(spark, path))


def test_register_lake_view_serves_sql(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(
        _df(spark, [(k, "a", float(k)) for k in range(10)]),
        path,
        mode="error",
    )
    delete_where_delta(spark, path, F.col("k") >= 5)
    register_lake_view(spark, "fmt_facade_t", path, fmt="delta")
    got = spark.sql(
        "SELECT count(*) AS n, sum(v) AS s FROM fmt_facade_t"
    ).collect()[0]
    assert (got["n"], got["s"]) == (5, 10.0)


def test_delta_format_batch_cdf(spark, tmp_path):
    """Batch readChangeFeed through the facade: inclusive
    startingVersion/endingVersion, rows identical to
    read_delta_changes over the same range."""
    from aws_datalake_framework_api_spark.sources.delta import (
        alter_table_properties_delta,
        read_delta_changes,
    )
    from aws_datalake_framework_api_spark.sources.format_facade import (
        register_formats,
    )

    path = str(tmp_path / "t")
    write_delta(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), path, mode="error")
    alter_table_properties_delta(
        spark, path, {"delta.enableChangeDataFeed": "true"}
    )
    write_delta(_df(spark, [(3, "c", 3.0)]), path, mode="append")  # v2
    delete_where_delta(spark, path, F.col("k") == 1)               # v3
    register_formats(spark)
    got = _rows(
        spark.read.format("delta")
        .option("readChangeFeed", "true")
        .option("startingVersion", 2)
        .load(path)
    )
    assert got == _rows(read_delta_changes(spark, path, 1, 3))
    assert got == [
        (1, "a", 1.0, "delete", 3),
        (3, "c", 3.0, "insert", 2),
    ]
    only_v2 = _rows(
        spark.read.format("delta")
        .option("readChangeFeed", "true")
        .option("startingVersion", 2)
        .option("endingVersion", 2)
        .load(path)
    )
    assert only_v2 == [(3, "c", 3.0, "insert", 2)]
    with pytest.raises(Exception, match="mutually exclusive"):
        spark.read.format("delta").option("readChangeFeed", "true").option(
            "versionAsOf", 1
        ).load(path).collect()
    # ADVICE r10: batch CDF must not default to startingVersion 0
    # (delta-spark requires an explicit start) ...
    with pytest.raises(Exception, match="requires startingVersion"):
        spark.read.format("delta").option(
            "readChangeFeed", "true"
        ).load(path).collect()
    # ... and an inverted range must error, not return zero rows
    with pytest.raises(Exception, match="greater than the ending"):
        spark.read.format("delta").option("readChangeFeed", "true").option(
            "startingVersion", 3
        ).option("endingVersion", 2).load(path).collect()


# ---------------------------------------------------------------- iceberg


def test_iceberg_format_matches_native_with_mor_deletes(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(k, "a" if k % 2 else "b", float(k)) for k in range(20)]),
        path,
        mode="error",
        partition_by=["part"],
    )
    # positional deletes (content=1) + equality deletes (content=2)
    delete_iceberg_rows(spark, path, F.col("k") % 5 == 0)
    delete_by_key_iceberg(
        spark, path, spark.createDataFrame([(7,), (11,)], "k int")
    )
    register_formats(spark)
    got = spark.read.format("iceberg").load(path)
    assert _rows(got) == _rows(read_iceberg(spark, path))
    ks = {r[0] for r in got.collect()}
    assert ks.isdisjoint({0, 5, 10, 15, 7, 11})
    # r11: equality kill sets stream in bounded chunks — a chunk size
    # smaller than the key file (2 keys, chunk 1) must kill the same
    # rows, not a subset
    chunked = (
        spark.read.format("iceberg")
        .option("maxEqDeleteRows", 1)
        .load(path)
    )
    assert _rows(chunked) == _rows(got)


def test_iceberg_format_eq_delete_sequence_gate(spark, tmp_path):
    """Rows appended AFTER an equality delete must survive it (the
    strict sequence gate): delete key k=1, then re-append k=1 — the
    facade read keeps exactly the re-appended row."""
    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), path, mode="error")
    delete_by_key_iceberg(
        spark, path, spark.createDataFrame([(1,)], "k int")
    )
    write_iceberg(_df(spark, [(1, "a", 9.0)]), path, mode="append")
    register_formats(spark)
    got = _rows(spark.read.format("iceberg").load(path))
    assert got == [(1, "a", 9.0), (2, "b", 2.0)]
    assert got == _rows(read_iceberg(spark, path))


def test_iceberg_format_renamed_table_resolves_by_field_id(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    evolve_iceberg(path, renames={"v": "val"})
    write_iceberg(
        spark.createDataFrame(
            [(2, "b", 2.0)], "k int, part string, val double"
        ),
        path,
        mode="append",
    )
    register_formats(spark)
    got = spark.read.format("iceberg").load(path)
    assert got.columns == ["k", "part", "val"]
    # pre-rename file's column must surface under the NEW name
    assert _rows(got) == [(1, "a", 1.0), (2, "b", 2.0)]


def test_iceberg_format_serves_constants_on_converted_tables(
    spark, tmp_path
):
    """r10 review finding: converted/migrated tables' referenced
    files LACK their identity partition columns — the facade and the
    streaming append tail must serve them from partition metadata,
    not silently NULL-fill."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        convert_delta_to_iceberg,
    )
    from aws_datalake_framework_api_spark.streaming.iceberg_source import (
        register as ice_register,
    )

    src, dst = str(tmp_path / "dl"), str(tmp_path / "ice")
    write_delta(
        _df(spark, [(k, "a" if k % 2 else "b", float(k)) for k in range(8)]),
        src, mode="error", partition_by=["part"],
    )
    convert_delta_to_iceberg(spark, src, dst)
    register_formats(spark)
    got = _rows(spark.read.format("iceberg").load(dst))
    assert got == _rows(read_iceberg(spark, dst))
    assert not any(r[1] is None for r in got)

    # streaming append tail: same constants service
    ice_register(spark)
    out, ckpt = str(tmp_path / "o"), str(tmp_path / "c")
    q = (
        spark.readStream.format("iceberg_stream")
        .load(dst)
        .writeStream.trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    streamed = _rows(spark.read.parquet(out))
    assert streamed == got

    # changelog tail (r11, VERDICT r10 item #5 — the r10 refusal is
    # replaced by the same constants injection): give the converted
    # table a changelog-rich life (an append + a position delete on a
    # PARTITION-column predicate, which only matches if the constants
    # are served), then the streamed change rows must equal the batch
    # changelog's, injected partition values included
    from aws_datalake_framework_api_spark.sources.iceberg import (
        delete_iceberg_rows,
        read_iceberg_changes,
    )

    write_iceberg(_df(spark, [(100, "c", 100.0)]), dst, mode="append",
                  partition_by=["part"])
    delete_iceberg_rows(
        spark, dst, (F.col("part") == "a") & (F.col("k") <= 3)
    )
    q2 = (
        spark.readStream.format("iceberg_stream")
        .option("readChangeFeed", "true")
        .load(dst)
        .writeStream.trigger(availableNow=True)
        .format("parquet")
        .option("path", str(tmp_path / "o2"))
        .option("checkpointLocation", str(tmp_path / "c2"))
        .start()
    )
    q2.awaitTermination()
    streamed_changes = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "o2"))
        .select("k", "part", "v", "_change_type")
        .collect()
    )
    batch_changes = sorted(
        tuple(r)
        for r in read_iceberg_changes(spark, dst)
        .select("k", "part", "v", "_change_type")
        .collect()
    )
    assert streamed_changes == batch_changes
    # the delete rows carry the INJECTED partition value, not NULL
    dels = [r for r in streamed_changes if r[3] == "delete"]
    assert dels and all(r[1] == "a" for r in dels)


def test_iceberg_format_snapshot_ref_options(spark, tmp_path):
    from aws_datalake_framework_api_spark.sources.iceberg import (
        _load_metadata,
        tag_iceberg,
    )

    path = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), path, mode="error")
    write_iceberg(_df(spark, [(2, "b", 2.0)]), path, mode="append")
    meta = _load_metadata(path)
    first = min(
        meta["snapshots"], key=lambda s: s.get("sequence-number", 0)
    )["snapshot-id"]
    tag_iceberg(path, "v1", snapshot_id=first)
    register_formats(spark)
    by_id = (
        spark.read.format("iceberg").option("snapshotId", first).load(path)
    )
    assert _rows(by_id) == [(1, "a", 1.0)]
    by_ref = spark.read.format("iceberg").option("ref", "v1").load(path)
    assert _rows(by_ref) == [(1, "a", 1.0)]


def test_iceberg_format_renamed_converted_table_serves_constants(
    spark, tmp_path
):
    """ADVICE r11 (medium) + VERDICT r10 item #6: on a
    converted-from-delta partitioned table whose columns were later
    renamed, both the native reader and the batch facade must serve
    the identity partition columns from manifest metadata (the
    referenced files LACK them and carry no parquet field ids) while
    resolving the renamed data columns through the unambiguous
    history name→id map — the r10 silent NULL-fill and the interim
    refusal are both gone."""
    from aws_datalake_framework_api_spark.sources.delta import write_delta
    from aws_datalake_framework_api_spark.sources.format_facade import (
        register_formats,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        convert_delta_to_iceberg,
        evolve_iceberg,
        read_iceberg,
    )

    src, dst = str(tmp_path / "dl"), str(tmp_path / "ice")
    write_delta(
        _df(spark, [(k, "a" if k % 2 else "b", float(k)) for k in range(6)]),
        src, mode="error", partition_by=["part"],
    )
    convert_delta_to_iceberg(spark, src, dst)
    evolve_iceberg(dst, renames={"v": "amount"})
    want = sorted((k, "a" if k % 2 else "b", float(k)) for k in range(6))
    native = read_iceberg(spark, dst)
    assert native.columns == ["k", "part", "amount"]
    assert _rows(native.select("k", "part", "amount")) == want
    assert not any(r[1] is None for r in native.collect())
    register_formats(spark)
    got = spark.read.format("iceberg").load(dst)
    assert got.columns == ["k", "part", "amount"]
    assert _rows(got.select("k", "part", "amount")) == want
    # partition filter still prunes through the renamed read
    assert _rows(
        read_iceberg(spark, dst, partition_filter={"part": "a"})
        .select("k", "part", "amount")
    ) == [r for r in want if r[1] == "a"]


def test_facade_reads_converted_mapped_delta(spark, tmp_path):
    """r11: a column-mapped Delta table converted to Iceberg (schema 0
    = physical names, schema 1 = logical, shared ids) must read the
    SAME rows under the LOGICAL names through the format facade as
    through the native reader — a silent NULL-fill of the physical-
    named columns is the failure this pins against."""
    from aws_datalake_framework_api_spark.sources.delta import (
        create_mapped_delta,
        read_delta,
    )
    from aws_datalake_framework_api_spark.sources.format_facade import (
        register_formats,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        convert_delta_to_iceberg,
        read_iceberg,
    )

    src, dst = str(tmp_path / "dm"), str(tmp_path / "im")
    create_mapped_delta(
        _df(spark, [(k, "a" if k % 2 else "b", float(k))
                    for k in range(8)]),
        src, mode="name",
    )
    truth = _rows(read_delta(spark, src))
    convert_delta_to_iceberg(spark, src, dst)
    assert _rows(read_iceberg(spark, dst)) == truth
    register_formats(spark)
    got = spark.read.format("iceberg").load(dst)
    assert got.columns == ["k", "part", "v"]
    assert _rows(got) == truth
    assert not any(c is None for r in truth for c in r)


def test_facade_reads_uniform_directory(spark, tmp_path):
    """r11 UniForm through the facade: the same directory serves
    spark.read.format('delta') AND spark.read.format('iceberg') with
    identical rows after a refresh."""
    from aws_datalake_framework_api_spark.sources.delta import (
        delete_where_delta,
        read_delta,
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.format_facade import (
        register_formats,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        enable_uniform_iceberg,
        refresh_uniform_iceberg,
    )

    path = str(tmp_path / "u")
    write_delta(
        _df(spark, [(k, "a" if k % 2 else "b", float(k))
                    for k in range(10)]),
        path, mode="error", partition_by=["part"],
    )
    enable_uniform_iceberg(spark, path)
    delete_where_delta(spark, path, F.col("k") % 4 == 2)
    refresh_uniform_iceberg(spark, path)
    truth = _rows(read_delta(spark, path))
    register_formats(spark)
    assert _rows(spark.read.format("delta").load(path)) == truth
    assert _rows(spark.read.format("iceberg").load(path)) == truth


def test_register_lake_view_time_travel(spark, tmp_path):
    """r11: register_lake_view registers a PINNED historical version —
    the SQL analogue of VERSION AS OF / FOR SYSTEM_VERSION AS OF, both
    formats."""
    from aws_datalake_framework_api_spark.sources.delta import (
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.format_facade import (
        register_lake_view,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        _load_metadata,
        write_iceberg,
    )

    d, i = str(tmp_path / "d"), str(tmp_path / "i")
    write_delta(_df(spark, [(1, "a", 1.0)]), d, mode="error")
    write_delta(_df(spark, [(2, "b", 2.0)]), d, mode="append")
    register_lake_view(spark, "dv0", d, fmt="delta", version_as_of=0)
    register_lake_view(spark, "dv1", d, fmt="delta")
    assert spark.sql("SELECT count(*) n FROM dv0").collect()[0][0] == 1
    assert spark.sql("SELECT count(*) n FROM dv1").collect()[0][0] == 2

    write_iceberg(_df(spark, [(1, "a", 1.0)]), i, mode="error")
    sid0 = _load_metadata(i)["current-snapshot-id"]
    write_iceberg(_df(spark, [(2, "b", 2.0)]), i, mode="append")
    register_lake_view(spark, "iv0", i, fmt="iceberg", snapshot_id=sid0)
    register_lake_view(spark, "iv1", i, fmt="iceberg")
    assert spark.sql("SELECT count(*) n FROM iv0").collect()[0][0] == 1
    assert spark.sql("SELECT count(*) n FROM iv1").collect()[0][0] == 2
    with pytest.raises(ValueError, match="delta option"):
        register_lake_view(spark, "x", i, fmt="iceberg", version_as_of=0)
    with pytest.raises(ValueError, match="iceberg option"):
        register_lake_view(spark, "x", d, fmt="delta", ref="main")


def test_facade_matches_native_on_delete_kinds_and_typed_columns(
    spark, tmp_path
):
    """Both facades read through one Arrow reader: every delete kind
    (a Delta deletion vector, an Iceberg position delete, an equality
    delete on a composite key with a NULL component), a renamed
    column, a converted table's identity constants, typed columns
    (decimal, date, timestamp, map) and timestamp and decimal
    partition columns must read as the native readers read them.  A
    nanosecond parquet column reads truncated to microseconds, and
    the changelog tail kills the same rows at any key-chunk size."""
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_datalake_framework_api_spark.sources.iceberg import (
        convert_delta_to_iceberg,
    )
    from aws_datalake_framework_api_spark.sources.migrate import (
        convert_parquet_to_delta,
    )
    from aws_datalake_framework_api_spark.streaming.iceberg_source import (
        register as ice_register,
    )

    def same(fmt, path, native):
        got = spark.read.format(fmt).load(path)
        want = native(spark, path)
        assert sorted(got.columns) == sorted(want.columns)
        rows = _rows(got)
        assert rows == _rows(want.select(*got.columns))
        return rows

    register_formats(spark)
    typed = spark.createDataFrame(
        [
            (
                k, decimal.Decimal(f"{k}.25"), dt.date(2024, 1, k + 1),
                dt.datetime(2024, 1, 1, 10, 0, k, 500), {"a": k, "b": None},
                dt.datetime(2024, 3, 1, k % 2, 0, 0, 250000),
                decimal.Decimal("1.50") if k % 2 else decimal.Decimal("-2.00"),
            )
            for k in range(8)
        ],
        "k int, amt decimal(12,2), d date, ts timestamp, "
        "m map<string,bigint>, pts timestamp, pdec decimal(9,2)",
    )
    # Delta: typed columns, timestamp and decimal partitions, a DV
    dl = str(tmp_path / "dl")
    write_delta(
        typed.coalesce(1), dl, mode="error", partition_by=["pts", "pdec"]
    )
    delete_where_delta(spark, dl, F.col("k") % 3 == 0)
    rows = same("delta", dl, read_delta)
    assert [r[0] for r in rows] == [1, 2, 4, 5, 7]

    # Iceberg: a position delete and a composite-key equality delete
    # whose (1, NULL) key kills only the row (1, NULL), not (5, NULL)
    ice = str(tmp_path / "ice")
    write_iceberg(
        spark.createDataFrame(
            [(k, None if k % 4 == 1 else f"n{k % 3}", float(k))
             for k in range(12)],
            "k int, name string, v double",
        ).coalesce(1),
        ice, mode="error",
    )
    delete_iceberg_rows(spark, ice, F.col("k") == 2)
    delete_by_key_iceberg(
        spark, ice,
        spark.createDataFrame(
            [(1, None), (6, "n0"), (7, "nX")], "k int, name string"
        ),
    )
    rows = same("iceberg", ice, read_iceberg)
    assert [r[0] for r in rows] == [0, 3, 4, 5, 7, 8, 9, 10, 11]
    chunked = spark.read.format("iceberg").option("maxEqDeleteRows", 1)
    assert _rows(chunked.load(ice)) == rows

    # the changelog tail: the same change rows at one key row per chunk
    ice_register(spark)

    def changes(name, **opts):
        out = str(tmp_path / name)
        (
            spark.readStream.format("iceberg_stream")
            .option("readChangeFeed", "true").options(**opts).load(ice)
            .writeStream.trigger(availableNow=True).format("parquet")
            .option("path", out)
            .option("checkpointLocation", out + "_ckpt")
            .start()
        ).awaitTermination()
        return _rows(spark.read.parquet(out).drop("_snapshot_id"))

    log = changes("chunk1", maxEqDeleteRows="1")
    assert log == changes("chunk_default")
    assert [r[0] for r in log if r[3] == "delete"] == [1, 2, 6]

    # a converted table: identity constants of a timestamp partition,
    # the DV as a position delete, then a renamed column
    dl2, conv = str(tmp_path / "dl2"), str(tmp_path / "conv")
    write_delta(
        typed.drop("m", "pdec").coalesce(1), dl2, mode="error",
        partition_by=["pts"],
    )
    delete_where_delta(spark, dl2, F.col("k") == 4)
    convert_delta_to_iceberg(spark, dl2, conv)
    evolve_iceberg(conv, renames={"amt": "amount"})
    rows = same("iceberg", conv, read_iceberg)
    assert [r[0] for r in rows] == [0, 1, 2, 3, 5, 6, 7]
    assert all(r[1] is not None and r[-1] is not None for r in rows)

    # a foreign writer's nanosecond timestamps under a declared
    # timestamp column (Spark's own parquet scan refuses
    # TIMESTAMP(NANOS)): truncated to microseconds, sub-µs digits and all
    src = tmp_path / "pq"
    src.mkdir()
    f = str(src / "f.parquet")
    ns = pa.array(
        [1_700_000_000_123_456_789, 1_700_000_001_000_000_001, None],
        pa.timestamp("ns", tz="UTC"),
    )
    k = pa.array([1, 2, 3], pa.int64())
    pq.write_table(
        pa.table({"k": k, "ts": ns.cast(pa.timestamp("us", "UTC"), safe=False)}),
        f,
    )
    nsdl = str(tmp_path / "nsdl")
    convert_parquet_to_delta(spark, str(src), nsdl)
    pq.write_table(pa.table({"k": k, "ts": ns}), f)
    assert _rows(spark.read.format("delta").load(nsdl)) == [
        (1, dt.datetime(2023, 11, 14, 22, 13, 20, 123456)),
        (2, dt.datetime(2023, 11, 14, 22, 13, 21)),
        (3, None),
    ]
