"""The format-neutral write layer under both connectors
(``sources/table_io.py``): a failed Spark write leaves no staging
directory and commits nothing, both connectors raise one
``CommitConflict``, and the driver-memory default fits the host."""

import os

import pytest
from pyspark.sql import functions as F

from aws_datalake_framework_api_spark import session
from aws_datalake_framework_api_spark.sources import delta as D
from aws_datalake_framework_api_spark.sources import iceberg as I


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
