"""Exactly-once streaming MERGE into the real table formats
(streaming/lake_sink.py, VERDICT r7 item #3): checkpoint-replayed
micro-batches must be NO-OPS on both connectors — no duplicate
effects, no version churn — because each merge rides a txn watermark
(Delta's ``txn`` action; the ``txn.<app_id>`` property on Iceberg)."""

import glob
import os

import pytest

from pyspark.sql.types import LongType, StructField, StructType

from aws_datalake_framework_api_spark.sources.delta import (
    last_txn_version,
    merge_delta,
    read_delta,
    write_delta,
)
from aws_datalake_framework_api_spark.sources.iceberg import (
    last_txn_version_iceberg,
    merge_iceberg,
    read_iceberg,
    write_iceberg,
)
from aws_datalake_framework_api_spark.streaming.lake_sink import (
    delta_merge_batch,
    iceberg_merge_batch,
    run_merge_stream,
)

SCHEMA = StructType(
    [
        StructField("k", LongType(), True),
        StructField("v", LongType(), True),
        StructField("seq", LongType(), True),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _stage_file(df, landing, name, mtime):
    stage = os.path.join(landing, f".{name}.stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    os.replace(part, os.path.join(landing, name))
    os.utime(os.path.join(landing, name), (mtime, mtime))


def _run(spark, landing, ckpt, merge_batch):
    run_merge_stream(spark, landing, SCHEMA, ckpt, merge_batch)


def _state(spark, reader, path):
    return {
        (r["k"], r["v"], r["seq"]) for r in reader(spark, path).collect()
    }


@pytest.fixture()
def feed(spark, tmp_path):
    """Two one-file micro-batches: an update wave and an insert wave."""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    import time

    now = time.time()
    _stage_file(
        _df(spark, [(1, 100, 2), (2, 200, 2)]), landing,
        "f0.parquet", now - 2,
    )
    _stage_file(
        _df(spark, [(9, 900, 3)]), landing, "f1.parquet", now,
    )
    return landing


EXPECT = {(1, 100, 2), (2, 200, 2), (3, 3, 1), (9, 900, 3)}


def test_delta_sink_exactly_once_under_replay(spark, tmp_path, feed):
    path = str(tmp_path / "tbl")
    write_delta(_df(spark, [(1, 1, 1), (2, 2, 1), (3, 3, 1)]), path)
    _run(spark, feed, str(tmp_path / "ck1"),
         delta_merge_batch(path, ["k"], "app"))
    assert _state(spark, read_delta, path) == EXPECT
    assert last_txn_version(spark, path, "app") == 1
    v_log = len(glob.glob(os.path.join(path, "_delta_log", "*.json")))
    # replay: a FRESH checkpoint re-delivers the whole backlog with
    # the same batch ids — every merge must skip on the txn watermark
    _run(spark, feed, str(tmp_path / "ck2"),
         delta_merge_batch(path, ["k"], "app"))
    assert _state(spark, read_delta, path) == EXPECT
    assert len(glob.glob(os.path.join(path, "_delta_log", "*.json"))) == v_log
    # direct replayed-batch call: skipped without commit
    out = merge_delta(
        spark, path, _df(spark, [(1, 777, 9)]), ["k"], txn=("app", 1)
    )
    assert out.get("skipped") is True
    # a NEW app id is an independent watermark lane
    out = merge_delta(
        spark, path, _df(spark, [(1, 777, 9)]), ["k"], txn=("other", 0)
    )
    assert out["updated"] == 1
    assert last_txn_version(spark, path, "other") == 0
    assert last_txn_version(spark, path, "app") == 1


def test_iceberg_sink_exactly_once_under_replay(spark, tmp_path, feed):
    path = str(tmp_path / "tbl")
    write_iceberg(_df(spark, [(1, 1, 1), (2, 2, 1), (3, 3, 1)]), path)
    _run(spark, feed, str(tmp_path / "ck1"),
         iceberg_merge_batch(path, ["k"], "app"))
    assert _state(spark, read_iceberg, path) == EXPECT
    assert last_txn_version_iceberg(spark, path, "app") == 1
    n_meta = len(glob.glob(os.path.join(path, "metadata", "v*.metadata.json")))
    _run(spark, feed, str(tmp_path / "ck2"),
         iceberg_merge_batch(path, ["k"], "app"))
    assert _state(spark, read_iceberg, path) == EXPECT
    assert (
        len(glob.glob(os.path.join(path, "metadata", "v*.metadata.json")))
        == n_meta
    )
    out = merge_iceberg(
        spark, path, _df(spark, [(1, 777, 9)]), ["k"], txn=("app", 1)
    )
    assert out.get("skipped") is True
    out = merge_iceberg(
        spark, path, _df(spark, [(1, 777, 9)]), ["k"], txn=("other", 0)
    )
    assert out["updated"] == 1
    assert last_txn_version_iceberg(spark, path, "other") == 0
    assert last_txn_version_iceberg(spark, path, "app") == 1


def test_iceberg_txn_watermark_survives_snapshot_expiry(spark, tmp_path):
    """The property-based watermark exists precisely because snapshot
    summaries die with their snapshots: after expire_snapshots keeps
    only the head, a replayed batch must STILL skip."""
    from aws_datalake_framework_api_spark.sources.iceberg import (
        expire_snapshots,
    )

    path = str(tmp_path / "tbl")
    write_iceberg(_df(spark, [(1, 1, 1)]), path)
    merge_iceberg(spark, path, _df(spark, [(1, 10, 2)]), ["k"],
                  txn=("app", 0))
    merge_iceberg(spark, path, _df(spark, [(1, 20, 3)]), ["k"],
                  txn=("app", 1))
    expire_snapshots(spark, path, keep_last=1)
    out = merge_iceberg(spark, path, _df(spark, [(1, 99, 9)]), ["k"],
                        txn=("app", 1))
    assert out.get("skipped") is True
    assert _state(spark, read_iceberg, path) == {(1, 20, 3)}


def test_iceberg_mor_sink_exactly_once_under_replay(spark, tmp_path, feed):
    """The merge-on-read sink strategy carries the same exactly-once
    guarantee: per-batch position-delete + append commits, replays
    skip on the txn property — and no original data file rewrites."""
    path = str(tmp_path / "tbl")
    write_iceberg(_df(spark, [(1, 1, 1), (2, 2, 1), (3, 3, 1)]), path)
    before = {
        os.path.join(root, f)
        for root, _d, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and "delete-" not in f
    }
    _run(spark, feed, str(tmp_path / "ck1"),
         iceberg_merge_batch(path, ["k"], "app", strategy="mor"))
    assert _state(spark, read_iceberg, path) == EXPECT
    assert last_txn_version_iceberg(spark, path, "app") == 1
    after = {
        os.path.join(root, f)
        for root, _d, files in os.walk(path)
        for f in files
    }
    assert before <= after  # nothing rewritten
    n_meta = len(glob.glob(os.path.join(path, "metadata", "v*.metadata.json")))
    _run(spark, feed, str(tmp_path / "ck2"),
         iceberg_merge_batch(path, ["k"], "app", strategy="mor"))
    assert _state(spark, read_iceberg, path) == EXPECT
    assert (
        len(glob.glob(os.path.join(path, "metadata", "v*.metadata.json")))
        == n_meta
    )


def test_cross_format_replication_converges_and_replays_noop(
    spark, tmp_path
):
    """Delta→Iceberg CDC replication (streaming/replicate.py): the
    replica converges to the source after every incremental run —
    across a DV delete, a re-insert of a deleted key, and a
    full-clause MERGE — and a re-run with nothing new commits nothing
    (the txn watermark already holds the source's latest version)."""
    from aws_datalake_framework_api_spark.sources.delta import (
        alter_table_properties_delta,
        delete_where_delta,
    )
    from aws_datalake_framework_api_spark.streaming.replicate import (
        run_replication,
    )
    from pyspark.sql import functions as F

    t = str(tmp_path / "src")
    replica = str(tmp_path / "replica")
    write_delta(
        _df(spark, [(1, 1, 1), (2, 2, 1), (3, 3, 1), (4, 4, 1)])
        .coalesce(1),
        t,
    )
    alter_table_properties_delta(
        spark, t, {"delta.enableChangeDataFeed": "true"}
    )
    write_iceberg(_df(spark, []).coalesce(1), replica)

    def src_state():
        return _state(spark, read_delta, t)

    def rep_state():
        return _state(spark, read_iceberg, replica)

    run_replication(spark, t, replica, ["k"])
    assert rep_state() == src_state()
    delete_where_delta(spark, t, F.col("k") == 2)           # DV delete
    run_replication(spark, t, replica, ["k"])
    assert rep_state() == src_state() and (2, 2, 1) not in rep_state()
    merge_delta(                                            # re-insert 2,
        spark, t,                                           # update 1, add 5
        _df(spark, [(1, 100, 2), (2, 22, 2), (5, 5, 2)]), on=["k"],
    )
    run_replication(spark, t, replica, ["k"])
    assert rep_state() == src_state() == {
        (1, 100, 2), (2, 22, 2), (3, 3, 1), (4, 4, 1), (5, 5, 2),
    }
    # re-run with no new source version: the watermark already holds
    # the latest version, so the catch-up commits nothing
    n_meta = len(glob.glob(
        os.path.join(replica, "metadata", "v*.metadata.json")
    ))
    run_replication(spark, t, replica, ["k"])
    assert rep_state() == src_state()
    assert len(glob.glob(
        os.path.join(replica, "metadata", "v*.metadata.json")
    )) == n_meta


def test_deletes_only_replication_batch_advances_watermark(spark, tmp_path):
    """A micro-batch whose NET effect is deletes-only must still
    advance the txn watermark — in the same snapshot as its equality
    delete — so a crash-replay of the same batch id commits nothing
    at all (ADVICE r8: a batch that never records itself re-commits a
    redundant equality-delete snapshot on every replay)."""
    import json

    from pyspark.sql import functions as F

    from aws_datalake_framework_api_spark.streaming.replicate import (
        replicate_batch,
    )

    replica = str(tmp_path / "replica")
    write_iceberg(_df(spark, [(1, 1, 1), (2, 2, 1)]), replica)

    def meta():
        vs = glob.glob(os.path.join(replica, "metadata", "v*.metadata.json"))
        latest = max(vs, key=lambda p: int(
            os.path.basename(p).split(".")[0][1:]))
        with open(latest) as fh:
            return len(vs), len(json.load(fh).get("snapshots") or [])

    batch = (
        _df(spark, [(2, 2, 1)])
        .withColumn("_change_type", F.lit("delete"))
        .withColumn("_commit_version", F.lit(1).cast("long"))
    )
    apply = replicate_batch(replica, ["k"], "app")
    apply(batch, 0)
    assert _state(spark, read_iceberg, replica) == {(1, 1, 1)}
    # watermark advanced even though the batch had zero live rows
    assert last_txn_version_iceberg(spark, replica, "app") == 0
    n_versions, n_snapshots = meta()
    # one eq-delete snapshot, carrying the watermark, on top of the
    # initial write
    assert n_snapshots == 2
    # crash-replay of the SAME batch id: no metadata version, no
    # snapshot, no state change
    apply(batch, 0)
    assert meta() == (n_versions, n_snapshots)
    assert _state(spark, read_iceberg, replica) == {(1, 1, 1)}


def _n_meta(replica):
    return len(glob.glob(os.path.join(replica, "metadata", "v*.metadata.json")))


def test_replication_crash_before_claim_replays_once(
    spark, tmp_path, monkeypatch
):
    """A run killed after staging its files and before claiming the
    batch's metadata version commits nothing: no new metadata version,
    the replica's rows and watermark unchanged.  The next run re-reads
    the same version range and lands it exactly once — replica equals
    source, watermark equals the source's latest version — and a
    further run commits nothing."""
    from aws_datalake_framework_api_spark.sources import iceberg
    from aws_datalake_framework_api_spark.sources.delta import (
        _table_version,
        alter_table_properties_delta,
    )
    from aws_datalake_framework_api_spark.streaming.replicate import (
        run_replication,
    )

    t = str(tmp_path / "src")
    replica = str(tmp_path / "replica")
    write_delta(
        _df(spark, [(1, 1, 1), (2, 2, 1), (3, 3, 1), (4, 4, 1)])
        .coalesce(1),
        t,
    )
    alter_table_properties_delta(
        spark, t, {"delta.enableChangeDataFeed": "true"}
    )
    write_iceberg(_df(spark, []).coalesce(1), replica)
    run_replication(spark, t, replica, ["k"])
    done = last_txn_version_iceberg(spark, replica, "delta-replica")
    before = _state(spark, read_iceberg, replica)
    merge_delta(                          # update 1, delete 2, insert 5
        spark, t,
        _df(spark, [(1, 100, 2), (2, 0, 2), (5, 5, 2)]), on=["k"],
        clauses=[
            {"when": "matched", "action": "update",
             "condition": "s.v > t.v"},
            {"when": "matched", "action": "delete"},
            {"when": "not_matched", "action": "insert"},
        ],
    )
    real_claim = iceberg._claim_metadata
    calls = []

    def killed_once(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("killed before the claim")
        return real_claim(*args, **kwargs)

    monkeypatch.setattr(iceberg, "_claim_metadata", killed_once)
    n_meta = _n_meta(replica)
    with pytest.raises(RuntimeError, match="killed"):
        run_replication(spark, t, replica, ["k"])
    assert _n_meta(replica) == n_meta
    assert _state(spark, read_iceberg, replica) == before
    assert last_txn_version_iceberg(spark, replica, "delta-replica") == done

    run_replication(spark, t, replica, ["k"])
    assert _state(spark, read_iceberg, replica) == _state(
        spark, read_delta, t
    ) == {(1, 100, 2), (3, 3, 1), (4, 4, 1), (5, 5, 2)}
    assert last_txn_version_iceberg(
        spark, replica, "delta-replica"
    ) == _table_version(t)
    n_meta = _n_meta(replica)
    run_replication(spark, t, replica, ["k"])
    assert _n_meta(replica) == n_meta


def test_change_feed_consumers_start_no_stream(spark, tmp_path, monkeypatch):
    """Replication and the CDF view drain the change feed without a
    Structured Streaming query or a checkpoint directory: with
    ``DataStreamWriter.start`` refusing, both converge from genesis,
    after a MERGE, and commit nothing on a run with no new version."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import DataStreamWriter

    from aws_datalake_framework_api_spark.sources.delta import (
        alter_table_properties_delta,
        history_delta,
    )
    from aws_datalake_framework_api_spark.streaming.cdf_mv import (
        run_cdf_mv_stream,
    )
    from aws_datalake_framework_api_spark.streaming.replicate import (
        run_replication,
    )

    def refuse(self, *args, **kwargs):
        raise AssertionError("a change-feed consumer started a stream")

    monkeypatch.setattr(DataStreamWriter, "start", refuse)
    t = str(tmp_path / "src")
    replica = str(tmp_path / "replica")
    view = str(tmp_path / "mv")
    cols = "o_orderkey long, o_orderpriority string, o_totalprice double"
    write_delta(
        spark.createDataFrame(
            [(k, f"p{k % 3}", k * 1.25) for k in range(1, 13)], cols
        ).coalesce(1),
        t,
    )
    alter_table_properties_delta(
        spark, t, {"delta.enableChangeDataFeed": "true"}
    )
    write_iceberg(spark.createDataFrame([], cols).coalesce(1), replica)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def run_and_check():
        run_replication(spark, t, replica, ["o_orderkey"])
        run_cdf_mv_stream(spark, t, view)
        src = read_delta(spark, t)
        assert rows(read_iceberg(spark, replica)) == rows(src)
        recompute = src.groupBy("o_orderpriority").agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long").alias("units"),
        )
        assert rows(read_delta(spark, view)) == rows(recompute)

    run_and_check()                                   # from genesis
    merge_delta(
        spark, t,
        spark.createDataFrame(
            [(3, "p0", 99.5), (4, "p1", 0.0), (20, "p2", 7.75)], cols
        ),
        on=["o_orderkey"],
        clauses=[
            {"when": "matched", "action": "update",
             "condition": "s.o_totalprice > t.o_totalprice"},
            {"when": "matched", "action": "delete"},
            {"when": "not_matched", "action": "insert"},
        ],
    )
    run_and_check()                                   # after one MERGE
    n_meta, n_view = _n_meta(replica), len(history_delta(spark, view))
    run_and_check()                                   # nothing new
    assert _n_meta(replica) == n_meta
    assert len(history_delta(spark, view)) == n_view
    assert sorted(os.listdir(tmp_path)) == ["mv", "replica", "src"]
