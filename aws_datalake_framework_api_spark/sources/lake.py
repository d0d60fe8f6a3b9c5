"""Lake-scale MERGE (upsert) on a partitioned parquet table
(SURVEY.md §2 B1 extension), plus the Delta-table exhibits: time
travel, vacuum, data skipping, deletion vectors, partition-spec and
schema evolution, erasure and restore, all on :mod:`.delta`.

The catalog's Delta tables handle METADATA-scale mutations; this
module is the 100 TB side of the north star's MERGE story: upserting
a change batch into a partitioned LAKE table.  The scale-correct cost model —
what Delta/Iceberg MERGE compiles to under the hood — is:

1. **identify touched partitions** from the (small) update batch — a
   broadcast semi-join against the target, never a full-table rewrite
   plan;
2. **rewrite only those partitions**: read them (partition-pruned
   scan), left-join the broadcast batch to apply updates, union the
   inserts;
3. **commit via dynamic partition overwrite**
   (``partitionOverwriteMode=dynamic``): Spark replaces exactly the
   partitions present in the written frame — untouched partitions'
   files are never read, rewritten, or deleted.

On a 100 TB table where a daily batch touches 1% of partitions, this
is the difference between rewriting 1 TB and rewriting 100 TB.  The
exhibit runs the REAL thing end-to-end on a scratch copy: stage the
fixture's orders table partitioned by ``o_orderstatus``, merge a
deterministic update+insert batch (price bumps on ``key % 97 == 0``;
brand-new rows with a NEW status value — so dynamic overwrite must
also CREATE a partition), read the merged table back, and return a
per-partition verification aggregate the DuckDB oracle recomputes
from the same deterministic rule.  All money math in integer cents.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .delta import (
    _snapshot,
    _stage_files,
    _table_version,
    delete_where_delta,
    history_delta,
    prune_files,
    read_delta,
    read_delta_range,
    restore_delta,
    vacuum_delta,
    write_delta,
)
from .readers import load_table

#: update rule constants — shared by the Spark path and the oracle
UPD_MOD = 97          # keys getting a price bump
INS_MOD = 293         # keys spawning a brand-new inserted row
BUMP_CENTS = 100000   # +1000.00 per updated row
KEY_OFFSET = 10_000_000_000  # insert key namespace (beyond any SF's keys)
INS_STATUS = "N"      # inserts land in a NEW partition

#: staged partitioned templates, one per (session-ish process, sf_dir)
_LAKE_TMPL: dict[str, str] = {}


def _tracked_tmp(prefix: str) -> str:
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _orders_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )


def _staged_target(spark: SparkSession, sf_dir: str) -> str:
    """Write the orders table partitioned by o_orderstatus ONCE per
    (process, sf); each merge call gets a cheap file-level clone (the
    merge MUTATES its target, so runs must not share one — and must
    not double-apply bumps on rerun)."""
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    if key not in _LAKE_TMPL:
        tmpl = _tracked_tmp(f"spark_graft_lake_tmpl_{key}_")
        _orders_cents(spark, sf_dir).write.mode("overwrite").partitionBy(
            "o_orderstatus"
        ).parquet(tmpl)
        _LAKE_TMPL[key] = tmpl
    clone = _tracked_tmp(f"spark_graft_lake_{key}_")
    shutil.rmtree(clone)
    shutil.copytree(_LAKE_TMPL[key], clone)
    return clone


def lake_upsert(spark: SparkSession, sf_dir: str) -> str:
    """Run the MERGE against a fresh clone of the staged target;
    returns the merged table's path.  This is the operator — the
    registered query wraps it with a verification aggregate."""
    target_dir = _staged_target(spark, sf_dir)
    merge_batch(spark, sf_dir, target_dir)
    return target_dir


def merge_batch(spark: SparkSession, sf_dir: str, target_dir: str) -> set[str]:
    """Apply the deterministic update+insert batch to the partitioned
    table at ``target_dir``; returns the touched partition values."""
    orders = _orders_cents(spark, sf_dir)
    updates = orders.filter(F.col("o_orderkey") % UPD_MOD == 0).select(
        "o_orderkey", F.lit(BUMP_CENTS).alias("bump_cents")
    )
    inserts = orders.filter(F.col("o_orderkey") % INS_MOD == 0).select(
        (F.col("o_orderkey") + KEY_OFFSET).alias("o_orderkey"),
        F.lit(INS_STATUS).alias("o_orderstatus"),
        "price_cents",
    )
    target = spark.read.parquet(target_dir)

    # 1. touched partitions: statuses the batch actually hits — a
    #    broadcast semi-join; the collect is bounded by the partition
    #    cardinality (single digits), not the data
    touched = {
        r["o_orderstatus"]
        for r in target.join(F.broadcast(updates), "o_orderkey", "semi")
        .select("o_orderstatus")
        .distinct()
        .collect()
    } | {INS_STATUS}

    # 2. rewrite plan for ONLY those partitions (partition-pruned scan
    #    + broadcast left join + union of inserts)
    merged = (
        target.filter(F.col("o_orderstatus").isin(sorted(touched)))
        .join(F.broadcast(updates), "o_orderkey", "left")
        .select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("price_cents") + F.coalesce("bump_cents", F.lit(0))).alias(
                "price_cents"
            ),
        )
        .unionByName(inserts)
    )
    # self-referential rewrite: materialize the merged frame before
    # overwriting the directory it reads from (what Delta gets from
    # its snapshot file list).  localCheckpoint keeps it executor-side.
    merged = merged.localCheckpoint(eager=True)

    # 3. dynamic partition overwrite: replaces exactly the partitions
    #    present in `merged`, creates the new INS_STATUS partition,
    #    leaves every other partition's files untouched
    (
        merged.write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(target_dir)
    )
    return touched


@query(
    "b_lake_upsert",
    f"""
    WITH target AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders
    ),
    merged AS (
      SELECT o_orderkey, o_orderstatus,
             price_cents + CASE WHEN o_orderkey % {UPD_MOD} = 0
                                THEN {BUMP_CENTS} ELSE 0 END AS price_cents
      FROM target
      UNION ALL
      SELECT o_orderkey + {KEY_OFFSET}, '{INS_STATUS}', price_cents
      FROM target WHERE o_orderkey % {INS_MOD} = 0
    )
    SELECT o_orderstatus, count(*) AS n_rows,
           CAST(sum(price_cents) AS BIGINT) AS total_cents,
           CAST(sum(CASE WHEN o_orderkey >= {KEY_OFFSET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_inserted
    FROM merged GROUP BY o_orderstatus
    """,
)
def lake_upsert_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO a partitioned lake table, end-to-end: price bumps
    for matched keys, inserts into a brand-new partition, dynamic
    partition overwrite commits only touched partitions.  The returned
    frame aggregates the POST-MERGE table as read back from disk, so
    the oracle's recomputation of the same deterministic batch checks
    the whole pipeline — batch derivation, join-apply, partition
    rewrite, and the read-back — not just the arithmetic."""
    merged_dir = lake_upsert(spark, sf_dir)
    return (
        spark.read.parquet(merged_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("price_cents").alias("total_cents"),
            F.sum((F.col("o_orderkey") >= KEY_OFFSET).cast("int")).alias(
                "n_inserted"
            ),
        )
    )


# ------------------------------------------------------------------ CDC apply

#: deterministic change-feed derivation (shared with the oracle)
CDC_UPD_MOD = 7       # keys receiving an update (seq 2)
CDC_UPD2_MOD = 21     # keys receiving a second update (seq 3)
CDC_DEL_MOD = 35      # keys deleted last (seq 4)
CDC_BUMP1 = 5000      # cents
CDC_BUMP2 = 9000      # cents


_CDC_SQL = f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    changes AS (
      SELECT k, status, cents, 1 AS seq, 'I' AS op FROM base
      UNION ALL
      SELECT k, status, cents + {CDC_BUMP1}, 2, 'U' FROM base WHERE k % {CDC_UPD_MOD} = 0
      UNION ALL
      SELECT k, status, cents + {CDC_BUMP2}, 3, 'U' FROM base WHERE k % {CDC_UPD2_MOD} = 0
      UNION ALL
      SELECT k, status, cents, 4, 'D' FROM base WHERE k % {CDC_DEL_MOD} = 0
    ),
    latest AS (
      SELECT k, status, cents, op,
             row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      FROM changes
    )
    SELECT status AS o_orderstatus,
           count(*) AS n_live,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(sum(CASE WHEN cents <> (SELECT cents FROM base b WHERE b.k = latest.k)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
    FROM latest WHERE rn = 1 AND op <> 'D'
    GROUP BY status
"""


@query("b_lake_cdc", _CDC_SQL)
def lake_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply — materialize the current table state from an
    ordered change feed (Debezium/Delta-CDF class: I/U/D events with a
    sequence number, last-write-wins per key, deletes drop the key).

    The scale-correct plan is a single window rank per key over the
    feed (shuffle on the key, state = one row per key in flight),
    NEVER an iterative per-event apply: at 100 TB of history the feed
    is replayed as one rank-and-filter, and an incremental refresh is
    the same plan over (state-as-of-checkpoint UNION new-events).

    The change feed here is derived deterministically from the orders
    fixture (insert-all, bump ``%{CDC_UPD_MOD}`` keys, second bump
    ``%{CDC_UPD2_MOD}``, delete ``%{CDC_DEL_MOD}``); the oracle
    recomputes feed, rank, and final per-partition totals in exact
    integer cents."""
    from pyspark.sql import Window

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    changes = (
        base.select("k", "status", "cents", F.lit(1).alias("seq"), F.lit("I").alias("op"))
        .unionByName(
            base.filter(F.col("k") % CDC_UPD_MOD == 0).select(
                "k", "status",
                (F.col("cents") + CDC_BUMP1).alias("cents"),
                F.lit(2).alias("seq"), F.lit("U").alias("op"),
            )
        )
        .unionByName(
            base.filter(F.col("k") % CDC_UPD2_MOD == 0).select(
                "k", "status",
                (F.col("cents") + CDC_BUMP2).alias("cents"),
                F.lit(3).alias("seq"), F.lit("U").alias("op"),
            )
        )
        .unionByName(
            base.filter(F.col("k") % CDC_DEL_MOD == 0).select(
                "k", "status", "cents",
                F.lit(4).alias("seq"), F.lit("D").alias("op"),
            )
        )
    )
    w = Window.partitionBy("k").orderBy(F.desc("seq"))
    latest = changes.withColumn("rn", F.row_number().over(w)).filter(
        (F.col("rn") == 1) & (F.col("op") != "D")
    )
    # n_updated: live rows whose cents moved vs the base insert —
    # joins the (key, base-cents) projection back; broadcast-able at
    # catalog scale, SMJ at lake scale
    with_base = latest.join(
        base.select("k", F.col("cents").alias("base_cents")), "k"
    )
    return with_base.groupBy(F.col("status").alias("o_orderstatus")).agg(
        F.count("*").alias("n_live"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum((F.col("cents") != F.col("base_cents")).cast("int"))
        .cast("bigint")
        .alias("n_updated"),
    )


# ------------------------------------------------------------- compaction

COMPACT_FRAGMENTS = 32  # files per partition in the fragmented table


@query(
    "b_lake_compact",
    """
    SELECT o_orderstatus,
           count(*) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders GROUP BY o_orderstatus
    """,
)
def lake_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance operation every
    streaming-ingested lake table needs: micro-batch writers leave
    partitions fragmented into thousands of files, and scan cost at
    100 TB is dominated by file-open overhead and tiny row groups
    until a compactor bin-packs them back to target-size files.

    The exhibit does the real thing: stage orders fragmented into
    COMPACT_FRAGMENTS files per status partition, then compact each
    partition to one file via a partition-grained rewrite (the same
    dynamic-partition-overwrite commit as the MERGE — compaction IS a
    no-op MERGE that only changes layout), and return the per-
    partition row/total aggregate read back from the COMPACTED table.
    The oracle recomputes the aggregate from the fixture, so a green
    row proves compaction changed layout and nothing else; the file
    counts themselves are pinned in tests/test_lake.py."""
    frag_dir = compact_table(spark, sf_dir)
    return (
        spark.read.parquet(frag_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("price_cents").cast("bigint").alias("total_cents"),
        )
    )


def compact_table(spark: SparkSession, sf_dir: str) -> str:
    """Stage a fragmented copy of orders, compact it in place, return
    the table path (the operator behind ``b_lake_compact``)."""
    key = hashlib.md5((sf_dir + ":compact").encode()).hexdigest()[:8]
    frag_dir = _tracked_tmp(f"spark_graft_frag_{key}_")
    (
        _orders_cents(spark, sf_dir)
        .repartition(COMPACT_FRAGMENTS)
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(frag_dir)
    )
    frag = spark.read.parquet(frag_dir)
    compacted = frag.repartition(1, "o_orderstatus").localCheckpoint(eager=True)
    (
        compacted.write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(frag_dir)
    )
    return frag_dir


# ---------------------------------------------------------------- time travel


@query(
    "b_lake_timetravel",
    """
    WITH v1 AS (SELECT * FROM nation WHERE n_regionkey < 2),
    v2 AS (SELECT * FROM nation WHERE n_regionkey <= 2)
    SELECT 'v_first' AS snapshot, count(*) AS n_rows,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           count(DISTINCT n_regionkey) AS n_regions
    FROM v1
    UNION ALL
    SELECT 'v_latest', count(*), CAST(sum(n_nationkey) AS BIGINT),
           count(DISTINCT n_regionkey)
    FROM v2
    """,
)
def lake_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel on a Delta table: build a table with two
    commits (overwrite, then append), then read BOTH versions through
    the log and prove the old snapshot still sees exactly the
    pre-append contents.

    This is the lakehouse contract the reference's catalog fronts
    (`SURVEY.md` §0: Delta/Iceberg connectors are the mandate's north
    star): every commit is an immutable log entry naming immutable
    data files, so version-v reads replay the log and never list or
    lock the table — time travel costs the log replay plus the
    snapshot's own data scan.  Concurrency/crash semantics are pinned
    in tests/test_delta.py (put-if-absent commit atomicity)."""
    nation = load_table(spark, sf_dir, "nation")
    path = os.path.join(_tracked_tmp("spark_graft_tt_"), "timetravel_tbl")
    write_delta(
        nation.filter(F.col("n_regionkey") < 2).coalesce(1), path,
        mode="overwrite",
    )
    write_delta(
        nation.filter(F.col("n_regionkey") == 2).coalesce(1), path,
        mode="append",
    )
    versions = [h["version"] for h in history_delta(spark, path)]
    first, latest = versions[0], versions[-1]

    def stats(label: str, version: int) -> DataFrame:
        snap = read_delta(spark, path, version_as_of=version)
        return snap.agg(
            F.lit(label).alias("snapshot"),
            F.count("*").alias("n_rows"),
            F.sum("n_nationkey").cast("long").alias("key_sum"),
            F.countDistinct("n_regionkey").alias("n_regions"),
        )

    return stats("v_first", first).unionByName(stats("v_latest", latest))


# ---------------------------------------------------------------- vacuum


@query(
    "b_lake_vacuum",
    """
    WITH cur AS (SELECT * FROM nation WHERE n_regionkey <= 2)
    SELECT CAST(2 AS BIGINT) AS n_removed,
           (SELECT count(*) FROM cur) AS n_rows_after,
           (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM cur) AS key_sum_after
    """,
)
def lake_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM on a Delta table — the maintenance op that completes the
    ACID story: remove data files the current version does not
    reference.  The exhibit constructs BOTH orphan classes
    deterministically — (a) a crash leftover: a file staged by a
    writer that died before commit, (b) a tombstoned file: the
    pre-overwrite version's data — then vacuums with zero retention
    and proves the CURRENT snapshot is unchanged afterwards (the
    oracle pins the post-vacuum rows and the exact removed-file count
    of 2).

    Scale: vacuum replays the log and walks the table root — cost is
    O(files), never O(rows)."""
    nation = load_table(spark, sf_dir, "nation")
    path = os.path.join(_tracked_tmp("spark_graft_vac_"), "vacuum_tbl")
    write_delta(  # v0: becomes the tombstoned file
        nation.filter(F.col("n_regionkey") < 2).coalesce(1), path,
        mode="overwrite",
    )
    write_delta(  # v1: the current snapshot
        nation.filter(F.col("n_regionkey") <= 2).coalesce(1), path,
        mode="overwrite",
    )
    # crash leftover: staged into the table root, never committed
    _stage_files(nation.limit(3).coalesce(1), path, [], 2)
    removed = vacuum_delta(spark, path, retention_ms=0, force=True)
    return read_delta(spark, path).agg(
        F.lit(removed["deleted_files"]).cast("long").alias("n_removed"),
        F.count("*").alias("n_rows_after"),
        F.sum("n_nationkey").cast("long").alias("key_sum_after"),
    )


# ---------------------------------------------------------- data skipping


@query(
    "b_lake_skipping",
    """
    WITH m AS (SELECT max(o_orderkey) AS mk FROM orders),
    hit AS (
      SELECT * FROM orders, m
      WHERE o_orderkey BETWEEN (mk * 3) // 10 AND (mk * 45) // 100
    )
    SELECT CAST(1 AS BIGINT) AS n_dirs_kept,
           CAST(3 AS BIGINT) AS n_dirs_skipped,
           count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM hit
    """,
)
def lake_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level min/max data skipping on a Delta table — the
    Delta/Iceberg 'metrics filtering' feature: each commit's ``add``
    action carries per-file [min, max] stats, and a range read drops
    every file whose range provably cannot match BEFORE any parquet
    footer is opened.

    The exhibit appends the orders table in four key-range-clustered
    one-file commits (quartiles of o_orderkey, disjoint by
    construction — the clustered layout a z-ordered or
    ingestion-time-sorted lake table has naturally), range-reads
    [0.3·maxkey, 0.45·maxkey] — strictly inside the second quartile —
    and returns the pruning decision (1 file scanned, 3 skipped: exact
    ints the oracle pins as literals) alongside row-level aggregates
    the oracle recomputes from raw orders.  The correctness division
    of labor is the point: stats prune FILES, the residual filter
    prunes ROWS, so a wrong stat could only ever cost performance,
    never rows — except the oracle would then catch the missing rows
    too."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    mk = orders.agg(F.max("o_orderkey")).first()[0]
    path = os.path.join(_tracked_tmp("spark_graft_skip_"), "skipping_tbl")
    bounds = [0, mk // 4, mk // 2, (mk * 3) // 4, mk]
    for i in range(4):
        slice_df = orders.filter(
            (F.col("o_orderkey") > bounds[i])
            & (F.col("o_orderkey") <= bounds[i + 1])
        )
        write_delta(slice_df.coalesce(1), path, mode="append")
    lo, hi = (mk * 3) // 10, (mk * 45) // 100
    kept, skipped = prune_files(spark, path, "o_orderkey", lo, hi)
    hit = read_delta_range(spark, path, "o_orderkey", lo, hi)
    return hit.agg(
        F.lit(len(kept)).cast("long").alias("n_dirs_kept"),
        F.lit(len(skipped)).cast("long").alias("n_dirs_skipped"),
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


# ------------------------------------------------------ deletion vectors


@query(
    "b_lake_deletevec",
    """
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100.0) AS BIGINT) AS price_cents
      FROM orders
    ),
    live AS (SELECT * FROM base WHERE k % 53 <> 0)
    SELECT count(*) AS n_rows,
           CAST(sum(price_cents) AS BIGINT) AS price_sum_cents,
           CAST(1 AS BIGINT) AS n_data_dirs,
           CAST(2 AS BIGINT) AS n_vacuumed
    FROM live
    """,
)
def lake_deletevec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE with Delta deletion vectors: tombstone ~2 %
    of orders keys WITHOUT rewriting any data file — the delete
    commit writes only a bitmap, and the oracle pins
    ``n_data_dirs = 1`` to prove the active data file set did not
    grow.  Readers subtract the vector; an overwrite from the
    DV-applied read then folds it in (write-path compaction) and
    VACUUM reclaims exactly the old data file + the superseded vector
    file (``n_vacuumed = 2``).  Row aggregates are computed from the
    POST-compaction read, so the exhibit also proves compaction
    preserved the DV-applied state bit-for-bit.  At 100 TB the point
    is the cost model: a 1 %-of-keys delete is one bitmap write per
    touched file now + one bounded rewrite at compaction time,
    instead of a multi-TB rewrite on the delete path."""
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    path = os.path.join(_tracked_tmp("spark_graft_dv_"), "dv_tbl")
    write_delta(base.coalesce(1), path, mode="overwrite")
    delete_where_delta(spark, path, F.col("k") % 53 == 0)
    n_data_dirs = len(_snapshot(spark, path)[0].files)  # no file added
    v = _table_version(path)
    write_delta(
        read_delta(spark, path, version_as_of=v).coalesce(1), path,
        mode="overwrite", read_version=v,
    )
    n_vacuumed = vacuum_delta(spark, path, retention_ms=0, force=True)[
        "deleted_files"
    ]  # old data file + its deletion-vector file
    return read_delta(spark, path).agg(
        F.count("*").alias("n_rows"),
        F.sum("price_cents").cast("long").alias("price_sum_cents"),
        F.lit(n_data_dirs).cast("long").alias("n_data_dirs"),
        F.lit(n_vacuumed).cast("long").alias("n_vacuumed"),
    )


# ------------------------------------------------- partition-spec evolution


@query(
    "b_lake_partevolve",
    """
    WITH sp AS (
        SELECT CAST(CAST(min(ts) AS DATE)
                    + CAST((CAST(max(ts) AS DATE) - CAST(min(ts) AS DATE)) // 2
                           AS INTEGER)
                    AS TIMESTAMP) AS split_ts
        FROM events
    ),
    win AS (
        SELECT split_ts - INTERVAL 3 DAY AS lo,
               split_ts + INTERVAL 3 DAY AS hi,
               split_ts
        FROM sp
    ),
    coarse AS (
        SELECT date_trunc('week', ts) AS pkey, min(ts) AS mn, max(ts) AS mx
        FROM events WHERE ts < (SELECT split_ts FROM win)
        GROUP BY date_trunc('week', ts)
    ),
    fine AS (
        SELECT date_trunc('day', ts) AS pkey, min(ts) AS mn, max(ts) AS mx
        FROM events WHERE ts >= (SELECT split_ts FROM win)
        GROUP BY date_trunc('day', ts)
    )
    SELECT CAST((SELECT count(*) FROM coarse) + (SELECT count(*) FROM fine)
               AS BIGINT) AS n_dirs_total,
           CAST((SELECT count(*) FROM coarse
                 WHERE NOT (mx < (SELECT lo FROM win) OR mn > (SELECT hi FROM win)))
              + (SELECT count(*) FROM fine
                 WHERE NOT (mx < (SELECT lo FROM win) OR mn > (SELECT hi FROM win)))
               AS BIGINT) AS n_dirs_kept,
           count(*) AS n_rows,
           CAST(sum(CAST(round(value * 100.0) AS BIGINT)) / 100.0 AS DOUBLE)
               AS total_value
    FROM events
    WHERE ts BETWEEN (SELECT lo FROM win) AND (SELECT hi FROM win)
    """,
)
def lake_partevolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec EVOLUTION on a Delta table — Iceberg's headline
    metadata feature: a table whose early commits were written under
    a coarse spec (one file per WEEK) later switches to a fine spec
    (one file per DAY), and readers keep pruning correctly across the
    boundary WITHOUT rewriting a single old file.

    Why this falls out for free here (and in Iceberg): pruning is
    driven by per-file [min, max] ts stats in the log, not by parsing
    partition values out of paths — a Hive-layout reader would have
    to understand both directory schemes, while a stats-based reader
    doesn't care what policy grouped the rows.  The query writes the
    events table that way (weekly commits before the range midpoint,
    daily after), range-reads a ±3-day window straddling the spec
    boundary, and returns the pruning decision (total files, files
    kept) plus the row aggregates; the ORACLE independently predicts
    all four from raw events — including which files an honest
    min/max prune must keep — so a pruning bug that dropped or
    over-kept a file fails the hash, not just a perf test.

    Scale: commit count = calendar buckets (bounded); the range read
    opens only surviving files (O(matching files) like
    `b_lake_skipping`); the driver-side slice loop is bounded by the
    bucket count, never row count."""
    import datetime as _dt

    ev = load_table(spark, sf_dir, "events").select("ts", "value")
    # file stats must be JSON scalars, and pruning needs a total
    # order — integer epoch-µs (monotone in ts; b_sessionize's same
    # trick) carries both.
    ev = ev.withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    lo_d, hi_d = ev.agg(
        F.min(F.col("ts").cast("date")), F.max(F.col("ts").cast("date"))
    ).first()
    split_day = lo_d + _dt.timedelta(days=(hi_d - lo_d).days // 2)
    split_ts = _dt.datetime.combine(split_day, _dt.time())
    lo = split_ts - _dt.timedelta(days=3)
    hi = split_ts + _dt.timedelta(days=3)
    lo_us, hi_us = (
        spark.range(1)
        .select(
            F.unix_micros(F.lit(lo).cast("timestamp")),
            F.unix_micros(F.lit(hi).cast("timestamp")),
        )
        .first()
    )

    path = os.path.join(_tracked_tmp("spark_graft_pe_"), "partevolve_tbl")
    # coarse spec: one commit per week before the split
    old = ev.filter(F.col("ts") < F.lit(split_ts))
    weeks = sorted(
        r[0] for r in old.select(F.date_trunc("week", "ts")).distinct().collect()
    )
    for wk in weeks:
        write_delta(
            old.filter(F.date_trunc("week", "ts") == F.lit(wk)).coalesce(1),
            path, mode="append",
        )
    # spec evolution: subsequent commits are per day
    new = ev.filter(F.col("ts") >= F.lit(split_ts))
    days = sorted(
        r[0] for r in new.select(F.date_trunc("day", "ts")).distinct().collect()
    )
    for dd in days:
        write_delta(
            new.filter(F.date_trunc("day", "ts") == F.lit(dd)).coalesce(1),
            path, mode="append",
        )

    kept, skipped = prune_files(spark, path, "ts_us", lo_us, hi_us)
    hit = read_delta_range(spark, path, "ts_us", lo_us, hi_us)
    return hit.agg(
        F.lit(len(kept) + len(skipped)).cast("long").alias("n_dirs_total"),
        F.lit(len(kept)).cast("long").alias("n_dirs_kept"),
        F.count("*").alias("n_rows"),
        (F.sum(F.round(F.col("value") * 100.0).cast("long")) / 100.0)
        .cast("double")
        .alias("total_value"),
    )


# ------------------------------------------------------------- GDPR sweep


@query(
    "b_lake_gdpr",
    """
    WITH erased AS (
        SELECT DISTINCT user_id FROM events WHERE user_id % 37 = 0
    )
    SELECT CAST((SELECT count(*) FROM erased) AS BIGINT) AS n_users_erased,
           CAST((SELECT count(*) FROM events WHERE user_id % 37 = 0) AS BIGINT)
               AS n_rows_erased,
           CAST(count(*) AS BIGINT) AS n_rows_remaining,
           CAST(sum(CAST(round(value * 100.0) AS BIGINT)) / 100.0 AS DOUBLE)
               AS value_remaining
    FROM events
    WHERE user_id % 37 <> 0
    """,
)
def lake_gdpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten sweep on a Delta table — the governance
    composition: erase every row of a user cohort from an ACID table
    WITHOUT rewriting data files (deletion vectors,
    `b_lake_deletevec`'s primitive), then report the erasure audit:
    users erased, rows erased, rows and value remaining.

    The erased-read runs through the committed deletion vector, so the
    oracle's raw-predicate recomputation cross-checks the DV path on
    a multi-column aggregate — an erasure that missed a row, or
    shadowed a survivor, fails the hash.  At 100 TB: the erasure
    commit is one bitmap write per touched file; a compacting rewrite
    + `vacuum_delta` physically reclaim on the maintenance schedule,
    and `history_delta` is the compliance audit trail showing WHEN
    erasure committed."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    path = os.path.join(_tracked_tmp("spark_graft_gdpr_"), "gdpr_tbl")
    write_delta(ev.coalesce(1), path, mode="append")
    erase = F.col("user_id") % 37 == 0
    n_users = ev.filter(erase).select("user_id").distinct().count()
    _, n_erased = delete_where_delta(spark, path, erase)
    return read_delta(spark, path).agg(
        F.lit(n_users).cast("long").alias("n_users_erased"),
        F.lit(n_erased).cast("long").alias("n_rows_erased"),
        F.count("*").alias("n_rows_remaining"),
        (F.sum(F.round(F.col("value") * 100.0).cast("long")) / 100.0)
        .cast("double")
        .alias("value_remaining"),
    )


# ------------------------------------------------------------- RESTORE


@query(
    "b_lake_restore",
    """
    WITH v1 AS (SELECT o_orderkey, o_totalprice FROM orders
                WHERE o_orderdate < TIMESTAMP '1998-01-01')
    SELECT CAST(4 AS BIGINT) AS n_versions,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) / 100.0
                AS DOUBLE) AS total_price
    FROM v1
    """,
)
def lake_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE VERSION AS OF — rollback as a forward commit: after a
    good append (v0), a bad append (v1), and a bad delete (v2), one
    metadata-only commit (v3) re-adds v0's exact files — no data
    rewritten, the bad versions still auditable in history.  The
    read-after-restore must equal the v0 content (oracle recomputes
    it from raw orders) and the history length must be 4 — restore
    ADDS a version, never erases one (Delta RESTORE semantics)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    cut = F.lit("1998-01-01").cast("timestamp")
    good = orders.filter(F.col("o_orderdate") < cut).drop("o_orderdate")
    bad = orders.filter(F.col("o_orderdate") >= cut).drop("o_orderdate")

    path = os.path.join(_tracked_tmp("spark_graft_restore_"), "restore_tbl")
    write_delta(good.coalesce(1), path, mode="append")  # v0: good state
    write_delta(bad.coalesce(1), path, mode="append")   # v1: bad ingest
    delete_where_delta(                                  # v2: bad delete
        spark, path, F.col("o_orderkey") % 50 == 0
    )
    restore_delta(spark, path, 0)                        # v3: rollback
    n_versions = len(history_delta(spark, path))
    return read_delta(spark, path).agg(
        F.lit(n_versions).cast("long").alias("n_versions"),
        F.count("*").alias("n_rows"),
        (F.sum(F.round(F.col("o_totalprice") * 100.0).cast("long")) / 100.0)
        .cast("double")
        .alias("total_price"),
    )


# ------------------------------------------------ write-side schema evolution


@query(
    "b_lake_schema_evolve",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(CASE WHEN ts < TIMESTAMP '2024-01-20' THEN 1 END)
                AS BIGINT) AS n_legacy_rows,
           CAST(count(DISTINCT CASE WHEN ts >= TIMESTAMP '2024-01-20'
                                    THEN event_type END) AS BIGINT)
               AS n_types_new_era,
           CAST(sum(CAST(round(value * 100.0) AS BIGINT)) / 100.0 AS DOUBLE)
               AS total_value
    FROM events
    """,
)
def lake_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-side schema evolution on a Delta table (the ACID twin of
    the read-side `b_scan_evolve`): early commits wrote the narrow v1
    schema (event_id, ts, value); the pipeline later starts recording
    event_type and appends the wide v2 schema with ``merge_schema`` —
    one ``metaData`` update in the same commit, NO rewrite of v1
    files and no table downtime.  Readers get the CURRENT (widest)
    schema from the log and the missing column backfills as NULL in
    v1 files, which is exactly Delta/Iceberg ADD COLUMN semantics
    (metadata-only, old files untouched).

    The audit proves both eras: legacy-row count = rows whose
    event_type read back NULL, new-era type cardinality from the v2
    files, and the cent-grid total over BOTH eras — recomputed by the
    oracle from raw events, so a reader that dropped v1 rows or
    misaligned columns fails the hash."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-20").cast("timestamp")
    v1 = ev.filter(F.col("ts") < cut).select("event_id", "ts", "value")
    v2 = ev.filter(F.col("ts") >= cut).select(
        "event_id", "ts", "value", "event_type"
    )
    path = os.path.join(_tracked_tmp("spark_graft_sevolve_"), "sevolve_tbl")
    write_delta(v1.coalesce(1), path, mode="append")
    write_delta(v2.coalesce(1), path, mode="append", merge_schema=True)
    wide = read_delta(spark, path)  # current schema; v1 files null-backfill
    # legacy count via the ACTUAL backfill (event_type IS NULL) while
    # the oracle counts via the era predicate — a misaligned or
    # un-backfilled column makes the two diverge and fail the hash.
    return wide.agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("event_type").isNull(), 1))
        .cast("long")
        .alias("n_legacy_rows"),
        F.count_distinct(
            F.when(F.col("ts") >= cut, F.col("event_type"))
        ).cast("long").alias("n_types_new_era"),
        (F.sum(F.round(F.col("value") * 100.0).cast("long")) / 100.0)
        .cast("double")
        .alias("total_value"),
    )
