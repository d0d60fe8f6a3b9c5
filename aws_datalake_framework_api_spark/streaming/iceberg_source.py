"""Streaming SOURCE over Iceberg v2 tables: ``spark.readStream
.format("iceberg_stream").load(path)`` tails the snapshot log the way
iceberg-spark's streaming read does — offsets are SNAPSHOT positions
in sequence-number order, each micro-batch reads exactly the data
files ADDED by the snapshots in ``(start, end]``, and checkpoint
restart resumes from the last committed snapshot.

Same architecture as :mod:`.delta_source` (Spark 4 Python Data Source
API).  Driver-side ``partitions()`` classifies each snapshot of the
range with ``sources.iceberg._plan_snapshot_changes`` — the one
snapshot diff under these tails and the batch
``read_iceberg_changes`` — as pure-Python metadata work, and ships
planning-sized ``table_io.FileTask``s built by :func:`ice_task` (the
batch ``format("iceberg")`` facade builds its tasks there too).  This
module keeps only Iceberg's codec: the planning, the identity-partition
constants of converted/migrated tables (whose files lack those
columns, served as wire strings) and :func:`_colmap`, the field-id
resolution of renamed tables.  Which delete file applies to which data
file is decided per pair at planning, by the gates in
``sources.iceberg``: sequence at or above the data file's for position
deletes, and ``_eq_delete_applies`` (strict sequence plus partition
scope) for equality deletes — the rule ``_apply_eq_deletes`` applies
in the Spark readers.  Executor-side, every task reads through
``table_io.read_arrow``, the one Arrow-batch reader under every Python
lake DataSource: position kills as one mask or take per file,
equality deletes as NULL-safe membership tests in bounded
``maxEqDeleteRows`` chunks.

Semantics (iceberg-spark parity):

- append-only tails: a snapshot that REMOVES active data files
  (overwrite, delete, rewrite/compaction) refuses by default;
  ``ignoreChanges=true`` streams its newly-added files anyway
  (consumers dedupe by key).  Compaction is indistinguishable from an
  overwrite at the file level here because Iceberg carries no
  per-file dataChange flag — the honest default is therefore refusal,
  where the Delta source can stay silent;
- delete snapshots (new position- or equality-delete files, data
  files untouched) also REFUSE by default: their row removals are
  invisible to an append-level stream, and iceberg-spark likewise
  fails on delete snapshots unless ``streaming-skip-delete-snapshots``
  is set — ``ignoreChanges=true`` is this source's equivalent skip
  switch;
- ``readChangeFeed=true`` switches to the row-level CHANGELOG tail
  (:class:`IcebergChangesStreamReader`): micro-batches emit the change
  set of the planned snapshot range (schema + ``_change_type`` +
  ``_snapshot_id``), the same rows as the batch
  ``read_iceberg_changes``.  This goes BEYOND iceberg-spark, whose
  streaming read is append-only.  Equality-delete key files of any
  size stream: a task reads them one file at a time and, within a
  file, ``maxEqDeleteRows`` rows at a time, so per-task key residency
  is one chunk regardless of file shape.
"""

from __future__ import annotations

import functools
import os
import urllib.parse

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, DataSourceStreamReader
from pyspark.sql.types import StructType

from ..sources.iceberg import (
    _current_schema,
    _eq_delete_applies,
    _identity_const_plan,
    _load_metadata,
    _ordered_snapshots,
    _plan_snapshot_changes,
    _resolution,
    _schema_to_spark,
)
from ..sources.table_io import FileTask, basenames, read_arrow


# ----------------------------------------------------------- planning side


def _field_id_map(meta: dict, names: list[str]) -> dict | None:
    """The resolve map :func:`_colmap` reads files through: None for a
    table whose schema history shows no rename (by-name reads stand);
    otherwise field id → reader column for each of ``names`` (the
    current schema first, then the history's unambiguous name → id
    map, so a stream schema pinned before a rename still resolves),
    plus that name → id map and the ambiguous names for files written
    without parquet field ids."""
    res = _resolution(meta)
    if res is None:
        return None
    cur_by_name = {f["name"]: int(f["id"]) for f in res["ordered"]}
    ids = {}
    for n in names:
        fid = cur_by_name.get(n, res["name_to_id"].get(n))
        if fid is not None:
            ids[int(fid)] = n
    return {
        "ids": ids,
        "name_to_id": res["name_to_id"],
        "ambiguous": sorted(res["ambiguous"]),
    }


def _describe(meta: dict, data: list[dict]):
    """``desc(rec)``: one manifest record as the planning-sized
    descriptor a task ships — unquoted path, sequence number and
    partition tuple (the delete gates' inputs).  A data file adds its
    identity-partition constants (wire strings); an equality delete
    adds its key columns, named through the current schema (field ids
    are the spec's stable identity; a dropped or nested key refuses).

    Constants are served only on converted/migrated tables, whose
    referenced files lack their identity partition columns (spec
    §Column Projection); a native table's files carry them.  ``data``
    is every data file the plan may read, so one constants plan covers
    the whole range."""
    schema_json = _current_schema(meta)
    fields = {int(f["id"]): f for f in schema_json["fields"]}
    props = meta.get("properties") or {}
    consts: dict = {}
    if props.get("converted-from-delta") or props.get("migrated-data-files"):
        plan = _identity_const_plan(meta, schema_json, data)
        consts = plan[1] if plan else {}

    def key_name(rec: dict, fid: int) -> str:
        f = fields.get(int(fid))
        if f is None:
            raise ValueError(
                f"equality delete {rec['path']} keys on field id {fid}, "
                "which is not in the current schema"
            )
        if not isinstance(f.get("type"), str):
            raise ValueError(
                f"equality delete on unresolvable/nested field id {fid} "
                "is not supported"
            )
        return f["name"]

    def desc(rec: dict) -> dict:
        p = urllib.parse.unquote(rec["path"])
        d = {
            "path": p,
            "seq": int(rec["seq"]),
            "partition": rec.get("partition") or {},
        }
        if "equality_ids" in rec:
            d["keys"] = tuple(
                key_name(rec, fid) for fid in sorted(rec["equality_ids"])
            )
        else:
            d["consts"] = consts.get(os.path.basename(p))
        return d

    return desc


def _eq_chunk(options) -> int:
    """``maxEqDeleteRows`` (default 64k): the rows of one equality-delete
    key file a task holds at a time."""
    return max(1, int(options.get("maxeqdeleterows", 1 << 16)))


def ice_task(
    files: list[dict],
    resolve: dict | None,
    suffix: dict | None = None,
    pos_deletes: list[dict] = (),
    eq_deletes: list[dict] = (),
    killed_by_pos: list[dict] | None = None,
    killed_by_eq: list[dict] | None = None,
) -> FileTask:
    """One :class:`FileTask` of an Iceberg Python reader (a
    ``format("iceberg")`` scan file, an append-tail file or one
    changelog unit) over the :func:`_describe` descriptors ``files``.
    ``pos_deletes`` / ``eq_deletes`` kill rows where their gates apply;
    ``killed_by_pos`` / ``killed_by_eq``, when given, keep only the
    rows these NEW delete files kill (the changelog's row-level
    deletes).  ``suffix`` adds constants to every row (the changelog's
    change type and snapshot id).  Each delete file is gated per data
    file here, at planning: one that applies to no file is not
    shipped.  A position delete applies at or above the data file's
    sequence number, an equality delete per :func:`_eq_delete_applies`."""
    names = basenames(f["path"] for f in files)

    def pos_applies(d, f):
        return d["seq"] >= f["seq"]

    def gated(deletes, applies):
        if deletes is None:
            return None
        out = []
        for d in deletes:
            hit = [b for b, f in zip(names, files) if applies(d, f)]
            if hit:
                out.append({"path": d["path"], "keys": d.get("keys"), "files": hit})
        return out

    return FileTask(
        [
            {"path": f["path"], "consts": (f.get("consts") or {}) | (suffix or {})}
            for f in files
        ],
        functools.partial(_colmap, resolve),
        kills=gated(pos_deletes, pos_applies),
        only=gated(killed_by_pos, pos_applies),
        eq=gated(eq_deletes, _eq_delete_applies),
        eq_only=gated(killed_by_eq, _eq_delete_applies),
    )


# ----------------------------------------------------------- executor side


def _colmap(resolve: dict | None, schema, path: str = "") -> dict:
    """Reader-column → file-column map for one parquet ``schema``,
    resolving renamed tables by parquet field id (silent NULLs for
    renamed columns would be a misread)."""
    if resolve is None:
        return {n: n for n in schema.names}
    colmap: dict[str, str] = {}
    for fld in schema:
        raw = (fld.metadata or {}).get(b"PARQUET:field_id")
        if raw is not None:
            fid = int(raw)
        else:
            if fld.name in resolve["ambiguous"]:
                raise ValueError(
                    f"iceberg_stream: cannot resolve column {fld.name!r}: "
                    "no parquet field ids and the name maps to multiple "
                    "field ids across schema history"
                )
            fid = resolve["name_to_id"].get(fld.name)
        cur = resolve["ids"].get(fid) if fid is not None else None
        if cur is not None:
            colmap[cur] = fld.name
    return colmap


# ------------------------------------------------------------- the tails


def _start_offset(options, path: str, start_pos: int) -> dict:
    """Anchored initial offset: ``startingSnapshotId`` (iceberg-spark's
    ``start-snapshot-id`` — the tail begins AFTER that snapshot)
    resolves to its log position; otherwise ``start_pos`` (a plain
    position, 0 = genesis).  Both anchor the snapshot id at pos-1 so
    expiry-shifted logs refuse loudly instead of re-reading."""
    sid_opt = options.get("startingsnapshotid")
    snaps = _ordered_snapshots(_load_metadata(path))
    if sid_opt is not None:
        want = int(sid_opt)
        for i, s in enumerate(snaps):
            if int(s["snapshot-id"]) == want:
                return {"pos": i + 1, "sid": s["snapshot-id"]}
        raise ValueError(
            f"iceberg_stream: startingSnapshotId {want} is not in the "
            "snapshot log (expired, or never existed)"
        )
    if start_pos >= 1:
        if start_pos > len(snaps):
            raise ValueError(
                f"iceberg_stream: startingPos {start_pos} is past the "
                "snapshot log"
            )
        return {"pos": start_pos, "sid": snaps[start_pos - 1]["snapshot-id"]}
    return {"pos": 0, "sid": None}


def _plan_range(path: str, start: dict, end: dict, names: list[str]):
    """The planning both tails share for the offset range ``(start,
    end]``: ``(steps, desc, resolve)`` — the range's
    ``_plan_snapshot_changes`` steps, the :func:`_describe` function
    and the :func:`_field_id_map`.  Offsets anchor their position to
    the snapshot id at pos-1: snapshot expiry shifts log positions, and
    a restart that re-read an old position against the shifted log
    would re-read or skip snapshots, so a missing or moved anchor
    refuses."""
    lo, hi = int(start["pos"]), int(end["pos"])
    meta = _load_metadata(path)
    snaps = _ordered_snapshots(meta)
    if hi > len(snaps):
        raise ValueError(
            "iceberg_stream: offset past the snapshot log (snapshots "
            "were expired?) — the stream's starting snapshot is no "
            "longer available; restart from a fresh checkpoint"
        )
    sid = start.get("sid")
    if lo >= 1 and sid is not None and snaps[lo - 1]["snapshot-id"] != sid:
        raise ValueError(
            "iceberg_stream: the checkpoint's starting snapshot "
            f"{sid} is no longer in the snapshot log (expired?) — "
            "the positions after it have shifted; restart from a "
            "fresh checkpoint"
        )
    resolve = _field_id_map(meta, names)
    props = meta.get("properties") or {}
    if resolve is not None and (
        props.get("converted-from-delta") or props.get("migrated-data-files")
    ):
        raise ValueError(
            "iceberg_stream: renamed-column streaming on a "
            "converted/migrated partitioned table is not supported — "
            "read in batch (read_iceberg / read_iceberg_changes)"
        )
    steps = list(_plan_snapshot_changes(path, meta, snaps, lo, hi))
    data = {
        r["path"]: r
        for _snap, step in steps
        for r in step["prev"][0] + step["cur"][0]
    }
    return steps, _describe(meta, list(data.values())), resolve


class IcebergStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("iceberg_stream requires .load(<table path>)")
        self.ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        self.options = options
        self.schema = schema

    def initialOffset(self) -> dict:
        return _start_offset(self.options, self.path, 0)

    def latestOffset(self) -> dict:
        snaps = _ordered_snapshots(_load_metadata(self.path))
        return {
            "pos": len(snaps),
            "sid": snaps[-1]["snapshot-id"] if snaps else None,
        }

    def partitions(self, start: dict, end: dict):
        names = [f.name for f in self.schema.fields]
        steps, desc, resolve = _plan_range(self.path, start, end, names)
        out: list[FileTask] = []
        for snap, step in steps:
            if (
                step["removed"] or step["new_pos"] or step["new_eq"]
            ) and not self.ignore_changes:
                raise ValueError(
                    f"iceberg_stream: snapshot {snap['snapshot-id']} "
                    f"({(snap.get('summary') or {}).get('operation')}) "
                    "removes or position-deletes rows; streaming a change "
                    "as silence is wrong — set ignoreChanges=true to "
                    "stream only its added files (downstream must dedupe "
                    "by key)"
                )
            out += [ice_task([desc(r)], resolve) for r in step["added"]]
        return out

    def read(self, partition: FileTask):
        return read_arrow(partition, self.schema, _eq_chunk(self.options))

    def commit(self, end: dict) -> None:
        pass


class IcebergChangesStreamReader(DataSourceStreamReader):
    """Streaming row-level CHANGELOG tail (``readChangeFeed=true``):
    each micro-batch emits the change set of the planned snapshot
    range — the same contract, and the same
    ``_plan_snapshot_changes`` steps, as the batch
    :func:`~..sources.iceberg.read_iceberg_changes` — so delete,
    rewrite and equality-delete (the Flink-CDC shape) snapshots stream
    without loss instead of refusing.  Output = table columns +
    ``_change_type`` + ``_snapshot_id``.

    Each step becomes :func:`ice_task` units, all read by
    ``table_io.read_arrow``:

    - ``ins``, one per ADDED data file: its live rows as inserts (the
      snapshot's own position deletes subtracted, so an upsert's
      dead-on-arrival rows stay silent; no equality delete can apply,
      since a file added here is at the snapshot's sequence number);

    and three kinds of deletes:

    - ``del``, one per REMOVED data file: its rows live before the
      snapshot;
    - ``posdel``, one per NEW position-delete file: the rows it kills
      among the carried files' rows live before the snapshot, minus
      rows any equality delete of the new state kills (a same-snapshot
      equality delete's ``eqdel`` unit emits those once);
    - ``eqdel``, one per CARRIED data file that a NEW equality delete
      applies to (``_eq_delete_applies``): the rows live before the
      snapshot that the new equality deletes kill.

    ``maxEqDeleteRows`` (default 64k) is the key-chunk size, so no
    key-file shape refuses: not a long backlog of small files, not a
    single oversized file."""

    def __init__(self, schema: StructType, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("iceberg_stream requires .load(<table path>)")
        self.options = options
        self.start_pos = int(options.get("startingpos", 0))
        self.schema = schema

    def initialOffset(self) -> dict:
        return _start_offset(self.options, self.path, self.start_pos)

    latestOffset = IcebergStreamReader.latestOffset

    def partitions(self, start: dict, end: dict):
        names = [
            f.name
            for f in self.schema.fields
            if f.name not in ("_change_type", "_snapshot_id")
        ]
        steps, desc, resolve = _plan_range(self.path, start, end, names)
        out: list[FileTask] = []
        for snap, step in steps:
            sid = str(snap["snapshot-id"])
            prev_pos = [desc(d) for d in step["prev"][1]]
            prev_eq = [desc(d) for d in step["prev"][2]]
            cur_eq = [desc(d) for d in step["cur"][2]]
            new_pos = [desc(d) for d in step["new_pos"]]
            new_eq = [desc(d) for d in step["new_eq"]]
            carried = [desc(r) for r in step["carried"]]

            def unit(files, change, **deletes):
                suffix = {"_change_type": change, "_snapshot_id": sid}
                out.append(ice_task(files, resolve, suffix, **deletes))

            for r in step["added"]:  # ins
                unit([desc(r)], "insert", pos_deletes=new_pos)
            for r in step["removed"]:  # del
                unit(
                    [desc(r)], "delete",
                    pos_deletes=prev_pos, eq_deletes=prev_eq,
                )
            for d in new_pos:  # posdel
                unit(
                    carried, "delete", pos_deletes=prev_pos,
                    eq_deletes=cur_eq, killed_by_pos=[d],
                )
            for f in carried:  # eqdel
                if any(_eq_delete_applies(d, f) for d in new_eq):
                    unit(
                        [f], "delete", pos_deletes=prev_pos,
                        eq_deletes=prev_eq, killed_by_eq=new_eq,
                    )
        return out

    def read(self, partition: FileTask):
        return read_arrow(partition, self.schema, _eq_chunk(self.options))

    def commit(self, end: dict) -> None:
        pass


class IcebergStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "iceberg_stream"

    def _cdf(self) -> bool:
        return (
            str(self.options.get("readchangefeed", "false")).lower()
            == "true"
        )

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("iceberg_stream requires .load(<table path>)")
        st = _schema_to_spark(_current_schema(_load_metadata(path)))
        if self._cdf():
            st = st.add("_change_type", "string").add("_snapshot_id", "long")
        return st

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        if self._cdf():
            return IcebergChangesStreamReader(schema, self.options)
        return IcebergStreamReader(schema, self.options)


def register(spark: SparkSession) -> None:
    try:
        spark.dataSource.register(IcebergStreamSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass



# ------------------------------------------------------------------ query


def stream_from_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream FROM an Iceberg table: two append snapshots over an
    orders slice, tailed by the ``iceberg_stream`` source
    (availableNow) into a parquet sink, then aggregated.  The oracle
    recomputes the union of both appends from the fixture — a dropped
    file, a double-read snapshot, or a broken offset diff all fail
    the hash compare.  (The Iceberg twin of ``b_stream_delta_source``;
    r6.)"""
    import atexit as _atexit
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark.sql import functions as F

    from ..functions.numeric import money_sum
    from ..sources.iceberg import write_iceberg
    from ..sources.readers import load_table

    register(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    tmp = _tempfile.mkdtemp(prefix="spark_graft_istream_")
    _atexit.register(_shutil.rmtree, tmp, ignore_errors=True)
    t = _os.path.join(tmp, "t")
    write_iceberg(
        orders.filter(F.col("o_orderkey") % 11 == 0).coalesce(1),
        t, mode="error", partition_by=["o_orderpriority"],
    )
    write_iceberg(
        orders.filter(F.col("o_orderkey") % 11 == 1).coalesce(1),
        t, mode="append", partition_by=["o_orderpriority"],
    )
    from .drive import run_stream_to_completion

    out = _os.path.join(tmp, "out")
    run_stream_to_completion(
        lambda: (
            spark.readStream.format("iceberg_stream").load(t)
            .writeStream.trigger(availableNow=True)
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", _os.path.join(tmp, "ckpt"))
            .start()
        )
    )
    back = spark.read.parquet(out)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


def stream_iceberg_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream of an Iceberg table's row-level CHANGELOG: a
    position-delete snapshot, a MERGE-ON-READ MERGE (update =
    position delete + postimage insert), then an EQUALITY-delete
    commit (``delete_by_key_iceberg`` — the Flink-CDC shape, r9)
    stream as insert/delete rows via ``readChangeFeed=true`` —
    snapshots the append-only tail must refuse.  The oracle
    recomputes every change class arithmetically; a resurrected dead
    row, a double-emitted position, a lost postimage, or an eq kill
    that ignored the sequence gate (killing the original instead of
    the re-inserted version) all fail the hash compare."""
    import atexit as _atexit
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark.sql import functions as F

    from ..functions.numeric import money_sum
    from ..sources.iceberg import (
        delete_by_key_iceberg,
        delete_iceberg_rows,
        merge_iceberg,
        write_iceberg,
    )
    from ..sources.readers import load_table

    register(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    tmp = _tempfile.mkdtemp(prefix="spark_graft_icdf_")
    _atexit.register(_shutil.rmtree, tmp, ignore_errors=True)
    t = os.path.join(tmp, "t")
    write_iceberg(
        orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(2),
        t, mode="error",
    )                                                     # snapshot 1
    delete_iceberg_rows(spark, t, F.col("o_orderkey") % 30 == 0)  # 2
    source = orders.filter(F.col("o_orderkey") % 6 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    ).unionByName(orders.filter(F.col("o_orderkey") % 3 == 1))
    merge_iceberg(
        spark, t, source, on=["o_orderkey"],
        clauses=[
            {"when": "matched", "action": "update",
             "condition": "t.o_orderkey % 12 = 0"},
            {"when": "matched", "action": "delete"},
            {"when": "not_matched", "action": "insert"},
        ],
        strategy="mor",
    )                                                     # snapshot 3
    delete_by_key_iceberg(                                # snapshot 4:
        spark, t,                                         # equality delete
        orders.filter(F.col("o_orderkey") % 15 == 0)
        .select("o_orderkey").distinct(),
    )
    from .drive import run_stream_to_completion

    out = os.path.join(tmp, "out")
    run_stream_to_completion(
        lambda: (
            spark.readStream.format("iceberg_stream")
            .option("readChangeFeed", "true")
            .option("startingPos", 1)
            .load(t)
            .writeStream.trigger(availableNow=True)
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )
    )
    back = spark.read.parquet(out)
    return back.groupBy("_change_type").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


def _register_query() -> None:
    from ..functions.numeric import sql_money_sum
    from ..registry import query

    query(
        "b_stream_iceberg_source",
        f"""
        SELECT o_orderpriority, count(*) AS n,
               {sql_money_sum("o_totalprice")} AS total_price
        FROM orders
        WHERE o_orderkey % 11 = 0 OR o_orderkey % 11 = 1
        GROUP BY o_orderpriority
        """,
    )(stream_from_iceberg)

    # Changelog classes: the position-delete snapshot kills ≡0 (mod
    # 30); the MOR merge position-deletes every LIVE matched key (≡0
    # mod 6 — update and delete clauses both kill the old version),
    # re-inserts postimages for live ≡0 (mod 12), and inserts the
    # unmatched source keys — ≡1 (mod 3) at original price plus the
    # DEAD ≡0 (mod 30) keys at source (+1000) price.  The equality
    # delete (keys ≡0 mod 15, r9) then kills the surviving ODD
    # 15-multiples (never merge-matched: 15·odd is not ≡0 mod 6) at
    # original price AND the re-inserted ≡0 (mod 30) rows at +1000 —
    # the re-insert's data sequence postdates snapshot 2's kill, so
    # only the LATEST version dies (the spec's sequence gate).
    query(
        "b_stream_iceberg_cdf",
        f"""
        WITH b AS (
          SELECT o_orderkey AS k, o_totalprice AS p FROM orders
          WHERE o_orderkey % 3 = 0
        ),
        live AS (SELECT * FROM b WHERE k % 30 <> 0),
        changes AS (
          SELECT 'delete' AS ct, p FROM b WHERE k % 30 = 0
          UNION ALL
          SELECT 'delete' AS ct, p FROM live WHERE k % 6 = 0
          UNION ALL
          SELECT 'insert' AS ct, p + 1000 AS p FROM live WHERE k % 12 = 0
          UNION ALL
          SELECT 'insert' AS ct, o_totalprice AS p FROM orders
          WHERE o_orderkey % 3 = 1
          UNION ALL
          SELECT 'insert' AS ct, p + 1000 AS p FROM b WHERE k % 30 = 0
          UNION ALL
          SELECT 'delete' AS ct, p FROM live WHERE k % 15 = 0
          UNION ALL
          SELECT 'delete' AS ct, p + 1000 AS p FROM b WHERE k % 30 = 0
        )
        SELECT ct AS _change_type, count(*) AS n,
               {sql_money_sum('p')} AS total_price
        FROM changes
        GROUP BY ct
        """,
    )(stream_iceberg_cdf)


_register_query()
