"""Streaming SOURCE over the open Delta format: ``spark.readStream
.format("delta_stream").load(path)`` tails a ``_delta_log`` the way
delta-spark's streaming source does — offsets are table VERSIONS,
each micro-batch reads exactly the ``dataChange`` adds committed in
``(startVersion, endVersion]``, and checkpoint restart resumes from
the last committed version.

Built on Spark 4's Python Data Source API (the same public seam as
``sources/python_source.py``): the driver-side ``partitions()`` call
parses only the NEW log versions per batch (planning-sized JSON) and
emits one :class:`InputPartition` per added data file; the
EXECUTOR-side ``read()`` opens that one parquet file with pyarrow,
injects the log's partition values, and subtracts any deletion-vector
positions shipped in the partition descriptor.  Data bytes therefore
move executor-parallel, never through the driver.

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

import json
import os
import urllib.parse

from pyspark.sql import SparkSession  # noqa: F401 — register() typing
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..sources.delta import (
    _CMAP_ID_KEY,
    _CMAP_PHYS_KEY,
    _list_versions,
    _live_dv,
    _load_dv_positions,
    _logical_json,
    _mapping_mode,
    _physical_json,
    _plan_changes,
    _snapshot,
    _table_version,
    _version_actions,
    _version_file,
)


class _DeltaFilePartition(InputPartition):
    def __init__(
        self,
        file_path: str,
        part_values: dict,
        # the log's deletionVector descriptor (or None): positions are
        # decoded EXECUTOR-side in read(), so the planner ships O(1)
        # bytes per file regardless of how many rows are deleted
        dv: dict | None,
        table_root: str,
        # (logical name, simpleString type, physical/stored name,
        #  columnMapping id or None) — physical==logical on unmapped
        # tables; id set only in id mode, where files match by
        # parquet field id rather than name.
        fields: list[tuple[str, str, str, int | None]],
        part_cols: list[str],  # STORED names (what partitionValues spell)
    ) -> None:
        self.file_path = file_path
        self.part_values = part_values
        self.dv = dv
        self.table_root = table_root
        self.fields = fields
        self.part_cols = part_cols


def _typed(value: str | None, simple: str):
    """Type one partition-value wire string (the log's serialization,
    PROTOCOL.md "Partition Value Serialization") for row assembly."""
    if value is None:
        return None
    if simple in ("int", "bigint", "smallint", "tinyint"):
        return int(value)
    if simple in ("double", "float"):
        return float(value)
    if simple == "boolean":
        return value == "true"
    if simple == "date":
        import datetime as _dt

        return _dt.date.fromisoformat(value)
    if simple.startswith("timestamp"):
        import datetime as _dt

        return _dt.datetime.fromisoformat(value)
    if simple.startswith("decimal("):
        import decimal as _dec

        return _dec.Decimal(value)
    return value


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


def resolve_file_fields(
    snap, schema: StructType
) -> tuple[list[tuple[str, str, str, int | None]], list[str]]:
    """Column-mapping resolution, ONCE per planned read: mapped tables
    spell PHYSICAL col-<uuid> names in the data files and in
    add.partitionValues, so matching file columns / partition keys by
    logical name would silently yield all-NULL rows — a misread, not a
    degradation (ADVICE r6; the batch reader resolves this too).
    ``name`` mode resolves by physical name; ``id`` mode ships the
    columnMapping id so read() matches by parquet field id.  Returns
    (fields, part_cols) in :class:`_DeltaFilePartition`'s currency:
    fields = (logical name, simpleString type, physical name, field id
    or None); part_cols = STORED partition-column names.  Shared by
    the streaming tail and the batch ``spark.read.format("delta")``
    facade (sources/format_facade.py)."""
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
    fields = []
    for fobj in schema.fields:
        md = meta_by.get(fobj.name, {})
        phys = md.get(_CMAP_PHYS_KEY, fobj.name) if mapped else fobj.name
        fid = (
            int(md[_CMAP_ID_KEY])
            if mode == "id" and _CMAP_ID_KEY in md
            else None
        )
        fields.append((fobj.name, fobj.dataType.simpleString(), phys, fid))
    # partition columns = declared schema minus what the files hold;
    # stored under PHYSICAL names on mapped tables
    part_cols = [
        meta_by.get(c, {}).get(_CMAP_PHYS_KEY, c) if mapped else c
        for c in snap.metadata.get("partitionColumns") or []
    ]
    return fields, part_cols


def read_file_partition(partition: _DeltaFilePartition):
    """Executor-side read of one planned Delta data file: open the
    parquet with pyarrow, resolve columns (by parquet field id in id
    mode, by physical name otherwise; unresolved = column added after
    the file was written, served as NULL), inject the log's partition
    values, and subtract deletion-vector positions decoded from the
    shipped descriptor.  Shared by the streaming tail and the batch
    format facade."""
    import pyarrow.parquet as pq

    table = pq.read_table(partition.file_path)
    cols = set(table.column_names)
    by_id: dict[int, str] = {}
    for fld in table.schema:
        raw = (fld.metadata or {}).get(b"PARQUET:field_id")
        if raw is not None:
            by_id[int(raw)] = fld.name
    deleted = (
        set(_load_dv_positions(partition.table_root, partition.dv))
        if partition.dv
        else set()
    )
    # partition values are keyed by STORED (physical) names in the
    # log; output keys are logical
    part_typed = {
        name: _typed(partition.part_values.get(phys), simple)
        for name, simple, phys, _fid in partition.fields
        if phys in partition.part_cols
    }
    resolved: dict[str, str | None] = {}
    for name, _simple, phys, fid in partition.fields:
        if phys in partition.part_cols:
            continue
        if fid is not None:
            if not by_id:
                raise ValueError(
                    "delta read: id-mode table but "
                    f"{partition.file_path} carries no parquet field "
                    "ids — refusing to misread"
                )
            resolved[name] = by_id.get(fid)
        else:
            resolved[name] = phys if phys in cols else None
    for pos, row in enumerate(table.to_pylist()):
        if pos in deleted:
            continue
        yield tuple(
            part_typed[name]
            if name in part_typed
            else (
                row.get(resolved[name])
                if resolved[name] is not None
                else None
            )
            for name, _simple, _phys, _fid in partition.fields
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
        fields, part_cols = resolve_file_fields(snap, self.schema)
        out: list[_DeltaFilePartition] = []
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
            for a in acts:
                if "add" not in a or not a["add"].get("dataChange", True):
                    continue
                add = a["add"]
                rel = urllib.parse.unquote(add["path"])
                out.append(
                    _DeltaFilePartition(
                        os.path.join(self.path, rel),
                        dict(add.get("partitionValues") or {}),
                        _live_dv(add),
                        self.path,
                        fields,
                        part_cols,
                    )
                )
        return out

    def read(self, partition: _DeltaFilePartition):
        return read_file_partition(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the engine checkpoint


class _DeltaCDFPartition(InputPartition):
    """One change-feed unit of a planned version range.  ``kind``:

    - ``cdc``: a ``_change_data`` file — rows carry their own
      ``_change_type`` column (update_preimage/postimage, insert,
      delete);
    - ``insert``: a dataChange add in a non-cdc commit — live rows
      (DV subtracted) are inserts;
    - ``delete``: a dataChange remove in a non-cdc commit — the
      file's PREVIOUSLY-live rows (old DV applied) are deletes;
    - ``dv``: a remove+re-add with a changed deletion vector — the
      newly-dead positions (new minus old) are deletes, the
      newly-live ones (old minus new) inserts.

    The kinds are :func:`~..sources.delta._plan_changes`'s units.

    All DV decode happens executor-side in ``read()``; the planner
    ships O(1) descriptor bytes per file."""

    def __init__(
        self,
        kind: str,
        file_path: str,
        part_values: dict,
        dv: dict | None,
        old_dv: dict | None,
        version: int,
        table_root: str,
        fields: list[tuple[str, str]],  # (name, simpleString type)
        part_cols: list[str],
        pvals_in_action: bool,  # cdc from a foreign writer: partition
        # values live in the action, data columns in the file
    ) -> None:
        self.kind = kind
        self.file_path = file_path
        self.part_values = part_values
        self.dv = dv
        self.old_dv = old_dv
        self.version = version
        self.table_root = table_root
        self.fields = fields
        self.part_cols = part_cols
        self.pvals_in_action = pvals_in_action


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
        fields = [
            (f.name, f.dataType.simpleString())
            for f in self.schema.fields
            if f.name not in ("_change_type", "_commit_version")
        ]
        part_cols = list(state.metadata.get("partitionColumns") or [])
        out: list[_DeltaCDFPartition] = []
        for v, units in _plan_changes(self.path, state, lo, hi):
            for kind, rel, action, dv, old_dv in units:
                pvals = dict(action.get("partitionValues") or {})
                out.append(
                    _DeltaCDFPartition(
                        kind,
                        os.path.join(self.path, urllib.parse.unquote(rel)),
                        pvals, dv, old_dv, v, self.path, fields, part_cols,
                        kind != "cdc" or bool(pvals),
                    )
                )
        return out

    def read(self, partition: _DeltaCDFPartition):
        import pyarrow.parquet as pq

        if partition.kind == "dv":
            # resolve the position deltas BEFORE touching the data
            # file: a transition that changes no live row costs two
            # bitmap reads, not a parquet scan
            new_pos, old_pos = (
                set(_load_dv_positions(partition.table_root, d)) if d
                else set()
                for d in (partition.dv, partition.old_dv)
            )
            dead, revived = new_pos - old_pos, old_pos - new_pos
            if not (dead or revived):
                return
        table = pq.read_table(partition.file_path)
        cols = set(table.column_names)
        part_typed = {
            name: _typed(partition.part_values.get(name), simple)
            for name, simple in partition.fields
            if name in partition.part_cols
            and (partition.pvals_in_action or name not in cols)
        }

        def emit(row, ctype):
            return tuple(
                [
                    part_typed[n] if n in part_typed
                    else (row.get(n) if n in cols else None)
                    for n, _s in partition.fields
                ]
                + [ctype, partition.version]
            )

        if partition.kind == "cdc":
            for row in table.to_pylist():
                yield emit(row, row.get("_change_type"))
            return
        if partition.kind == "dv":
            # materialize ONLY the affected positions (Table.take) — a
            # point delete/restore on a large file stays O(changed rows)
            for ctype, pos in (("delete", dead), ("insert", revived)):
                idx = sorted(p for p in pos if p < table.num_rows)
                for row in table.take(idx).to_pylist() if idx else ():
                    yield emit(row, ctype)
            return
        # delete: the file's previously-live rows (old DV applied);
        # insert: its live rows (own DV subtracted) — same scan shape,
        # the descriptor's dv field carries the right vector
        dead = (
            set(_load_dv_positions(partition.table_root, partition.dv))
            if partition.dv
            else set()
        )
        for pos, row in enumerate(table.to_pylist()):
            if pos not in dead:
                yield emit(row, partition.kind)

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
