"""Dependency-free Delta Lake connector (SURVEY.md §2 B1).

The reference's CFT provisions a lake bucket whose tables a real
deployment would manage with an open table format (the project
BASELINE names "Spark SQL + Delta/Iceberg connectors" as the
approach).  This module reads and writes Delta tables without
``delta-spark``: it is the engine's Delta connector for EXISTING
lakehouse tables and the storage of the engine's own catalog
(``catalog.py`` keeps every entity and audit table here).  It works
from the PUBLIC PROTOCOL alone — the Delta transaction-log layout
documented in delta-io/delta's PROTOCOL.md:

- a table is a directory of parquet data files plus ``_delta_log/``
  holding ``%020d.json`` commits, each a newline-delimited list of
  JSON actions (``protocol`` / ``metaData`` / ``add`` / ``remove`` /
  ``commitInfo``);
- table state at version V = replay of actions 0..V with
  last-writer-wins per file path (latest ``metaData``/``protocol``
  win; an ``add`` activates a path, a ``remove`` tombstones it);
- ``%020d.checkpoint.parquet`` + ``_last_checkpoint`` let a reader
  skip the JSON prefix: load the checkpoint's action rows, replay
  only the commits after it;
- ``metaData.schemaString`` is a Spark ``StructType`` JSON document;
  ``add.partitionValues`` carries partition-column values as strings
  because partitioned data files do NOT contain their partition
  columns.

Scale notes.  State reconstruction materializes the active-file list
on the driver — bounded by files-per-table, the same planning-side
bound delta-spark itself has (its scan planning ships the file list
through the driver too); checkpoints cap the JSON replay at
``commits since last checkpoint``.  Every data read is the shared
tagged scan, :func:`.table_io.scan_files`, with this module's codec:
the log's ``partitionValues`` as per-file constants and its deletion
vectors as ``(FILE, POS)`` kills.  It has two plan shapes: up to
``_UNION_BRANCH_CAP`` distinct partition tuples the scan's reader
unions per-partition scans with injected LITERAL partition columns
(each branch a plain parquet ``FileScan`` — column pruning +
predicate pushdown intact, and Catalyst constant-folds partition
predicates to prune whole branches at plan time); past the cap it
plans ONE ``FileScan`` over every live file plus the shared scan's
broadcast file → partitionValues map, so plan size is O(1) in
partition count (the role delta-spark's FileIndex plays) and
partition pruning moves to ``read_delta``'s ``partition_filter``
(driver-side, against the log — the same planning-time prune a
FileIndex does).  Files are addressed by the LOG, never by directory
listing, so reads skip tombstoned files without touching them — the
property that makes Delta reads O(live data) while the physical dir
still holds unvacuumed history.

Write path (``write_delta``): stages data files with a normal
parquet write, flattens them into the table root under unique names
(the log, not the directory layout, is the source of truth — the
reader never assumes hive-style paths), derives ``partitionValues``
from the staging layout, and publishes the commit JSON with
put-if-absent: two racing writers of version N produce exactly one
winner (optimistic concurrency, as the protocol prescribes).  The
loser goes through :func:`.table_io.commit_loop`: a blind append
rebases onto the winner, everything else raises, and a commit that
lands nothing unlinks what it staged.  Staging, footer stats, the
put-if-absent publish and the commit loop are the format-neutral
steps in :mod:`.table_io`, shared with the Iceberg connector, as is
the key-range pruner (:func:`.table_io.prune_by_bounds`) that range
reads and merges skip files through; this module keeps the Delta
codec (``add``/``cdc`` actions, JSON stats and their decoder
:func:`_stats_bounds`, log replay and checkpoints), its claim
(:func:`_commit`) and its commit steps (:func:`_commit_mutation`, and
:func:`_commit_create` for the creates that claim version 0).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.numeric import money_sum, sql_money_sum
from ..registry import query
from .landing import _scratch
from .readers import empty_frame, load_table
from .table_io import (
    ORPHAN_AGE_FLOOR_MS,
    CommitConflict,
    commit_loop,
    footer_min_max,
    FILE,
    POS,
    basenames,
    prune_by_bounds,
    put_if_absent,
    scan_files,
    stage_parquet,
    tag_columns,
)

_LOG = "_delta_log"

#: Reader features this implementation understands.  A table whose
#: protocol demands anything else must be REFUSED, not misread.
#: ``deletionVectors`` is supported: the reader decodes the protocol's
#: Z85/RoaringBitmapArray vectors and subtracts deleted row positions
#: (see the deletion-vector section below).  ``columnMapping`` is
#: supported in both modes (physical-name projection / parquet
#: field-id matching — see the column-mapping section).
#: ``v2Checkpoint`` is supported: uuid-named checkpoint files (parquet
#: or json), ``checkpointMetadata`` version validation, and ``sidecar``
#: actions resolved from ``_delta_log/_sidecars/`` (see ``_snapshot``).
#: All three are current Databricks writer DEFAULTS, so refusing any
#: of them walls off most modern Delta tables (VERDICT r5).
#: ``typeWidening`` (+ its preview spelling) is supported (r9): the
#: declared schemaString carries the WIDE type, old files keep narrow
#: physicals, and Spark's parquet reader upcasts at scan (verified on
#: this build: int32→long, float→double, decimal rescale); the
#: pyarrow-side stream/changelog readers are width-agnostic
#: (``to_pylist`` yields plain Python values).
_SUPPORTED_READER_FEATURES = {
    "timestampNtz", "deletionVectors", "columnMapping", "v2Checkpoint",
    "typeWidening", "typeWidening-preview",
}
_MAX_SIMPLE_READER_VERSION = 1
#: Legacy (pre-feature) reader version that means exactly "column
#: mapping": readable here, with the id-mode refusal applied when the
#: metaData's mode is actually resolved.
_CMAP_LEGACY_READER_VERSION = 2


def _log_dir(path: str) -> str:
    return os.path.join(path, _LOG)


def _version_file(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:020d}.json")


def _list_versions(path: str) -> list[int]:
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.endswith(".json") and not f.startswith(".") and f[:20].isdigit():
            out.append(int(f[:20]))
    return sorted(out)


def _check_protocol(proto: dict) -> None:
    reader = int(proto.get("minReaderVersion", 1))
    feats = set(proto.get("readerFeatures") or [])
    unsupported = feats - _SUPPORTED_READER_FEATURES
    if reader == _CMAP_LEGACY_READER_VERSION:
        # reader v2 exists only for column mapping; readable, with the
        # mode gate (name vs id) applied once metaData is in hand
        return
    if reader > _MAX_SIMPLE_READER_VERSION and (reader != 3 or unsupported):
        raise ValueError(
            "delta table requires unsupported reader capabilities: "
            f"minReaderVersion={reader} features={sorted(unsupported) or '?'} "
            "(install delta-spark to read this table)"
        )


def _dv_uid(dv: dict | None) -> tuple | None:
    """The protocol's deletion-vector uniqueId: file actions are keyed
    by (path, dvId), so a DV update commit (remove of the old
    (path, dv) + add of the new) reconciles correctly regardless of
    the two actions' order within the commit."""
    if not dv:
        return None
    return (dv.get("storageType"), dv.get("pathOrInlineDv"), dv.get("offset"))


class _Snapshot:
    """Replayed table state at one version: latest metaData/protocol +
    the active files map (path → its full ``add`` action, so
    partitionValues, stats AND deletionVector survive replay)."""

    def __init__(self) -> None:
        self.metadata: dict | None = None
        self.protocol: dict = {"minReaderVersion": 1}
        self.files: dict[str, dict] = {}
        self.txns: dict[str, int] = {}
        # domain metadata (the protocol's domainMetadata action, r11):
        # latest configuration per domain; a removed=true action
        # tombstones the domain
        self.domains: dict[str, str] = {}

    def apply(self, action: dict) -> None:
        if "metaData" in action:
            self.metadata = action["metaData"]
        elif "protocol" in action:
            self.protocol = action["protocol"]
        elif "domainMetadata" in action:
            dm = action["domainMetadata"]
            if dm.get("removed"):
                self.domains.pop(dm.get("domain"), None)
            else:
                self.domains[dm["domain"]] = dm.get("configuration") or ""
        elif "add" in action:
            a = action["add"]
            self.files[a["path"]] = a
        elif "remove" in action:
            r = action["remove"]
            cur = self.files.get(r["path"])
            # tombstone only the (path, dvId) version the remove names:
            # a DV-update commit re-adds the same path with a new DV,
            # and the remove of the OLD (path, dv) must not kill it
            if cur is not None and _dv_uid(cur.get("deletionVector")) == _dv_uid(
                r.get("deletionVector")
            ):
                self.files.pop(r["path"], None)
        elif "txn" in action:
            t = action["txn"]
            app = t.get("appId")
            if app is not None:
                self.txns[app] = max(
                    self.txns.get(app, -1), int(t.get("version", -1))
                )
        # commitInfo is informational for a reader

    def partition_values(self, rel: str) -> dict:
        return self.files[rel].get("partitionValues") or {}


# ---------------------------------------------------------- column mapping
#
# With ``delta.columnMapping.mode = name`` the table's LOGICAL schema
# lives in schemaString as usual, but every struct field carries
# ``delta.columnMapping.physicalName`` metadata and the parquet data
# files, the add actions' partitionValues keys, and the stats keys all
# use the PHYSICAL names (delta PROTOCOL.md §Column Mapping).  The read
# therefore scans with the physically-named schema and projects back:
# top-level columns by alias, nested fields by a struct cast (Spark
# casts struct→struct positionally, which is exactly a rename).  Mode
# ``id`` demands matching by PARQUET FIELD ID instead (file column
# names are not authoritative there): the scan schema carries
# ``parquet.field.id`` = ``delta.columnMapping.id`` per field and the
# session flips ``spark.sql.parquet.fieldId.read.enabled`` — Spark's
# native id matching, with a first-file sanity check refusing
# spec-violating id-less files that ignoreMissing would misread as
# NULL.  Writes to mapped tables stay refused by
# ``_check_write_protocol`` (columnMapping is also a writer feature).

_CMAP_MODE_KEY = "delta.columnMapping.mode"
_CMAP_PHYS_KEY = "delta.columnMapping.physicalName"
_CMAP_ID_KEY = "delta.columnMapping.id"


def _mapping_mode(snap: _Snapshot) -> str:
    conf = (snap.metadata or {}).get("configuration") or {}
    return conf.get(_CMAP_MODE_KEY) or "none"


def _physical_json(node, with_ids: bool = False):
    """schemaString subtree with every struct field renamed to its
    ``delta.columnMapping.physicalName`` (recursing through struct /
    array / map) — the schema as the parquet DATA FILES spell it.
    Field metadata is dropped so physical-vs-logical type comparison
    reduces to "did any nested name change"; ``with_ids`` instead
    keeps exactly ``parquet.field.id`` = the field's
    ``delta.columnMapping.id`` — in ``id`` mode Spark's parquet
    reader matches file columns by that id
    (``spark.sql.parquet.fieldId.read.enabled``), which is the
    matching the protocol demands there."""
    if isinstance(node, dict):
        t = node.get("type")
        if t == "struct":
            fields = []
            for f in node.get("fields") or []:
                md = f.get("metadata") or {}
                new_md = {}
                if with_ids and _CMAP_ID_KEY in md:
                    new_md["parquet.field.id"] = int(md[_CMAP_ID_KEY])
                fields.append(
                    {
                        **f,
                        "name": md.get(_CMAP_PHYS_KEY, f["name"]),
                        "type": _physical_json(f["type"], with_ids),
                        "metadata": new_md,
                    }
                )
            return {"type": "struct", "fields": fields}
        if t == "array":
            return {
                **node,
                "elementType": _physical_json(node["elementType"], with_ids),
            }
        if t == "map":
            return {
                **node,
                "keyType": _physical_json(node["keyType"], with_ids),
                "valueType": _physical_json(node["valueType"], with_ids),
            }
    return node


def _logical_json(node):
    """Same subtree with logical names kept and field metadata dropped
    — the schema the read's OUTPUT declares (column-mapping
    bookkeeping must not leak into result schemas)."""
    if isinstance(node, dict):
        t = node.get("type")
        if t == "struct":
            return {
                "type": "struct",
                "fields": [
                    {**f, "type": _logical_json(f["type"]), "metadata": {}}
                    for f in node.get("fields") or []
                ],
            }
        if t == "array":
            return {**node, "elementType": _logical_json(node["elementType"])}
        if t == "map":
            return {
                **node,
                "keyType": _logical_json(node["keyType"]),
                "valueType": _logical_json(node["valueType"]),
            }
    return node


def _resolve_read_schema(
    snap: _Snapshot,
) -> tuple[StructType, list[str], list[tuple] | None, dict[str, str]]:
    """``(scan_schema, part_cols_stored, rename, l2p)`` for a snapshot.

    ``scan_schema`` names columns the way the data files and the log's
    partitionValues/stats spell them; ``part_cols_stored`` are the
    partition columns under those stored names; ``rename`` is None for
    unmapped tables, else ``(physical, logical, logical_type,
    needs_cast)`` per top-level column for the project-back; ``l2p``
    maps top-level logical → stored names (identity when unmapped) so
    callers can translate user-supplied column references
    (partition_filter, stats pruning)."""
    sj = json.loads(snap.metadata["schemaString"])
    logical_parts = list(snap.metadata.get("partitionColumns") or [])
    mode = _mapping_mode(snap)
    if mode in ("none", ""):
        ident = {f["name"]: f["name"] for f in sj.get("fields") or []}
        return StructType.fromJson(sj), logical_parts, None, ident
    if mode not in ("name", "id"):
        raise ValueError(
            f"unsupported delta.columnMapping.mode {mode!r} "
            "(install delta-spark to read this table)"
        )
    # ``name``: files are matched by physical column name.  ``id``:
    # the scan schema additionally carries parquet.field.id metadata
    # and the session flips fieldId matching on (see read_delta), so
    # Spark matches file columns by id regardless of what the file
    # names them — the matching the protocol demands in id mode.
    phys = StructType.fromJson(_physical_json(sj, with_ids=(mode == "id")))
    logical = StructType.fromJson(_logical_json(sj))
    l2p = {
        f["name"]: (f.get("metadata") or {}).get(_CMAP_PHYS_KEY, f["name"])
        for f in sj.get("fields") or []
    }
    rename = [
        (pf.name, lf.name, lf.dataType, pf.dataType != lf.dataType)
        for pf, lf in zip(phys.fields, logical.fields)
    ]
    return phys, [l2p[c] for c in logical_parts], rename, l2p


def _logical_scan(
    spark: SparkSession, path: str, snap: _Snapshot, rels: list[str],
    dv_map: dict | None, tags: tuple[str, ...] = (),
) -> DataFrame:
    """Active-file scan projected to LOGICAL column names (identity on
    unmapped tables) — the frame mutation predicates, joins and
    assignments run against, so UPDATE/DELETE/MERGE work unchanged on
    column-mapped tables."""
    schema, part_cols, rename, _l2p = _resolve_read_schema(snap)
    _enable_field_id_read(spark, snap, path, rels)
    return _rename_back(
        _scan_files(spark, path, snap, rels, schema, part_cols, dv_map, tags),
        rename,
    )


def _stage_mutation(
    df: DataFrame, snap: _Snapshot, path: str, version: int,
    data_change: bool = True,
) -> list[dict]:
    """Stage rewritten LOGICAL rows for a mutation commit: on mapped
    tables the files/partitionValues/stats must spell PHYSICAL names
    (+ parquet ids in id mode) — the same conversion the append path
    applies.  Data-changing rewrites re-enforce the table's CHECK
    constraints (an UPDATE/MERGE can introduce a violating value);
    pure rearrangement (OPTIMIZE) skips the guard — its rows already
    passed on their original write."""
    if data_change:
        df = _constraint_guard(df, snap)
    sj = json.loads(snap.metadata["schemaString"])
    logical_parts = list(snap.metadata.get("partitionColumns") or [])
    mode = _mapping_mode(snap)
    if mode in ("none", ""):
        return _stage_files(df, path, logical_parts, version,
                            data_change=data_change)
    l2p = {
        f["name"]: (f.get("metadata") or {}).get(_CMAP_PHYS_KEY, f["name"])
        for f in sj["fields"]
    }
    return _stage_files(
        _to_physical_df(df, sj, mode), path,
        [l2p[c] for c in logical_parts], version, data_change=data_change,
    )


_CDC_DIR = "_change_data"


def _cdf_enabled(snap: _Snapshot) -> bool:
    conf = (snap.metadata or {}).get("configuration") or {}
    return conf.get("delta.enableChangeDataFeed") == "true"


def _stage_cdc(df: DataFrame, snap: _Snapshot, path: str) -> list[dict]:
    """Stage row-level CHANGE DATA (table columns + ``_change_type``)
    as parquet under ``_change_data/`` and return the protocol's
    ``cdc`` actions ({path, partitionValues: {}, size, dataChange:
    false}).  A commit that carries cdc actions is read from THEM
    exclusively by CDF readers (the protocol's rule — mixing cdc and
    add/remove derivation would double-count), so every mutation
    writes its complete row-level change set.  On column-mapped
    tables the data columns spell PHYSICAL names, like data files;
    ``_change_type`` stays literal (it is not a schema column)."""
    sj = json.loads(snap.metadata["schemaString"])
    mode = _mapping_mode(snap)
    data_cols = [f["name"] for f in sj.get("fields") or []]
    if mode in ("name", "id"):
        # the same rename _to_physical_df applies, inline so the
        # _change_type column rides along in the one projection
        phys = StructType.fromJson(
            _physical_json(sj, with_ids=(mode == "id"))
        )
        src_types = {f.name: f.dataType for f in df.schema.fields}
        cols = []
        for lname, pf in zip(data_cols, phys.fields):
            col = F.col(lname)
            if pf.dataType != src_types[lname]:
                col = col.cast(pf.dataType)
            if pf.metadata:
                cols.append(col.alias(pf.name, metadata=dict(pf.metadata)))
            else:
                cols.append(col.alias(pf.name))
    else:
        cols = [F.col(c) for c in data_cols]
    staged = stage_parquet(
        df.select(*cols, F.col("_change_type")),
        os.path.join(path, ".staging-cdc-"),
        os.path.join(path, _CDC_DIR),
        lambda i, _f: f"cdc-{i:05d}-{uuid.uuid4().hex[:8]}.parquet",
    )
    return [
        {
            "cdc": {
                "path": urllib.parse.quote(
                    f"{_CDC_DIR}/{os.path.basename(dst)}"
                ),
                "partitionValues": {},
                "size": os.path.getsize(dst),
                "dataChange": False,
            }
        }
        for dst, _pv in staged
    ]


def _to_physical_df(df: DataFrame, sj: dict, mode: str) -> DataFrame:
    """``df`` (logical names, any column order) renamed to the mapped
    schema's PHYSICAL spelling in schema order — what the data files
    must contain.  Nested renames ride a same-type cast; ``id`` mode
    additionally stamps ``parquet.field.id`` metadata so the files
    record the ids id-mode readers match on."""
    df = df.select(*[f["name"] for f in sj.get("fields") or []])
    phys = StructType.fromJson(_physical_json(sj, with_ids=(mode == "id")))
    cols = []
    for lf, pf in zip(df.schema.fields, phys.fields):
        col = F.col(lf.name)
        if pf.dataType != lf.dataType:
            col = col.cast(pf.dataType)
        if pf.metadata:
            cols.append(col.alias(pf.name, metadata=dict(pf.metadata)))
        else:
            cols.append(col.alias(pf.name))
    return df.select(*cols)


def _enable_field_id_read(
    spark: SparkSession, snap: _Snapshot, path: str, rels: list[str]
) -> None:
    """id-mode prep: flip Spark's parquet fieldId matching on — a
    session-wide switch, but inert for any scan whose read schema
    carries no ``parquet.field.id`` metadata.  The matching semantics
    are exactly what the protocol wants (probed empirically): a file
    WITH ids that lacks a requested id serves NULL (added-column
    evolution), while a file with NO ids at all — a spec violation in
    an id-mode table — fails the scan loudly, per file, executor-side
    (``ignoreMissing`` stays false; turning it on would misread such
    a file as all-NULL)."""
    if _mapping_mode(snap) != "id":
        return
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")


def _rename_back(df: DataFrame, rename: list[tuple] | None) -> DataFrame:
    """Project physical columns back to logical names; a struct cast
    renames nested fields positionally only where some nested physical
    name differs.  The scan's ``FILE``/``POS`` tags ride through."""
    if rename is None:
        return df
    extras = [c for c in (FILE, POS) if c in df.columns]
    return df.select(
        *[
            (F.col(p).cast(t) if casts else F.col(p)).alias(l)
            for p, l, t, casts in rename
        ],
        *extras,
    )


def _scan_for_checkpoint(path: str) -> dict | None:
    """Recover checkpoint state by LISTING the log dir — the fallback
    when ``_last_checkpoint`` is corrupt (a crashed writer can leave
    truncated JSON; delta-spark tolerates that file being garbage, so
    a reader that raises on it makes the whole table unreadable).
    Single-file checkpoints count directly; a multi-part checkpoint
    counts only when ALL its parts are present."""
    d = _log_dir(path)
    if not os.path.isdir(d):
        return None
    single: set[int] = set()
    parts_seen: dict[tuple[int, int], set[int]] = {}
    for f in os.listdir(d):
        if not f.endswith((".parquet", ".json")) or not f[:20].isdigit():
            continue
        v = int(f[:20])
        rest = f[20:]
        if rest == ".checkpoint.parquet":
            single.add(v)
        else:
            bits = rest.strip(".").split(".")
            # V.checkpoint.<i>.<n>.parquet
            if len(bits) == 4 and bits[0] == "checkpoint":
                try:
                    i, n = int(bits[1]), int(bits[2])
                except ValueError:
                    continue
                parts_seen.setdefault((v, n), set()).add(i)
            # V.checkpoint.<uuid>.{parquet,json} — a v2 checkpoint
            elif len(bits) == 3 and bits[0] == "checkpoint":
                single.add(v)
    candidates: list[tuple[int, int | None]] = [(v, None) for v in single]
    for (v, n), have in parts_seen.items():
        if have == set(range(1, n + 1)):
            candidates.append((v, n))
    if not candidates:
        return None
    v, n = max(candidates)
    return {"version": v, "parts": n}


def _read_last_checkpoint(path: str) -> dict | None:
    f = os.path.join(_log_dir(path), "_last_checkpoint")
    if not os.path.isfile(f):
        return None
    try:
        with open(f) as fh:
            d = json.load(fh)
        return {"version": int(d["version"]), "parts": d.get("parts")}
    except (json.JSONDecodeError, ValueError, KeyError, TypeError):
        # truncated/garbage pointer file — recover from the listing
        # instead of failing every read (ADVICE r5)
        return _scan_for_checkpoint(path)


def _checkpoint_files(path: str, version: int, parts) -> list[str]:
    """Physical checkpoint file(s): classic single-file, the
    multi-part layout (``V.checkpoint.<i>.<n>.parquet``) a foreign
    writer with ``checkpoint.partSize`` produces, or a v2 uuid-named
    checkpoint (``V.checkpoint.<uuid>.{parquet,json}``)."""
    d = _log_dir(path)
    if parts:
        n = int(parts)
        return [
            os.path.join(
                d, f"{version:020d}.checkpoint.{i:010d}.{n:010d}.parquet"
            )
            for i in range(1, n + 1)
        ]
    classic = os.path.join(d, f"{version:020d}.checkpoint.parquet")
    if os.path.isfile(classic) or not os.path.isdir(d):
        return [classic]
    pre = f"{version:020d}.checkpoint."
    v2 = [
        f
        for f in os.listdir(d)
        if f.startswith(pre)
        and f.endswith((".parquet", ".json"))
        and len(f[len(pre):].split(".")) == 2
    ]
    if v2:
        # racing writers may leave several uuid checkpoints of the same
        # version; the spec says any one is complete — pick max-name
        # for determinism
        return [os.path.join(d, sorted(v2)[-1])]
    return [classic]  # absent; caller reports it missing


def _table_version(path: str) -> int | None:
    """Latest committed version, or None when no table exists — the
    max of the JSON tail and the checkpoint, because log cleanup can
    leave a checkpoint-only (still fully committed) state."""
    versions = _list_versions(path)
    cp = _read_last_checkpoint(path)
    cpv = cp["version"] if cp else None
    if not versions and cpv is None:
        return None
    return max(versions[-1] if versions else -1, cpv if cpv is not None else -1)


def _fix_arrow_maps(obj):
    """pyarrow ``to_pylist`` renders parquet MAP values as lists of
    (key, value) tuples; the replay expects dicts.  No checkpoint
    field is a genuine list-of-pairs, so the shape test is exact."""
    if isinstance(obj, list):
        if obj and all(isinstance(e, tuple) and len(e) == 2 for e in obj):
            return {k: _fix_arrow_maps(v) for k, v in obj}
        return [_fix_arrow_maps(e) for e in obj]
    if isinstance(obj, dict):
        return {k: _fix_arrow_maps(v) for k, v in obj.items()}
    return obj


def _load_checkpoint_rows(
    spark: SparkSession | None, files: list[str]
) -> list[dict]:
    """Checkpoint rows are one-action-per-row structs; collecting them
    is the same files-per-table driver bound as planning.
    ``spark=None`` reads them with pyarrow instead — the streaming
    source's DataSource worker has no session, and a checkpoint is
    planning-sized either way.  v2 checkpoints may be JSON-format
    (one action per line, same as commits)."""
    rows: list[dict] = []
    jsons = [f for f in files if f.endswith(".json")]
    parqs = [f for f in files if not f.endswith(".json")]
    for f in jsons:
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    rows.append(json.loads(line))
    if parqs:
        if spark is not None:
            rows.extend(
                r.asDict(recursive=True)
                for r in spark.read.parquet(*parqs).collect()
            )
        else:
            import pyarrow.parquet as pq

            for f in parqs:
                rows.extend(_fix_arrow_maps(pq.read_table(f).to_pylist()))
    return rows


def _snapshot(
    spark: SparkSession | None, path: str, version_as_of: int | None = None
) -> tuple[_Snapshot, int]:
    versions = _list_versions(path)
    cp = _read_last_checkpoint(path)
    cp_version = cp["version"] if cp else None
    latest = _table_version(path)
    if latest is None:
        raise FileNotFoundError(f"no delta log at {path}")
    target = latest if version_as_of is None else version_as_of
    if target not in versions and target != cp_version:
        raise ValueError(
            f"version {target} not reconstructable (json versions "
            f"{versions}, checkpoint {cp_version})"
        )
    snap = _Snapshot()
    start = 0
    if cp_version is not None and cp_version <= target:
        cp_files = _checkpoint_files(path, cp_version, cp.get("parts"))
        missing = [f for f in cp_files if not os.path.isfile(f)]
        if missing:
            raise ValueError(
                f"checkpoint {cp_version} incomplete: missing "
                f"{[os.path.basename(m) for m in missing]}"
            )
        rows = _load_checkpoint_rows(spark, cp_files)
        # v2 checkpoints carry their file actions in sidecar parquet
        # files under _delta_log/_sidecars/ (the main file holds the
        # non-file actions + one sidecar action per sidecar file)
        side = [
            d["sidecar"]["path"] for d in rows if d.get("sidecar")
        ]
        if side:
            sdir = os.path.join(_log_dir(path), "_sidecars")
            spaths = [os.path.join(sdir, s) for s in side]
            smissing = [s for s in spaths if not os.path.isfile(s)]
            if smissing:
                raise ValueError(
                    f"v2 checkpoint {cp_version} sidecars missing: "
                    f"{[os.path.basename(m) for m in smissing]}"
                )
            rows.extend(_load_checkpoint_rows(spark, spaths))
        for d in rows:
            cpm = d.get("checkpointMetadata")
            if cpm is not None and int(cpm.get("version", cp_version)) != (
                cp_version
            ):
                raise ValueError(
                    f"v2 checkpoint file claims version {cpm['version']} "
                    f"but is named {cp_version} — refusing corrupt state"
                )
            for key in (
                "protocol", "metaData", "add", "remove", "txn",
                "domainMetadata",
            ):
                if d.get(key) is not None:
                    snap.apply({key: d[key]})
        start = cp_version + 1
    for v in range(start, target + 1):
        vf = _version_file(path, v)
        if not os.path.isfile(vf):
            # The protocol allows missing commits only BEFORE a
            # checkpoint (log cleanup); a gap past the replay start
            # means unreconstructable state — refuse, never return a
            # silently partial table.
            raise ValueError(
                f"delta log gap: version {v} missing (replaying "
                f"{start}..{target} from "
                f"{'checkpoint' if start else 'genesis'})"
            )
        with open(vf) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    snap.apply(json.loads(line))
    if snap.metadata is None:
        raise ValueError(f"delta log at {path} has no metaData action")
    _check_protocol(snap.protocol)
    return snap, target


# -------------------------------------------------------- deletion vectors
#
# The protocol stores a file's deleted ROW POSITIONS as a 64-bit
# roaring bitmap ("RoaringBitmapArray", portable serialization): a
# 4-byte LE magic (1681511377), an 8-byte LE bitmap count, then one
# standard-format 32-bit RoaringBitmap per high-32-bit key 0..n-1
# (the public RoaringFormatSpec: cookie 12346 = no run containers +
# offset header, cookie 12347 = run bitset; array containers for
# cardinality <= 4096, 8 KiB bitmap containers above, run containers
# as (start, length-1) pairs).  The descriptor's storageType selects
# where the bytes live: "i" = Z85-encoded inline in the log, "u" =
# `deletion_vector_<uuid>.bin` under the table root (uuid Z85-encoded
# in the last 20 chars of pathOrInlineDv, leading chars an optional
# directory prefix), "p" = absolute path.  On-disk DV files carry a
# leading format-version byte (1) and frame each DV as
# <int32 BE size><bytes><int32 BE CRC-32>.
#
# Scale note: the DRIVER only carries the O(active files) descriptor
# list; bitmap BYTES are decoded EXECUTOR-side (one mapInPandas task
# batch per slice of DV files) into the (FILE, POS) kills of the
# shared tagged scan (table_io.scan_files) — broadcast when the
# descriptors' summed cardinality is small, shuffle otherwise.  A
# 100 TB table with billions of deleted positions therefore never
# funnels positions through one process (VERDICT r6; the same
# distributed-apply shape as the Iceberg positional-delete path).

_Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}
_ROARING_MAGIC = 1681511377
_COOKIE_RUN = 12347
_COOKIE_NO_RUN = 12346


def _z85_decode(s: str) -> bytes:
    if len(s) % 5:
        raise ValueError(f"z85 length {len(s)} not a multiple of 5")
    out = bytearray()
    for i in range(0, len(s), 5):
        v = 0
        for c in s[i : i + 5]:
            v = v * 85 + _Z85_INDEX[c]
        out += v.to_bytes(4, "big")
    return bytes(out)


def _z85_encode(b: bytes) -> str:
    if len(b) % 4:
        raise ValueError(f"z85 input length {len(b)} not a multiple of 4")
    out = []
    for i in range(0, len(b), 4):
        v = int.from_bytes(b[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            v, r = divmod(v, 85)
            chunk.append(_Z85_CHARS[r])
        out.extend(reversed(chunk))
    return "".join(out)


def _roaring32_positions(buf: bytes, off: int) -> tuple[list[int], int]:
    """Decode one standard-format 32-bit RoaringBitmap at ``off``;
    returns (sorted positions, offset past the bitmap)."""
    import struct

    (cookie,) = struct.unpack_from("<I", buf, off)
    run_bits: bytes | None = None
    if cookie & 0xFFFF == _COOKIE_RUN:
        n = (cookie >> 16) + 1
        off += 4
        nbytes = (n + 7) // 8
        run_bits = buf[off : off + nbytes]
        off += nbytes
        has_offsets = n >= 4  # NO_OFFSET_THRESHOLD
    elif cookie == _COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<I", buf, off + 4)
        off += 8
        has_offsets = True
    else:
        raise ValueError(f"bad roaring bitmap cookie: {cookie}")
    keys: list[int] = []
    cards: list[int] = []
    for _ in range(n):
        k, cm1 = struct.unpack_from("<HH", buf, off)
        off += 4
        keys.append(k)
        cards.append(cm1 + 1)
    if has_offsets:
        off += 4 * n  # offsets are redundant for a sequential read
    out: list[int] = []
    for i in range(n):
        base = keys[i] << 16
        is_run = run_bits is not None and (run_bits[i // 8] >> (i % 8)) & 1
        if is_run:
            (n_runs,) = struct.unpack_from("<H", buf, off)
            off += 2
            for _ in range(n_runs):
                s, ln = struct.unpack_from("<HH", buf, off)
                off += 4
                out.extend(range(base + s, base + s + ln + 1))
        elif cards[i] <= 4096:
            vals = struct.unpack_from(f"<{cards[i]}H", buf, off)
            off += 2 * cards[i]
            out.extend(base + v for v in vals)
        else:
            import numpy as np

            bits = np.unpackbits(
                np.frombuffer(buf, dtype=np.uint8, count=8192, offset=off),
                bitorder="little",
            )
            off += 8192
            out.extend((base + np.nonzero(bits)[0]).tolist())
    return out, off


def _decode_dv_bitmap(data: bytes) -> list[int]:
    """Serialized RoaringBitmapArray → sorted 64-bit row positions."""
    import struct

    (magic,) = struct.unpack_from("<i", data, 0)
    if magic != _ROARING_MAGIC:
        raise ValueError(f"bad deletion-vector magic: {magic}")
    (count,) = struct.unpack_from("<q", data, 4)
    off = 12
    positions: list[int] = []
    for key in range(count):
        pos, off = _roaring32_positions(data, off)
        positions.extend((key << 32) + p for p in pos)
    return positions


def _encode_roaring32(values: list[int]) -> bytes:
    """Standard-format serialization of one 32-bit RoaringBitmap
    (no-run cookie + offset header; array containers <= 4096,
    bitmap containers above) — used by tests and the DV writer."""
    import struct

    by_key: dict[int, list[int]] = {}
    for v in sorted(set(values)):
        by_key.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(by_key)
    n = len(keys)
    header = struct.pack("<II", _COOKIE_NO_RUN, n)
    desc = b"".join(
        struct.pack("<HH", k, len(by_key[k]) - 1) for k in keys
    )
    containers: list[bytes] = []
    for k in keys:
        vals = by_key[k]
        if len(vals) <= 4096:
            containers.append(struct.pack(f"<{len(vals)}H", *vals))
        else:
            import numpy as np

            bits = np.zeros(65536, dtype=bool)
            bits[vals] = True
            containers.append(np.packbits(bits, bitorder="little").tobytes())
    # offset header: byte position of each container from stream start
    pos = len(header) + len(desc) + 4 * n
    offsets = []
    for c in containers:
        offsets.append(pos)
        pos += len(c)
    return (
        header
        + desc
        + b"".join(struct.pack("<I", o) for o in offsets)
        + b"".join(containers)
    )


def _encode_dv_bitmap(positions: list[int]) -> bytes:
    """Sorted 64-bit positions → serialized RoaringBitmapArray."""
    import struct

    by_high: dict[int, list[int]] = {}
    for p in positions:
        by_high.setdefault(p >> 32, []).append(p & 0xFFFFFFFF)
    count = (max(by_high) + 1) if by_high else 0
    out = struct.pack("<iq", _ROARING_MAGIC, count)
    for key in range(count):
        out += _encode_roaring32(by_high.get(key, []))
    return out


def write_dv_file(path: str, positions: list[int]) -> dict:
    """Write one deletion vector as an on-disk DV file under the table
    root (protocol layout: version byte 1, then <size BE><data>
    <CRC-32 BE>) and return its ``deletionVector`` descriptor —
    used by tests and by maintenance tooling."""
    import struct
    import zlib

    data = _encode_dv_bitmap(sorted(positions))
    u = uuid.uuid4()
    fname = f"deletion_vector_{u}.bin"
    with open(os.path.join(path, fname), "wb") as fh:
        fh.write(b"\x01")
        offset = fh.tell()
        fh.write(struct.pack(">i", len(data)))
        fh.write(data)
        fh.write(struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
    return {
        "storageType": "u",
        "pathOrInlineDv": _z85_encode(u.bytes),
        "offset": offset,
        "sizeInBytes": len(data),
        "cardinality": len(set(positions)),
    }


def _dv_file_path(path: str, dv: dict) -> str:
    enc = dv["pathOrInlineDv"]
    if len(enc) < 20:
        raise ValueError(f"malformed DV pathOrInlineDv: {enc!r}")
    prefix, tail = enc[:-20], enc[-20:]
    u = uuid.UUID(bytes=_z85_decode(tail))
    fname = f"deletion_vector_{u}.bin"
    return (
        os.path.join(path, prefix, fname) if prefix else os.path.join(path, fname)
    )


def _load_dv_positions(path: str, dv: dict) -> list[int]:
    """Resolve a deletionVector descriptor to its deleted row
    positions, verifying framing CRC and declared cardinality."""
    import struct
    import zlib

    st = dv.get("storageType")
    if st == "i":
        data = _z85_decode(dv["pathOrInlineDv"])
        data = data[: int(dv["sizeInBytes"])]
    elif st in ("u", "p"):
        f = dv["pathOrInlineDv"] if st == "p" else _dv_file_path(path, dv)
        with open(f, "rb") as fh:
            version = fh.read(1)
            if version != b"\x01":
                raise ValueError(f"unsupported DV file version: {version!r}")
            fh.seek(int(dv.get("offset") or 1))
            (size,) = struct.unpack(">i", fh.read(4))
            data = fh.read(size)
            (crc,) = struct.unpack(">I", fh.read(4))
        if zlib.crc32(data) & 0xFFFFFFFF != crc:
            raise ValueError(f"deletion vector checksum mismatch in {f}")
    else:
        raise ValueError(f"unsupported DV storageType: {st!r}")
    positions = _decode_dv_bitmap(data)
    card = dv.get("cardinality")
    if card is not None and len(positions) != int(card):
        raise ValueError(
            f"deletion vector cardinality mismatch: descriptor says "
            f"{card}, bitmap has {len(positions)}"
        )
    return positions


#: Distinct-partition-tuple count up to which the read plans one union
#: branch per partition (each branch a plain FileScan with its
#: partition value as a LITERAL, so Catalyst constant-folds partition
#: predicates and prunes whole branches at plan time).  Past the cap
#: the plan would grow linearly in partition count — a 10k-partition
#: foreign table must not cost 10k analysis-time union branches
#: (VERDICT r5) — so the read switches to ONE FileScan over all live
#: files plus a broadcast join against the log-derived
#: file → partitionValues map (the role delta-spark's FileIndex
#: plays); plan size becomes O(1) in partition count and partition
#: pruning moves to the driver-side ``partition_filter`` argument.
_UNION_BRANCH_CAP = 32


def _part_match(pvals: dict, flt: dict) -> bool:
    """True iff a file's ``partitionValues`` satisfy ``flt`` (column →
    allowed value or collection of values, compared as the log's
    string serialization; None matches a NULL partition value)."""
    for c, want in flt.items():
        if isinstance(want, (set, frozenset, list, tuple)):
            allowed = {None if w is None else str(w) for w in want}
        else:
            allowed = {None if want is None else str(want)}
        if pvals.get(c) not in allowed:
            return False
    return True


def _scan_files(
    spark: SparkSession,
    path: str,
    snap: _Snapshot,
    rels: list[str],
    schema: StructType,
    part_cols: list[str],
    dv_map: dict[str, dict] | None = None,
    tags: tuple[str, ...] = (),
) -> DataFrame:
    """The :func:`.table_io.scan_files` scan of the given active files,
    with the log's partition values and deletion vectors.  Two shapes
    (see ``_UNION_BRANCH_CAP``): per-partition union branches with
    LITERAL partition columns below the cap, the shared scan's single
    FileScan plus broadcast file→partitionValues map above it.

    ``dv_map`` (file basename → ``deletionVector`` descriptor) becomes
    the scan's ``(FILE, POS)`` kills, decoded EXECUTOR-side by
    :func:`_dv_relation` and broadcast when the descriptors' summed
    cardinality is small, shuffled otherwise.  ``tags`` keeps
    :data:`.table_io.FILE` / :data:`.table_io.POS` in the output: the
    copy-on-write rewrites attribute matched rows to files through
    them, the DV writers to positions."""
    pvals = {
        os.path.join(path, urllib.parse.unquote(rel)):
        snap.partition_values(rel) for rel in rels
    }
    files = sorted(pvals)
    kills = None
    if dv_map:
        kills = _dv_relation(spark, path, dv_map)
        total = sum(int(d.get("cardinality") or 0) for d in dv_map.values())
        if total <= _DV_BROADCAST_CAP:
            kills = F.broadcast(kills)
    by_part: dict[tuple, list[str]] = {}
    for f in files:
        by_part.setdefault(
            tuple(pvals[f].get(c) for c in part_cols), []
        ).append(f)
    # Hive-style files may share a basename across partition
    # directories; an untagged read of those keeps the literal branches,
    # which need no basename key.
    if len(by_part) > _UNION_BRANCH_CAP and (
        tags or kills is not None
        or len({os.path.basename(f) for f in files}) == len(files)
    ):
        consts = (part_cols, {os.path.basename(f): pvals[f] for f in files})
        return scan_files(spark, files, schema, consts, kills, tags)
    data_schema = StructType(
        [f for f in schema.fields if f.name not in part_cols]
    )

    def read(_files: list[str], want: list[str]) -> DataFrame:
        branches = []
        for key, fs in sorted(by_part.items(), key=lambda kv: str(kv[0])):
            lits = dict(zip(part_cols, key))
            branches.append(
                spark.read.schema(data_schema).parquet(*fs).select(
                    *[
                        # the log's string serialization, cast through
                        # the declared type (None stays NULL)
                        F.lit(lits[f.name]).cast(f.dataType).alias(f.name)
                        if f.name in lits else F.col(f.name)
                        for f in schema.fields
                    ],
                    *tag_columns(want),
                )
            )
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        return out

    return scan_files(spark, files, schema, None, kills, tags, read)


def _version_at_timestamp(path: str, ts) -> int:
    """The latest version committed at-or-before ``ts`` (datetime, ISO
    string, or epoch millis) — delta-spark's timestampAsOf rule.
    Commit times come from ``commitInfo.timestamp``, falling back to
    the commit file's mtime (the protocol's own fallback ordering)."""
    import datetime as _dt

    if isinstance(ts, str):
        ts = _dt.datetime.fromisoformat(ts)
    if isinstance(ts, _dt.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        millis = int(ts.timestamp() * 1000)
    else:
        millis = int(ts)
    best = None
    for v in _list_versions(path):
        vf = _version_file(path, v)
        t = None
        # scan ALL actions: the protocol does not mandate commitInfo
        # first, and a foreign writer that orders it later must not
        # silently demote resolution to file mtime (ADVICE r6; same
        # contract as history_delta).  inCommitTimestamp (r11) is the
        # AUTHORITATIVE commit clock when present — the feature exists
        # precisely because wall timestamps / file mtimes drift.
        with open(vf) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    a = json.loads(line)
                    if "commitInfo" in a:
                        ci = a["commitInfo"]
                        t = ci.get("inCommitTimestamp", ci.get("timestamp"))
                        break
        if t is None:
            t = int(os.path.getmtime(vf) * 1000)
        if int(t) <= millis:
            best = v
    if best is None:
        raise ValueError(
            f"no commit at or before {millis} (table begins later)"
        )
    return best


def read_delta(
    spark: SparkSession,
    path: str,
    version_as_of: int | None = None,
    partition_filter: dict | None = None,
    timestamp_as_of=None,
) -> DataFrame:
    """Read a Delta table (latest version, ``version_as_of`` for
    time travel, or ``timestamp_as_of`` — datetime / ISO string /
    epoch millis — resolved to the latest commit at-or-before that
    instant, delta-spark's timestampAsOf) into a DataFrame with the
    log-declared schema.

    ``partition_filter`` (column → value or collection) prunes files
    at PLANNING time from the log's partitionValues — the equivalent
    of a FileIndex partition predicate, and the scale path for
    partition-selective reads on high-partition-count tables where
    the single-scan plan shape can't constant-fold partition
    predicates per branch."""
    if timestamp_as_of is not None:
        if version_as_of is not None:
            raise ValueError(
                "pass version_as_of OR timestamp_as_of, not both"
            )
        version_as_of = _version_at_timestamp(path, timestamp_as_of)
    snap, _ = _snapshot(spark, path, version_as_of)
    schema, part_cols, rename, l2p = _resolve_read_schema(snap)
    rels = sorted(snap.files)
    if partition_filter:
        # callers filter by LOGICAL name; the log stores physical keys
        flt = {l2p.get(c, c): v for c, v in partition_filter.items()}
        rels = [
            rel
            for rel in rels
            if _part_match(snap.partition_values(rel), flt)
        ]
    _enable_field_id_read(spark, snap, path, rels)
    return _rename_back(
        _scan_files(
            spark, path, snap, rels, schema, part_cols,
            _dv_map(path, snap, rels),
        ),
        rename,
    )


def _dv_map(path: str, snap: _Snapshot, rels: list[str]) -> dict | None:
    """Deletion-vector DESCRIPTORS of the active files about to be
    scanned (basename → the log's ``deletionVector`` dict); None when
    no file carries a non-empty DV, so DV-free tables pay nothing.
    Descriptors are planning-sized (O(files)); the bitmap bytes they
    point at are decoded executor-side by :func:`_dv_relation`, never
    on the driver (VERDICT r6)."""
    out: dict[str, dict] = {}
    for rel in rels:
        dv = snap.files[rel].get("deletionVector")
        if dv and int(dv.get("cardinality") or 0) != 0:
            b = os.path.basename(urllib.parse.unquote(rel))
            out[b] = dv
    return out or None


#: Summed DV cardinality up to which the decoded (file, position)
#: relation is broadcast into the anti-join; above it the join
#: shuffles on (file, position) — billions of deleted positions must
#: not be collected to the driver as a broadcast table.
_DV_BROADCAST_CAP = 4_000_000


def _dv_descriptor_df(spark: SparkSession, dv_map: dict[str, dict]):
    """The descriptor map as a tiny DataFrame (one row per DV-carrying
    file) — the unit both executor-side DV paths (read-apply and
    delete-merge) distribute on."""
    import pandas as pd

    rows = [
        (
            b,
            d["storageType"],
            d["pathOrInlineDv"],
            int(d.get("offset") or 0),
            int(d["sizeInBytes"]),
            int(d.get("cardinality") or 0),
        )
        for b, d in sorted(dv_map.items())
    ]
    return spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                FILE, "_dv_st", "_dv_p", "_dv_off", "_dv_sz",
                "_dv_card",
            ],
        ),
        f"{FILE} string, _dv_st string, _dv_p string, _dv_off long, "
        "_dv_sz long, _dv_card long",
    )


def _dv_relation(
    spark: SparkSession, path: str, dv_map: dict[str, dict]
) -> DataFrame:
    """Decode the deletion vectors EXECUTOR-side into a
    ``(FILE, POS)`` relation: the descriptors distribute
    across tasks and each task reads + decodes its files' bitmap
    bytes where it runs, so driver memory stays O(files) no matter
    how many positions the table carries."""
    import pandas as pd

    desc = _dv_descriptor_df(spark, dv_map)
    n = len(dv_map)
    desc = desc.repartition(min(n, spark.sparkContext.defaultParallelism))
    root = path

    def decode(batches):
        for pdf in batches:
            for r in pdf.to_dict("records"):
                dv = {
                    "storageType": r["_dv_st"],
                    "pathOrInlineDv": r["_dv_p"],
                    "offset": int(r["_dv_off"]),
                    "sizeInBytes": int(r["_dv_sz"]),
                    "cardinality": int(r["_dv_card"]),
                }
                pos = _load_dv_positions(root, dv)
                # chunk the output so one huge vector cannot balloon a
                # single Arrow batch
                for i in range(0, len(pos), 1 << 20):
                    chunk = pos[i : i + (1 << 20)]
                    yield pd.DataFrame(
                        {
                            FILE: [r[FILE]] * len(chunk),
                            POS: pd.array(chunk, dtype="int64"),
                        }
                    )

    return desc.mapInPandas(decode, f"{FILE} string, {POS} long")


# ------------------------------------------------------------------ writer


_ICT_KEY = "delta.enableInCommitTimestamps"
_ICT_ENABLED_AT = "delta.inCommitTimestampEnablementVersion"
_ICT_ENABLED_TS = "delta.inCommitTimestampEnablementTimestamp"


def _last_ict(path: str, version: int) -> int | None:
    """The previous commit's ``inCommitTimestamp`` (the monotonicity
    floor for version ``version``); None when there is no previous
    JSON commit (checkpointed away / v0) or it carries no ICT."""
    if version <= 0:
        return None
    vf = _version_file(path, version - 1)
    try:
        with open(vf) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    a = json.loads(line)
                    if "commitInfo" in a:
                        t = a["commitInfo"].get("inCommitTimestamp")
                        return int(t) if t is not None else None
    except FileNotFoundError:
        return None
    return None


def _apply_ict(
    path: str, version: int, actions: list[dict], conf: dict | None
) -> list[dict]:
    """In-Commit Timestamps (the protocol's ``inCommitTimestamp``
    writer feature, r11): when ``delta.enableInCommitTimestamps`` is
    set, every commit's ``commitInfo`` MUST be the FIRST action and
    carry a MONOTONICALLY increasing ``inCommitTimestamp`` — the
    commit's authoritative wall clock, immune to file-mtime drift
    (log copies, backup restores).  Clamped to strictly exceed the
    previous commit's ICT, exactly delta-spark's rule.  The commit
    that enables the feature carries the enablement timestamp its
    ``metaData`` records (``alter_table_properties_delta``).  Every
    writer here puts the ``commitInfo`` first."""
    md_conf = next(
        (a["metaData"].get("configuration") or {}
         for a in actions if "metaData" in a),
        {},
    )
    if md_conf.get(_ICT_ENABLED_AT) == str(version):
        ict = int(md_conf[_ICT_ENABLED_TS])
    elif conf and conf.get(_ICT_KEY) == "true":
        now = int(time.time() * 1000)
        ict = max(now, (_last_ict(path, version) or 0) + 1)
    else:
        return actions
    actions[0]["commitInfo"]["inCommitTimestamp"] = ict
    return actions


_RT_DOMAIN = "delta.rowTracking"


def _rt_enabled(snap: _Snapshot | None) -> bool:
    """delta.enableRowTracking=true — ids are GUARANTEED STABLE, so
    reads serve them and row-copying rewrites refuse (no
    materialization here)."""
    if snap is None or snap.metadata is None:
        return False
    conf = snap.metadata.get("configuration") or {}
    return conf.get("delta.enableRowTracking") == "true"


def _rt_supported(snap: _Snapshot | None) -> bool:
    """The ``rowTracking`` writer feature is declared — per the spec,
    writers must assign baseRowId/defaultRowCommitVersion and advance
    the high watermark on every commit EVEN BEFORE
    ``delta.enableRowTracking`` flips (the supported-not-enabled
    mid-enablement state delta-spark tables pass through; r11 review
    finding — gating the obligation on the config skipped it there)."""
    if snap is None:
        return False
    return "rowTracking" in set(
        snap.protocol.get("writerFeatures") or []
    )


def _rt_hwm(snap: _Snapshot) -> int:
    """The row-id high watermark (highest ISSUED id; -1 before any)
    from the ``delta.rowTracking`` domain metadata."""
    raw = snap.domains.get(_RT_DOMAIN)
    if not raw:
        return -1
    try:
        return int(json.loads(raw).get("rowIdHighWaterMark", -1))
    except (ValueError, TypeError):
        return -1


def _add_num_records(path: str, a: dict) -> int:
    """Physical row count of an add — stats.numRecords, else the
    parquet footer (foreign adds may omit stats)."""
    st = a.get("stats")
    if st:
        s = json.loads(st) if isinstance(st, str) else st
        n = s.get("numRecords")
        if n is not None:
            return int(n)
    import pyarrow.parquet as pq

    full = urllib.parse.unquote(a["path"])
    if not os.path.isabs(full):
        full = os.path.join(path, full)
    return pq.ParquetFile(full).metadata.num_rows


def _apply_row_tracking(
    path: str, version: int, actions: list[dict], snap: _Snapshot | None
) -> list[dict]:
    """Row-tracking commit obligation (the protocol's ``rowTracking``
    writer feature): every NEW add (one lacking a ``baseRowId`` — a
    DV-update's re-add keeps its original) gets a fresh contiguous id
    range ``hwm+1 .. hwm+numRecords`` plus ``defaultRowCommitVersion``
    = this commit's version, and the ``delta.rowTracking`` domain
    metadata advances the high watermark IN THE SAME COMMIT — ids are
    never re-issued, even across a crash, because the watermark and
    the adds are one atomic action list.  No-op on untracked tables.
    Gated on the FEATURE (not the config): supported-not-enabled
    tables still demand fresh ids on every add."""
    if not _rt_supported(snap):
        return actions
    hwm = _rt_hwm(snap)
    assigned = False
    for act in actions:
        a = act.get("add")
        if a is None or a.get("baseRowId") is not None:
            continue
        n = _add_num_records(path, a)
        a["baseRowId"] = hwm + 1
        a["defaultRowCommitVersion"] = version
        hwm += n
        assigned = True
    if assigned:
        actions = actions + [
            {"domainMetadata": {
                "domain": _RT_DOMAIN,
                "configuration": json.dumps(
                    {"rowIdHighWaterMark": hwm}
                ),
                "removed": False,
            }}
        ]
    return actions


def _removes(
    snap: _Snapshot, rels, now: int, data_change: bool = True
) -> list[dict]:
    """One ``remove`` per active path in ``rels``.  Reconciliation is
    keyed by (path, dvId), so each names the deletion vector of the
    file version it tombstones."""
    out = []
    for rel in rels:
        rm = {
            "path": rel, "deletionTimestamp": now, "dataChange": data_change,
        }
        if snap.files[rel].get("deletionVector"):
            rm["deletionVector"] = snap.files[rel]["deletionVector"]
        out.append({"remove": rm})
    return out


def _action_files(path: str, actions: list[dict]) -> list[str]:
    """The files the ``add`` and ``cdc`` actions name, under ``path``."""
    return [
        os.path.join(path, urllib.parse.unquote(a[kind]["path"]))
        for a in actions
        for kind in ("add", "cdc")
        if kind in a
    ]


def _commit_mutation(
    path: str,
    version: int,
    operation: str,
    params: dict,
    actions: list[dict],
    snap: _Snapshot,
    removed=(),
    staged=(),
    data_change: bool = True,
) -> int:
    """Commit a change computed against ``snap`` (the PRE-commit
    snapshot) as ``version`` and return it.  The commit is a
    ``commitInfo`` naming ``operation`` and ``params``, a ``remove``
    per path in ``removed`` (:func:`_removes`; ``data_change=False``
    marks a pure rearrangement), then ``actions``, with the table's
    commit obligations applied: In-Commit Timestamps
    (:func:`_apply_ict`) and row tracking (:func:`_apply_row_tracking`).
    A rival claiming ``version`` first raises :class:`CommitConflict`
    and unlinks ``staged``, the files this call wrote for the commit
    (:func:`.table_io.commit_loop`)."""
    now = int(time.time() * 1000)
    info = {"timestamp": now, "operation": operation,
            "operationParameters": params}
    actions = [{"commitInfo": info}] + _removes(
        snap, removed, now, data_change
    ) + list(actions)
    actions = _apply_ict(
        path, version, actions, (snap.metadata or {}).get("configuration")
    )
    actions = _apply_row_tracking(path, version, actions, snap)

    def claim() -> int:
        _commit(path, version, actions)
        return version

    return commit_loop(claim, staged)


def _commit(path: str, version: int, actions: list[dict]) -> None:
    """Publish one commit with :func:`.table_io.put_if_absent`: a
    version that exists raises ``FileExistsError``, so concurrent
    writers of version N get exactly one winner."""
    os.makedirs(_log_dir(path), exist_ok=True)
    put_if_absent(
        _version_file(path, version),
        "".join(json.dumps(a) + "\n" for a in actions),
    )


def _commit_create(path: str, actions: list[dict], staged: list[str]) -> int:
    """Claim version 0 for a CREATE through :func:`.table_io.commit_loop`.
    A rival create that lands first raises ``FileExistsError`` (the
    create contract :func:`write_delta` has) and unlinks ``staged``."""

    def claim() -> int:
        _commit(path, 0, actions)
        return 0

    def rebase() -> None:
        raise FileExistsError(f"delta table already exists at {path}")

    return commit_loop(claim, staged, rebase)


def _footer_stats(dst: str) -> str | None:
    """The protocol's ``add.stats`` JSON string ({numRecords,
    minValues, maxValues}) from the already-written parquet footer
    (:func:`.table_io.footer_min_max`).  Only JSON-safe scalar types
    are recorded; anything else is simply absent, which readers must
    (and do) treat as unprunable."""
    folded = footer_min_max(dst)
    if folded is None:
        return None
    n, mins, maxs = folded

    def scalars(vals: dict) -> dict:
        return {
            k: v for k, v in vals.items()
            if isinstance(v, (int, float, str, bool))
        }

    return json.dumps(
        {"numRecords": n, "minValues": scalars(mins),
         "maxValues": scalars(maxs)}
    )


def _stage_files(
    df: DataFrame, path: str, partition_by: list[str], version: int,
    data_change: bool = True,
) -> list[dict]:
    """Write df as parquet, flatten the part files into the table root
    under unique names (:func:`.table_io.stage_parquet`), and return
    their ``add`` actions (partition values recovered from the staging
    layout's hive dirs).  ``data_change=False`` marks the adds as pure
    rearrangement (compaction) so incremental consumers can skip them,
    per the protocol's dataChange contract."""
    staged = stage_parquet(
        df, os.path.join(path, ".staging-"), path,
        lambda i, _f: (
            f"part-{version:05d}-{i:05d}-{uuid.uuid4().hex[:8]}.parquet"
        ),
        partition_by,
    )
    adds: list[dict] = []
    for dst, pvals in staged:
        st = os.stat(dst)
        adds.append(
            {
                "add": {
                    "path": urllib.parse.quote(os.path.basename(dst)),
                    "partitionValues": {
                        c: pvals.get(c) for c in partition_by
                    },
                    "size": st.st_size,
                    "modificationTime": int(st.st_mtime * 1000),
                    "dataChange": data_change,
                    "stats": _footer_stats(dst),
                }
            }
        )
    return adds


def last_txn_version(spark: SparkSession, path: str, app_id: str) -> int:
    """Highest ``txn.version`` committed for ``app_id``, or -1.  A
    restarted streaming writer calls this to skip micro-batches whose
    commit already landed — the protocol's exactly-once mechanism.
    Resolved from the full snapshot, so high-water marks survive log
    cleanup: the checkpoint carries ``txn`` rows (the protocol
    requires setTransaction actions to be preserved there).  A path
    holding no table yet has committed nothing: -1."""
    if _table_version(path) is None:
        return -1
    snap, _ = _snapshot(spark, path)
    return snap.txns.get(app_id, -1)


#: Writer features this implementation can honor.  ``appendOnly`` is
#: supported by REFUSING the operations it forbids (overwrite /
#: delete), which is all honoring it requires.  ``deletionVectors``
#: is honored everywhere a mutation touches file actions: removes
#: name the (path, dv) they tombstone, UPDATE/MERGE rewrites fold the
#: vector in, ``delete_where_delta`` writes new vectors, and VACUUM
#: never reclaims a referenced DV file.  ``timestampNtz`` needs no
#: writer behavior beyond writing NTZ parquet, which Spark does.
#: ``v2Checkpoint`` constrains only CHECKPOINT writing (commits stay
#: plain JSON) — appends/overwrites are compliant, and
#: ``checkpoint_delta`` refuses on such tables rather than writing a
#: spec-violating classic checkpoint.
_SUPPORTED_WRITER_FEATURES = {
    "appendOnly", "deletionVectors", "timestampNtz", "columnMapping",
    "v2Checkpoint", "checkConstraints", "generatedColumns",
    "changeDataFeed", "typeWidening", "typeWidening-preview",
    "identityColumns", "inCommitTimestamp",
    # clustering (r11): the clustered-table feature — clustering
    # columns live in delta.clustering domain metadata and OPTIMIZE
    # re-clusters on them (alter_cluster_by_delta); per the feature
    # spec, plain writes on a clustered table are legal as-written.
    "clustering",
    # rowTracking (r11): fresh base row ids on every commit's adds +
    # high-watermark domain metadata are maintained by
    # _apply_row_tracking on every commit path; operations that COPY
    # rows into new files (update/merge/optimize) are refused
    # per-operation below because this writer does not materialize
    # row ids into rewritten files.
    "rowTracking", "domainMetadata",
    # "supported" = the capability gate is PER DECLARATION, not per
    # protocol listing: a table whose protocol lists invariants but
    # declares none is writable; any ACTUALLY DECLARED invariant still
    # refuses in _check_write_protocol (_find_invariant) because this
    # writer does not evaluate invariant expressions.
    "invariants",
}
_MAX_SIMPLE_WRITER_VERSION = 2


def _check_write_protocol(snap: _Snapshot, operation: str) -> None:
    """Refuse to mutate a table whose protocol demands writer
    capabilities this implementation lacks (invariants, CDF, generated
    / identity columns...), and honor ``delta.appendOnly``.  CHECK
    constraints (``delta.constraints.*``) are SUPPORTED: every write
    path routes its logical rows through :func:`_constraint_guard`, so
    the write job fails on a violating row exactly as delta-spark's
    would (r7).  Column-mapped tables admit ``append`` /
    ``overwrite`` only (the writer renames to physical and stamps ids
    — see write_delta); their rewrite-style mutations stay refused.

    Legacy writer versions 3-6 bundle capabilities (3 CHECK
    constraints, 4 CDF + generated columns, 5 column mapping, 6
    identity columns); rather than refusing the VERSION, the gate
    checks whether each bundled capability is ACTUALLY USED by the
    table — a Databricks-default (2,5) mapped table with none of the
    rest configured is writable, one with CDF enabled is not."""
    proto = snap.protocol
    writer = int(proto.get("minWriterVersion", 1))
    feats = set(proto.get("writerFeatures") or [])
    unsupported = feats - _SUPPORTED_WRITER_FEATURES
    conf = (snap.metadata or {}).get("configuration") or {}
    schema_fields = (
        json.loads(snap.metadata["schemaString"]) if snap.metadata else {}
    ).get("fields")
    if writer > _MAX_SIMPLE_WRITER_VERSION:
        if writer == 7:
            if unsupported:
                raise ValueError(
                    "delta table requires unsupported writer capabilities: "
                    f"minWriterVersion=7 features={sorted(unsupported)} "
                    "(install delta-spark to write this table)"
                )
        elif writer <= 6:
            # changeDataFeed (writer v4) is SUPPORTED: mutations stage
            # row-level _change_data files (see _stage_cdc);
            # generated columns (writer v4) are ENFORCED, not refused
            # (see _constraint_guard); identity columns (writer v6)
            # are SUPPORTED since r9 — write_delta generates values
            # and maintains the high watermark (per-operation gate
            # below)
            pass
        else:
            raise ValueError(
                "delta table requires unsupported writer capabilities: "
                f"minWriterVersion={writer} (install delta-spark)"
            )
    # Identity columns (r9): append/overwrite GENERATE values and
    # advance the high watermark in the same commit (write_delta);
    # delete and optimize never mint rows so they pass untouched.
    # update/merge (r10, VERDICT r9 item #5): rewrites PRESERVE
    # existing identity values (explicit SET on the column refuses,
    # UPDATE * excludes it), merge INSERTs draw from the lattice and
    # advance the watermark in the same commit — see
    # _identity_merge_prep and the update_delta assignment guard.
    if _mapping_mode(snap) not in ("none", "") and operation not in (
        "append", "overwrite", "update", "delete", "merge", "optimize",
        "rename column", "drop column",  # metadata-only evolutions (r11)
        "enable row tracking",  # metadata-only backfill (r11)
        "cluster by",  # metadata-only layout intent (r11)
    ):
        raise ValueError(
            f"column-mapped table: {operation} is not implemented "
            "(install delta-spark for it)"
        )
    # Row tracking (r11): appends mint fresh base row ids and DELETE
    # only stacks DVs (file identity unchanged — ids stable), but
    # update/merge/optimize COPY surviving rows into new files, where
    # the protocol requires the copied rows' ids to be PRESERVED via
    # materialized row-id columns — not implemented, so those refuse
    # rather than silently re-mint (delta-spark preserves here).
    if conf.get("delta.enableRowTracking") == "true" and operation in (
        "update", "merge", "optimize",
    ):
        raise ValueError(
            f"row tracking is enabled: {operation} would copy rows "
            "into new files without materializing their row ids — "
            "use append/delete, or install delta-spark for preserved "
            "rewrites"
        )
    append_only = conf.get("delta.appendOnly") == "true" or (
        "appendOnly" in feats and conf.get("delta.appendOnly") != "false"
    )
    if append_only and operation in ("overwrite", "delete", "update", "merge"):
        raise ValueError(
            f"table is append-only (delta.appendOnly): {operation} refused"
        )
    # Column invariants (writer version >= 2 / the invariants feature)
    # are declared per-field in schemaString metadata.  This writer
    # does not EVALUATE invariant expressions, so the only safe move is
    # the same refuse-don't-misapply policy as reader features: a
    # blind append could silently violate a constraint a real Delta
    # writer would reject (ADVICE r5).
    inv = _find_invariant(
        (json.loads(snap.metadata["schemaString"]) if snap.metadata else {}).get(
            "fields"
        )
    )
    if inv is not None:
        raise ValueError(
            f"table declares a column invariant on {inv!r} "
            "(delta.invariants); this writer cannot enforce it — "
            "install delta-spark to write this table"
        )


def _find_field_metadata_key(fields, prefixes: tuple) -> str | None:
    """Tag of the first per-field capability in use across the schema
    (nested structs included): 'generatedColumns' for
    ``delta.generationExpression``, 'identityColumns' for any
    ``delta.identity.*``; None when neither appears."""
    for f in fields or []:
        for k in f.get("metadata") or {}:
            for p in prefixes:
                if k == p or (p.endswith(".") and k.startswith(p)):
                    return (
                        "generatedColumns"
                        if p == "delta.generationExpression"
                        else "identityColumns"
                    )
        t = f.get("type")
        if isinstance(t, dict) and t.get("type") == "struct":
            hit = _find_field_metadata_key(t.get("fields"), prefixes)
            if hit is not None:
                return hit
    return None


def _find_invariant(fields, prefix: str = "") -> str | None:
    """First field (dotted path) declaring ``delta.invariants`` in its
    metadata, searching nested structs; None when the schema declares
    no invariants."""
    for f in fields or []:
        name = prefix + (f.get("name") or "?")
        if "delta.invariants" in (f.get("metadata") or {}):
            return name
        t = f.get("type")
        if isinstance(t, dict) and t.get("type") == "struct":
            hit = _find_invariant(t.get("fields"), name + ".")
            if hit is not None:
                return hit
    return None


def _table_constraints(snap: _Snapshot) -> dict[str, str]:
    """The table's CHECK constraints: {name: sql_expr} from
    ``delta.constraints.<name>`` configuration keys."""
    conf = (snap.metadata or {}).get("configuration") or {}
    pre = "delta.constraints."
    return {k[len(pre):]: v for k, v in conf.items() if k.startswith(pre)}


def _generated_exprs(snap: _Snapshot) -> dict[str, str]:
    """Generated columns: {name: generation_sql} from top-level
    ``delta.generationExpression`` field metadata."""
    sj = json.loads(snap.metadata["schemaString"]) if snap.metadata else {}
    out = {}
    for f in sj.get("fields") or []:
        expr = (f.get("metadata") or {}).get("delta.generationExpression")
        if expr is not None:
            out[f["name"]] = expr
    return out


def _constraint_guard(df: DataFrame, snap: _Snapshot) -> DataFrame:
    """Enforce the table's CHECK constraints AND generated-column
    expressions on rows about to be written: a violating row fails the
    WRITE JOB.  Constraints use delta-spark's enforcement semantics —
    SQL three-valued logic, so a NULL evaluation PASSES; only an
    explicit FALSE violates.  Generated columns use delta-spark's
    provided-value rule: this writer's schema contract means every
    column is always provided, and a provided value must EQUAL the
    generation expression (null-safe), exactly what delta-spark checks
    when a generated column is supplied explicitly.  The guard rides
    the first output column, like the non-nullable guard, so column
    pruning can never elide it.  Runs on LOGICAL column names —
    callers apply it before any physical rename."""
    checks = _table_constraints(snap)
    gen = _generated_exprs(snap)
    if (not checks and not gen) or not df.schema.fields:
        return df
    first = df.schema.fields[0]
    guard = F.col(first.name)
    for name, expr in sorted(checks.items()):
        guard = F.when(
            ~F.coalesce(F.expr(expr), F.lit(True)),
            F.raise_error(
                F.lit(
                    f"CHECK constraint {name} ({expr}) violated by a "
                    "written row"
                )
            ).cast(first.dataType),
        ).otherwise(guard)
    for name, expr in sorted(gen.items()):
        want = F.expr(expr).cast(df.schema[name].dataType)
        guard = F.when(
            ~F.col(name).eqNullSafe(want),
            F.raise_error(
                F.lit(
                    f"generated column {name} does not match its "
                    f"generation expression ({expr})"
                )
            ).cast(first.dataType),
        ).otherwise(guard)
    return df.select(
        guard.alias(first.name),
        *[F.col(f.name) for f in df.schema.fields[1:]],
    )


def add_constraint_delta(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """``ALTER TABLE ADD CONSTRAINT``: verify every EXISTING row
    satisfies ``expr`` (delta-spark scans before admitting a
    constraint), then commit the ``delta.constraints.<name>``
    configuration — upgrading legacy protocols to minWriterVersion 3
    (the version that bundles CHECK constraints) when needed.  Later
    writes enforce it via :func:`_constraint_guard`."""
    snap, latest = _snapshot(spark, path)
    if name in _table_constraints(snap):
        raise ValueError(f"constraint {name!r} already exists")
    rels = sorted(snap.files)
    rows = _logical_scan(spark, path, snap, rels, _dv_map(path, snap, rels))
    violations = rows.filter(~F.coalesce(F.expr(expr), F.lit(True))).count()
    if violations:
        raise ValueError(
            f"cannot add CHECK constraint {name} ({expr}): "
            f"{violations} existing row(s) violate it"
        )
    md = dict(snap.metadata)
    conf = dict(md.get("configuration") or {})
    conf[f"delta.constraints.{name}"] = expr
    md["configuration"] = conf
    actions: list[dict] = []
    proto = snap.protocol or {}
    writer = int(proto.get("minWriterVersion", 1))
    feats = proto.get("writerFeatures")
    if writer < 3:
        actions.append(
            {"protocol": {
                "minReaderVersion": int(proto.get("minReaderVersion", 1)),
                "minWriterVersion": 3,
            }}
        )
    elif writer == 7 and "checkConstraints" not in (feats or []):
        actions.append(
            {"protocol": {
                **proto,
                "writerFeatures": sorted(
                    set(feats or []) | {"checkConstraints"}
                ),
            }}
        )
    actions.append({"metaData": md})
    return _commit_mutation(
        path, latest + 1, "ADD CONSTRAINT", {"name": name, "expr": expr},
        actions, snap,
    )


def alter_table_properties_delta(
    spark: SparkSession,
    path: str,
    set_props: dict[str, str] | None = None,
    unset: list[str] | None = None,
) -> int:
    """``ALTER TABLE SET/UNSET TBLPROPERTIES``: one metadata commit
    updating ``configuration`` (e.g. ``delta.enableChangeDataFeed``,
    ``delta.appendOnly``).  Constraint keys go through
    :func:`add_constraint_delta` instead — they need the existing-row
    verification scan."""
    bad = [k for k in (set_props or {}) if k.startswith("delta.constraints.")]
    if bad:
        raise ValueError(
            f"use add_constraint_delta for {bad} (existing rows must be "
            "verified)"
        )
    snap, latest = _snapshot(spark, path)
    md = dict(snap.metadata)
    conf = dict(md.get("configuration") or {})
    conf.update(set_props or {})
    for k in unset or []:
        conf.pop(k, None)
    md["configuration"] = conf
    # Enabling CDF must upgrade the protocol (delta-spark parity;
    # ADVICE r7): a legacy writer-v2 client could otherwise mutate the
    # table without writing cdc files, silently corrupting the feed.
    # minWriterVersion 4 bundles changeDataFeed; on v7 the named
    # writer feature carries it — mirrors add_constraint_delta.
    cdf_on = (
        str((set_props or {}).get("delta.enableChangeDataFeed", "")).lower()
        == "true"
    )
    # a commit may carry at most ONE protocol action (spec): both the
    # CDF and ICT enablements below mutate cur_proto and a single
    # action is appended at the end (r11 review finding — the earlier
    # shape appended one protocol per enablement, and the ICT one,
    # built from the PRE-commit snapshot, dropped the changeDataFeed
    # feature the first had just added)
    cur_proto = dict(snap.protocol or {})
    proto_changed = False
    if cdf_on:
        writer = int(cur_proto.get("minWriterVersion", 1))
        feats = cur_proto.get("writerFeatures")
        if writer < 4:
            cur_proto = {
                "minReaderVersion": int(
                    cur_proto.get("minReaderVersion", 1)
                ),
                "minWriterVersion": 4,
            }
            proto_changed = True
        elif writer == 7 and "changeDataFeed" not in (feats or []):
            cur_proto = {
                **cur_proto,
                "writerFeatures": sorted(
                    set(feats or []) | {"changeDataFeed"}
                ),
            }
            proto_changed = True
    version = latest + 1
    ict_on = (
        str((set_props or {}).get(_ICT_KEY, "")).lower() == "true"
        and ((snap.metadata or {}).get("configuration") or {}).get(_ICT_KEY)
        != "true"
    )
    if ict_on:
        # In-Commit Timestamps enablement (r11, the protocol's
        # ``inCommitTimestamp`` writer feature): the ENABLEMENT commit
        # itself must carry the first inCommitTimestamp, and the
        # enablement version/timestamp land in the configuration so
        # readers know where the mtime→ICT cutover sits.  The feature
        # is writer-side only — minReaderVersion stays; a legacy
        # protocol converts to writer-7 with its implied feature set.
        # (_apply_ict stamps this commit with the recorded timestamp)
        ict = max(int(time.time() * 1000), (_last_ict(path, version) or 0) + 1)
        conf[_ICT_ENABLED_AT] = str(version)
        conf[_ICT_ENABLED_TS] = str(ict)
        md["configuration"] = conf
        proto = cur_proto  # build on any CDF upgrade from this commit
        writer = int(proto.get("minWriterVersion", 1))
        feats = set(proto.get("writerFeatures") or [])
        if writer == 7:
            feats.add("inCommitTimestamp")
        else:
            # expand the legacy bundle into explicit features — but
            # only the capabilities the table ACTUALLY USES (the same
            # used-not-versioned philosophy as _check_write_protocol;
            # listing a dormant appendOnly would flip this engine's
            # conservative feature-implies-append-only gate, and a
            # dormant invariants/identity listing adds nothing)
            feats = {"inCommitTimestamp"}
            if conf.get("delta.appendOnly") == "true":
                feats.add("appendOnly")
            if any(k.startswith("delta.constraints.") for k in conf):
                feats.add("checkConstraints")
            if conf.get("delta.enableChangeDataFeed") == "true":
                feats.add("changeDataFeed")
            if (conf.get(_CMAP_MODE_KEY) or "none") != "none":
                feats.add("columnMapping")
            sj_fields = json.loads(md["schemaString"]).get("fields")
            # check the two per-field capabilities INDEPENDENTLY (a
            # table can carry both; the helper returns only the first)
            if _find_field_metadata_key(
                sj_fields, ("delta.generationExpression",)
            ):
                feats.add("generatedColumns")
            if _find_field_metadata_key(sj_fields, ("delta.identity.",)):
                feats.add("identityColumns")
        new_proto = {
            "minReaderVersion": int(proto.get("minReaderVersion", 1)),
            "minWriterVersion": 7,
            "writerFeatures": sorted(feats),
        }
        if new_proto["minReaderVersion"] >= 3 or proto.get(
            "readerFeatures"
        ) is not None:
            new_proto["minReaderVersion"] = 3
            new_proto["readerFeatures"] = sorted(
                set(proto.get("readerFeatures") or [])
            )
        cur_proto = new_proto
        proto_changed = True
    actions = [{"protocol": cur_proto}] if proto_changed else []
    return _commit_mutation(
        path, version, "SET TBLPROPERTIES",
        {"properties": json.dumps(set_props or {}),
         "unset": json.dumps(unset or [])},
        actions + [{"metaData": md}], snap,
    )


#: legal type widenings over Spark-JSON type names (the vocabulary
#: schemaString uses) — the integral ladder, float→double, and decimal
#: precision widening at fixed scale (the protocol's ``typeWidening``
#: feature set this engine can serve exactly: Spark's parquet reader
#: upcasts all of them natively, verified on this build)
_WIDEN_OK = {
    "byte": {"short", "integer", "long"},
    "short": {"integer", "long"},
    "integer": {"long"},
    "float": {"double"},
}
_WIDEN_DEC_RE = re.compile(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)")


def _legal_widening(frm, to) -> bool:
    if not (isinstance(frm, str) and isinstance(to, str)):
        return False
    if to in _WIDEN_OK.get(frm, ()):  # noqa: SIM118 — dict of sets
        return True
    mf = _WIDEN_DEC_RE.fullmatch(frm)
    mt = _WIDEN_DEC_RE.fullmatch(to)
    return bool(
        mf
        and mt
        and int(mf.group(2)) == int(mt.group(2))
        and int(mt.group(1)) >= int(mf.group(1))
    )


def widen_type_delta(
    spark: SparkSession, path: str, retype_columns: dict[str, str]
) -> int:
    """``ALTER TABLE ... ALTER COLUMN ... TYPE`` widening — the
    protocol's ``typeWidening`` reader+writer feature (r9, the Delta
    twin of ``evolve_iceberg(retype_columns=)``): ONE metadata commit
    rewrites ``schemaString`` with the wide types (Spark-JSON names —
    ``integer→long``, ``byte→short|integer|long``, ``short→integer|
    long``, ``float→double``, decimal precision widening at fixed
    scale; anything else refuses), records each transition in the
    field's ``delta.typeWidening`` metadata as the feature spec
    requires, and upgrades the protocol to reader 3 / writer 7 with
    ``typeWidening`` on BOTH lists — a legacy reader that ignored the
    wide declared type would misread narrow physicals, so the read
    gate must be explicit.  No data file is touched: old files keep
    their narrow physical types and Spark's parquet reader upcasts at
    scan.  Partition columns refuse (their log-serialized string
    values and stats spell the old width)."""
    if not retype_columns:
        raise ValueError("widen_type_delta: nothing to widen")
    snap, latest = _snapshot(spark, path)
    _check_write_protocol(snap, "widen")
    md = dict(snap.metadata)
    schema = json.loads(md["schemaString"])
    fields = [dict(f) for f in schema.get("fields") or []]
    by_name = {f["name"]: f for f in fields}
    part_cols = set(md.get("partitionColumns") or [])
    version = latest + 1
    for name, to in retype_columns.items():
        f = by_name.get(name)
        if f is None:
            raise ValueError(f"widen: no such column {name!r}")
        frm = f["type"]
        if frm == to:
            raise ValueError(f"widen: {name!r} is already {to}")
        if not _legal_widening(frm, to):
            raise ValueError(
                f"widen: {frm} → {to} on {name!r} is not a legal type "
                "widening (integral ladder, float→double, or decimal "
                "precision widening at fixed scale)"
            )
        if name in part_cols:
            raise ValueError(
                f"widen: {name!r} is a partition column (refused — "
                "log-serialized partition values and stats spell the "
                "old width)"
            )
        meta = dict(f.get("metadata") or {})
        meta["delta.typeWidening"] = list(
            meta.get("delta.typeWidening") or []
        ) + [{"fromType": frm, "toType": to, "tableVersion": version}]
        f["metadata"] = meta
        f["type"] = to
    schema["fields"] = fields
    md["schemaString"] = json.dumps(schema)
    StructType.fromJson(json.loads(md["schemaString"]))  # must round-trip
    actions: list[dict] = []
    proto = snap.protocol or {}
    rf = set(proto.get("readerFeatures") or [])
    wf = set(proto.get("writerFeatures") or [])
    if "typeWidening" not in rf or "typeWidening" not in wf:
        rf.add("typeWidening")
        wf.add("typeWidening")
        # upgrading a legacy protocol to (3, 7) must declare every
        # capability the table ACTUALLY uses (same policy as
        # _dv_protocol_upgrade)
        conf = md.get("configuration") or {}
        if "timestamp_ntz" in md["schemaString"]:
            rf.add("timestampNtz")
            wf.add("timestampNtz")
        if conf.get("delta.appendOnly") == "true":
            wf.add("appendOnly")
        if conf.get("delta.enableChangeDataFeed") == "true":
            wf.add("changeDataFeed")
        if any(k.startswith("delta.constraints.") for k in conf):
            wf.add("checkConstraints")
        if _find_field_metadata_key(
            fields, ("delta.generationExpression",)
        ) is not None:
            wf.add("generatedColumns")
        if _mapping_mode(snap) not in ("none", ""):
            rf.add("columnMapping")
            wf.add("columnMapping")
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(rf),
                    "writerFeatures": sorted(wf),
                }
            }
        )
    actions.append({"metaData": md})
    return _commit_mutation(
        path, version, "CHANGE COLUMN",
        {"columns": json.dumps(retype_columns)}, actions, snap,
    )


# ------------------------------------------------------ identity columns
#
# The protocol's identityColumns capability (legacy writer v6 / the
# writer-7 feature): a column the WRITER populates from per-field
# metadata — ``delta.identity.start`` / ``.step`` /
# ``.allowExplicitInsert`` — tracking the furthest value handed out in
# ``delta.identity.highWaterMark``, updated in the SAME commit as the
# data (a crashed writer can therefore never reuse a value).
# Generated values lie on the ``start + k·step`` lattice, are unique,
# and may have gaps (the documented contract); allocation here is
# CONTIGUOUS per batch — ``base .. base+step·(n-1)`` via
# :func:`_mint_identity_block` (ADVICE r10: the earlier
# ``monotonically_increasing_id`` mint left 2^33-sized holes per
# partition, burning the long lattice billions at a time) — and after
# an explicit insert the watermark rounds UP to the next lattice
# point beyond the inserted maximum so future generation cannot
# collide.


def _mint_identity_block(
    df: DataFrame, mints: dict[str, tuple[int, int]]
) -> DataFrame:
    """Contiguous identity allocation for CREATE/append staging
    (ADVICE r10 — the merge insert frame has its own NULL-fill twin in
    merge_clauses._mint_identity_contiguous): mint EXACTLY
    ``base .. base+step·(n-1)`` for the batch, for EVERY column in
    ``mints`` ({column: (base, step)}) over ONE pinned frame — one
    checkpoint, one count job, one broadcast join regardless of how
    many identity columns the table declares (r11 review finding: the
    per-column shape paid the whole pipeline k times).

    1. pin the batch with an EAGER localCheckpoint: the count pass and
       the staging pass must observe identical partition layout and
       intra-partition row order, or a nondeterministic source could
       shift rows between blocks and DUPLICATE a minted value;
    2. one planning-sized count-per-partition job builds the offset
       map (O(partitions) rows to the driver);
    3. each row's value is ``base + step·(offset[pid] + pos)`` where
       ``pos`` is monotonically_increasing_id's low 33 bits over the
       PINNED frame — the row's intra-partition position.  The offset
       map broadcast-joins on spark_partition_id, so the data side
       never shuffles and the whole mint adds one checkpoint pass,
       not a window sort."""
    import pandas as pd

    if not mints:
        return df
    spark = df.sparkSession
    df = df.localCheckpoint(eager=True)
    pid = F.spark_partition_id()
    counts = sorted(
        (int(r["_id_pid"]), int(r["n"]))
        for r in df.groupBy(pid.alias("_id_pid"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    if not counts:
        for column in sorted(mints):
            df = df.withColumn(column, F.lit(None).cast("long"))
        return df
    offs, run = [], 0
    for p, n in counts:
        offs.append((p, run))
        run += n
    omap = spark.createDataFrame(
        pd.DataFrame(offs, columns=["_id_pid", "_id_off"]),
        "_id_pid int, _id_off long",
    )
    pos = F.monotonically_increasing_id() - (
        pid.cast("long") * F.lit(1 << 33)
    )
    out = (
        df.withColumn("_id_pid", pid)
        .withColumn("_id_pos", pos)
        .join(F.broadcast(omap), "_id_pid")
    )
    for column, (base, step) in sorted(mints.items()):
        out = out.withColumn(
            column,
            (
                F.lit(int(base))
                + F.lit(int(step)) * (F.col("_id_off") + F.col("_id_pos"))
            ).cast("long"),
        )
    return out.drop("_id_pid", "_id_pos", "_id_off")


def _identity_specs(snap: _Snapshot) -> dict[str, dict]:
    """{column: {start, step, wm, allow_explicit}} for every top-level
    identity column the schema declares."""
    fields = (
        json.loads(snap.metadata["schemaString"]) if snap.metadata else {}
    ).get("fields") or []
    out: dict[str, dict] = {}
    for f in fields:
        md = f.get("metadata") or {}
        if not any(k.startswith("delta.identity.") for k in md):
            continue
        step = int(md.get("delta.identity.step", 1))
        if step == 0:
            raise ValueError(
                f"identity column {f['name']!r} declares step 0"
            )
        wm = md.get("delta.identity.highWaterMark")
        out[f["name"]] = {
            "start": int(md.get("delta.identity.start", 1)),
            "step": step,
            "wm": int(wm) if wm is not None else None,
            "allow_explicit": bool(
                md.get("delta.identity.allowExplicitInsert", False)
            ),
        }
    return out


def _identity_extremum(
    spark: SparkSession, path: str, adds: list[dict], col: str, step: int
):
    """The furthest ``col`` value (in step direction) among the staged
    ``add`` actions — from footer stats when present, by reading the
    staged files otherwise.  None when no rows landed."""
    vals = []
    missing = []
    key = "maxValues" if step > 0 else "minValues"
    for a in adds:
        add = a.get("add") or {}
        st = add.get("stats")
        v = (json.loads(st).get(key) or {}).get(col) if st else None
        if v is None:
            missing.append(os.path.join(path, urllib.parse.unquote(add["path"])))
        else:
            vals.append(int(v))
    if missing:
        agg = F.max(col) if step > 0 else F.min(col)
        row = spark.read.parquet(*missing).agg(agg).collect()[0]
        if row[0] is not None:
            vals.append(int(row[0]))
    if not vals:
        return None
    return max(vals) if step > 0 else min(vals)


def _identity_lattice_ceil(v: int, start: int, step: int) -> int:
    """The nearest lattice point ``start + k·step`` (k ≥ 0) at-or-
    beyond ``v`` in step direction."""
    if step > 0:
        k = max(0, -(-(v - start) // step))  # ceil((v-start)/step)
    else:
        k = max(0, -(-(start - v) // -step))  # ceil((start-v)/|step|)
    return start + k * step


def _identity_watermark_md(
    spark: SparkSession,
    path: str,
    snap: _Snapshot,
    specs: dict[str, dict],
    explicit: set,
    adds: list[dict],
) -> dict | None:
    """The updated ``metaData`` action body carrying the new
    ``delta.identity.highWaterMark`` per touched identity column, or
    None when nothing advanced (empty write)."""
    md = dict(snap.metadata)
    schema = json.loads(md["schemaString"])
    fields = [dict(f) for f in schema.get("fields") or []]
    # column-mapped tables: staged files and their footer stats spell
    # PHYSICAL names — translate before reading the extremum (r11,
    # VERDICT r10 item #8)
    _sch, _pc, _ren, l2p = _resolve_read_schema(snap)
    changed = False
    for f in fields:
        spec = specs.get(f["name"])
        if spec is None:
            continue
        ext = _identity_extremum(
            spark, path, adds, l2p.get(f["name"], f["name"]), spec["step"]
        )
        if ext is None:
            continue
        if f["name"] in explicit:
            # explicit values may sit off-lattice: round the watermark
            # UP to the next lattice point so generation never collides
            new_wm = _identity_lattice_ceil(
                ext, spec["start"], spec["step"]
            )
        else:
            new_wm = ext
        if spec["wm"] is not None:
            new_wm = (
                max(new_wm, spec["wm"])
                if spec["step"] > 0
                else min(new_wm, spec["wm"])
            )
        if new_wm != spec["wm"]:
            meta = dict(f.get("metadata") or {})
            meta["delta.identity.highWaterMark"] = int(new_wm)
            f["metadata"] = meta
            changed = True
    if not changed:
        return None
    schema["fields"] = fields
    md["schemaString"] = json.dumps(schema)
    return md


def _identity_merge_prep(
    snap: _Snapshot, source: DataFrame, clauses: list[dict], cols: list[str]
) -> tuple[DataFrame, list[dict], dict]:
    """Identity-column MERGE preparation (r10, VERDICT r9 item #5 —
    the refusal this replaces said "update/merge watermark maintenance
    is not implemented").  delta-spark-matching semantics:

    - an UPDATE clause whose ``set`` names an identity column refuses
      (identity values are writer-owned; delta-spark throws the same);
    - ``UPDATE *`` keeps the target's identity value: the None set is
      rewritten to an explicit per-column map EXCLUDING identity
      columns (by-source updates already keep target values);
    - a source missing the identity column gets it synthesized as
      NULL, so ``INSERT *`` means GENERATE for it; a source that
      CARRIES the column (or an insert ``set`` naming it) is an
      explicit insert — allowed only with
      ``delta.identity.allowExplicitInsert``, and the watermark then
      rounds up to the next lattice point past the inserted maximum;
    - generated values come from ``base + step·id`` with
      ``base = highWaterMark + step`` (gaps allowed — discarded
      candidates and id-block holes are the documented contract).

    Returns (source, clauses, gen_ident) where gen_ident feeds
    :func:`merge_clauses._plan_inserts`' NULL-fill generation."""
    specs = _identity_specs(snap)
    if not specs:
        return source, clauses, {}
    # column-mapped tables work too (r11, VERDICT r10 item #8): the
    # merge plans entirely over LOGICAL names (the scan renames back,
    # _stage_mutation renames forward via _to_physical_df), and the
    # watermark reader translates logical→physical where it touches
    # stats/files (_identity_watermark_md)
    insert_cl = [c for c in clauses if c["when"] == "not_matched"]
    out_clauses = []
    for cl in clauses:
        cl = dict(cl)
        if cl["action"] == "update":
            st = cl.get("set")
            if st is None:
                if cl["when"] == "matched":
                    # UPDATE *: take source values for every column
                    # EXCEPT identity (target value kept)
                    cl["set"] = {
                        c: f"s.`{c}`" for c in cols if c not in specs
                    }
            else:
                bad = sorted(set(st) & set(specs))
                if bad:
                    raise ValueError(
                        f"cannot UPDATE identity column(s) {bad}: identity "
                        "values are writer-owned"
                    )
        out_clauses.append(cl)
    gen_ident: dict[str, tuple[int, int]] = {}
    for name, spec in sorted(specs.items()):
        explicit = any(
            (cl.get("set") is None and name in source.columns)
            or name in (cl.get("set") or {})
            for cl in insert_cl
        )
        if explicit and not spec["allow_explicit"]:
            raise ValueError(
                f"identity column {name!r} does not allow explicit "
                "inserts (delta.identity.allowExplicitInsert) — drop the "
                "column from the merge source / insert set to generate"
            )
        if name not in source.columns:
            source = source.withColumn(name, F.lit(None).cast("long"))
        base = (
            spec["wm"] + spec["step"]
            if spec["wm"] is not None
            else spec["start"]
        )
        gen_ident[name] = (base, spec["step"])
    return source, out_clauses, gen_ident


def create_identity_delta(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    column: str,
    start: int = 1,
    step: int = 1,
    allow_explicit: bool = False,
    partition_by: list[str] | None = None,
) -> int:
    """CREATE a table with a ``GENERATED ... AS IDENTITY`` column (r9
    — the capability the r8 verdict listed as the connector's last
    refusal): ``column`` is appended to ``df``'s schema as a
    non-nullable long the WRITER populates — values for the initial
    rows are generated here, the identity metadata and the
    ``identityColumns`` writer feature (reader 1 / writer 7) land in
    the v0 commit, and the high watermark rides the same commit.
    Later ``write_delta`` appends generate automatically."""
    if step == 0:
        raise ValueError("identity step must be nonzero")
    if column in df.columns:
        raise ValueError(
            f"the identity column {column!r} is writer-populated; the "
            "create df must not carry it"
        )
    partition_by = list(partition_by or [])
    if column in partition_by:
        raise ValueError("cannot partition by the identity column")
    if _table_version(path) is not None:
        raise FileExistsError(f"delta table already exists at {path}")
    df2 = _mint_identity_block(df, {column: (int(start), int(step))})
    schema = json.loads(df2.schema.json())
    for f in schema["fields"]:
        if f["name"] == column:
            f["nullable"] = False
            f["metadata"] = {
                "delta.identity.start": int(start),
                "delta.identity.step": int(step),
                "delta.identity.allowExplicitInsert": bool(allow_explicit),
            }
    os.makedirs(path, exist_ok=True)
    adds = _stage_files(df2, path, partition_by, 0)
    ext = _identity_extremum(spark, path, adds, column, int(step))
    if ext is not None:
        for f in schema["fields"]:
            if f["name"] == column:
                f["metadata"]["delta.identity.highWaterMark"] = int(ext)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "CREATE TABLE",
                "operationParameters": {
                    "identity": json.dumps(
                        {"column": column, "start": start, "step": step}
                    )
                },
            }
        },
        {
            "protocol": {
                "minReaderVersion": 1,
                "minWriterVersion": 7,
                "writerFeatures": ["identityColumns"],
            }
        },
        {
            "metaData": {
                "id": uuid.uuid4().hex,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema),
                "partitionColumns": partition_by,
                "configuration": {},
                "createdTime": int(time.time() * 1000),
            }
        },
    ]
    actions.extend(adds)
    return _commit_create(path, actions, _action_files(path, adds))


def drop_constraint_delta(spark: SparkSession, path: str, name: str) -> int:
    """``ALTER TABLE DROP CONSTRAINT``: remove the configuration key;
    existing data is untouched and later writes stop enforcing it."""
    snap, latest = _snapshot(spark, path)
    if name not in _table_constraints(snap):
        raise ValueError(f"no CHECK constraint named {name!r}")
    md = dict(snap.metadata)
    conf = dict(md.get("configuration") or {})
    del conf[f"delta.constraints.{name}"]
    md["configuration"] = conf
    return _commit_mutation(
        path, latest + 1, "DROP CONSTRAINT", {"name": name},
        [{"metaData": md}], snap,
    )


def _check_schema_compat(
    df: DataFrame, snap: _Snapshot, partition_by: list[str],
    skip_null_check: set | None = None,
) -> DataFrame:
    """Append/overwrite must match the table's declared schema and
    partitioning exactly (no schema evolution support): a mismatched
    append would otherwise read back with NULLs where the log schema
    and the file schema disagree — silent corruption, where an error
    is the correct behavior.

    Nullability is enforced at RUNTIME, not by refusal: Spark types
    every file-source read as nullable, so refusing nullable write
    columns would refuse every read→transform→overwrite round-trip on
    a non-nullable table.  Instead each declared-non-nullable column
    whose write side is nullable-typed gets a null guard in the plan
    (Spark's own ``AssertNotNull`` semantics) — the WRITE JOB fails if
    an actual NULL appears, so no NULL ever lands where the log schema
    says none can exist (ADVICE r5).  Returns the (possibly guarded)
    DataFrame to write.

    ``skip_null_check``: columns exempted from the null guard — the
    identity MERGE path validates its source through here, where a
    synthesized NULL identity column MEANS "generate" and the real
    non-null enforcement happens at the staged write (the generated
    frame still flows through this guard on its way to parquet)."""
    declared = StructType.fromJson(json.loads(snap.metadata["schemaString"]))
    want = {f.name: f.dataType.simpleString() for f in declared.fields}
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    if want != got:
        raise ValueError(
            f"schema mismatch: table declares {want}, write has {got} "
            "(this writer does not implement schema evolution)"
        )
    guard = [
        f.name
        for f in declared.fields
        if not f.nullable
        and df.schema[f.name].nullable
        and f.name not in (skip_null_check or set())
    ]
    if guard:
        df = df.select(
            *[
                F.when(
                    F.col(f.name).isNull(),
                    F.raise_error(
                        F.lit(
                            f"NULL value for non-nullable column {f.name!r} "
                            "(delta schema enforcement)"
                        )
                    ).cast(f.dataType),
                )
                .otherwise(F.col(f.name))
                .alias(f.name)
                if f.name in guard
                else F.col(f.name)
                for f in df.schema.fields
            ]
        )
    declared_parts = list(snap.metadata.get("partitionColumns") or [])
    if list(partition_by) != declared_parts:
        raise ValueError(
            f"partitioning mismatch: table is partitioned by "
            f"{declared_parts}, write passed {list(partition_by)}"
        )
    return df


def _merged_schema(df: DataFrame, snap: _Snapshot) -> StructType | None:
    """``mergeSchema`` semantics, ADDITIVE only: every declared column
    must appear in the write with its declared type; genuinely new
    columns append (nullable — old files read them as NULL).  Returns
    the merged schema, or None when the write already matches.  Type
    changes and column drops refuse — widening/renaming is delta-spark
    territory."""
    declared = StructType.fromJson(json.loads(snap.metadata["schemaString"]))
    got = {f.name: f for f in df.schema.fields}
    for f in declared.fields:
        if f.name not in got:
            raise ValueError(
                f"mergeSchema cannot drop column {f.name!r} — the write "
                "must carry every declared column"
            )
        if got[f.name].dataType.simpleString() != f.dataType.simpleString():
            raise ValueError(
                f"mergeSchema cannot change {f.name!r} from "
                f"{f.dataType.simpleString()} to "
                f"{got[f.name].dataType.simpleString()}"
            )
    new = [f for f in df.schema.fields if f.name not in {x.name for x in declared.fields}]
    if not new:
        return None
    from pyspark.sql.types import StructField as _SF

    return StructType(
        list(declared.fields)
        + [_SF(f.name, f.dataType, True) for f in new]
    )


def _evolved_mapped_json(
    evolved: StructType, snap: _Snapshot
) -> tuple[dict, int]:
    """schemaString JSON for an ADDITIVE mergeSchema on a mapped
    table: declared fields keep their mapping metadata verbatim, each
    genuinely-new field (nested subtree included) gets fresh column
    ids past ``delta.columnMapping.maxColumnId`` and ``col-<uuid>``
    physical names — the assignment the refusal used to punt to
    delta-spark.  Returns (schema_json, new_max_id)."""
    sj = json.loads(snap.metadata["schemaString"])
    known = {f["name"] for f in sj.get("fields") or []}
    conf = (snap.metadata or {}).get("configuration") or {}
    declared_max = max(
        [
            int((f.get("metadata") or {}).get(_CMAP_ID_KEY) or 0)
            for f in sj.get("fields") or []
        ]
        or [0]
    )
    counter = [
        max(int(conf.get("delta.columnMapping.maxColumnId") or 0),
            declared_max)
    ]
    fields = list(sj.get("fields") or [])
    for f in evolved.fields:
        if f.name in known:
            continue
        node = json.loads(StructType([f]).json())["fields"][0]
        node = _assign_mapping({"type": "struct", "fields": [node]},
                               counter)["fields"][0]
        fields.append(node)
    return {**sj, "fields": fields}, counter[0]


def write_delta(
    df: DataFrame,
    path: str,
    mode: str = "error",
    partition_by: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    merge_schema: bool = False,
    read_version: int | None = None,
) -> int:
    """Write ``df`` to a Delta table at ``path``; returns the committed
    version.  ``mode``: ``error`` (table must not exist), ``append``,
    or ``overwrite`` (tombstones every currently-active file).
    Existing-table writes validate the writer protocol (unsupported
    writer features are refused, ``delta.appendOnly`` is honored) and
    the declared schema/partitioning (no silent evolution unless
    ``merge_schema=True``, which admits ADDITIVE evolution: new
    nullable columns commit an updated ``metaData`` in the same
    version, and readers see NULLs for old files — the protocol's
    schema-evolution shape; type changes and drops still refuse).

    ``txn=(app_id, version)`` embeds the protocol's ``txn`` action for
    idempotent streaming appends: if ``version`` is not strictly
    greater than :func:`last_txn_version` for the app, the write is a
    NO-OP returning the current latest version — a crashed-and-retried
    micro-batch lands exactly once.

    ``read_version`` is the table version ``df`` was derived from (a
    read-check-write).  The write then commits only as version
    ``read_version + 1``: if the table has moved past it, or another
    writer claims that version first, it raises :class:`CommitConflict`
    and is never rebased — the caller re-reads and re-checks.  Writes
    that read nothing pass nothing.

    The commit goes through :func:`.table_io.commit_loop`.  When a
    rival claims the version first, a blind append (``append``, no
    schema evolution, no ``read_version``) lands on top of the
    winners unless one of them changed metadata/protocol or already
    applied its ``txn``; a create raises ``FileExistsError`` and every
    other write :class:`CommitConflict`.  A write that commits nothing
    unlinks the data files it staged."""
    partition_by = list(partition_by or [])
    spark = df.sparkSession
    if mode not in ("error", "overwrite", "append"):
        raise ValueError(f"unknown mode: {mode}")
    latest = _table_version(path)
    if latest is not None and mode == "error":
        raise FileExistsError(f"delta table already exists at {path}")
    if read_version is not None and latest != read_version:
        raise CommitConflict(
            f"table at {path} moved to version {latest} after this write "
            f"read version {read_version} — re-read and retry"
        )
    snap: _Snapshot | None = None
    evolved: StructType | None = None
    evolved_sj: dict | None = None
    evolved_max_id = 0
    id_specs: dict[str, dict] = {}
    id_explicit: set[str] = set()
    if latest is not None:
        # Snapshot BEFORE committing: version numbering, protocol and
        # schema checks, txn dedup, and overwrite tombstones all need
        # it — and it must include the checkpoint (a checkpoint-only
        # table is still an existing table; basing the next version on
        # JSON files alone would commit version 0 over live state).
        snap, _ = _snapshot(spark, path, latest)
        op = "overwrite" if mode == "overwrite" else "append"
        _check_write_protocol(snap, op)
        if merge_schema:
            evolved = _merged_schema(df, snap)
            if evolved is not None and _mapping_mode(snap) not in (
                "none", "",
            ):
                # mapped evolution: the new columns need column ids +
                # physical names assigned past the table's maxColumnId
                evolved_sj, evolved_max_id = _evolved_mapped_json(
                    evolved, snap
                )
        id_specs = _identity_specs(snap)
        if id_specs:
            if evolved is not None:
                raise ValueError(
                    "identity columns + merge_schema evolution in one "
                    "write is not implemented"
                )
            to_mint: dict[str, tuple[int, int]] = {}
            for name, spec in sorted(id_specs.items()):
                if name in df.columns:
                    if not spec["allow_explicit"]:
                        raise ValueError(
                            f"identity column {name!r} does not allow "
                            "explicit inserts "
                            "(delta.identity.allowExplicitInsert)"
                        )
                    id_explicit.add(name)
                    continue
                base = (
                    spec["wm"] + spec["step"]
                    if spec["wm"] is not None
                    else spec["start"]
                )
                to_mint[name] = (int(base), int(spec["step"]))
            df = _mint_identity_block(df, to_mint)
            declared_order = [
                f["name"]
                for f in json.loads(snap.metadata["schemaString"])["fields"]
            ]
            extra = set(df.columns) - set(declared_order)
            if extra:
                # the reorder below would silently DROP them otherwise
                raise ValueError(
                    "write has columns not in the table schema: "
                    f"{sorted(extra)}"
                )
            df = df.select(*declared_order)
        if evolved is None:
            df = _check_schema_compat(df, snap, partition_by)
        else:
            declared_parts = list(snap.metadata.get("partitionColumns") or [])
            if partition_by != declared_parts:
                raise ValueError(
                    f"partitioning mismatch: table is partitioned by "
                    f"{declared_parts}, write passed {partition_by}"
                )
            # column ORDER in the log follows the merged schema
            df = df.select(*[f.name for f in evolved.fields])
        if txn is not None and int(txn[1]) <= snap.txns.get(txn[0], -1):
            return latest
        df = _constraint_guard(df, snap)  # CHECK constraints (r7)
    os.makedirs(path, exist_ok=True)
    version = (latest + 1) if latest is not None else 0
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "WRITE",
                "operationParameters": {"mode": mode.upper()},
            }
        }
    ]
    if txn is not None:
        actions.append({"txn": {"appId": txn[0], "version": int(txn[1])}})
    if version == 0:
        actions.append(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        )
        actions.append(
            {
                "metaData": {
                    "id": uuid.uuid4().hex,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": df.schema.json(),
                    "partitionColumns": partition_by,
                    "configuration": {},
                    "createdTime": int(time.time() * 1000),
                }
            }
        )
    else:
        if evolved is not None:
            # schema evolution commits the new metaData in the SAME
            # version as the data it admits — readers never see data
            # files the declared schema can't describe
            md = dict(snap.metadata)
            if evolved_sj is not None:
                md["schemaString"] = json.dumps(evolved_sj)
                conf = dict(md.get("configuration") or {})
                conf["delta.columnMapping.maxColumnId"] = str(
                    evolved_max_id
                )
                md["configuration"] = conf
            else:
                md["schemaString"] = evolved.json()
            actions.append({"metaData": md})
        if mode == "overwrite":
            actions.extend(
                _removes(snap, sorted(snap.files), int(time.time() * 1000))
            )
    stage_df, stage_parts = df, partition_by
    if snap is not None and _mapping_mode(snap) not in ("none", ""):
        # column-mapped table: files/partitionValues/stats must spell
        # PHYSICAL names (+ parquet ids in id mode); validation above
        # ran against the LOGICAL schema
        sj = (
            evolved_sj
            if evolved_sj is not None
            else json.loads(snap.metadata["schemaString"])
        )
        stage_df = _to_physical_df(df, sj, _mapping_mode(snap))
        l2p = {
            f["name"]: (f.get("metadata") or {}).get(_CMAP_PHYS_KEY, f["name"])
            for f in sj["fields"]
        }
        stage_parts = [l2p[c] for c in partition_by]
    adds = _stage_files(stage_df, path, stage_parts, version)
    if snap is not None and id_specs:
        # the high watermark MUST ride the same commit as the rows it
        # covers — a crash between the two could otherwise hand the
        # same identity value out twice
        md_wm = _identity_watermark_md(
            spark, path, snap, id_specs, id_explicit, adds
        )
        if md_wm is not None:
            actions.append({"metaData": md_wm})
    actions.extend(adds)
    ict_conf = (
        (snap.metadata or {}).get("configuration") if snap is not None
        else None
    )

    def claim() -> int:
        # inject per ATTEMPT: a rebase moves `version`, and the
        # in-commit timestamp must exceed the NEW predecessor's
        _commit(
            path, version,
            _apply_row_tracking(
                path, version,
                _apply_ict(path, version, actions, ict_conf), snap,
            ),
        )
        return version

    def rebase() -> int | None:
        # delta-spark's winning-commit reconciliation for a BLIND
        # append (mode="append", no schema evolution riding along, no
        # read_version): it read nothing, so it lands on top of the
        # winners unless one changed metadata/protocol (the append's
        # schema validation is stale then) or already applied this
        # (appId, version)
        nonlocal version
        if snap is None:  # racing CREATE: the table now exists
            raise FileExistsError(f"delta table already exists at {path}")
        if _rt_supported(snap):
            # a row-tracked append reads the id high watermark from its
            # snapshot — a rebase onto a concurrent commit could
            # re-issue ids that commit already minted
            raise CommitConflict(
                f"concurrent writer committed version {version} while "
                "this row-tracked append was in flight — re-run against "
                "the current table state"
            )
        latest2 = _table_version(path)
        for w in range(version, latest2 + 1):
            for a in _version_actions(path, w):
                if "metaData" in a or "protocol" in a:
                    raise CommitConflict(
                        f"concurrent commit {w} changed table "
                        "metadata/protocol while this append was in "
                        "flight — re-validate the write and retry"
                    )
                if (
                    txn is not None
                    and "txn" in a
                    and a["txn"].get("appId") == txn[0]
                    and int(a["txn"].get("version", -1)) >= int(txn[1])
                ):
                    return w
        version = latest2 + 1
        return None

    # a create, an overwrite, an evolving append and any write carrying
    # read_version lose deterministically: FileExistsError for the
    # create (the documented contract), CommitConflict for the rest
    rebases = snap is None or (
        mode == "append" and evolved is None and read_version is None
    )
    return commit_loop(
        claim, _action_files(path, adds), rebase if rebases else None
    )


def _assign_mapping(node, counter: list[int], phys=None):
    """schemaString subtree with ``delta.columnMapping.id`` /
    ``.physicalName`` metadata assigned to EVERY struct field (the
    spec requires both on all fields when mapping is enabled), ids
    sequential via ``counter``.  ``phys`` picks each field's physical
    name — default fresh ``col-<uuid>`` (CREATE); the UPGRADE path
    passes the field's CURRENT name, because the already-written data
    files spell exactly that."""
    if phys is None:
        phys = lambda f: f"col-{uuid.uuid4()}"  # noqa: E731
    if isinstance(node, dict):
        t = node.get("type")
        if t == "struct":
            fields = []
            for f in node.get("fields") or []:
                counter[0] += 1
                fields.append(
                    {
                        **f,
                        "type": _assign_mapping(f["type"], counter, phys),
                        "metadata": {
                            **(f.get("metadata") or {}),
                            "delta.columnMapping.id": counter[0],
                            _CMAP_PHYS_KEY: phys(f),
                        },
                    }
                )
            return {"type": "struct", "fields": fields}
        if t == "array":
            return {
                **node,
                "elementType": _assign_mapping(
                    node["elementType"], counter, phys
                ),
            }
        if t == "map":
            return {
                **node,
                "keyType": _assign_mapping(node["keyType"], counter, phys),
                "valueType": _assign_mapping(
                    node["valueType"], counter, phys
                ),
            }
    return node


def create_mapped_delta(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "name",
) -> dict[str, str]:
    """CREATE a Delta table with column mapping (``name`` or ``id``
    mode): every field gets a ``col-<uuid>`` physical name and a
    sequential column id in schemaString metadata, the data files /
    ``partitionValues`` keys / stats keys are written PHYSICAL (id
    mode additionally stamps parquet field ids into the files — the
    thing id-mode readers match on), and the legacy protocol
    ``(2, 5)`` signals the capability — the exact on-disk shape a
    Databricks-default writer produces, which is what makes this the
    reader's interop fixture.  Returns the top-level
    logical→physical assignment.  Rename / drop evolution — the
    reason id+physicalName exist — lives in
    :func:`rename_column_delta` / :func:`drop_column_delta` (r11),
    and :func:`upgrade_column_mapping_delta` retrofits mapping onto a
    plain table so ANY table can evolve."""
    if _table_version(path) is not None:
        raise FileExistsError(f"delta table already exists at {path}")
    if mode not in ("name", "id"):
        raise ValueError(f"unknown column mapping mode {mode!r}")
    partition_by = list(partition_by or [])
    counter = [0]
    mapped_json = _assign_mapping(json.loads(df.schema.json()), counter)
    # id mode: the files must record parquet field ids (that is what
    # readers match on there) — ride them in via alias metadata /
    # metadata-bearing nested casts, exactly like the Iceberg writer
    df_phys = _to_physical_df(df, mapped_json, mode)
    l2p = {
        f["name"]: f["metadata"][_CMAP_PHYS_KEY]
        for f in mapped_json["fields"]
    }
    os.makedirs(path, exist_ok=True)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "WRITE",
                "operationParameters": {"mode": "ERROR"},
            }
        },
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": uuid.uuid4().hex,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(mapped_json),
                "partitionColumns": partition_by,
                "configuration": {
                    _CMAP_MODE_KEY: mode,
                    "delta.columnMapping.maxColumnId": str(counter[0]),
                },
                "createdTime": int(time.time() * 1000),
            }
        },
    ]
    adds = _stage_files(df_phys, path, [l2p[c] for c in partition_by], 0)
    actions.extend(adds)
    _commit_create(path, actions, _action_files(path, adds))
    return l2p


def _evolution_refs_guard(snap: _Snapshot, names: set[str], op: str) -> None:
    """Refuse a rename/drop that would orphan a reference: CHECK
    constraints (``delta.constraints.*`` configuration values) and
    generated-column expressions are SQL strings over the CURRENT
    logical names — delta-spark refuses these evolutions too rather
    than silently breaking enforcement."""
    import re as _re

    conf = (snap.metadata or {}).get("configuration") or {}
    exprs = {
        k: v for k, v in conf.items() if k.startswith("delta.constraints.")
    }
    for f in json.loads(snap.metadata["schemaString"]).get("fields") or []:
        ge = (f.get("metadata") or {}).get("delta.generationExpression")
        if ge:
            exprs[f"generation of {f['name']!r}"] = ge
    for where, expr in sorted(exprs.items()):
        for n in sorted(names):
            # NOTE: no backtick in the lookbehind — a backquoted
            # reference (`price` > 0, normal Spark SQL output) must
            # still match (r11 review finding: the earlier class
            # included ` and made quoted references invisible to the
            # guard; over-matching inside a longer quoted identifier
            # only over-refuses, the safe direction)
            if _re.search(rf"(?<![A-Za-z0-9_]){_re.escape(n)}(?![A-Za-z0-9_])", expr):
                raise ValueError(
                    f"cannot {op} column {n!r}: referenced by {where} "
                    f"({expr!r}) — drop the constraint / generated "
                    "column first"
                )


def upgrade_column_mapping_delta(spark: SparkSession, path: str) -> int:
    """ALTER TABLE ... SET TBLPROPERTIES
    (``delta.columnMapping.mode = 'name'``) on an EXISTING unmapped
    table (r11) — the delta-spark upgrade that unlocks RENAME/DROP
    COLUMN: every field (nested included) gets a column id and a
    physicalName equal to its CURRENT name (the already-written data
    files spell exactly that, so the upgrade is metadata-only and
    zero-copy), maxColumnId lands in the configuration, and the
    protocol gains the capability — legacy ``(2, 5)`` floor, or the
    ``columnMapping`` reader+writer feature on a features protocol.
    Post-upgrade appends keep writing the SAME physical names until a
    rename moves the logical one; files written after a rename still
    spell the stable physical name, which is the whole point."""
    snap, latest = _snapshot(spark, path)
    if _mapping_mode(snap) not in ("none", ""):
        raise ValueError("table already has column mapping enabled")
    _check_write_protocol(snap, "upgrade-mapping")
    sj = json.loads(snap.metadata["schemaString"])
    counter = [0]
    mapped = _assign_mapping(sj, counter, phys=lambda f: f["name"])
    md = dict(snap.metadata)
    md["schemaString"] = json.dumps(mapped)
    conf = dict(md.get("configuration") or {})
    conf[_CMAP_MODE_KEY] = "name"
    conf["delta.columnMapping.maxColumnId"] = str(counter[0])
    md["configuration"] = conf
    proto = snap.protocol
    r = int(proto.get("minReaderVersion", 1))
    w = int(proto.get("minWriterVersion", 1))
    if w == 7 or proto.get("writerFeatures") is not None:
        rf = set(proto.get("readerFeatures") or [])
        wf = set(proto.get("writerFeatures") or [])
        rf.add("columnMapping")
        wf.add("columnMapping")
        new_proto = {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(rf),
            "writerFeatures": sorted(wf),
        }
    else:
        new_proto = {
            "minReaderVersion": max(r, 2),
            "minWriterVersion": max(w, 5),
        }
    return _commit_mutation(
        path, latest + 1, "SET TBLPROPERTIES",
        {"properties": json.dumps({_CMAP_MODE_KEY: "name"})},
        [{"protocol": new_proto}, {"metaData": md}], snap,
    )


def rename_column_delta(
    spark: SparkSession, path: str, renames: dict[str, str]
) -> int:
    """ALTER TABLE ... RENAME COLUMN (r11): metadata-only on a
    column-mapped table — the field's LOGICAL name changes while its
    column id and physicalName stay, so no data file is touched and
    every existing file keeps resolving (delta-spark's exact
    mechanic).  Renamed partition columns update
    ``partitionColumns`` (logical names there; the log's
    partitionValues key physical names and stand).  Refuses: unmapped
    tables (run :func:`upgrade_column_mapping_delta` first), unknown
    columns, collisions, and names referenced by CHECK constraints or
    generated columns."""
    snap, latest = _snapshot(spark, path)
    _check_write_protocol(snap, "rename column")
    if _mapping_mode(snap) in ("none", ""):
        raise ValueError(
            "RENAME COLUMN needs column mapping — run "
            "upgrade_column_mapping_delta first (delta-spark requires "
            "the same)"
        )
    sj = json.loads(snap.metadata["schemaString"])
    by_name = {f["name"]: f for f in sj.get("fields") or []}
    for old, new in sorted(renames.items()):
        if old not in by_name:
            raise ValueError(f"no such column: {old!r}")
        if new in by_name and new not in renames:
            raise ValueError(f"column {new!r} already exists")
    if len(set(renames.values())) != len(renames):
        raise ValueError("rename targets collide")
    _evolution_refs_guard(snap, set(renames), "rename")
    fields = []
    for f in sj.get("fields") or []:
        if f["name"] in renames:
            f = {**f, "name": renames[f["name"]]}
        fields.append(f)
    seen = [f["name"] for f in fields]
    if len(set(seen)) != len(seen):
        raise ValueError(f"rename would collide logical names: {seen}")
    sj = {**sj, "fields": fields}
    md = dict(snap.metadata)
    md["schemaString"] = json.dumps(sj)
    md["partitionColumns"] = [
        renames.get(c, c) for c in md.get("partitionColumns") or []
    ]
    return _commit_mutation(
        path, latest + 1, "RENAME COLUMN",
        {"renames": json.dumps(dict(sorted(renames.items())))},
        [{"metaData": md}], snap,
    )


def drop_column_delta(
    spark: SparkSession, path: str, columns: list[str] | str
) -> int:
    """ALTER TABLE ... DROP COLUMN (r11): metadata-only on a
    column-mapped table — the field leaves the schema, the physical
    column stays in the already-written files and readers simply stop
    projecting it (delta-spark's mechanic; VACUUM-style physical
    reclamation is a rewrite, not a drop).  Refuses: unmapped tables,
    partition columns, identity columns (writer-owned state rides the
    field), the last remaining column, and names referenced by CHECK
    constraints or generated columns."""
    if isinstance(columns, str):
        columns = [columns]
    snap, latest = _snapshot(spark, path)
    _check_write_protocol(snap, "drop column")
    if _mapping_mode(snap) in ("none", ""):
        raise ValueError(
            "DROP COLUMN needs column mapping — run "
            "upgrade_column_mapping_delta first (delta-spark requires "
            "the same)"
        )
    sj = json.loads(snap.metadata["schemaString"])
    by_name = {f["name"]: f for f in sj.get("fields") or []}
    parts = set(snap.metadata.get("partitionColumns") or [])
    for c in columns:
        if c not in by_name:
            raise ValueError(f"no such column: {c!r}")
        if c in parts:
            raise ValueError(f"cannot drop partition column {c!r}")
        if any(
            k.startswith("delta.identity.")
            for k in (by_name[c].get("metadata") or {})
        ):
            raise ValueError(f"cannot drop identity column {c!r}")
    _evolution_refs_guard(snap, set(columns), "drop")
    fields = [f for f in sj.get("fields") or [] if f["name"] not in set(columns)]
    if not fields:
        raise ValueError("cannot drop every column")
    md = dict(snap.metadata)
    md["schemaString"] = json.dumps({**sj, "fields": fields})
    return _commit_mutation(
        path, latest + 1, "DROP COLUMNS",
        {"columns": json.dumps(sorted(columns))}, [{"metaData": md}], snap,
    )


def delete_partition(
    spark: SparkSession, path: str, column: str, value: str
) -> int:
    """Metadata-only partition delete: tombstone every active file
    whose ``partitionValues[column] == value`` (no data file touched —
    the O(1)-data delete an open table format exists to provide)."""
    snap, latest = _snapshot(spark, path)
    _check_write_protocol(snap, "delete")
    # partitionValues spell stored (physical) keys on mapped tables
    col_stored = _resolve_read_schema(snap)[3].get(column, column)
    return _commit_mutation(
        path, latest + 1, "DELETE",
        {"predicate": f"{column} = '{value}'"}, [], snap,
        removed=[
            rel for rel in sorted(snap.files)
            if snap.partition_values(rel).get(col_stored) == value
        ],
    )


def update_delta(
    spark: SparkSession,
    path: str,
    condition,
    assignments: dict,
) -> tuple[int, int]:
    """Copy-on-write UPDATE: set ``assignments`` (column → literal) on
    every row matching ``condition``, rewriting ONLY the data files
    that contain matched rows — one commit of remove(old file) +
    add(rewritten file), every other file untouched.  This is
    delta-spark's ``DeltaTable.update`` cost model (O(files-with-
    matches), not O(table)) on the dependency-free log: at 100 TB a
    point update rewrites the one file holding the row, never the
    table (VERDICT r5 "what's wrong" #1 / missing #3).

    Returns ``(version, matched)``; ``matched == 0`` commits nothing
    and returns the current latest version.  A rewritten file's
    deletion vector is FOLDED IN (the new file contains only live
    rows, the remove names the old (path, dv)).  ``delta.appendOnly``
    and unsupported writer features refuse, like every mutation."""
    snap, latest = _snapshot(spark, path)
    _check_write_protocol(snap, "update")
    schema = StructType.fromJson(json.loads(snap.metadata["schemaString"]))
    cols = {f.name for f in schema.fields}
    bad = set(assignments) - cols
    if bad:
        raise ValueError(f"UPDATE assigns unknown columns: {sorted(bad)}")
    ident = sorted(set(assignments) & set(_identity_specs(snap)))
    if ident:
        # identity values are writer-owned (delta-spark throws the
        # same); rewrites PRESERVE untouched columns, so an update that
        # doesn't name the column keeps every row's value (r10)
        raise ValueError(
            f"cannot UPDATE identity column(s) {ident}: identity values "
            "are writer-owned"
        )
    rels = sorted(snap.files)
    dv_map = _dv_map(path, snap, rels)
    tagged = _logical_scan(spark, path, snap, rels, dv_map, tags=(FILE,))
    # File basenames holding >=1 matched row.  The collect is bounded
    # by the table's active-file count (planning-sized state, the same
    # bound the snapshot replay itself carries), and for the intended
    # point/selective updates it is a handful of names.
    hit_names = {
        r[FILE]
        for r in tagged.filter(condition).select(FILE).distinct().collect()
    }
    if not hit_names:
        return latest, 0
    hit_rels = [
        rel for rel, b in zip(rels, basenames(rels)) if b in hit_names
    ]
    types = {f.name: f.dataType for f in schema.fields}
    rows = _logical_scan(
        spark, path, snap, hit_rels, _dv_map(path, snap, hit_rels)
    )
    matched = rows.filter(condition).count()
    updated = rows
    for c, v in assignments.items():
        updated = updated.withColumn(
            c,
            F.when(condition, F.lit(v).cast(types[c])).otherwise(F.col(c)),
        )
    cdc_actions: list[dict] = []
    if _cdf_enabled(snap) and matched:
        pre = rows.filter(condition).withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = rows.filter(condition)
        for c, v in assignments.items():
            post = post.withColumn(c, F.lit(v).cast(types[c]))
        post = post.withColumn("_change_type", F.lit("update_postimage"))
        cdc_actions = _stage_cdc(pre.unionByName(post), snap, path)
    version = latest + 1
    actions = _stage_mutation(updated, snap, path, version) + cdc_actions
    _commit_mutation(
        path, version, "UPDATE",
        {"predicate": str(condition), "rewrittenFiles": len(hit_rels)},
        actions, snap, removed=hit_rels,
        staged=_action_files(path, actions),
    )
    return version, matched


def _dv_protocol_upgrade(snap: _Snapshot) -> dict | None:
    """Protocol action declaring the deletionVectors feature (reader 3
    / writer 7 per spec) ahead of the first DV write; None when the
    table already declares it.  Existing feature lists are preserved;
    a legacy (1,2) table gets the features it ACTUALLY uses declared
    (appendOnly iff configured, timestampNtz iff the schema holds an
    NTZ column) — invariants are impossible here because this writer
    refuses invariant-declaring tables outright."""
    proto = snap.protocol
    rf = set(proto.get("readerFeatures") or [])
    wf = set(proto.get("writerFeatures") or [])
    if "deletionVectors" in rf and "deletionVectors" in wf:
        return None
    rf.add("deletionVectors")
    wf.add("deletionVectors")
    schema_str = (snap.metadata or {}).get("schemaString") or ""
    if "timestamp_ntz" in schema_str:
        rf.add("timestampNtz")
        wf.add("timestampNtz")
    conf = (snap.metadata or {}).get("configuration") or {}
    if conf.get("delta.appendOnly") == "true":
        wf.add("appendOnly")
    return {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(rf),
            "writerFeatures": sorted(wf),
        }
    }


def _dv_files(path: str, written: list) -> list[str]:
    """The deletion-vector files :func:`_stage_dv_bitmaps` wrote."""
    return [_dv_file_path(path, json.loads(r["descriptor"])) for r in written]


def _dv_readds(
    snap: _Snapshot, rels: list[str], written: list
) -> tuple[list[dict], list[str]]:
    """The re-adds of the files :func:`_stage_dv_bitmaps` gave a new
    vector, each carrying it, and the paths whose old (path, dv) the
    commit removes."""
    rel_of = dict(zip(basenames(rels), rels))
    written = sorted(written, key=lambda r: r[FILE])
    touched = [rel_of[r[FILE]] for r in written]
    readds = [
        {"add": {**snap.files[rel],
                 "deletionVector": json.loads(r["descriptor"]),
                 "dataChange": True}}
        for rel, r in zip(touched, written)
    ]
    return readds, touched


def _stage_dv_bitmaps(
    spark: SparkSession, path: str, hits: DataFrame, dv_map: dict | None
) -> list:
    """Write one merged deletion-vector bitmap per touched file,
    EXECUTOR-side (one ``applyInPandas`` group per file — the VERDICT
    r6 contract shared by DELETE and merge-on-read MERGE).  ``hits``
    is ``(FILE, POS)`` rows of NEWLY-dead positions,
    already disjoint from the old vectors because the scan they came
    from subtracted those.  Returns the collected per-file descriptor
    rows — O(touched files), never O(positions)."""
    import pandas as pd

    # ship each touched file's OLD descriptor alongside its hits so the
    # group task decodes exactly that one bitmap where it runs
    if dv_map:
        hits = hits.join(
            F.broadcast(_dv_descriptor_df(spark, dv_map)), FILE, "left"
        )
    else:
        hits = (
            hits.withColumn("_dv_st", F.lit(None).cast("string"))
            .withColumn("_dv_p", F.lit(None).cast("string"))
            .withColumn("_dv_off", F.lit(None).cast("long"))
            .withColumn("_dv_sz", F.lit(None).cast("long"))
            .withColumn("_dv_card", F.lit(None).cast("long"))
        )
    root = path

    def _write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        base = pdf[FILE].iloc[0]
        st = pdf["_dv_st"].iloc[0]
        old: list[int] = []
        if isinstance(st, str) and st:
            old = _load_dv_positions(
                root,
                {
                    "storageType": st,
                    "pathOrInlineDv": pdf["_dv_p"].iloc[0],
                    "offset": int(pdf["_dv_off"].iloc[0]),
                    "sizeInBytes": int(pdf["_dv_sz"].iloc[0]),
                    "cardinality": int(pdf["_dv_card"].iloc[0]),
                },
            )
        new = pdf[POS].astype("int64").tolist()
        # hits are disjoint from `old` (see docstring), so the union's
        # size is the simple sum
        merged = sorted(set(old) | set(new))
        dv = write_dv_file(root, merged)
        return pd.DataFrame(
            [{FILE: base, "n_new": len(set(new)),
              "descriptor": json.dumps(dv)}]
        )

    return (
        hits.groupBy(FILE)
        .applyInPandas(
            _write_group, f"{FILE} string, n_new long, descriptor string"
        )
        .collect()  # O(touched files), never O(positions)
    )


def delete_where_delta(spark: SparkSession, path: str, condition) -> tuple[int, int]:
    """Merge-on-read DELETE: write DELETION VECTORS for the matched
    row positions instead of rewriting any data file — each affected
    file's commit is remove(path, old dv) + add(path, new dv), where
    the new vector is the union of the old positions and this
    predicate's hits.  On a 100 TB table a 0.1 % delete costs one
    bitmap write per touched file, not a multi-TB rewrite; readers
    subtract the vectors until a compaction (``update_delta`` or an
    overwrite) folds them in.  The first DV write upgrades the table
    protocol to (3, 7) + deletionVectors, exactly as delta-spark does
    when ``delta.enableDeletionVectors`` kicks in.

    Returns ``(version, n_deleted)``; no match commits nothing.
    Matched positions NEVER pass through the driver: each touched
    file's new bitmap (old positions ∪ this predicate's hits) is
    merged and written EXECUTOR-side by one ``applyInPandas`` group
    per file, and only the O(touched files) descriptor rows return to
    the driver for the commit (VERDICT r6).  A retried task can leave
    an orphan ``deletion_vector_*.bin`` behind (only the surviving
    attempt's descriptor is committed) — vacuum reclaims those by
    mtime, the same contract a crashed commit has."""
    snap, latest = _snapshot(spark, path)
    _check_write_protocol(snap, "delete")
    rels = sorted(snap.files)
    dv_map = _dv_map(path, snap, rels)
    tagged = _logical_scan(
        spark, path, snap, rels, dv_map, tags=(FILE, POS)
    )
    written = _stage_dv_bitmaps(
        spark, path,
        tagged.filter(condition).select(FILE, POS),
        dv_map,
    )
    if not written:
        return latest, 0
    staged = _dv_files(path, written)
    actions: list[dict] = []
    if _cdf_enabled(snap):
        actions = _stage_cdc(
            tagged.filter(condition)
            .drop(FILE, POS)
            .withColumn("_change_type", F.lit("delete")),
            snap, path,
        )
        staged += _action_files(path, actions)
    upgrade = _dv_protocol_upgrade(snap)
    if upgrade:
        actions.append(upgrade)
    readds, touched = _dv_readds(snap, rels, written)
    version = _commit_mutation(
        path, latest + 1, "DELETE", {"predicate": str(condition)},
        actions + readds, snap, removed=touched, staged=staged,
    )
    return version, sum(int(r["n_new"]) for r in written)


def _merge_params(on: list[str], clauses, **extra) -> dict:
    """A MERGE commit's ``operationParameters``."""
    return {
        "matchedPredicates": json.dumps(on),
        "clauses": json.dumps(
            [{k: v for k, v in cl.items() if k != "set"} for cl in clauses]
        ),
        **extra,
    }


def _merge_delta_mor(  # gen_ident threaded from merge_delta's prep
    spark, path, snap, latest, source, on, clauses, cols, types,
    target, rels, cand_rels, matched_cl, bysrc_cond, txn,
    gen_ident: dict | None = None,
) -> dict:
    """merge_delta's MERGE-ON-READ body: no hit-FILE discovery, no
    rewrites — plan the touched ROWS over the stats-pruned candidate
    scan (a by-source clause widens it back to the full table), extend
    each touched file's deletion vector executor-side, append
    postimages + inserts, one commit.  Only O(touched files)
    descriptor rows and the O(#clauses) census reach the driver."""
    from .merge_clauses import plan_merge_mor

    scan_rels = (
        rels if bysrc_cond is not None
        else (sorted(cand_rels) if matched_cl else [])
    )
    tagged = _logical_scan(
        spark, path, snap, scan_rels, _dv_map(path, snap, scan_rels),
        tags=(FILE, POS),
    )
    want_cdc = _cdf_enabled(snap)
    planned = plan_merge_mor(
        tagged, source, on, clauses, cols, types, target.select(*on),
        [FILE, POS], want_changes=want_cdc,
        gen_ident=gen_ident,
    )
    touched, new_rows, stats = planned[0], planned[1], planned[2]
    if not (stats["updated"] or stats["deleted"] or stats["inserted"]):
        # zero rows changed: no commit (version churn + spurious
        # file-diff CDF derivation otherwise — same contract as COW)
        return {"version": latest, "updated": 0, "deleted": 0,
                "inserted": 0}
    written = []
    if stats["updated"] or stats["deleted"]:
        written = _stage_dv_bitmaps(
            spark, path, touched, _dv_map(path, snap, scan_rels)
        )
    cdc_actions: list[dict] = []
    if want_cdc and len(planned) > 3 and planned[3] is not None:
        cdc_actions = _stage_cdc(planned[3], snap, path)
    version = latest + 1
    actions: list[dict] = []
    if written:
        upgrade = _dv_protocol_upgrade(snap)
        if upgrade:
            actions.append(upgrade)
    readds, touched = _dv_readds(snap, rels, written)
    actions.extend(readds)
    adds = _stage_mutation(new_rows, snap, path, version)
    if gen_ident:
        # watermark in the same commit as the minted values (see the
        # COW twin above)
        md_wm = _identity_watermark_md(
            spark, path, snap, _identity_specs(snap), set(gen_ident), adds
        )
        if md_wm is not None:
            actions.append({"metaData": md_wm})
    actions.extend(adds)
    actions.extend(cdc_actions)
    if txn is not None:
        actions.append({"txn": {"appId": txn[0], "version": int(txn[1])}})
    _commit_mutation(
        path, version, "MERGE",
        _merge_params(on, clauses, strategy="merge-on-read"), actions, snap,
        removed=touched,
        staged=_dv_files(path, written) + _action_files(
            path, adds + cdc_actions
        ),
    )
    return {"version": version, **stats}


def merge_delta(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: list[str],
    clauses: list[dict] | tuple | None = None,
    txn: tuple[str, int] | None = None,
    strategy: str = "cow",
) -> dict:
    """MERGE with delta-spark's clause surface, copy-on-write by
    default; ``strategy="mor"`` (r8) merges MERGE-ON-READ with
    deletion vectors, delta-spark 3.1's DV-backed MERGE: NO data file
    rewrites — touched rows (update or delete clauses; an update is
    DV-kill + re-insert) extend each hit file's deletion vector
    (bitmaps written executor-side, the DELETE path's machinery),
    update postimages + inserts append as new files, one commit.
    Commit cost rides the changed rows, not the hit-file bytes (the
    Delta twin of ``merge_iceberg(strategy="mor")``; SCALE.md r8);
    readers pay the DV debt until OPTIMIZE folds it.  On a
    CDF-enabled table both strategies stage IDENTICAL cdc rows.

    ``clauses`` is an ordered list (FIRST matching clause wins per
    row, delta-spark's semantics) of::

        {"when": "matched",               "action": "update",
         "set": {col: sql_expr} | None,   "condition": sql | None}
        {"when": "matched",               "action": "delete",
         "condition": sql | None}
        {"when": "not_matched",           "action": "insert",
         "set": {col: sql_expr} | None,   "condition": sql | None}
        {"when": "not_matched_by_source", "action": "update"|"delete",
         "set": ..., "condition": sql | None}

    Conditions and SET expressions are SQL strings over the aliased
    sides — ``t.<col>`` (target) and ``s.<col>`` (source); a
    ``not_matched`` condition sees only ``s.*``, a
    ``not_matched_by_source`` condition only ``t.*``.  ``set: None``
    means UPDATE/INSERT ``*``.  Default clauses = unconditional
    update-all + insert-all (the classic upsert, back-compatible).

    Cost model: only the data files containing rows a matched clause
    may rewrite — or rows a by-source clause actually hits — are
    rewritten (their untouched rows carried, existing DVs folded in);
    qualifying unmatched source rows stage as new files; everything
    commits atomically as remove+add in ONE version.

    ``source`` must match the table schema exactly and be UNIQUE on
    ``on`` (a duplicate-key source is refused — the protocol's
    multiple-matches error).  NULL join keys never match (standard
    SQL equality): null-keyed source rows are "not matched",
    null-keyed target rows are "not matched by source".  Returns
    {"version", "updated", "deleted", "inserted"}.

    ``txn=(app_id, version)`` embeds the protocol's ``txn`` action
    exactly as :func:`write_delta` does: if ``version`` is not greater
    than :func:`last_txn_version` for the app, the merge is a replayed
    micro-batch and is skipped without a commit — the idempotence
    half of foreachBatch exactly-once streaming MERGE (r8)."""
    from .merge_clauses import (
        DEFAULT_CLAUSES,
        bysource_hit_condition,
        check_clauses,
        pin,
        plan_merge,
        source_key_bounds,
    )

    if strategy not in ("cow", "mor"):
        raise ValueError(f"unknown merge strategy {strategy!r}")
    snap, latest = _snapshot(spark, path)
    if txn is not None and int(txn[1]) <= snap.txns.get(txn[0], -1):
        return {
            "version": latest, "updated": 0, "deleted": 0,
            "inserted": 0, "skipped": True,
        }
    _check_write_protocol(snap, "merge")
    schema = StructType.fromJson(json.loads(snap.metadata["schemaString"]))
    part_cols = list(snap.metadata.get("partitionColumns") or [])
    cols = [f.name for f in schema.fields]
    types = {f.name: f.dataType for f in schema.fields}
    clauses = [dict(c) for c in (clauses or DEFAULT_CLAUSES)]
    # identity columns (r10): synthesize a NULL source column for
    # generated inserts, rewrite UPDATE * to keep target values,
    # gate explicit inserts — BEFORE schema-compat sees the source
    source, clauses, gen_ident = _identity_merge_prep(
        snap, source, clauses, cols
    )
    source = _check_schema_compat(
        source, snap, part_cols, skip_null_check=set(gen_ident)
    )
    check_clauses(clauses, cols)
    source = pin(source)  # ONCE: the planning below re-reads it
    matched_cl = [c for c in clauses if c["when"] == "matched"]
    ranges = source_key_bounds(source, on)
    rels = sorted(snap.files)
    dv_map = _dv_map(path, snap, rels)
    target = _logical_scan(spark, path, snap, rels, dv_map, tags=(FILE,))
    # hit files = rewrite set: files with source-matched rows (any
    # matched clause may touch them) ∪ files whose UNmatched rows some
    # by-source clause's condition actually hits — never the whole
    # table just because a by-source clause exists.
    cand_rels = rels
    if matched_cl:
        cand_rels, _ = prune_by_bounds(
            rels, _stats_bounds(snap, _resolve_read_schema(snap)[3]), ranges
        )
    bysrc_cond = bysource_hit_condition(clauses)
    if strategy == "mor":
        return _merge_delta_mor(
            spark, path, snap, latest, source, on, clauses, cols, types,
            target, rels, cand_rels, matched_cl, bysrc_cond, txn,
            gen_ident=gen_ident,
        )
    # matched-hit and by-source-hit discovery UNIONED into one collect
    # (r12, item #4): one driver action instead of two when a clause
    # list carries both shapes; set-union == distinct-of-union.
    hit_probes = []
    if matched_cl:
        cand = (
            target
            if cand_rels == rels
            else _logical_scan(
                spark, path, snap, sorted(cand_rels),
                _dv_map(path, snap, cand_rels), tags=(FILE,),
            )
        )
        hit_probes.append(
            cand.join(source.select(*on), on, "left_semi").select(FILE)
        )
    if bysrc_cond is not None:
        hit_probes.append(
            target.alias("t")
            .join(source.select(*on), on, "left_anti")
            .filter(bysrc_cond)
            .select(FILE)
        )
    hit_names: set[str] = set()
    if hit_probes:
        probe = hit_probes[0]
        for p in hit_probes[1:]:
            probe = probe.unionByName(p)
        hit_names = {
            r[FILE]
            for r in probe.distinct().collect()
            # bounded by the table's active-file count
        }
    hit_rels = [
        rel for rel, b in zip(rels, basenames(rels)) if b in hit_names
    ]
    hit_rows = _logical_scan(
        spark, path, snap, hit_rels, _dv_map(path, snap, hit_rels)
    )
    want_cdc = _cdf_enabled(snap)
    planned = plan_merge(
        hit_rows, source, on, clauses, cols, types, target.select(*on),
        want_changes=want_cdc, gen_ident=gen_ident,
    )
    new_data, stats = planned[0], planned[1]
    if not (stats["updated"] or stats["deleted"] or stats["inserted"]):
        # Zero rows changed (every clause condition missed): skip the
        # commit entirely, mirroring merge_iceberg's early return
        # (ADVICE r7 ×2).  Committing here would be version churn, and
        # on a CDF-enabled table the dataChange remove+add rewrite of
        # hit files with NO cdc actions would make file-diff-deriving
        # CDF readers (including read_delta_changes) surface carried
        # rows as spurious delete+insert pairs.
        return {"version": latest, "updated": 0, "deleted": 0, "inserted": 0}
    cdc_actions: list[dict] = []
    if want_cdc and planned[2] is not None and (
        stats["updated"] or stats["deleted"] or stats["inserted"]
    ):
        cdc_actions = _stage_cdc(planned[2], snap, path)
    n_updated, n_deleted, n_inserted = (
        stats["updated"], stats["deleted"], stats["inserted"],
    )
    version = latest + 1
    actions: list[dict] = []
    adds = _stage_mutation(new_data, snap, path, version)
    if gen_ident:
        # the watermark rides the SAME commit as the minted values —
        # the same crash-safety contract as write_delta's appends;
        # lattice-ceil rounding makes explicit off-lattice inserts safe
        md_wm = _identity_watermark_md(
            spark, path, snap, _identity_specs(snap), set(gen_ident), adds
        )
        if md_wm is not None:
            actions.append({"metaData": md_wm})
    actions.extend(adds)
    actions.extend(cdc_actions)
    if txn is not None:
        actions.append({"txn": {"appId": txn[0], "version": int(txn[1])}})
    _commit_mutation(
        path, version, "MERGE",
        _merge_params(on, clauses, rewrittenFiles=len(hit_rels)), actions,
        snap, removed=hit_rels,
        staged=_action_files(path, adds + cdc_actions),
    )
    return {
        "version": version,
        "updated": n_updated,
        "deleted": n_deleted,
        "inserted": n_inserted,
    }


def _zorder_column(rows: DataFrame, cols: list[str], bits: int = 8):
    """Morton (z-curve) key over up to 4 numeric/date columns: each
    column scales to a ``bits``-bit bucket via its own min/max (one
    tiny agg job — OPTIMIZE is a maintenance pass), then the buckets'
    bits interleave.  Range-partitioning + sorting the rewrite on this
    key gives every written file a ~√bucket-tight min/max span on
    EVERY clustered column, so predicates on any of them prune files
    (the same reason delta-spark's OPTIMIZE ZORDER exists).  String
    columns refuse: hashing them would destroy the locality the curve
    exists to create."""
    if not 1 <= len(cols) <= 4:
        raise ValueError("zorder_by takes 1-4 columns")
    for c in cols:
        t = rows.schema[c].dataType.simpleString()
        if t not in ("int", "bigint", "smallint", "tinyint", "double",
                     "float", "date", "timestamp", "timestamp_ntz"):
            raise ValueError(
                f"zorder_by column {c!r} has type {t}; z-ordering needs "
                "an ordered numeric/date axis (strings would lose "
                "locality under hashing — refuse, don't mislead)"
            )
    nums = {c: F.col(c).cast("double") for c in cols}
    agg = rows.agg(
        *[F.min(nums[c]).alias(f"lo_{c}") for c in cols],
        *[F.max(nums[c]).alias(f"hi_{c}") for c in cols],
    ).first()
    zval = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        lo = float(agg[f"lo_{c}"] or 0.0)
        hi = float(agg[f"hi_{c}"] or 0.0)
        span = (hi - lo) or 1.0
        bucket = F.least(
            F.lit((1 << bits) - 1),
            F.floor((nums[c] - F.lit(lo)) / F.lit(span) * ((1 << bits) - 1)),
        ).cast("long")
        for i in range(bits):
            zval = zval + F.shiftleft(
                F.shiftright(bucket, i).bitwiseAND(1), i * len(cols) + j
            )
    return zval


def optimize_delta(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_filter: dict | None = None,
    zorder_by: list[str] | None = None,
) -> dict:
    """OPTIMIZE (bin-packing compaction): within each partition, groups
    of small files (and any file carrying a deletion vector) are
    rewritten into ~``target_file_bytes`` files.  Both the removes and
    the adds carry ``dataChange: false`` — the protocol's signal that
    the commit rearranges bytes without changing rows, so an
    incremental/streaming consumer skips it entirely.  Deletion
    vectors are folded into the rewrite (compaction is the read-debt
    payoff for merge-on-read deletes).  The small-file problem this
    solves is the audit-table pattern: one coalesced file per
    append/flush, thousands of flushes — at 100 TB an un-compacted
    table pays per-file open cost on every scan.

    ``partition_filter`` scopes the pass (compact only today's
    partition).  ``zorder_by`` additionally CLUSTERS the rewrite on a
    Morton curve over 1-4 numeric/date columns (delta-spark's
    ``OPTIMIZE ... ZORDER BY``): every selected file rewrites,
    range-partitioned + sorted on the interleaved key, so each output
    file's footer min/max is tight on EVERY clustered column and
    ``read_delta_range`` prunes on any of them.  Returns {"version",
    "files_before", "files_after", "partitions_compacted"}; nothing
    to do commits nothing."""
    snap, latest = _snapshot(spark, path)
    _check_write_protocol(snap, "optimize")  # adds/removes no ROWS —
    # passes the appendOnly gate (pure rearrangement)
    if zorder_by is None:
        # a CLUSTERED table (alter_cluster_by_delta) declares its
        # layout intent in domain metadata — a bare OPTIMIZE honors
        # it, delta-spark's clustered-table behavior (r11)
        zorder_by = _clustering_columns(snap) or None
    # stored (physical on mapped tables) partition keys drive grouping;
    # callers filter by LOGICAL name
    _sch, part_stored, _ren, l2p = _resolve_read_schema(snap)
    flt = (
        {l2p.get(c, c): v for c, v in partition_filter.items()}
        if partition_filter else None
    )
    by_part: dict[tuple, list[str]] = {}
    for rel in sorted(snap.files):
        pv = snap.partition_values(rel)
        if flt and not _part_match(pv, flt):
            continue
        by_part.setdefault(
            tuple(pv.get(c) for c in part_stored), []
        ).append(rel)
    version = latest + 1
    removed: list[str] = []
    adds: list[dict] = []
    n_parts = 0
    for key, rels in sorted(by_part.items(), key=lambda kv: str(kv[0])):
        has_dv = any(
            int((snap.files[r].get("deletionVector") or {}).get("cardinality") or 0)
            for r in rels
        )
        small = [
            r for r in rels
            if int(snap.files[r].get("size") or 0) < target_file_bytes
        ]
        if zorder_by:
            # re-clustering rewrites EVERY selected file — row order is
            # the point, not just file count
            group = sorted(rels)
        else:
            # compact when >1 small file can merge, or a DV needs folding
            group = sorted(set(small) | {
                r for r in rels if snap.files[r].get("deletionVector")
            }) if (len(small) > 1 or has_dv) else []
            if len(group) < (1 if has_dv else 2):
                continue
        if not group:
            continue
        total = sum(int(snap.files[r].get("size") or 0) for r in group)
        n_out = max(1, -(-total // target_file_bytes))
        rows = _logical_scan(
            spark, path, snap, group, _dv_map(path, snap, group)
        )
        if zorder_by:
            rows = (
                rows.withColumn("_dl_zval", _zorder_column(rows, zorder_by))
                .repartitionByRange(n_out, "_dl_zval")
                .sortWithinPartitions("_dl_zval")
                .drop("_dl_zval")
            )
        else:
            rows = rows.coalesce(n_out)
        adds += _stage_mutation(
            rows, snap, path, version, data_change=False
        )
        removed += group
        n_parts += 1
    if not n_parts:
        return {"version": latest, "files_before": 0, "files_after": 0,
                "partitions_compacted": 0}
    _commit_mutation(
        path, version, "OPTIMIZE", {"targetSize": target_file_bytes}, adds,
        snap, removed=removed, staged=_action_files(path, adds),
        data_change=False,
    )
    return {"version": version, "files_before": len(removed),
            "files_after": len(adds), "partitions_compacted": n_parts}


def _version_actions(path: str, version: int) -> list[dict]:
    """The actions of one commit.  A missing version JSON refuses: a
    gap in the log makes the change set of any range spanning it
    unreconstructable, and reading on would stream the gap as silence
    (VERDICT r6 item #6)."""
    vf = _version_file(path, version)
    if not os.path.isfile(vf):
        raise ValueError(
            f"version {version} JSON is gone (log cleaned up) — the "
            "change feed for this range is unreconstructable; restart "
            "a stream from a fresh checkpoint"
        )
    with open(vf) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _live_dv(add: dict | None) -> dict | None:
    """The add's deletion-vector descriptor, or None when it has none
    or an empty one."""
    dv = (add or {}).get("deletionVector")
    return dv if dv and int(dv.get("cardinality") or 0) else None


def _plan_changes(path: str, state: _Snapshot, lo: int, hi: int):
    """The per-version change classifier under both change readers —
    :func:`read_delta_changes` (Spark scans) and the ``delta_stream``
    change-feed tail (per-file executor reads).  Yields ``(version,
    units)`` for each version in ``(lo, hi]``, with ``state`` holding
    the before-state of that version while the caller consumes it
    (old deletion vectors, removed files' add records); the state is
    advanced through the version when the generator resumes.  Each
    unit is ``(kind, rel, action, dv, old_dv)``:

    - ``cdc``: a ``_change_data`` file (``action`` = the cdc action);
      a cdc-carrying commit is read from its change files EXCLUSIVELY
      (the protocol's rule — deriving from add/remove too would
      double-count);
    - ``insert``: a ``dataChange`` add — its live rows (``dv``
      subtracted) are inserts;
    - ``delete``: a ``dataChange`` remove — the old add's (``action``)
      previously-live rows (its ``dv`` subtracted) are deletes;
    - ``dv``: a remove+re-add of the same path with a changed deletion
      vector — newly-dead positions (``dv`` minus ``old_dv``) are
      deletes and newly-LIVE positions (``old_dv`` minus ``dv``: a
      shrunk, cleared or replaced vector, e.g. RESTORE re-adding the
      file without its DV) are inserts (ADVICE r8: non-growing
      transitions were silently dropped).

    ``dataChange: false`` actions (OPTIMIZE) are skipped — that is
    what the flag exists for — and so is a re-add whose DV uid is
    unchanged: no row changed, and emitting the file's rows as fresh
    inserts with no matching delete would double-count (ADVICE r6)."""
    for v in range(lo + 1, hi + 1):
        acts = _version_actions(path, v)
        units = [("cdc", a["cdc"]["path"], a["cdc"], None, None)
                 for a in acts if "cdc" in a]
        if not units:
            adds = {a["add"]["path"]: a["add"] for a in acts if "add" in a}
            removes = {
                a["remove"]["path"]: a["remove"] for a in acts if "remove" in a
            }
            for p, a in adds.items():
                if not a.get("dataChange", True):
                    continue
                if p not in removes:
                    units.append(("insert", p, a, _live_dv(a), None))
                elif _dv_uid(a.get("deletionVector")) != _dv_uid(
                    removes[p].get("deletionVector")
                ):
                    new, old = _live_dv(a), _live_dv(state.files.get(p))
                    if new or old:
                        units.append(("dv", p, a, new, old))
            for p, r in removes.items():
                if not r.get("dataChange", True) or p in adds:
                    continue
                old_a = state.files.get(p)
                if old_a is not None:
                    units.append(("delete", p, old_a, _live_dv(old_a), None))
        yield v, units
        for a in acts:
            state.apply(a)


def _name_layers(units: list[tuple]) -> list[dict[str, tuple]]:
    """Split change units ``(rel, version, ...)`` into layers, in range
    order, in which each file basename occurs once: one scan per layer
    can then key per-file values on ``_metadata.file_name``.  A
    basename recurs only when the range re-adds a path (RESTORE),
    changes one file's vector twice, or holds equal names in two
    partitions."""
    layers: list[dict[str, tuple]] = []
    for u in units:
        base = os.path.basename(urllib.parse.unquote(u[0]))
        layer = next((la for la in layers if base not in la), None)
        if layer is None:
            layer = {}
            layers.append(layer)
        layer[base] = u
    return layers


def _file_map(layer: dict[str, tuple], value):
    """A map literal from each basename of ``layer`` to ``value(unit)``,
    to be indexed by a ``FILE`` column."""
    return F.create_map(*[
        F.lit(x) for base, u in sorted(layer.items()) for x in (base, value(u))
    ])


def read_delta_changes(
    spark: SparkSession,
    path: str,
    starting_version: int,
    ending_version: int | None = None,
) -> DataFrame:
    """Row-level changes committed in ``(starting_version,
    ending_version]`` — the incremental-consumer read, Delta CDF's
    shape.  Output columns: the table schema + ``_change_type`` +
    ``_commit_version``.  Each commit is classified by
    :func:`_plan_changes`:

    - a commit carrying ``cdc`` actions is read from its
      ``_change_data`` files, whose rows carry their own
      ``_change_type``.  ``update_delta``, ``delete_where_delta`` and
      ``merge_delta`` stage these files (``_stage_cdc``) on CDF-enabled
      tables, so an UPDATE or MERGE surfaces as ``update_preimage`` /
      ``update_postimage`` pairs plus ``insert`` and ``delete`` rows;
    - any other commit derives its changes from the log's file diffs:
      ``dataChange`` adds are ``insert``, ``dataChange`` removes are
      ``delete`` (old DV applied), and a deletion-vector transition on
      a surviving file emits exactly its newly-dead positions as
      ``delete`` and its newly-live ones as ``insert``.  A
      copy-on-write rewrite on a table without CDF therefore surfaces
      as delete+insert pairs for the rewritten files, the standard
      file-granular CDC contract; consumers key-dedupe downstream;
    - ``dataChange: false`` actions (OPTIMIZE) are skipped.

    Intended for short version ranges (a catch-up's batch).  The plan
    holds one scan per change kind for the whole range — every ``cdc``
    file of the range is one scan — and each row takes its
    ``_commit_version``, and a foreign writer's ``cdc`` file its
    partition values, from a map literal keyed by the row's
    ``_metadata.file_name``.  Codegen passes a map literal by
    reference but inlines a long literal into the generated Java, so a
    plan with no version number in it reuses the classes compiled for
    the drain before it.  The lookup scans the map once per row, which
    is one more reason to keep ranges short."""
    latest = _table_version(path)
    if latest is None:
        raise FileNotFoundError(f"no delta log at {path}")
    end = latest if ending_version is None else ending_version
    if starting_version < 0:
        raise ValueError(
            "read_delta_changes: starting_version must be >= 0 — the "
            "lower bound is exclusive, so changes-from-genesis are not "
            "expressible; read the table itself for version 0's rows "
            "(ADVICE r6)"
        )
    # replay to starting_version for the before-state (old DVs)
    state, _ = _snapshot(spark, path, starting_version)
    schema, part_cols, rename, _l2p = _resolve_read_schema(state)
    _enable_field_id_read(spark, state, path, sorted(state.files))
    types_ = {f.name: f.dataType for f in schema.fields}
    # every unit of the range as (rel, version, action, dv, old_dv)
    units: dict[str, list[tuple]] = {
        "cdc": [], "insert": [], "delete": [], "dv": []
    }
    for v, vunits in _plan_changes(path, state, starting_version, end):
        for kind, rel, action, dv, old_dv in vunits:
            units[kind].append((rel, v, action, dv, old_dv))
    out_parts: list[DataFrame] = []

    def emit(df: DataFrame, layer: dict) -> None:
        # physical columns + _change_type + FILE -> the output shape
        df = df.withColumn(
            "_commit_version",
            _file_map(layer, lambda u: u[1])[F.col(FILE)].cast("long"),
        )
        cols = (
            [f.name for f in schema.fields] if rename is None else [
                (F.col(p).cast(lt) if needs else F.col(p)).alias(l)
                for p, l, lt, needs in rename
            ]
        )
        out_parts.append(df.select(*cols, "_change_type", "_commit_version"))

    def scan(layer: dict, keep_pos: bool = False) -> DataFrame:
        # live rows (the files' own vectors subtracted) tagged with
        # FILE; ``keep_pos`` keeps every position, tagged with POS, for
        # the DV-transition joins instead
        tmp = _Snapshot()
        tmp.metadata = state.metadata
        tmp.files = {u[0]: u[2] for u in layer.values()}
        rels = sorted(tmp.files)
        return _scan_files(
            spark, path, tmp, rels, schema, part_cols,
            None if keep_pos else _dv_map(path, tmp, rels),
            (FILE, POS) if keep_pos else (FILE,),
        )

    def positions(wanted: dict, minus: dict) -> DataFrame:
        # (file, position) pairs in ``wanted``'s vectors and not in
        # ``minus``'s; both decode executor-side, and the join side is
        # bounded by the range's vector cardinalities, broadcast only
        # when small
        out = _dv_relation(spark, path, wanted)
        if minus:
            out = out.join(
                _dv_relation(spark, path, minus),
                [FILE, POS], "left_anti",
            )
        total = sum(int(d.get("cardinality") or 0) for d in wanted.values())
        return F.broadcast(out) if total <= _DV_BROADCAST_CAP else out

    ct = StructField("_change_type", StringType())
    for layer in _name_layers(units["cdc"]):
        # this writer's cdc files hold every column; a foreign
        # writer's hold the data columns, its partition values live in
        # the action and override the (null) file column
        body = scan_files(
            spark,
            [os.path.join(path, urllib.parse.unquote(u[0]))
             for _, u in sorted(layer.items())],
            StructType(list(schema.fields) + [ct]), tags=(FILE,),
        )
        foreign = {
            b: u for b, u in layer.items() if u[2].get("partitionValues")
        }
        for pc in part_cols if foreign else ():
            pvals = _file_map(
                foreign, lambda u: u[2]["partitionValues"].get(pc)
            )
            body = body.withColumn(
                pc,
                F.when(
                    F.map_contains_key(pvals, F.col(FILE)),
                    pvals[F.col(FILE)].cast(types_[pc]),
                ).otherwise(F.col(pc)),
            )
        emit(body, layer)
    for ctype in ("insert", "delete"):
        for layer in _name_layers(units[ctype]):
            emit(scan(layer).withColumn("_change_type", F.lit(ctype)), layer)
    for layer in _name_layers(units["dv"]):
        tagged = scan(layer, keep_pos=True)
        new_map = {b: u[3] for b, u in layer.items() if u[3]}
        old_map = {b: u[4] for b, u in layer.items() if u[4]}
        for ctype, wanted, minus in (
            ("delete", new_map, old_map), ("insert", old_map, new_map)
        ):
            if wanted:
                emit(
                    tagged.join(
                        positions(wanted, minus), [FILE, POS]
                    ).drop(POS)
                    .withColumn("_change_type", F.lit(ctype)),
                    layer,
                )
    if not out_parts:
        return empty_frame(spark, schema) \
            .withColumn("_change_type", F.lit(None).cast("string")) \
            .withColumn("_commit_version", F.lit(None).cast("long"))
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    return out


def checkpoint_delta(spark: SparkSession, path: str) -> int:
    """Write a protocol-shaped checkpoint at the latest version (one
    action per row, struct columns) plus ``_last_checkpoint``, capping
    every later reader's JSON replay at commits-since-checkpoint.
    ``txn`` high-water marks are preserved (the protocol requires
    setTransaction actions in checkpoints — dropping them would let a
    retried streaming batch double-apply after log cleanup).  Tables
    whose protocol lists the ``v2Checkpoint`` WRITER feature get a v2
    checkpoint instead: a uuid-named JSON main file
    (checkpointMetadata + protocol + metaData + txn + one ``sidecar``
    action) with the file actions in a parquet sidecar under
    ``_delta_log/_sidecars/`` — the layout modern Databricks writers
    produce and this reader already consumes."""
    snap, latest = _snapshot(spark, path)
    v2 = "v2Checkpoint" in set(snap.protocol.get("writerFeatures") or [])
    blank = {"protocol": None, "metaData": None, "add": None,
             "remove": None, "txn": None, "domainMetadata": None}
    rows = [
        {**blank, "protocol": snap.protocol},
        {**blank, "metaData": snap.metadata},
    ]
    for app, v in sorted(snap.txns.items()):
        rows.append({**blank, "txn": {"appId": app, "version": v}})
    # domain metadata must survive checkpointing (the protocol lists
    # domainMetadata among checkpoint actions): dropping the
    # delta.rowTracking domain would reset the row-id high watermark
    # and re-mint already-issued ids after log cleanup
    for domain, config in sorted(snap.domains.items()):
        rows.append(
            {**blank, "domainMetadata": {
                "domain": domain, "configuration": config,
                "removed": False,
            }}
        )
    for rel in sorted(snap.files):
        a = snap.files[rel]
        rows.append(
            {
                **blank,
                "add": {
                    "path": rel,
                    "partitionValues": snap.partition_values(rel),
                    "size": int(a.get("size") or 0),
                    "modificationTime": int(a.get("modificationTime") or 0),
                    "dataChange": False,
                    # stats ride through the checkpoint so file
                    # skipping still works after the JSON prefix is
                    # cleaned up
                    "stats": a.get("stats"),
                    # DVs must survive too — dropping one would
                    # resurrect its deleted rows after log cleanup
                    "deletionVector": a.get("deletionVector"),
                    # row-tracking fields (None on untracked tables)
                    "baseRowId": a.get("baseRowId"),
                    "defaultRowCommitVersion": a.get(
                        "defaultRowCommitVersion"
                    ),
                },
            }
        )
    schema = (
        # metaData must round-trip configuration and format.options:
        # createDataFrame silently DROPS dict keys absent from the
        # schema, and losing configuration after a checkpoint would
        # stop delta.appendOnly being enforced on the reconstructed
        # snapshot (ADVICE r5)
        "protocol struct<minReaderVersion:int,minWriterVersion:int,"
        "readerFeatures:array<string>,writerFeatures:array<string>>, "
        "metaData struct<id:string,"
        "format:struct<provider:string,options:map<string,string>>,"
        "schemaString:string,partitionColumns:array<string>,"
        "configuration:map<string,string>,createdTime:long>, "
        "add struct<path:string,partitionValues:map<string,string>,"
        "size:long,modificationTime:long,dataChange:boolean,stats:string,"
        "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
        "offset:int,sizeInBytes:int,cardinality:long>,"
        "baseRowId:long,defaultRowCommitVersion:long>, "
        "remove struct<path:string,deletionTimestamp:long,dataChange:boolean>, "
        "txn struct<appId:string,version:long>, "
        "domainMetadata struct<domain:string,configuration:string,"
        "removed:boolean>"
    )
    if v2:
        add_rows = [r for r in rows if r["add"] is not None]
        meta_rows = [r for r in rows if r["add"] is None]
        main = os.path.join(
            _log_dir(path),
            f"{latest:020d}.checkpoint.{uuid.uuid4()}.json",
        )
        actions: list[dict] = [{"checkpointMetadata": {"version": latest}}]
        for r in meta_rows:
            actions.append(
                {k: v for k, v in r.items() if v is not None}
            )
        if add_rows:
            sc_name = f"{uuid.uuid4()}.parquet"
            sdir = os.path.join(_log_dir(path), "_sidecars")
            ((sc_file, _pv),) = stage_parquet(
                spark.createDataFrame(add_rows, schema).select(
                    "add"
                ).coalesce(1),
                os.path.join(sdir, sc_name + ".tmp-"), sdir,
                lambda _i, _f: sc_name,
            )
            actions.append(
                {"sidecar": {
                    "path": sc_name,
                    "sizeInBytes": os.path.getsize(sc_file),
                }}
            )
        main_tmp = main + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(main_tmp, "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
        os.replace(main_tmp, main)
    else:
        cp_name = f"{latest:020d}.checkpoint.parquet"
        stage_parquet(
            spark.createDataFrame(rows, schema).coalesce(1),
            os.path.join(_log_dir(path), cp_name + ".tmp-"),
            _log_dir(path), lambda _i, _f: cp_name,
        )
    # publish the pointer atomically: a crash mid-write must never
    # leave truncated JSON where the live pointer was (ADVICE r5)
    lc = os.path.join(_log_dir(path), "_last_checkpoint")
    lc_tmp = lc + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(lc_tmp, "w") as fh:
        json.dump({"version": latest, "size": len(rows)}, fh)
    os.replace(lc_tmp, lc)
    return latest


def _writer7_protocol_action(snap: _Snapshot, extra_wf: set[str]) -> dict:
    """Protocol action upgrading to writer 7 with ``extra_wf`` added:
    existing feature lists are preserved and a legacy bundle expands
    to the capabilities the table ACTUALLY USES (the
    ``_dv_protocol_upgrade`` policy — a dormant appendOnly listing
    would flip this engine's conservative gates for nothing).  Shared
    by row-tracking enablement and CLUSTER BY (both ride on
    domainMetadata)."""
    conf = dict((snap.metadata or {}).get("configuration") or {})
    proto = snap.protocol
    rf = set(proto.get("readerFeatures") or [])
    wf = set(proto.get("writerFeatures") or [])
    reader = int(proto.get("minReaderVersion", 1))
    wf |= set(extra_wf)
    schema_str = (snap.metadata or {}).get("schemaString") or ""
    if "timestamp_ntz" in schema_str:
        rf.add("timestampNtz")
        wf.add("timestampNtz")
    if conf.get("delta.appendOnly") == "true":
        wf.add("appendOnly")
    if conf.get("delta.enableChangeDataFeed") == "true":
        wf.add("changeDataFeed")
    if _mapping_mode(snap) not in ("none", ""):
        wf.add("columnMapping")
        reader = max(reader, 2)
    if any(k.startswith("delta.constraints.") for k in conf):
        wf.add("checkConstraints")
    fields = (json.loads(schema_str) if schema_str else {}).get("fields")
    if _find_field_metadata_key(fields, ("delta.generationExpression",)):
        wf.add("generatedColumns")
    if _find_field_metadata_key(fields, ("delta.identity.",)):
        wf.add("identityColumns")
    if "deletionVectors" in wf:
        rf.add("deletionVectors")
    if rf:
        reader = max(reader, 3)
    action: dict = {
        "minReaderVersion": reader,
        "minWriterVersion": 7,
        "writerFeatures": sorted(wf),
    }
    if reader >= 3:
        action["readerFeatures"] = sorted(rf)
    return action


def enable_row_tracking_delta(spark: SparkSession, path: str) -> int:
    """Enable ROW TRACKING (the protocol's ``rowTracking`` writer
    feature + ``delta.rowTracking`` domain metadata): every row gets a
    stable 64-bit id — ``baseRowId`` of its file + its position — and
    the id survives deletion-vector DELETEs (file identity unchanged)
    while appends mint fresh contiguous ranges above the high
    watermark, which advances in the SAME commit as the adds.  This
    commit BACKFILLS the existing files (remove + re-add with
    ``baseRowId``/``defaultRowCommitVersion``, dataChange=false — a
    pure metadata rearrangement streaming consumers skip), upgrades
    the protocol to writer 7 with ``rowTracking`` + ``domainMetadata``
    (legacy capability bundles expand to the features actually in
    use, the ``_dv_protocol_upgrade`` policy), and sets
    ``delta.enableRowTracking``.  Scope honesty: operations that COPY
    rows into new files (update/merge/optimize) refuse on tracked
    tables because this writer does not materialize row ids into
    rewritten files — append/overwrite/DV-delete are the supported
    lifecycle, and :func:`read_delta_row_ids` serves the ids."""
    snap, latest = _snapshot(spark, path)
    _check_write_protocol(snap, "enable row tracking")
    conf = dict((snap.metadata or {}).get("configuration") or {})
    if conf.get("delta.enableRowTracking") == "true":
        raise ValueError(f"row tracking already enabled at {path}")
    proto_action = _writer7_protocol_action(
        snap, {"rowTracking", "domainMetadata"}
    )
    conf["delta.enableRowTracking"] = "true"
    version = latest + 1
    actions: list[dict] = [
        {"protocol": proto_action},
        {"metaData": {**snap.metadata, "configuration": conf}},
    ]
    # start ABOVE anything already issued: a supported-not-enabled
    # table (mid-enablement by another writer) already carries ids on
    # some adds and a watermark in domain metadata — backfill only the
    # files that lack ids, and never re-issue (r11 review finding)
    hwm = _rt_hwm(snap)
    for rel in sorted(snap.files):
        a = snap.files[rel]
        if a.get("baseRowId") is not None:
            hwm = max(
                hwm, int(a["baseRowId"]) + _add_num_records(path, a) - 1
            )
    backfill = [
        rel for rel in sorted(snap.files)
        if snap.files[rel].get("baseRowId") is None  # else keeps its ids
    ]
    for rel in backfill:
        a = snap.files[rel]
        n = _add_num_records(path, a)
        actions.append(
            {"add": {
                **a,
                "baseRowId": hwm + 1,
                "defaultRowCommitVersion": version,
                "dataChange": False,
            }}
        )
        hwm += n
    actions.append(
        {"domainMetadata": {
            "domain": _RT_DOMAIN,
            "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
            "removed": False,
        }}
    )
    return _commit_mutation(
        path, version, "ENABLE ROW TRACKING", {}, actions, snap,
        removed=backfill, data_change=False,
    )


def read_delta_row_ids(spark: SparkSession, path: str) -> DataFrame:
    """Read a row-tracked table WITH its stable row identities: the
    table columns plus ``_row_id`` (baseRowId + position — the
    protocol's fresh-row rule; this writer never rewrites tracked
    files, so every row is a fresh row) and ``_row_commit_version``
    (the file's defaultRowCommitVersion).  DV-deleted rows are
    subtracted before ids attach, so a surviving row keeps the same
    id across deletes — the property CDC and feature-store consumers
    key on.  One broadcast basename→(base, version) map over the
    ordinary logical scan; no extra shuffle."""
    snap, _latest = _snapshot(spark, path)
    if not _rt_enabled(snap):
        raise ValueError(
            f"row tracking is not enabled at {path} — "
            "enable_row_tracking_delta first"
        )
    rels = sorted(snap.files)
    rows = []
    for rel, b in zip(rels, basenames(rels)):
        a = snap.files[rel]
        if a.get("baseRowId") is None:
            raise ValueError(
                f"active file {rel!r} carries no baseRowId — the table "
                "was written by a non-tracking writer after enablement"
            )
        rows.append(
            (b, int(a["baseRowId"]), int(a.get("defaultRowCommitVersion") or 0))
        )
    dv_map = _dv_map(path, snap, rels)
    tagged = _logical_scan(
        spark, path, snap, rels, dv_map, tags=(FILE, POS)
    )
    if not rows:
        return (
            tagged.withColumn("_row_id", F.lit(None).cast("long"))
            .withColumn("_row_commit_version", F.lit(None).cast("long"))
            .drop(FILE, POS)
        )
    import pandas as pd

    m = spark.createDataFrame(
        pd.DataFrame(
            sorted(rows), columns=[FILE, "_rt_base", "_rt_dcv"]
        ),
        f"{FILE} string, _rt_base long, _rt_dcv long",
    )
    return (
        tagged.join(F.broadcast(m), FILE)
        .withColumn("_row_id", F.col("_rt_base") + F.col(POS))
        .withColumn("_row_commit_version", F.col("_rt_dcv"))
        .drop(FILE, POS, "_rt_base", "_rt_dcv")
    )


_CLUSTER_DOMAIN = "delta.clustering"


def alter_cluster_by_delta(
    spark: SparkSession, path: str, columns: list[str]
) -> int:
    """``ALTER TABLE ... CLUSTER BY`` (delta-spark's clustered-table
    feature, the OSS face of liquid clustering): record the clustering
    columns in the ``delta.clustering`` domain metadata —
    ``{"clusteringColumns": [["col"], ...]}``, physical names on
    mapped tables, exactly the wire shape delta-spark writes — and
    declare the ``clustering`` + ``domainMetadata`` writer features.
    Clustering is a LAYOUT intent, not a write-path constraint:
    appends land as written, and :func:`optimize_delta` re-clusters —
    with no explicit ``zorder_by`` it picks the table's clustering
    columns up from the domain, so ``optimize_delta(spark, path)`` is
    delta-spark's ``OPTIMIZE`` on a clustered table.  1-4 top-level
    data columns (the Morton-curve zorder limit); partition columns
    refuse (they don't vary within a file)."""
    snap, latest = _snapshot(spark, path)
    _check_write_protocol(snap, "cluster by")
    if not 1 <= len(columns) <= 4:
        raise ValueError("CLUSTER BY takes 1-4 columns")
    sj = json.loads(snap.metadata["schemaString"])
    by_name = {f["name"]: f for f in sj.get("fields") or []}
    parts = set(snap.metadata.get("partitionColumns") or [])
    l2p = {
        f["name"]: (f.get("metadata") or {}).get(_CMAP_PHYS_KEY, f["name"])
        for f in sj.get("fields") or []
    }
    for c in columns:
        if c not in by_name:
            raise ValueError(f"no such column: {c!r}")
        if c in parts or l2p[c] in parts:
            raise ValueError(
                f"cannot cluster by partition column {c!r}"
            )
    actions: list[dict] = [
        {"protocol": _writer7_protocol_action(
            snap, {"clustering", "domainMetadata"}
        )},
        {"domainMetadata": {
            "domain": _CLUSTER_DOMAIN,
            "configuration": json.dumps(
                {"clusteringColumns": [[l2p[c]] for c in columns]}
            ),
            "removed": False,
        }},
    ]
    return _commit_mutation(
        path, latest + 1, "CLUSTER BY", {"clusterBy": json.dumps(columns)},
        actions, snap,
    )


def _clustering_columns(snap: _Snapshot) -> list[str]:
    """LOGICAL clustering column names from the ``delta.clustering``
    domain (empty when unclustered); nested paths and unknown
    physical names refuse rather than mis-cluster."""
    raw = snap.domains.get(_CLUSTER_DOMAIN)
    if not raw:
        return []
    cols = (json.loads(raw) or {}).get("clusteringColumns") or []
    sj = json.loads(snap.metadata["schemaString"])
    p2l = {
        (f.get("metadata") or {}).get(_CMAP_PHYS_KEY, f["name"]): f["name"]
        for f in sj.get("fields") or []
    }
    out = []
    for path_parts in cols:
        if len(path_parts) != 1:
            raise ValueError(
                "nested clustering columns are not supported by this "
                "writer's OPTIMIZE"
            )
        phys = path_parts[0]
        if phys not in p2l:
            raise ValueError(
                f"clustering column {phys!r} not found in the schema"
            )
        out.append(p2l[phys])
    return out


def _stats_bounds(snap: _Snapshot, l2p: dict[str, str]):
    """The Delta codec for :func:`.table_io.prune_by_bounds`: a file's
    ``add.stats`` ``(minValues, maxValues)`` for a logical column, read
    under its stored name ``l2p`` (stats keys are PHYSICAL names on
    column-mapped tables); None without stats."""

    def bounds(rel: str, column: str) -> tuple | None:
        st = snap.files[rel].get("stats")
        if not st:
            return None
        s = json.loads(st) if isinstance(st, str) else st
        key = l2p.get(column, column)
        return (
            (s.get("minValues") or {}).get(key),
            (s.get("maxValues") or {}).get(key),
        )

    return bounds


def prune_files(
    spark: SparkSession,
    path: str,
    column: str,
    lo,
    hi,
    version_as_of: int | None = None,
) -> tuple[list[str], list[str]]:
    """Log-level data skipping: split the active files into (kept,
    skipped) for a range read ``lo <= column <= hi`` using the
    ``add.stats`` min/max — no parquet footer is opened for a skipped
    file, which at 100 TB is the difference between touching metadata
    for every file and touching none of the cold ones.  Both lists are
    in ``sorted(snap.files)`` order.  The interval test is the one
    :func:`.table_io.prune_by_bounds` both connectors share: a file
    without stats for ``column`` is KEPT (conservative), since a
    missing or stale stat can only cost performance, never rows."""
    snap, _ = _snapshot(spark, path, version_as_of)
    l2p = _resolve_read_schema(snap)[3]
    return prune_by_bounds(
        sorted(snap.files), _stats_bounds(snap, l2p), [(column, lo, hi)]
    )


def read_delta_range(
    spark: SparkSession,
    path: str,
    column: str,
    lo,
    hi,
    version_as_of: int | None = None,
) -> DataFrame:
    """Range read with stats-based file skipping: scan only the files
    :func:`prune_files` keeps, then apply the residual row filter.
    Stats prune FILES, the filter prunes ROWS, so results are
    identical to an unpruned scan by construction."""
    snap, _ = _snapshot(spark, path, version_as_of)
    schema, part_cols, rename, l2p = _resolve_read_schema(snap)
    kept, _skipped = prune_by_bounds(
        sorted(snap.files), _stats_bounds(snap, l2p), [(column, lo, hi)]
    )
    cond = (F.col(column) >= F.lit(lo)) & (F.col(column) <= F.lit(hi))
    _enable_field_id_read(spark, snap, path, kept)
    return _rename_back(
        _scan_files(
            spark, path, snap, kept, schema, part_cols,
            _dv_map(path, snap, kept),
        ),
        rename,
    ).filter(cond)


def restore_delta(spark: SparkSession, path: str, version: int) -> int:
    """RESTORE to an earlier version (delta-spark's ``RESTORE TABLE``):
    one commit that re-adds the target snapshot's files (their
    deletion vectors and stats included) and tombstones every
    currently-active file the target doesn't reference — metadata-only
    in data terms (no file is copied or rewritten), history is
    PRESERVED (the restore is a new version on top; time travel to the
    un-restored state keeps working), and ``delta.appendOnly`` refuses
    (a restore removes rows).  The target's metaData (schema) is
    re-committed too, so a restore across a schema evolution reverts
    the declared schema with the data."""
    snap_cur, latest = _snapshot(spark, path)
    _check_write_protocol(snap_cur, "overwrite")
    snap_old, _ = _snapshot(spark, path, version)
    actions: list[dict] = [{"metaData": snap_old.metadata}]

    def key(a: dict) -> tuple:
        return (a["path"], _dv_uid(a.get("deletionVector")))

    old_keys = {key(a) for a in snap_old.files.values()}
    cur_keys = {key(a) for a in snap_cur.files.values()}
    for rel in sorted(snap_old.files):
        a = snap_old.files[rel]
        if key(a) in cur_keys:
            continue
        missing = not os.path.isfile(os.path.join(path, rel))
        if missing:
            raise ValueError(
                f"cannot restore to version {version}: data file {rel} "
                "was vacuumed (RESTORE needs the old files on disk)"
            )
        actions.append({"add": {**a, "dataChange": True}})
    # the re-added files are the target version's, not staged here
    return _commit_mutation(
        path, latest + 1, "RESTORE", {"version": version}, actions,
        snap_cur,
        removed=[
            rel for rel in sorted(snap_cur.files)
            if key(snap_cur.files[rel]) not in old_keys
        ],
    )


def history_delta(spark: SparkSession, path: str) -> list[dict]:
    """Commit history from the log's ``commitInfo`` actions (oldest
    first): version, operation, timestamp — the audit surface a
    ``DESCRIBE HISTORY`` serves."""
    out = []
    for v in _list_versions(path):
        info: dict = {}
        with open(_version_file(path, v)) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    a = json.loads(line)
                    if "commitInfo" in a:
                        info = a["commitInfo"]
                        break
        out.append(
            {
                "version": v,
                "operation": info.get("operation"),
                # inCommitTimestamp (r11) is the authoritative clock
                # when the feature is on — DESCRIBE HISTORY shows it
                "timestamp": info.get(
                    "inCommitTimestamp", info.get("timestamp")
                ),
            }
        )
    return out


def vacuum_delta(
    spark: SparkSession,
    path: str,
    retention_ms: int = 7 * 24 * 3600 * 1000,
    force: bool = False,
) -> dict:
    """Physically delete data files no longer referenced by the
    CURRENT version whose tombstone (or, for untracked debris, file
    mtime) is older than ``retention_ms`` — Delta's VACUUM semantics:
    reclaims tombstoned + orphaned storage, and time travel to
    versions needing the removed files stops working, which is the
    documented contract.  Retention below
    :data:`.table_io.ORPHAN_AGE_FLOOR_MS` (1 h) requires ``force=True``:
    a shorter one can delete a CONCURRENT writer's staged-but-
    uncommitted data files (in no log yet, mtime now).  The
    candidate set is the log's remove actions plus a root listing for
    debris; both are bounded by files-per-table (the same planning
    bound as reads)."""
    if retention_ms < ORPHAN_AGE_FLOOR_MS and not force:
        raise ValueError(
            f"retention {retention_ms} ms is below the "
            f"{ORPHAN_AGE_FLOOR_MS} ms safety floor (a short "
            "retention can race a concurrent writer's staged files); "
            "pass force=True only when no writer can be in flight"
        )
    snap, latest = _snapshot(spark, path)
    active = {urllib.parse.unquote(p) for p in snap.files}
    # on-disk DV files still referenced by an active add (relative)
    active_dv_files: set[str] = set()
    for a in snap.files.values():
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") in ("u", "p"):
            try:
                full = (
                    dv["pathOrInlineDv"]
                    if dv.get("storageType") == "p"
                    else _dv_file_path(path, dv)
                )
                active_dv_files.add(os.path.relpath(full, path))
            except (ValueError, KeyError):
                pass  # malformed descriptor fails at READ time, loudly
    now = int(time.time() * 1000)
    cutoff = now - retention_ms
    # tombstone timestamps from the full log — LATEST wins per path.
    # DV-update commits remove+re-add the same path (delete_where_delta),
    # so the earliest remove can predate the tombstone that finally
    # retired the file by days; aging on it would reclaim a file that
    # recent-version time travel / concurrent readers still need.
    # delta-spark likewise ages on the current tombstone (ADVICE r6).
    removed_at: dict[str, int] = {}
    for v in _list_versions(path):
        with open(_version_file(path, v)) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if "remove" in a:
                    rel = urllib.parse.unquote(a["remove"]["path"])
                    ts = a["remove"].get("deletionTimestamp") or 0
                    removed_at[rel] = max(removed_at.get(rel, 0), ts)
    deleted = 0
    # walk the whole table tree: a foreign writer lays data out in
    # hive-style subdirectories, and a root-only listing would never
    # reclaim their tombstoned files (VERDICT r5).  The log dir and
    # in-flight staging dirs are never entered.
    for root, dirs, files in os.walk(path):
        # "metadata" is the Iceberg side of a UniForm table
        # (enable_uniform_iceberg): its manifests/position-delete
        # files are another format's live state, never Delta debris
        dirs[:] = [
            d for d in dirs
            if d != _LOG and d != "metadata"
            and not d.startswith(".staging-")
        ]
        rel_root = os.path.relpath(root, path)
        for f in files:
            rel = f if rel_root == "." else os.path.join(rel_root, f)
            if f.endswith(".parquet"):
                if rel in active:
                    continue
            elif f.startswith("deletion_vector_") and f.endswith(".bin"):
                # superseded deletion-vector files: reclaim unless some
                # ACTIVE add still references them (DV files carry no
                # remove tombstone — age by mtime)
                if rel in active_dv_files:
                    continue
            else:
                continue
            full = os.path.join(root, f)
            if not os.path.isfile(full):
                continue
            ts = removed_at.get(rel, int(os.stat(full).st_mtime * 1000))
            if ts <= cutoff:
                os.unlink(full)
                deleted += 1
    return {"deleted_files": deleted, "retained_version": latest}


def clone_delta(spark: SparkSession, src: str, dst: str) -> int:
    """SHALLOW CLONE (delta-spark's ``CREATE TABLE ... SHALLOW CLONE``):
    create a NEW table at ``dst`` whose version-0 commit references the
    source's active data files by ABSOLUTE path — zero bytes copied,
    O(active files) metadata work.  The clone gets a fresh table id
    (it is a different table to any downstream consumer), inherits the
    source's schema, partitioning, configuration, and protocol (the
    features travel with the referenced files — a cloned file may
    carry a deletion vector or field-id mapping), and diverges freely:
    appends land under ``dst``, deletes/updates rewrite into ``dst``
    or stack clone-local DVs on the referenced files; the SOURCE is
    never touched.  Source DV descriptors are rewritten from
    table-root-relative (``u``) to absolute (``p``) storage so they
    keep resolving from the clone's root.

    Two protocol-documented caveats, both inherited from delta-spark:
    ``vacuum_delta`` on the clone only walks the clone directory, so
    referenced source bytes are never reclaimed by the clone (correct
    — it doesn't own them); and vacuuming the SOURCE can delete files
    the clone still references (the clone is a dependent reader —
    retention windows must cover clone lifetimes)."""
    snap, latest = _snapshot(spark, src)
    if _table_version(dst) is not None:
        raise FileExistsError(f"delta table already exists at {dst}")
    md = dict(snap.metadata)
    md["id"] = uuid.uuid4().hex
    md["createdTime"] = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "operation": "CLONE",
                "operationParameters": {
                    "source": src, "sourceVersion": latest
                },
                "timestamp": int(time.time() * 1000),
            }
        },
        {"protocol": dict(snap.protocol)},
        {"metaData": md},
    ]
    for rel in sorted(snap.files):
        a = dict(snap.files[rel])
        abs_path = os.path.join(src, urllib.parse.unquote(rel))
        a["path"] = urllib.parse.quote(os.path.abspath(abs_path))
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            a["deletionVector"] = {
                **dv,
                "storageType": "p",
                "pathOrInlineDv": os.path.abspath(
                    _dv_file_path(src, dv)
                ),
            }
        a["dataChange"] = True
        actions.append({"add": a})
    # domain metadata travels with the clone (r11 review finding): a
    # row-tracked source's delta.rowTracking high watermark MUST ride
    # along — the cloned adds keep their baseRowIds, so a clone whose
    # watermark reset to -1 would re-mint those ids on its first
    # append and serve duplicate _row_id values
    for domain, config in sorted(snap.domains.items()):
        actions.append(
            {"domainMetadata": {
                "domain": domain, "configuration": config,
                "removed": False,
            }}
        )
    conf = dict(md.get("configuration") or {})
    if conf.get(_ICT_KEY) == "true":
        # the clone is a NEW table: the inherited enablement
        # version/timestamp point into the SOURCE's history and would
        # misdate the clone's cutover — re-anchor them at v0 and stamp
        # the clone's own first in-commit timestamp (r11)
        ict = int(time.time() * 1000)
        conf["delta.inCommitTimestampEnablementVersion"] = "0"
        conf["delta.inCommitTimestampEnablementTimestamp"] = str(ict)
        md["configuration"] = conf
        actions[0]["commitInfo"]["inCommitTimestamp"] = ict
    _commit(dst, 0, actions)
    return 0


def _ice_partition_to_delta_str(value, ice_type: str) -> str | None:
    """Serialize one Iceberg identity-partition value (avro-decoded
    PHYSICAL form: bool, int days for date, long micros for
    timestamp/timestamptz, int/long/str as-is) into Delta's
    partition-value wire string (PROTOCOL.md "Partition Value
    Serialization"): booleans lowercase ``true``/``false``, dates
    ``yyyy-MM-dd``, timestamps ``yyyy-MM-dd HH:mm:ss.SSSSSS``.
    ADVICE r9: Python ``str()`` produced ``'True'`` and raw epoch-day
    ints here, which the Delta reader's string→type cast misreads.
    Unsupported partition types refuse loudly (the honest-gate
    pattern) rather than write a wrong log."""
    import datetime as _dt

    if value is None:
        return None
    if ice_type == "boolean":
        return "true" if value else "false"
    if ice_type == "date":
        return (_dt.date(1970, 1, 1) + _dt.timedelta(days=int(value))).isoformat()
    if ice_type in ("timestamp", "timestamptz"):
        micros = int(value)
        base = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=micros)
        return base.strftime("%Y-%m-%d %H:%M:%S.%f")
    if ice_type in ("int", "long", "string") or ice_type.startswith(
        "decimal("
    ):
        return str(value)
    if ice_type in ("float", "double"):
        return repr(float(value))
    raise ValueError(
        f"cannot serialize iceberg partition type {ice_type!r} into "
        "Delta partitionValues — convert after repartitioning to a "
        "supported identity type"
    )


def convert_iceberg_to_delta(spark: SparkSession, src: str, dst: str) -> int:
    """Zero-copy Iceberg→Delta conversion (the UniForm/`CONVERT TO
    DELTA` interop direction): write a Delta log at ``dst`` whose
    version-0 commit references the Iceberg table's CURRENT-snapshot
    data files by absolute path — both formats store parquet, so no
    byte moves.  The converted table then lives a normal Delta life
    (appends land under ``dst``, deletes stack DVs on the referenced
    files); the Iceberg source is never touched and keeps its own
    history.

    MERGE-ON-READ snapshots convert too (r11, VERDICT r10 "missing"
    #2 reverse direction): Delta cannot reference Iceberg's delete
    FILES, but it does not need to — the positions they kill
    MATERIALIZE as Delta deletion vectors, one RoaringBitmapArray per
    touched data file, written EXECUTOR-side through the same
    ``_stage_dv_bitmaps`` group task the native DELETE path uses
    (O(touched files) driver state, never O(positions)).  Position
    deletes map through the shared sequence-gated kill-row plan
    (iceberg.py ``_pos_kill_rows``); equality deletes evaluate
    against a tagged full scan via ``_apply_eq_deletes``
    (return_killed) — partition-scoped, null-safe, strictly-below
    sequence gating, exactly the read semantics.  Zero data-file
    copies either way; the first DV upgrades the new log to protocol
    (3, 7) + deletionVectors in the same version-0 commit.

    NON-IDENTITY partition transforms no longer refuse outright:
    bucket/truncate/day fields have no Delta ``partitionValues``
    equivalent, but a native Iceberg data file CONTAINS its transform
    SOURCE columns as ordinary data — those spec fields are DROPPED
    from the Delta partitioning (the converted table loses their
    pruning, documented honestly here; identity fields still carry
    over).  The one refusal kept: converted/migrated-provenance
    tables (``converted-from-delta`` / ``migrated-data-files``) with
    non-identity fields, whose foreign files may genuinely lack the
    source columns.  Identity partitioning carries over: the
    spec tuple becomes the add's ``partitionValues`` (stringified, the
    log's wire form) and readers inject values from the log exactly as
    for a native table — the parquet's own copy of the source column
    is simply not read (reference: iceberg data files CONTAIN
    partition source columns; Delta data files don't)."""
    from .iceberg import (
        _current_schema,
        _load_metadata,
        _manifest_entries,
        _schema_to_spark,
        _snapshot_by_id,
        _spec_from_meta,
    )

    if _table_version(dst) is not None:
        raise FileExistsError(f"delta table already exists at {dst}")
    meta = _load_metadata(src)
    from .iceberg import _resolution

    if _resolution(meta) is not None:
        # NEW gate (r11): this used to convert silently — but Delta
        # resolves data files by NAME, and a rename/promotion history
        # means the referenced files spell era-specific names the new
        # log's schemaString would misread (Iceberg reads them by
        # field id).  A one-era table could express the rename as
        # Delta column mapping; the general mixed-era case cannot.
        raise ValueError(
            "cannot convert an iceberg table whose schema history "
            "renamed or promoted columns: the referenced data files "
            "spell era-specific names Delta's by-name resolution would "
            "misread — rewrite_data_files first, then convert"
        )
    schema_json = _current_schema(meta)
    spark_schema = _schema_to_spark(schema_json)
    spec = _spec_from_meta(meta, schema_json)
    bad = [pf for pf in spec if pf.get("transform") != "identity"]
    props = meta.get("properties") or {}
    if bad and (
        props.get("converted-from-delta") or props.get("migrated-data-files")
    ):
        # a converted/migrated table's foreign files may lack the
        # transform SOURCE columns; dropping the spec field would
        # NULL-misread them — keep this one refusal
        raise ValueError(
            "cannot convert non-identity partition transforms on a "
            "converted/migrated-provenance table to Delta: "
            f"{[pf['name'] for pf in bad]} — rewrite_data_files first"
        )
    # non-identity fields (bucket/truncate/day/...) are DROPPED from
    # the Delta partitioning: their source columns live in the data
    # files as ordinary columns, so reads stay correct and only their
    # partition pruning is lost (see docstring)
    ident = [pf for pf in spec if pf.get("transform") == "identity"]
    part_cols = [pf["source"] for pf in ident]
    part_types = {pf["source"]: pf["ptype"] for pf in ident}
    tuple_key = {pf["source"]: pf["name"] for pf in ident}
    snap = _snapshot_by_id(meta, None)
    deletes: list[dict] = []
    eq_deletes: list[dict] = []
    if snap is None:
        data: list[dict] = []
    else:
        data, deletes, eq_deletes = _manifest_entries(src, meta, snap)
    dv_by_base: dict[str, dict] = {}
    written: list = []
    if deletes or eq_deletes:
        # materialize the merge-on-read state as Delta DELETION
        # VECTORS: one kill-row plan per delete shape (shared with the
        # Iceberg reader, so gating/scoping semantics cannot diverge),
        # union, then one executor-side bitmap write per touched file
        from .iceberg import (
            _apply_eq_deletes,
            _live_deletes,
            _plan_scan,
            _pos_kill_rows,
        )

        live_pos, live_eq = _live_deletes(data, deletes, eq_deletes)
        kills = None
        if live_pos:
            kills = _pos_kill_rows(spark, live_pos, data)
        if live_eq:
            tagged = _plan_scan(
                spark, spark_schema, data, [], None, None,
                schema_json, tags=(FILE, POS), meta=meta,
            )
            eq_kills = _apply_eq_deletes(
                spark, tagged, live_eq, data, None, schema_json,
                return_killed=True,
            ).select(FILE, POS)
            kills = (
                eq_kills if kills is None else kills.unionByName(eq_kills)
            )
        if kills is not None:
            os.makedirs(dst, exist_ok=True)
            written = _stage_dv_bitmaps(
                spark, dst, kills.dropDuplicates([FILE, POS]), None
            )
            dv_by_base = {
                r[FILE]: json.loads(r["descriptor"]) for r in written
            }
    now = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "operation": "CONVERT",
                "operationParameters": {"source": src, "format": "iceberg"},
                "timestamp": now,
            }
        },
        # the converted log declares deletionVectors only when the
        # snapshot actually materialized some (protocol 3/7 per spec);
        # a delete-free conversion stays maximally readable at (1, 2)
        {
            "protocol": (
                {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
                if dv_by_base
                else {"minReaderVersion": 1, "minWriterVersion": 2}
            )
        },
        {
            "metaData": {
                "id": uuid.uuid4().hex,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": spark_schema.json(),
                "partitionColumns": part_cols,
                "configuration": {},
                "createdTime": now,
            }
        },
    ]
    for rec in sorted(data, key=lambda r: r["path"]):
        ap = os.path.abspath(rec["path"])
        add = {
            "path": urllib.parse.quote(ap),
            "partitionValues": {
                c: _ice_partition_to_delta_str(
                    rec["partition"].get(tuple_key[c]), part_types[c]
                )
                for c in part_cols
            },
            "size": os.path.getsize(ap),
            "modificationTime": now,
            "dataChange": True,
            "stats": json.dumps(
                {"numRecords": int(rec.get("record_count") or 0)}
            ),
        }
        dv = dv_by_base.get(os.path.basename(ap))
        if dv is not None:
            add["deletionVector"] = dv
        actions.append({"add": add})
    return _commit_create(dst, actions, _dv_files(dst, written))


# ------------------------------------------------------------------ query


@query(
    "b_scan_delta",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price
    FROM orders
    WHERE (o_orderkey % 5 = 0 OR o_orderkey % 5 = 1)
      AND o_orderpriority <> '5-LOW'
    GROUP BY o_orderpriority
    """,
)
def scan_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-format lake roundtrip, exercising the full protocol
    surface the reader implements: create (protocol + metaData +
    partitioned adds) → append commit → parquet checkpoint →
    metadata-only partition DELETE → read of the latest snapshot.
    The read must reconstruct state THROUGH the checkpoint, replay the
    post-checkpoint tombstones, inject the partition column from
    ``partitionValues`` (the data files do not contain it), and skip
    the deleted partition's files without scanning them; the oracle
    recomputes the surviving aggregate straight from the fixture, so
    a resurrected tombstone, a lost append, or a mis-cast partition
    value all fail the hash compare."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"delta_orders_{os.path.basename(sf_dir.rstrip('/'))}")
    # Gate on the FINAL expected state (version 2, last op DELETE), not
    # on "any log exists": an in-process failure midway through setup
    # would otherwise leave a partial scratch table that a same-process
    # retry reads as complete (ADVICE r5).  On mismatch, rebuild from a
    # clean slate — the scratch dir is process-private.
    complete = _table_version(path) == 2 and (
        history_delta(spark, path)[-1]["operation"] == "DELETE"
    )
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_delta(
            orders.filter(F.col("o_orderkey") % 5 == 0),
            path,
            mode="error",
            partition_by=["o_orderpriority"],
        )
        write_delta(
            orders.filter(F.col("o_orderkey") % 5 == 1),
            path,
            mode="append",
            partition_by=["o_orderpriority"],
        )
        checkpoint_delta(spark, path)
        delete_partition(spark, path, "o_orderpriority", "5-LOW")
    back = read_delta(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


@query(
    "b_lake_delta_cmap",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price
    FROM orders
    WHERE (o_orderkey % 7 = 0 OR o_orderkey % 7 = 3)
      AND o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
    GROUP BY o_orderpriority
    """,
)
def scan_delta_cmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-mapped (``delta.columnMapping.mode = name``) Delta table
    round-trip: :func:`create_mapped_delta` writes data files,
    ``partitionValues`` keys and stats under ``col-<uuid>`` PHYSICAL
    names with the legacy (2, 5) protocol — the current Databricks
    writer default — then a LOGICAL-schema ``write_delta`` append must
    land as physical-named files too, and the read must resolve the
    mapping from schemaString metadata, translate the LOGICAL
    ``partition_filter`` to physical keys for planning-time pruning,
    inject the partition column, and project everything back to
    logical names.  The oracle recomputes the aggregate from the
    fixture, so a column read under the wrong name, a mis-mapped
    partition filter, a lost or logically-spelled append, or mapping
    metadata leaking into the result schema all fail the compare
    (r6)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"delta_cmap_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = False
    try:
        complete = (
            _table_version(path) == 1
            and _mapping_mode(_snapshot(spark, path, 1)[0]) == "name"
        )
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        create_mapped_delta(
            orders.filter(F.col("o_orderkey") % 7 == 0),
            path,
            partition_by=["o_orderpriority"],
        )
        write_delta(
            orders.filter(F.col("o_orderkey") % 7 == 3),
            path,
            mode="append",
            partition_by=["o_orderpriority"],
        )
    back = read_delta(
        spark,
        path,
        partition_filter={
            "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM"]
        },
    )
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


@query(
    "b_lake_delta_dv",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price
    FROM orders
    WHERE o_orderkey % 4 = 0 AND o_orderkey % 8 <> 0
    GROUP BY o_orderpriority
    """,
)
def scan_delta_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE on the open Delta format, end to end
    through the PUBLIC protocol: create → ``delete_where_delta``
    (protocol upgrade to (3,7)+deletionVectors, Z85/RoaringBitmapArray
    vector write, zero data files rewritten) → read that decodes the
    vectors back.  The oracle recomputes the surviving aggregate from
    the fixture, so a mis-encoded bitmap, a resurrected row, or an
    over-deleted position all fail the hash compare.  (The write and
    read halves are the same code delta-spark interops with; r6.)"""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"delta_dv_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = False
    try:
        complete = (
            _table_version(path) == 1
            and history_delta(spark, path)[-1]["operation"] == "DELETE"
        )
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_delta(
            orders.filter(F.col("o_orderkey") % 4 == 0), path, mode="error"
        )
        delete_where_delta(spark, path, F.col("o_orderkey") % 8 == 0)
    back = read_delta(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


@query(
    "b_lake_delta_merge",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum(
               "CASE WHEN o_orderkey % 12 = 0 THEN o_totalprice + 1000 "
               "ELSE o_totalprice END"
           )} AS total_price
    FROM orders
    WHERE (o_orderkey % 3 = 0 AND o_orderkey % 12 <> 6)
       OR o_orderkey % 3 = 1
    GROUP BY o_orderpriority
    """,
)
def scan_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE with CONDITIONAL clauses on the open Delta
    format: target = keys ≡0 (mod 3); source = keys ≡0 (mod 6) (price
    +1000) plus brand-new keys ≡1 (mod 3).  The clause list exercises
    first-match-wins: ``WHEN MATCHED AND t.o_orderkey % 12 = 0 THEN
    UPDATE SET *`` takes half the matched rows, the unconditional
    ``WHEN MATCHED THEN DELETE`` takes the rest (≡6 mod 12), and the
    insert clause stages the new keys — so the final state encodes an
    update, a conditional fall-through delete, AND inserts, each of
    which the oracle recomputes arithmetically.  A mis-ordered clause
    evaluation, a lost update, or a resurrected deleted key all fail
    the hash compare.  (VERDICT r6 item #4 — merge clause parity;
    r7.)"""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"delta_mergec_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = False
    try:
        complete = (
            _table_version(path) == 1
            and history_delta(spark, path)[-1]["operation"] == "MERGE"
        )
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_delta(
            orders.filter(F.col("o_orderkey") % 3 == 0), path, mode="error"
        )
        source = orders.filter(F.col("o_orderkey") % 6 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        ).unionByName(orders.filter(F.col("o_orderkey") % 3 == 1))
        merge_delta(
            spark, path, source, on=["o_orderkey"],
            clauses=[
                {"when": "matched", "action": "update",
                 "condition": "t.o_orderkey % 12 = 0"},
                {"when": "matched", "action": "delete"},
                {"when": "not_matched", "action": "insert"},
            ],
        )
    back = read_delta(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


@query(
    "b_lake_delta_merge_mor",
    f"""
    WITH live AS (
      SELECT * FROM orders
      WHERE o_orderkey % 3 = 0 AND o_orderkey % 30 <> 0
    ),
    merged AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderkey % 12 = 0 THEN o_totalprice + 1000
                  ELSE o_totalprice END AS o_totalprice
      FROM live
      WHERE NOT (o_orderkey % 6 = 0 AND o_orderkey % 12 <> 0)
      UNION ALL
      SELECT o_orderpriority,
             CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice + 1000
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE o_orderkey % 3 = 1 OR o_orderkey % 30 = 0
    )
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price
    FROM merged
    GROUP BY o_orderpriority
    """,
)
def scan_delta_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ MERGE with deletion vectors
    (``merge_delta(strategy="mor")``, r8 — the Delta twin of
    ``b_lake_iceberg_merge_mor``, same oracle as the COW clause
    lifecycle with a pre-existing DV folded in): touched rows extend
    their files' deletion vectors (bitmaps written executor-side),
    postimages + inserts append, NO data file rewrites.  The read
    back must subtract BOTH DV generations (the prior DELETE's and
    the merge's union) while the appended postimages stay live —
    strategy equivalence and CDF parity are pinned in
    tests/test_delta.py::test_mor_merge_matches_cow_with_identical_cdf."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(
        f"delta_merge_mor_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    complete = False
    try:
        complete = (
            _table_version(path) == 2
            and history_delta(spark, path)[-1]["operation"] == "MERGE"
        )
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_delta(
            orders.filter(F.col("o_orderkey") % 3 == 0), path, mode="error"
        )
        delete_where_delta(spark, path, F.col("o_orderkey") % 30 == 0)
        source = orders.filter(F.col("o_orderkey") % 6 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        ).unionByName(orders.filter(F.col("o_orderkey") % 3 == 1))
        merge_delta(
            spark, path, source, on=["o_orderkey"],
            clauses=[
                {"when": "matched", "action": "update",
                 "condition": "t.o_orderkey % 12 = 0"},
                {"when": "matched", "action": "delete"},
                {"when": "not_matched", "action": "insert"},
            ],
            strategy="mor",
        )
    back = read_delta(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


@query(
    "b_lake_delta_cdf",
    f"""
    SELECT 'insert' AS change_type, CAST(1 AS BIGINT) AS commit_version,
           count(*) AS n, {sql_money_sum('o_totalprice')} AS total_price
    FROM orders WHERE o_orderkey % 5 = 1
    UNION ALL
    SELECT 'delete', 2, count(*), {sql_money_sum('o_totalprice')}
    FROM orders WHERE o_orderkey % 10 = 1
    UNION ALL
    SELECT 'delete', 3, count(*), {sql_money_sum('o_totalprice')}
    FROM orders WHERE o_orderkey % 5 = 0
    UNION ALL
    SELECT 'insert', 3, count(*),
           {sql_money_sum(
               "CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 500 "
               "ELSE o_totalprice END"
           )}
    FROM orders WHERE o_orderkey % 5 = 0
    """,
)
def scan_delta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed read over a mutation history on the open Delta
    format: single-file create (keys ≡0 mod 5) → single-file append
    (≡1 mod 5) → merge-on-read DV DELETE (≡1 mod 10) → copy-on-write
    UPDATE (≡0 mod 10, price +500).  ``read_delta_changes(0, 3)``
    must surface the append as inserts, the DV delete as positional
    deletes of EXACTLY the grown positions, and the rewrite as
    delete+insert pairs for the rewritten file — the single-file
    layout makes every pair arithmetically predictable, so the oracle
    recomputes all four change groups from the fixture and any
    over/under-emitted change row fails the hash compare.  (r6.)"""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"delta_cdf_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = False
    try:
        ops = [h["operation"] for h in history_delta(spark, path)]
        complete = _table_version(path) == 3 and ops[-2:] == ["DELETE", "MERGE"]
    except (FileNotFoundError, ValueError, IndexError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_delta(
            orders.filter(F.col("o_orderkey") % 5 == 0).coalesce(1),
            path, mode="error",
        )
        write_delta(
            orders.filter(F.col("o_orderkey") % 5 == 1).coalesce(1),
            path, mode="append",
        )
        delete_where_delta(spark, path, F.col("o_orderkey") % 10 == 1)
        # UPDATE price += 500 on keys ≡0 (mod 10): update_delta takes
        # LITERAL assignments, so the additive update goes through
        # merge_delta — source = the matched rows with the bumped
        # price (same copy-on-write rewrite, expression-capable).
        src = read_delta(spark, path).filter(
            F.col("o_orderkey") % 10 == 0
        ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(500.0))
        merge_delta(spark, path, src, on=["o_orderkey"])
    return (
        read_delta_changes(spark, path, 0, 3)
        .groupBy(
            F.col("_change_type").alias("change_type"),
            F.col("_commit_version").alias("commit_version"),
        )
        .agg(
            F.count("*").alias("n"),
            money_sum("o_totalprice").alias("total_price"),
        )
    )


@query(
    "b_lake_delta_v2cp",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price
    FROM orders
    WHERE o_orderkey % 3 = 0 OR o_orderkey % 3 = 1
    GROUP BY o_orderpriority
    """,
)
def scan_delta_v2cp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v2-checkpoint lifecycle end-to-end: create (keys ≡0 mod 3) →
    append (≡1 mod 3) → protocol upgrade to REQUIRE v2 checkpoints →
    ``checkpoint_delta`` (which must now write the uuid-named JSON
    main + parquet sidecar layout) → DELETE the whole JSON prefix →
    read.  The read has exactly one source of truth left — the v2
    checkpoint — so a dropped sidecar row, a mis-discovered uuid
    file, or a lost metaData action all fail the hash compare against
    the oracle's arithmetic reconstruction.  (The layout modern
    Databricks writers leave behind after log cleanup; r6.)"""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"delta_v2cp_{os.path.basename(sf_dir.rstrip('/'))}")
    # complete == the end state: JSON prefix gone, checkpoint at v2
    complete = _table_version(path) == 2 and not _list_versions(path)
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_delta(
            orders.filter(F.col("o_orderkey") % 3 == 0), path, mode="error"
        )
        write_delta(
            orders.filter(F.col("o_orderkey") % 3 == 1), path, mode="append"
        )
        _commit(
            path, 2,
            [{"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["v2Checkpoint"],
                "writerFeatures": ["v2Checkpoint"],
            }}],
        )
        checkpoint_delta(spark, path)
        for v in range(3):
            os.unlink(_version_file(path, v))
    back = read_delta(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


@query(
    "b_lake_delta_cmap_dml",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum(
               "CASE WHEN o_orderkey % 22 = 0 THEN o_totalprice + 250 "
               "WHEN o_orderkey % 11 = 4 THEN o_totalprice + 750 "
               "ELSE o_totalprice END"
           )} AS total_price
    FROM orders
    WHERE (o_orderkey % 11 = 0 AND o_orderkey % 33 <> 11)
       OR o_orderkey % 11 = 4
    GROUP BY o_orderpriority
    """,
)
def scan_delta_cmap_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DML lifecycle on a column-mapped table (late r6): create mapped
    (keys ≡0 mod 11) → copy-on-write MERGE-update (+250 on keys ≡0
    mod 22, rewriting only their files through the physical staging
    path) → merge-on-read DV DELETE (keys ≡11 mod 33 — including any
    row the update just touched, so a stale pre-update file surviving
    the rewrite would double-count) → MERGE-insert (keys ≡4 mod 11 at
    +750) → read.  Every mutation's predicate/source is LOGICAL and
    every rewritten file must be PHYSICAL; a logical-named leak, a
    lost rewrite, or a mis-folded DV changes the aggregate and fails
    the hash compare."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"delta_cmapdml_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = False
    try:
        complete = (
            _table_version(path) == 3
            and _mapping_mode(_snapshot(spark, path, 3)[0]) == "name"
        )
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        create_mapped_delta(
            orders.filter(F.col("o_orderkey") % 11 == 0), path
        )
        # UPDATE needs a literal per row-group: +250 as two-step —
        # update_delta takes literals, so precompute via merge source
        src_upd = orders.filter(F.col("o_orderkey") % 22 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(250.0)
        )
        merge_delta(spark, path, src_upd, on=["o_orderkey"])
        delete_where_delta(spark, path, F.col("o_orderkey") % 33 == 11)
        src = orders.filter(F.col("o_orderkey") % 11 == 4).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(750.0)
        )
        merge_delta(spark, path, src, on=["o_orderkey"])
    back = read_delta(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


@query(
    "b_lake_delta_constraint",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price
    FROM orders
    WHERE o_orderkey % 5 = 0 OR o_orderkey % 5 = 1
    GROUP BY o_orderpriority
    """,
)
def scan_delta_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK-constraint lifecycle (r7): create (keys ≡0 mod 5) → ADD
    CONSTRAINT ``o_totalprice > 0`` (existing rows verified) → a
    conforming append (keys ≡1 mod 5) lands through the enforcement
    guard → a VIOLATING append (prices negated) must FAIL and commit
    nothing.  The oracle recomputes the conforming union; a landed
    violating row, a dropped conforming batch, or enforcement
    silently disabled all fail the hash compare."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"delta_constraint_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = False
    try:
        complete = (
            _table_version(path) == 2
            and "delta.constraints.price_positive"
            in ((_snapshot(spark, path)[0].metadata or {}).get(
                "configuration") or {})
        )
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_delta(
            orders.filter(F.col("o_orderkey") % 5 == 0), path, mode="error"
        )
        add_constraint_delta(
            spark, path, "price_positive", "o_totalprice > 0"
        )
        write_delta(
            orders.filter(F.col("o_orderkey") % 5 == 1), path, mode="append"
        )
        try:
            write_delta(
                orders.filter(F.col("o_orderkey") % 5 == 2).withColumn(
                    "o_totalprice", -F.col("o_totalprice")
                ),
                path, mode="append",
            )
            raise AssertionError(
                "violating append must fail the CHECK constraint"
            )
        except AssertionError:
            raise
        except Exception:
            pass  # the enforcement guard failed the write job, as designed
    back = read_delta(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


@query(
    "b_lake_delta_widen",
    """
    WITH era1 AS (
      SELECT o_orderpriority,
             CAST(CAST(o_orderkey AS INTEGER) AS BIGINT) AS k,
             CAST(CAST(round(o_totalprice * 100) AS INTEGER) AS BIGINT)
               AS cents
      FROM orders WHERE o_orderkey % 7 = 2
    ),
    era2 AS (
      SELECT o_orderpriority,
             o_orderkey + 4000000000 AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) + 10000000000
               AS cents
      FROM orders WHERE o_orderkey % 7 = 3
    ),
    u AS (SELECT * FROM era1 UNION ALL SELECT * FROM era2)
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS cents_sum, max(k) AS k_max
    FROM u GROUP BY o_orderpriority
    """,
)
def scan_delta_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE WIDENING end-to-end (r9 — the protocol's ``typeWidening``
    feature, the Delta twin of ``b_lake_iceberg_retype``): create with
    int columns → ``widen_type_delta`` (ONE metadata commit: wide
    schemaString, per-field transition metadata, reader-3/writer-7
    protocol with the feature on both lists) → append values only a
    long can hold → read across both eras.  Old files keep int32
    physicals; the scan must upcast them under the wide declared
    schema, never misread.  The oracle rebuilds both eras
    arithmetically — a truncated wide value, a misdecoded narrow
    file, or a lost era all fail the hash compare."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"delta_widen_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = False
    try:
        snap, v = _snapshot(spark, path)
        declared = json.loads(snap.metadata["schemaString"])
        types = {f["name"]: f["type"] for f in declared["fields"]}
        complete = v == 2 and types.get("k") == "long" and types.get(
            "cents"
        ) == "long"
    except (FileNotFoundError, ValueError, KeyError, TypeError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        era1 = orders.filter(F.col("o_orderkey") % 7 == 2).select(
            F.col("o_orderpriority"),
            F.col("o_orderkey").cast("int").alias("k"),
            F.round(F.col("o_totalprice") * 100).cast("int").alias("cents"),
        )
        write_delta(era1, path, mode="error")                       # v0
        widen_type_delta(spark, path, {"k": "long", "cents": "long"})  # v1
        era2 = orders.filter(F.col("o_orderkey") % 7 == 3).select(
            F.col("o_orderpriority"),
            (F.col("o_orderkey") + F.lit(4_000_000_000)).alias("k"),
            (
                F.round(F.col("o_totalprice") * 100).cast("long")
                + F.lit(10_000_000_000)
            ).alias("cents"),
        )
        write_delta(era2, path, mode="append")                      # v2
    back = read_delta(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("cents").cast("long").alias("cents_sum"),
        F.max("k").alias("k_max"),
    )


@query(
    "b_lake_delta_identity",
    """
    WITH c AS (
      SELECT count(*) FILTER (WHERE o_orderkey % 7 = 4) AS n1,
             count(*) FILTER (WHERE o_orderkey % 7 = 5) AS n2
      FROM orders
    )
    SELECT n1 + n2 AS n,
           n1 + n2 AS n_ids,
           CAST(1000 AS BIGINT) AS id_min,
           CAST(1000 + 3 * (n1 + n2 - 1) AS BIGINT) AS id_max,
           CAST(1000 * (n1 + n2)
                + (3 * (n1 + n2) * (n1 + n2 - 1)) // 2 AS BIGINT)
             AS id_sum
    FROM c
    """,
)
def scan_delta_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTITY column lifecycle (r9 — the connector's last refusal in
    the r8 verdict): ``create_identity_delta`` generates values for
    the initial slice and records start/step/highWaterMark; a later
    plain append generates its own values FROM the watermark in the
    same commit as its rows.  Both writes are single-partition, so the
    allocator's per-partition blocks collapse to the dense lattice
    ``1000 + 3k`` — the oracle closed-forms count/min/max/sum of the
    UNION, so a duplicated value, a watermark that failed to advance
    (era-2 colliding into era-1), or an off-lattice value all fail
    the hash compare."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"delta_identity_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = False
    try:
        snap, v = _snapshot(spark, path)
        fields = json.loads(snap.metadata["schemaString"])["fields"]
        complete = v == 1 and any(
            "delta.identity.highWaterMark" in (f.get("metadata") or {})
            for f in fields
        )
    except (FileNotFoundError, ValueError, KeyError, TypeError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        create_identity_delta(
            spark,
            orders.filter(F.col("o_orderkey") % 7 == 4)
            .select("o_orderpriority", "o_totalprice")
            .coalesce(1),
            path, "id", start=1000, step=3,
        )                                                          # v0
        write_delta(
            orders.filter(F.col("o_orderkey") % 7 == 5)
            .select("o_orderpriority", "o_totalprice")
            .coalesce(1),
            path, mode="append",
        )                                                          # v1
    back = read_delta(spark, path)
    return back.agg(
        F.count("*").alias("n"),
        F.countDistinct("id").alias("n_ids"),
        F.min("id").alias("id_min"),
        F.max("id").alias("id_max"),
        F.sum("id").alias("id_sum"),
    )


@query(
    "b_lake_delta_cdf_rows",
    f"""
    SELECT 'delete' AS change_type, CAST(2 AS BIGINT) AS commit_version,
           count(*) AS n, {sql_money_sum('o_totalprice')} AS total_price
    FROM orders WHERE o_orderkey % 21 = 0
    UNION ALL
    SELECT 'update_preimage', 3, count(*), {sql_money_sum('o_totalprice')}
    FROM orders WHERE o_orderkey % 14 = 0 AND o_orderkey % 42 <> 0
    UNION ALL
    SELECT 'update_postimage', 3, count(*),
           {sql_money_sum('o_totalprice + 500')}
    FROM orders WHERE o_orderkey % 14 = 0 AND o_orderkey % 42 <> 0
    UNION ALL
    SELECT 'insert', 3, count(*),
           {sql_money_sum(
               "CASE WHEN o_orderkey % 42 = 0 THEN o_totalprice + 500 "
               "ELSE o_totalprice END"
           )}
    FROM orders WHERE o_orderkey % 7 = 1 OR o_orderkey % 42 = 0
    """,
)
def scan_delta_cdf_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROPER Change Data Feed (r7): with ``enableChangeDataFeed`` on,
    mutations stage row-level ``_change_data`` files and the change
    read consumes THEM exclusively — so a DV DELETE surfaces exactly
    its deleted rows and a MERGE surfaces update_preimage/postimage
    pairs plus inserts, with carried rows silent (the file-diff
    derivation `b_lake_delta_cdf` exercises would instead emit
    file-granular delete+insert noise for the rewritten file).
    Lifecycle: create (keys ≡0 mod 7) → SET TBLPROPERTIES CDF → DV
    DELETE (≡0 mod 21) → MERGE (+500 on ≡0 mod 14, inserts ≡1 mod 7;
    the mod-42 keys are DEAD at merge time so their source rows
    INSERT).  The oracle recomputes all four change groups; an
    over-emitted carried row, a missing preimage, or a misrouted
    commit version fails the hash compare."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"delta_cdfrows_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = False
    try:
        ops = [h["operation"] for h in history_delta(spark, path)]
        complete = _table_version(path) == 3 and ops == [
            "WRITE", "SET TBLPROPERTIES", "DELETE", "MERGE",
        ]
    except (FileNotFoundError, ValueError, IndexError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_delta(
            orders.filter(F.col("o_orderkey") % 7 == 0).coalesce(1),
            path, mode="error",
        )
        alter_table_properties_delta(
            spark, path, {"delta.enableChangeDataFeed": "true"}
        )
        delete_where_delta(spark, path, F.col("o_orderkey") % 21 == 0)
        src = orders.filter(F.col("o_orderkey") % 14 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(500.0)
        ).unionByName(orders.filter(F.col("o_orderkey") % 7 == 1))
        merge_delta(spark, path, src, on=["o_orderkey"])
    return (
        read_delta_changes(spark, path, 1, 3)
        .groupBy(
            F.col("_change_type").alias("change_type"),
            F.col("_commit_version").alias("commit_version"),
        )
        .agg(
            F.count("*").alias("n"),
            money_sum("o_totalprice").alias("total_price"),
        )
    )


def scan_delta_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE end-to-end (r9): three multi-file appends (the
    small-file problem) → a merge-on-read DELETE (deletion vector) →
    ``optimize_delta`` with ``zorder_by`` on the numeric key, which
    folds the DV into the rewrite and emits every add/remove with
    ``dataChange: false`` → read.  The content hash proves bin-packing
    + Z-ORDER clustering + DV fold changed no surviving row; the
    ``compacted`` column pins the physical outcome (active files
    collapsed to ≤ 2); and the read-debt payoff is pytest-pinned
    (tests/test_delta.py asserts the post-OPTIMIZE snapshot carries no
    deletion vectors and a CDF tail skips the dataChange=false
    commit).  At 100 TB this is the audit-table cure: per-flush files
    compact without the table ever going offline."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(
        f"delta_optimize_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    complete = False
    try:
        complete = (
            history_delta(spark, path)[-1]["operation"] == "OPTIMIZE"
        )
    except (FileNotFoundError, ValueError, IndexError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_delta(
            orders.filter(F.col("o_orderkey") % 8 == 3).repartition(4),
            path, mode="error",
        )
        write_delta(
            orders.filter(F.col("o_orderkey") % 8 == 4).repartition(4),
            path, mode="append",
        )
        write_delta(
            orders.filter(F.col("o_orderkey") % 8 == 5).repartition(4),
            path, mode="append",
        )                                                   # 12 small files
        delete_where_delta(spark, path, F.col("o_orderkey") % 16 == 3)
        optimize_delta(
            spark, path, zorder_by=["o_orderkey"]
        )                                                   # fold + cluster
    snap, _latest = _snapshot(spark, path)
    back = read_delta(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    ).withColumn(
        "compacted", F.lit(int(len(snap.files) <= 2)).cast("long")
    )


def scan_delta_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-mapping EVOLUTION end to end (r11): a PLAIN partitioned
    Delta table upgrades to name-mode mapping
    (:func:`upgrade_column_mapping_delta`, metadata-only — existing
    files keep their spelled names as stable physicals), RENAMES both
    a data column and the PARTITION column
    (:func:`rename_column_delta` — ids/physicals stand, so nothing
    rewrites), appends a second era under the NEW logical names, and
    DV-deletes a slice addressed by the new names.  The read groups on
    the renamed partition column over the renamed money column; the
    oracle recomputes the subtracted union from source parquet — a
    file that stopped resolving post-rename, an append that leaked the
    logical name into the file, a partition value lost in the
    partitionColumns update, or a DV applied to the wrong era all fail
    the hash."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"delta_rename_{os.path.basename(sf_dir.rstrip('/'))}")
    if _table_version(path) != 4:
        shutil.rmtree(path, ignore_errors=True)
        write_delta(
            orders.filter(F.col("o_orderkey") % 10 == 2)
            .repartition(2, "o_orderkey"),
            path, mode="error", partition_by=["o_orderpriority"],
        )                                                    # v0: plain era
        upgrade_column_mapping_delta(spark, path)            # v1
        rename_column_delta(
            spark, path,
            {"o_orderpriority": "priority", "o_totalprice": "price_v2"},
        )                                                    # v2
        write_delta(
            orders.filter(F.col("o_orderkey") % 10 == 7).select(
                F.col("o_orderkey"),
                F.col("o_orderpriority").alias("priority"),
                F.col("o_totalprice").alias("price_v2"),
            ).repartition(2, "o_orderkey"),
            path, mode="append", partition_by=["priority"],
        )                                                    # v3: new-name era
        delete_where_delta(spark, path, F.col("o_orderkey") % 20 == 2)  # v4
    back = read_delta(spark, path)
    return back.groupBy("priority").agg(
        F.count("*").alias("n"),
        money_sum("price_v2").alias("total_price"),
    )


scan_delta_rename = query(
    "b_lake_delta_rename",
    f"""
    SELECT o_orderpriority AS priority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price
    FROM orders
    WHERE (o_orderkey % 10 = 2 OR o_orderkey % 10 = 7)
      AND o_orderkey % 20 <> 2
    GROUP BY o_orderpriority
    """,
)(scan_delta_rename)


scan_delta_optimize = query(
    "b_lake_delta_optimize",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price,
           CAST(1 AS BIGINT) AS compacted
    FROM orders
    WHERE (o_orderkey % 8 = 3 AND o_orderkey % 16 <> 3)
       OR o_orderkey % 8 = 4 OR o_orderkey % 8 = 5
    GROUP BY o_orderpriority
    """,
)(scan_delta_optimize)


def scan_delta_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE end-to-end (r9): source table (two appends + a
    merge-on-read DELETE so a cloned file carries a deletion vector) →
    ``clone_delta`` (version-0 commit referencing the source files by
    absolute path, zero bytes copied) → the CLONE diverges with an
    append and a second DELETE that stacks a clone-local DV on a
    referenced source file → read the clone.  The hash compare fails
    if the clone dropped the inherited DV (resurrected rows), wrote
    its divergent DV against the source root, or leaked the append
    into the source; source-never-touched is pytest-pinned
    (tests/test_delta.py re-reads the source after the clone
    mutations)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    src = _scratch(
        f"delta_clone_src_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    dst = _scratch(
        f"delta_clone_dst_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    complete = False
    try:
        complete = (
            _table_version(src) == 2
            and history_delta(spark, dst)[-1]["operation"] == "DELETE"
        )
    except (FileNotFoundError, ValueError, IndexError):
        complete = False
    if not complete:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(dst, ignore_errors=True)
        write_delta(
            orders.filter(F.col("o_orderkey") % 14 == 0), src, mode="error"
        )
        write_delta(
            orders.filter(F.col("o_orderkey") % 14 == 7), src, mode="append"
        )
        delete_where_delta(spark, src, F.col("o_orderkey") % 28 == 0)
        clone_delta(spark, src, dst)                        # zero-copy fork
        write_delta(
            orders.filter(F.col("o_orderkey") % 7 == 1), dst, mode="append"
        )                                                   # clone-only era
        delete_where_delta(spark, dst, F.col("o_orderkey") % 28 == 7)
    back = read_delta(spark, dst)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


scan_delta_clone = query(
    "b_lake_delta_clone",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price
    FROM orders
    WHERE (o_orderkey % 7 = 0 AND o_orderkey % 28 <> 0
           AND o_orderkey % 28 <> 7)
       OR o_orderkey % 7 = 1
    GROUP BY o_orderpriority
    """,
)(scan_delta_clone)


def scan_delta_rowids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW TRACKING end-to-end (r11): create → enable (backfill ids
    over the sorted single file) → append a second era (ids continue
    above the watermark) → DV DELETE (survivors KEEP their ids).  The
    fixture pins the physical row order (coalesce(1) + sort), so the
    oracle recomputes every id as ``row_number() - 1`` over the same
    order — a re-minted id after the delete, a watermark that failed
    to advance, a backfill in the wrong order, or a lost
    defaultRowCommitVersion all fail the hash."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = _scratch(f"rowids_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = _table_version(path) == 3 and (
        history_delta(spark, path)[-1]["operation"] == "DELETE"
    )
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_delta(
            orders.filter(F.col("o_orderkey") % 26 == 2)
            .coalesce(1)
            .sortWithinPartitions("o_orderkey"),
            path, mode="error",
        )
        enable_row_tracking_delta(spark, path)                 # v1
        write_delta(
            orders.filter(F.col("o_orderkey") % 26 == 15)
            .coalesce(1)
            .sortWithinPartitions("o_orderkey"),
            path, mode="append",
        )                                                      # v2
        delete_where_delta(spark, path, F.col("o_orderkey") % 78 == 2)
    back = read_delta_row_ids(spark, path)
    return back.select(
        "o_orderkey",
        F.col("_row_id").alias("row_id"),
        F.col("_row_commit_version").alias("commit_version"),
    )


scan_delta_rowids = query(
    "b_lake_delta_rowids",
    """
    WITH era1 AS (
      SELECT o_orderkey,
             row_number() OVER (ORDER BY o_orderkey) - 1 AS row_id,
             CAST(1 AS BIGINT) AS commit_version
      FROM orders WHERE o_orderkey % 26 = 2
    ), era2 AS (
      SELECT o_orderkey,
             (SELECT count(*) FROM orders WHERE o_orderkey % 26 = 2)
             + row_number() OVER (ORDER BY o_orderkey) - 1 AS row_id,
             CAST(2 AS BIGINT) AS commit_version
      FROM orders WHERE o_orderkey % 26 = 15
    )
    SELECT o_orderkey, row_id, commit_version
    FROM (SELECT * FROM era1 UNION ALL SELECT * FROM era2)
    WHERE o_orderkey % 78 <> 2
    """,
)(scan_delta_rowids)


def scan_lake_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg→Delta zero-copy conversion end-to-end (r9; widened
    r11): a partitioned Iceberg table (two identity-partitioned
    appends) accrues BOTH merge-on-read delete shapes (a position
    DELETE, then a Flink-CDC-style equality delete) →
    ``convert_iceberg_to_delta`` (version-0 Delta log referencing the
    Iceberg parquet in place, the delete state materialized as Delta
    DELETION VECTORS in the same commit) → a DELTA-side append era →
    read as Delta.  The hash fails if conversion dropped a file,
    mangled the carried partitionValues (the injected values feed the
    group key), resurrected a MOR-deleted row (wrong DV), or leaked
    the Delta append back; the remaining refusal gates
    (renamed-history tables, converted-provenance non-identity
    transforms) and source-untouched are pytest-pinned
    (tests/test_delta.py)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    from .iceberg import write_iceberg

    src = _scratch(
        f"convert_ice_src_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    dst = _scratch(
        f"convert_delta_dst_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    complete = False
    try:
        complete = (
            _table_version(dst) == 1
            and history_delta(spark, dst)[0]["operation"] == "CONVERT"
        )
    except (FileNotFoundError, ValueError, IndexError):
        complete = False
    if not complete:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(dst, ignore_errors=True)
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 9 == 4).coalesce(1),
            src, mode="error", partition_by=["o_orderpriority"],
        )
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 9 == 5).coalesce(1),
            src, mode="append", partition_by=["o_orderpriority"],
        )
        from .iceberg import delete_by_key_iceberg, delete_iceberg_rows

        # merge-on-read state to materialize as DVs (r11): a position
        # delete inside the first append's slice, an equality delete
        # inside the second's — both must stay deleted through the
        # converted Delta read
        delete_iceberg_rows(spark, src, F.col("o_orderkey") % 27 == 4)
        delete_by_key_iceberg(
            spark,
            src,
            orders.filter(F.col("o_orderkey") % 45 == 14).select(
                "o_orderkey"
            ),
        )
        convert_iceberg_to_delta(spark, src, dst)
        write_delta(
            orders.filter(F.col("o_orderkey") % 9 == 6), dst,
            mode="append", partition_by=["o_orderpriority"],
        )                                                   # delta-side era
    back = read_delta(spark, dst)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


scan_lake_convert = query(
    "b_lake_convert",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price
    FROM orders
    WHERE (o_orderkey % 9 = 4 AND o_orderkey % 27 <> 4)
       OR (o_orderkey % 9 = 5 AND o_orderkey % 45 <> 14)
       OR o_orderkey % 9 = 6
    GROUP BY o_orderpriority
    """,
)(scan_lake_convert)
