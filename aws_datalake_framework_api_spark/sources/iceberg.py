"""Dependency-free Apache Iceberg (format v2) table connector.

The driver mandate names "Spark SQL + Delta/Iceberg connectors"
(BASELINE.json:7); this container has neither the iceberg-spark
runtime jar nor a Python Iceberg package (probed 2026-08-14 — see
README), so — exactly like :mod:`.delta` for the Delta protocol —
this module implements the PUBLIC Iceberg table spec
(https://iceberg.apache.org/spec/) directly:

- **metadata**: ``metadata/v{N}.metadata.json`` (+ foreign
  ``{NNNNN}-{uuid}.metadata.json`` naming), ``version-hint.text``,
  snapshots / snapshot-log / schemas / partition-specs;
- **manifest lists** and **manifests**: Avro object container files
  (decoded by :mod:`.avro_codec`, which is interop-tested against the
  JVM's avro-1.12.1 in both directions), with the spec's field ids
  and the Java-compatible bounds encoding (array of key/value
  records for ``map<int, binary>``);
- **positional deletes** (v2 merge-on-read): delete manifests
  (content=1) → parquet delete files ``(file_path, pos)``, applied
  as one distributed anti-join against ``_metadata.row_index`` with
  sequence-number gating (a delete applies only to data files whose
  data sequence number is <= the delete's);
- **commit**: ``os.link`` put-if-absent on the next metadata version
  + atomic ``version-hint.text`` replace — same optimistic protocol
  as the Delta connector's log commits.

Equality deletes (content=2, the merge-on-read DELETE shape Flink
CDC writes) are both READ (null-safe anti-join on the delete's
equality columns, strict sequence gating, partition scoping) and
WRITTEN (``delete_by_key_iceberg`` — an O(keys) point delete that
never reads the table).

Honest gates (refuse, never misread): equality deletes on
renamed-column tables or nested fields, compaction over equality
deletes, unsupported partition transforms for *pruning* (files
under bucket/truncate/day transforms are conservatively KEPT — the
row filter still applies, so results stay correct and only pruning
is lost), snappy/zstd-compressed Avro metadata, and type evolution
(int→long promotion).  Column resolution is BY NAME on the fast path
and BY PARQUET FIELD ID when the metadata's schema history proves a
rename happened (r6 — see the schema-evolution-reads section):
renamed/added/dropped columns read spec-correctly, the writer stamps
field ids into every file (spec requirement), and
``evolve_iceberg`` commits metadata-only rename/add evolution.

Scale: all metadata work is driver-side and planning-sized (a
manifest row is ~100 bytes per data file — the same O(files) bound
the Delta snapshot replay carries); every DATA byte moves through
ordinary distributed parquet scans, so filter pushdown, AQE, and
column pruning all apply unchanged.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import shutil
import struct
import time
import urllib.parse
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..functions.numeric import money_sum, sql_money_sum
from ..registry import query
from .avro_codec import read_avro_file, write_avro_file
from .landing import _scratch
from .readers import load_table

# ---------------------------------------------------------------- type mapping

_PRIM_TO_SPARK = {
    "boolean": BooleanType(),
    "int": IntegerType(),
    "long": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "date": DateType(),
    "string": StringType(),
    "uuid": StringType(),
    "binary": BinaryType(),
    "timestamp": TimestampNTZType(),
    "timestamptz": TimestampType(),
}

_SPARK_TO_PRIM = {
    "boolean": "boolean",
    "int": "int",
    "bigint": "long",
    "float": "float",
    "double": "double",
    "date": "date",
    "string": "string",
    "binary": "binary",
    "timestamp_ntz": "timestamp",
    "timestamp": "timestamptz",
}


def _ice_to_spark(t) -> DataType:
    """Iceberg schema type (JSON) → Spark type."""
    if isinstance(t, str):
        if t in _PRIM_TO_SPARK:
            return _PRIM_TO_SPARK[t]
        m = re.fullmatch(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
        if m:
            return DecimalType(int(m.group(1)), int(m.group(2)))
        if re.fullmatch(r"fixed\[\d+\]", t):
            return BinaryType()
        raise ValueError(f"unsupported iceberg type: {t!r}")
    k = t["type"]
    if k == "struct":
        return StructType(
            [
                StructField(
                    f["name"], _ice_to_spark(f["type"]), not f.get("required")
                )
                for f in t["fields"]
            ]
        )
    if k == "list":
        from pyspark.sql.types import ArrayType

        return ArrayType(_ice_to_spark(t["element"]), not t.get("element-required"))
    if k == "map":
        from pyspark.sql.types import MapType

        return MapType(
            _ice_to_spark(t["key"]),
            _ice_to_spark(t["value"]),
            not t.get("value-required"),
        )
    raise ValueError(f"unsupported iceberg type: {t!r}")


def _spark_to_ice(t: DataType, next_id) -> object:
    """Spark type → Iceberg schema type JSON; ``next_id()`` allocates
    nested field ids (the spec requires every nested field to carry a
    table-unique id)."""
    s = t.simpleString()
    if s in _SPARK_TO_PRIM:
        return _SPARK_TO_PRIM[s]
    if isinstance(t, DecimalType):
        return f"decimal({t.precision}, {t.scale})"
    if isinstance(t, StructType):
        return {
            "type": "struct",
            "fields": [
                {
                    "id": next_id(),
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _spark_to_ice(f.dataType, next_id),
                }
                for f in t.fields
            ],
        }
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(t, ArrayType):
        return {
            "type": "list",
            "element-id": next_id(),
            "element-required": not t.containsNull,
            "element": _spark_to_ice(t.elementType, next_id),
        }
    if isinstance(t, MapType):
        return {
            "type": "map",
            "key-id": next_id(),
            "value-id": next_id(),
            "key": _spark_to_ice(t.keyType, next_id),
            "value-required": not t.valueContainsNull,
            "value": _spark_to_ice(t.valueType, next_id),
        }
    raise ValueError(f"cannot map spark type to iceberg: {s}")


def _schema_to_spark(schema_json: dict) -> StructType:
    return _ice_to_spark({"type": "struct", "fields": schema_json["fields"]})


def _inject_field_ids(dt: DataType, ice_t) -> DataType:
    """Spark type with ``parquet.field.id`` metadata copied from the
    Iceberg schema onto every struct field (nested included) — Spark's
    parquet writer emits these as real parquet field ids
    (``spark.sql.parquet.fieldId.write.enabled``, default on), which
    the spec REQUIRES of writers and which makes rename-safe id-based
    resolution possible for any reader, this one included."""
    if isinstance(dt, StructType) and isinstance(ice_t, dict):
        by_name = {f["name"]: f for f in ice_t.get("fields") or []}
        out = []
        for sf in dt.fields:
            f = by_name.get(sf.name)
            if f is None:
                out.append(sf)
                continue
            out.append(
                StructField(
                    sf.name,
                    _inject_field_ids(sf.dataType, f["type"]),
                    sf.nullable,
                    metadata={
                        **(sf.metadata or {}),
                        "parquet.field.id": int(f["id"]),
                    },
                )
            )
        return StructType(out)
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(dt, ArrayType) and isinstance(ice_t, dict):
        return ArrayType(
            _inject_field_ids(dt.elementType, ice_t.get("element")),
            dt.containsNull,
        )
    if isinstance(dt, MapType) and isinstance(ice_t, dict):
        return MapType(
            _inject_field_ids(dt.keyType, ice_t.get("key")),
            _inject_field_ids(dt.valueType, ice_t.get("value")),
            dt.valueContainsNull,
        )
    return dt


# ------------------------------------------------- single-value serialization
#
# The spec's "Binary single-value serialization" for bounds maps:
# little-endian for fixed-width numerics, UTF-8 for strings, days /
# micros as their int/long forms.  Unknown types decode to None and
# the file is conservatively kept.

def _sv_encode(ice_type: str, v):
    if v is None:
        return None
    try:
        if ice_type == "int" or ice_type == "date":
            return struct.pack("<i", int(v))
        if ice_type in ("long", "timestamp", "timestamptz"):
            return struct.pack("<q", int(v))
        if ice_type == "float":
            return struct.pack("<f", float(v))
        if ice_type == "double":
            return struct.pack("<d", float(v))
        if ice_type == "string":
            return str(v).encode("utf-8")
    except (struct.error, ValueError, TypeError):
        return None
    return None


def _sv_decode(ice_type: str, b: bytes):
    if b is None:
        return None
    try:
        if ice_type == "int" or ice_type == "date":
            return struct.unpack("<i", b)[0]
        if ice_type in ("long", "timestamp", "timestamptz"):
            return struct.unpack("<q", b)[0]
        if ice_type == "float":
            return struct.unpack("<f", b)[0]
        if ice_type == "double":
            return struct.unpack("<d", b)[0]
        if ice_type == "string":
            return b.decode("utf-8")
    except (struct.error, UnicodeDecodeError):
        return None
    return None


# ---------------------------------------------------------------- avro schemas


def _bounds_type():
    """``map<int, binary>`` in the Java-compatible encoding: an Avro
    array of key/value records with ``logicalType: map`` (Avro maps
    require string keys, so Iceberg's Java writer uses this shape —
    our reader accepts both it and a plain string-keyed map)."""
    return [
        "null",
        {
            "type": "array",
            "logicalType": "map",
            "items": {
                "type": "record",
                "name": "k125_v126",
                "fields": [
                    {"name": "key", "type": "int", "field-id": 125},
                    {"name": "value", "type": "bytes", "field-id": 126},
                ],
            },
        },
    ]


def _avro_prim(ice_type: str):
    if ice_type == "date":
        return {"type": "int", "logicalType": "date"}
    if ice_type in ("timestamp", "timestamptz"):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if ice_type in ("boolean", "int", "long", "float", "double", "string"):
        return ice_type
    return "string"  # partition values of exotic types ride as strings


def _partition_record(part_fields: list[tuple[str, str]]) -> dict:
    return {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": n,
                "type": ["null", _avro_prim(t)],
                "default": None,
                "field-id": 1000 + i,
            }
            for i, (n, t) in enumerate(part_fields)
        ],
    }


def _manifest_entry_schema(part_fields: list[tuple[str, str]]) -> dict:
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"],
             "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 4},
            {"name": "data_file", "field-id": 2, "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {"name": "partition",
                     "type": _partition_record(part_fields), "field-id": 102},
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                    {"name": "lower_bounds", "type": _bounds_type(),
                     "default": None, "field-id": 125},
                    {"name": "upper_bounds", "type": _bounds_type(),
                     "default": None, "field-id": 128},
                    {"name": "equality_ids",
                     "type": ["null", {"type": "array", "items": "int",
                                       "element-id": 136}],
                     "default": None, "field-id": 135},
                ],
            }},
        ],
    }


_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


# ---------------------------------------------------------------- metadata io


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


_META_RE = re.compile(r"^(?:v(\d+)|(\d+)-[0-9a-fA-F-]+)\.metadata\.json$")


def _metadata_versions(path: str) -> dict[int, str]:
    """version → metadata file name; accepts both this writer's
    ``v{N}`` naming and the Java writer's ``{NNNNN}-{uuid}`` naming."""
    d = _meta_dir(path)
    out: dict[int, str] = {}
    if not os.path.isdir(d):
        return out
    for f in os.listdir(d):
        m = _META_RE.match(f)
        if m:
            out[int(m.group(1) or m.group(2))] = f
    return out


def _load_metadata(path: str, version: int | None = None) -> dict:
    versions = _metadata_versions(path)
    if not versions:
        raise FileNotFoundError(f"no iceberg metadata under {path}")
    if version is None:
        hint = os.path.join(_meta_dir(path), "version-hint.text")
        version = None
        if os.path.isfile(hint):
            try:
                with open(hint) as fh:
                    v = int(fh.read().strip())
                if v in versions:
                    version = v
            except ValueError:
                pass  # corrupt hint → recover from the listing
        if version is None:
            version = max(versions)
    if version not in versions:
        raise ValueError(f"iceberg metadata version {version} not found")
    with open(os.path.join(_meta_dir(path), versions[version])) as fh:
        meta = json.load(fh)
    if int(meta.get("format-version", 1)) not in (1, 2):
        raise ValueError(
            f"unsupported iceberg format-version {meta.get('format-version')}"
        )
    # Which metadata FILE version this snapshot came from — commits
    # claim exactly base+1 so a concurrent commit conflicts loudly
    # instead of being silently rebased over (stripped before write).
    meta["__file_version__"] = version
    return meta


def _current_schema(meta: dict) -> dict:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id") == sid:
                return s
    if "schema" in meta:  # v1
        return meta["schema"]
    raise ValueError("iceberg metadata has no resolvable schema")


def _spec_fields(meta: dict, spec_id: int) -> list[dict]:
    for s in meta.get("partition-specs", []):
        if s.get("spec-id") == spec_id:
            return s["fields"]
    if "partition-spec" in meta:  # v1
        return meta["partition-spec"]
    return []


def _resolve(p: str, root: str, location: str) -> str:
    """Manifest paths are absolute URIs; a relocated table's declared
    location no longer matches where it actually sits, so strip a
    matching declared-location (or file:) prefix back onto the real
    root — the same prefix-swap delta-rs applies."""
    for pref in (location, "file://" + location, "file:" + location):
        if pref and p.startswith(pref):
            return root + p[len(pref):]
    if p.startswith("file://"):
        return p[len("file://"):]
    return p


def _snapshot_by_id(meta: dict, snapshot_id: int | None) -> dict | None:
    snaps = meta.get("snapshots") or []
    if snapshot_id is None:
        cur = meta.get("current-snapshot-id")
        if cur in (None, -1):
            return None
        snapshot_id = cur
    for s in snaps:
        if s["snapshot-id"] == snapshot_id:
            return s
    raise ValueError(f"iceberg snapshot {snapshot_id} not found")


def _norm_bounds(raw) -> dict[int, bytes] | None:
    """Accept both bounds encodings (k/v record array, string-keyed
    map) → {field_id: bytes}."""
    if raw is None:
        return None
    if isinstance(raw, list):
        return {int(e["key"]): e["value"] for e in raw}
    if isinstance(raw, dict):
        return {int(k): v for k, v in raw.items()}
    return None


def _manifest_entries(
    path: str, meta: dict, snap: dict
) -> tuple[list[dict], list[dict], list[dict]]:
    """Resolve one snapshot to its live (data_files, position_delete
    files, equality_delete files): each as dicts {path, partition,
    spec_id, seq, record_count, lower, upper} (equality recs add
    ``equality_ids``).  Sequence-number inheritance per spec: a null
    entry sequence_number inherits the manifest's sequence number when
    the entry was ADDED in that manifest."""
    location = meta.get("location") or path
    ml = snap.get("manifest-list")
    if ml:
        _, manifests = read_avro_file(_resolve(ml, path, location))
    else:  # v1 inline manifests list
        manifests = [
            {"manifest_path": m, "content": 0, "sequence_number": 0}
            for m in snap.get("manifests", [])
        ]
    data: list[dict] = []
    deletes: list[dict] = []
    eq_deletes: list[dict] = []
    for mf in manifests:
        mpath = _resolve(mf["manifest_path"], path, location)
        m_seq = int(mf.get("sequence_number") or 0)
        m_content = int(mf.get("content") or 0)
        spec_id = int(mf.get("partition_spec_id") or 0)
        _, entries = read_avro_file(mpath)
        for e in entries:
            status = int(e.get("status") or 0)
            if status == 2:  # DELETED — not part of this snapshot
                continue
            df = e["data_file"]
            seq = e.get("sequence_number")
            seq = m_seq if seq is None else int(seq)
            f_content = int(df.get("content") or 0)
            rec = {
                "path": _resolve(df["file_path"], path, location),
                "partition": df.get("partition") or {},
                "spec_id": spec_id,
                "seq": seq,
                "record_count": int(df.get("record_count") or 0),
                "lower": _norm_bounds(df.get("lower_bounds")),
                "upper": _norm_bounds(df.get("upper_bounds")),
            }
            fmt = (df.get("file_format") or "PARQUET").upper()
            if fmt != "PARQUET":
                raise ValueError(
                    f"unsupported iceberg data file format: {fmt}"
                )
            if m_content == 0 and f_content == 0:
                data.append(rec)
            elif f_content == 1:
                deletes.append(rec)
            elif f_content == 2:
                ids = [int(i) for i in (df.get("equality_ids") or [])]
                if not ids:
                    raise ValueError(
                        "iceberg equality delete file lists no "
                        f"equality_ids: {rec['path']}"
                    )
                rec["equality_ids"] = ids
                eq_deletes.append(rec)
    return data, deletes, eq_deletes


# ------------------------------------------------------------------ reader


class _Unprunable(Exception):
    """A (transform, type, value) combination this planner cannot
    evaluate — the file is conservatively KEPT, never misread."""


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """murmur3_x86_32 (the PUBLIC hash the Iceberg spec's Appendix B
    mandates for bucket transforms, seed 0 — NOT Spark's ``F.hash``,
    which is the same function at seed 42)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    for i in range(0, n - 3, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = n & 3
    if tail:
        k = int.from_bytes(data[n - tail :], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


_EPOCH_D = datetime.date(1970, 1, 1)
_EPOCH_TS = datetime.datetime(1970, 1, 1)


def _temporal_parts(value, src_type: str):
    """(days, micros, year, month) of a filter value for the temporal
    transforms; accepts date/datetime objects and ISO strings."""
    v = value
    if isinstance(v, str):
        try:
            v = (
                datetime.date.fromisoformat(v)
                if src_type == "date"
                else datetime.datetime.fromisoformat(v)
            )
        except ValueError as e:
            raise _Unprunable from e
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        delta = v - _EPOCH_TS
        micros = (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds
        return delta.days, micros, v.year, v.month
    if isinstance(v, datetime.date):
        days = (v - _EPOCH_D).days
        return days, days * 86_400_000_000, v.year, v.month
    raise _Unprunable


def _apply_transform(transform: str, value, src_type):
    """Evaluate an Iceberg partition transform on one FILTER value so
    planning can compare it against manifest partition values (the
    spec's hidden-partitioning contract: the user filters on the
    SOURCE column; the transform is the table's business).  Raises
    :class:`_Unprunable` for combinations this planner doesn't
    evaluate — callers keep the file."""
    if value is None:
        # null source → null partition value under every transform
        return None
    if not isinstance(src_type, str):
        raise _Unprunable
    if transform == "identity":
        return value
    if transform == "void":
        raise _Unprunable  # every file holds null — nothing to compare
    if transform in ("year", "month", "day", "hour"):
        if src_type not in ("date", "timestamp", "timestamptz"):
            raise _Unprunable
        days, micros, y, m = _temporal_parts(value, src_type)
        if transform == "year":
            return y - 1970
        if transform == "month":
            return (y - 1970) * 12 + (m - 1)
        if transform == "day":
            return days
        if src_type == "date":
            raise _Unprunable  # hour(date) is spec-invalid
        return micros // 3_600_000_000
    if transform.startswith("truncate["):
        w = int(transform[len("truncate[") : -1])
        if w <= 0:
            raise _Unprunable
        if src_type in ("int", "long") and isinstance(value, int):
            return value - (value % w)  # Python % is floor-mod, per spec
        if src_type == "string" and isinstance(value, str):
            return value[:w]
        raise _Unprunable
    if transform.startswith("bucket["):
        n = int(transform[len("bucket[") : -1])
        if n <= 0:
            raise _Unprunable
        if src_type in ("int", "long"):
            if not isinstance(value, int):
                raise _Unprunable
            data = struct.pack("<q", value)
        elif src_type == "string":
            if not isinstance(value, str):
                raise _Unprunable
            data = value.encode("utf-8")
        elif src_type in ("date", "timestamp", "timestamptz"):
            days, micros, _y, _m = _temporal_parts(value, src_type)
            data = struct.pack("<q", days if src_type == "date" else micros)
        else:
            raise _Unprunable  # float/decimal buckets: rare, kept
        return (_murmur3_32(data) & 0x7FFFFFFF) % n
    raise _Unprunable


# ------------------------------------------------- schema-evolution reads
#
# Iceberg's rename/drop evolution is defined over FIELD IDS: a data
# file written before a rename spells the column by its old name, and
# a spec-correct reader resolves it by the parquet field id, never the
# name.  Reading every footer at planning would be O(files) driver
# work, so the reader first proves from the metadata's full schema
# history whether by-name resolution is even ambiguous: if every live
# field id has carried the same name in every historical schema and no
# live name was ever used by a different id, the single by-name
# FileScan stands (the overwhelmingly common case — O(schemas) driver
# work, zero plan change).  Only when history shows a rename does the
# reader group files by their footer field-id mapping (one planning
# footer read per data file — the same footers the java reader opens
# per task) and plan one branch per mapping, projecting each back to
# the CURRENT names; files written before this engine stamped field
# ids resolve through the history's unambiguous name→id map, and a
# genuinely ambiguous id-less file is refused, never guessed.  The
# spec's LEGAL TYPE PROMOTIONS (r9, VERDICT r8 item #5 — int→long,
# float→double, decimal precision widening at fixed scale) resolve
# through the same branch machinery: each branch reads a promoted
# column with the file's own PHYSICAL type (from the footer — Spark's
# parquet reader refuses silent upcasts) and casts to the current
# type, an exact value-preserving widening by construction.  Any
# OTHER type change across history is refused loudly — a by-name read
# of such a column would die inside the scan with a cast error
# anyway; the gate turns that into a diagnosis.

_DEC_RE = re.compile(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)")


def _promotable(frm, to) -> bool:
    """True when ``frm → to`` is one of the spec's legal primitive
    promotions (§Schema Evolution): int→long, float→double,
    decimal(P,S)→decimal(P',S) with P' ≥ P.  Identity counts (the
    caller decides whether a no-op is acceptable)."""
    if not (isinstance(frm, str) and isinstance(to, str)):
        return False
    if frm == to:
        return True
    if (frm, to) in (("int", "long"), ("float", "double")):
        return True
    mf, mt = _DEC_RE.fullmatch(frm), _DEC_RE.fullmatch(to)
    return bool(
        mf
        and mt
        and int(mt.group(2)) == int(mf.group(2))
        and int(mt.group(1)) >= int(mf.group(1))
    )


def _arrow_prim(at) -> str:
    """A pyarrow field type as the canonical Iceberg primitive string
    for the promotable families ('' for everything else — only
    promotion decisions consult this)."""
    import pyarrow as pa

    if pa.types.is_int32(at):
        return "int"
    if pa.types.is_int64(at):
        return "long"
    if pa.types.is_float32(at):
        return "float"
    if pa.types.is_float64(at):
        return "double"
    if pa.types.is_decimal(at):
        return f"decimal({at.precision}, {at.scale})"
    return ""


def _resolution(meta: dict) -> dict | None:
    """None when by-name reads are provably unambiguous; otherwise the
    resolution tables for :func:`_resolved_union`.  Raises on type
    evolution (including nested struct changes, which surface as a
    type-JSON difference)."""
    schemas = meta.get("schemas")
    cur = _current_schema(meta)
    cur_fields = {int(f["id"]): f for f in cur["fields"]}
    if not schemas:
        return None  # v1 single-schema metadata — nothing to disagree
    needs = False
    name_ids: dict[str, set[int]] = {}
    for s in schemas:
        for f in s.get("fields") or []:
            fid, nm = int(f["id"]), f["name"]
            name_ids.setdefault(nm, set()).add(fid)
            c = cur_fields.get(fid)
            if c is None:
                continue
            if c["name"] != nm:
                needs = True
            if json.dumps(c["type"], sort_keys=True) != json.dumps(
                f["type"], sort_keys=True
            ):
                if _promotable(f["type"], c["type"]):
                    # legal promotion: old files read with their
                    # physical type + cast through the branch path
                    needs = True
                else:
                    raise ValueError(
                        f"column {c['name']!r} (field id {fid}) changed "
                        "type across schema history beyond the spec's "
                        "legal promotions (int→long, float→double, "
                        "decimal precision widening) — such reads are "
                        "not supported (install an iceberg-* library "
                        "to read this table)"
                    )
    for fid, c in cur_fields.items():
        if name_ids.get(c["name"], set()) - {fid}:
            needs = True  # a live name once belonged to another id
    if not needs:
        return None
    return {
        "ordered": list(cur["fields"]),
        "by_id": cur_fields,
        "name_to_id": {
            nm: next(iter(ids)) for nm, ids in name_ids.items() if len(ids) == 1
        },
        "ambiguous": {nm for nm, ids in name_ids.items() if len(ids) > 1},
    }


def _resolved_union(
    spark: SparkSession,
    files: list[str],
    res: dict,
    tags: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """One scan branch per distinct footer field-id mapping, each
    projected to the CURRENT schema (renamed columns re-aliased,
    columns the file predates filled with NULL, dropped columns simply
    not selected).  ``tags`` appends ``_metadata`` pseudo-columns as
    ``(alias, metadata_field)`` pairs — they must be selected inside
    each branch, before any further join."""
    import pyarrow.parquet as pq

    groups: dict[tuple, list[str]] = {}
    for f in files:
        sch = pq.read_schema(f)
        pairs = []
        for fld in sch:
            md = fld.metadata or {}
            raw = md.get(b"PARQUET:field_id")
            if raw is not None:
                fid = int(raw)
            else:
                if fld.name in res["ambiguous"]:
                    raise ValueError(
                        f"cannot resolve column {fld.name!r} in "
                        f"{os.path.basename(f)}: the file has no parquet "
                        "field ids and the name maps to multiple field "
                        "ids across schema history"
                    )
                fid = res["name_to_id"].get(fld.name)
            if fid in res["by_id"]:
                # the footer's PHYSICAL type rides the group signature:
                # a column promoted after this file was written (e.g.
                # int→long) must be read at its file width and cast —
                # Spark's parquet reader refuses silent upcasts
                pairs.append((fld.name, fid, _arrow_prim(fld.type)))
        groups.setdefault(tuple(sorted(pairs)), []).append(f)
    branches = []
    for sig, gfiles in sorted(groups.items()):
        have = {fid: (fname, phys) for fname, fid, phys in sig}
        read_fields = []
        for fname, fid, phys in sig:
            cur_t = res["by_id"][fid]["type"]
            promoted = (
                phys
                and isinstance(cur_t, str)
                and phys != cur_t
                and _promotable(phys, cur_t)
            )
            read_fields.append(
                StructField(
                    fname,
                    _ice_to_spark(phys if promoted else cur_t),
                    True,
                )
            )
        read_schema = StructType(read_fields)
        proj = []
        for f in res["ordered"]:
            fid = int(f["id"])
            if fid in have:
                fname, phys = have[fid]
                col = F.col(fname)
                if (
                    phys
                    and isinstance(f["type"], str)
                    and phys != f["type"]
                    and _promotable(phys, f["type"])
                ):
                    # exact value-preserving widening (int⊂long,
                    # float⊂double, decimal at fixed scale)
                    col = col.cast(_ice_to_spark(f["type"]))
                proj.append(col.alias(f["name"]))
            else:
                proj.append(
                    F.lit(None).cast(_ice_to_spark(f["type"])).alias(f["name"])
                )
        for alias, mfield in tags or []:
            proj.append(F.col(f"_metadata.{mfield}").alias(alias))
        branches.append(
            spark.read.schema(read_schema).parquet(*sorted(gfiles)).select(*proj)
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def _snapshot_at_timestamp(meta: dict, ts) -> int:
    """The snapshot current at-or-before ``ts`` (datetime, ISO string,
    or epoch millis), resolved through the metadata's snapshot-log —
    iceberg-spark's as-of-timestamp rule."""
    if isinstance(ts, str):
        ts = datetime.datetime.fromisoformat(ts)
    if isinstance(ts, datetime.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        millis = int(ts.timestamp() * 1000)
    else:
        millis = int(ts)
    best = None
    for e in sorted(
        meta.get("snapshot-log") or [], key=lambda x: x["timestamp-ms"]
    ):
        if int(e["timestamp-ms"]) <= millis:
            best = int(e["snapshot-id"])
    if best is None:
        raise ValueError(
            f"no snapshot at or before {millis} (table begins later)"
        )
    return best


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    ref: str | None = None,
    as_of_timestamp=None,
) -> DataFrame:
    """Read an Iceberg table (current snapshot, ``snapshot_id`` for
    time travel, ``ref`` for a named tag/branch, or
    ``as_of_timestamp`` — datetime / ISO string / epoch millis —
    resolved through the snapshot-log).  ``partition_filter`` (column → value or collection)
    prunes data files at PLANNING time from manifest partition values
    (identity transforms; other transforms conservatively keep).
    Positional deletes are applied as a distributed anti-join on
    ``(file, _metadata.row_index)`` with sequence-number gating;
    equality deletes (content=2, what Flink CDC writes) as a null-safe
    anti-join on the delete's equality columns with STRICT sequence
    gating and same-partition scoping.  Renamed-column tables resolve
    files by parquet field id (see the schema-evolution-reads
    section)."""
    meta = _load_metadata(path)
    schema_json = _current_schema(meta)
    spark_schema = _schema_to_spark(schema_json)
    res = _resolution(meta)
    if sum(x is not None for x in (snapshot_id, ref, as_of_timestamp)) > 1:
        raise ValueError(
            "pass at most one of snapshot_id / ref / as_of_timestamp"
        )
    if ref is not None:
        r = (meta.get("refs") or {}).get(ref)
        if r is None:
            raise ValueError(f"no such ref: {ref!r}")
        snapshot_id = int(r["snapshot-id"])
    if as_of_timestamp is not None:
        snapshot_id = _snapshot_at_timestamp(meta, as_of_timestamp)
    snap = _snapshot_by_id(meta, snapshot_id)
    if snap is None:
        return spark.createDataFrame([], spark_schema)
    data, deletes, eq_deletes = _manifest_entries(path, meta, snap)
    if partition_filter:
        data = _prune_partition_filter(
            meta, schema_json, data, partition_filter
        )
    return _plan_scan(
        spark, spark_schema, data, deletes, res,
        eq_deletes=eq_deletes, schema_json=schema_json, meta=meta,
    )


_CONST_WIRE_TYPES = {
    "boolean", "int", "long", "float", "double", "string",
    "date", "timestamp", "timestamptz",
}


def _const_wire(value, ice_type: str) -> str | None:
    """One identity-partition value, avro PHYSICAL form (bool, int
    epoch-days for date, long epoch-micros for timestamp) → a string
    Spark's cast reads back to the declared type exactly."""
    import datetime as _dt

    if value is None:
        return None
    if ice_type == "boolean":
        return "true" if value else "false"
    if ice_type == "date":
        return (
            _dt.date(1970, 1, 1) + _dt.timedelta(days=int(value))
        ).isoformat()
    if ice_type in ("timestamp", "timestamptz"):
        return (
            _dt.datetime(1970, 1, 1)
            + _dt.timedelta(microseconds=int(value))
        ).strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(value)


def _const_typed(value, ice_type: str):
    """One identity-partition value, avro PHYSICAL form → the Python
    value a row-assembling (pyarrow-side) reader yields: date objects
    from epoch-days, datetimes from epoch-micros — the typed twin of
    ``_const_wire`` (which targets Spark's string cast)."""
    import datetime as _dt

    if value is None:
        return None
    if ice_type == "date":
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=int(value))
    if ice_type in ("timestamp", "timestamptz"):
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(
            microseconds=int(value)
        )
    if ice_type in ("int", "long"):
        return int(value)
    if ice_type in ("float", "double"):
        return float(value)
    if ice_type == "boolean":
        return bool(value)
    return value


def _identity_const_plan(
    meta: dict, schema_json: dict, data: list[dict], typed: bool = False
) -> tuple[list[str], dict[str, dict]] | None:
    """Identity-partition CONSTANTS plan (spec §Column Projection:
    readers MUST serve identity-transform source columns from the
    manifest's partition metadata — the rule that makes migrated /
    converted data files, which may LACK those columns, readable; for
    conforming writers the metadata equals the file contents, so this
    is also a free column-pruning win on native tables).  Returns
    (source column names, file basename → {col: value}) for the
    columns that are identity sources under EVERY spec_id present in
    ``data`` with the key present in every partition tuple; None when
    no column qualifies (evolved/mixed specs conservatively read the
    columns from the files, which native writers always populate).
    Values are Spark-castable WIRE STRINGS by default (the JVM-scan
    injection path) or typed Python values with ``typed=True`` (the
    pyarrow row-assembling readers — the batch format facade and the
    streaming tails)."""
    if not data:
        return None
    id_to_name = {int(f["id"]): f["name"] for f in schema_json["fields"]}
    type_by_name = {f["name"]: f["type"] for f in schema_json["fields"]}
    props = (meta.get("properties") or {}) if meta is not None else {}
    injection_required = bool(
        props.get("converted-from-delta") or props.get("migrated-data-files")
    )
    all_ident_sources: set[str] = set()
    per_spec: dict[int, dict[str, str]] = {}
    for sid in {r["spec_id"] for r in data}:
        m: dict[str, str] = {}
        for pf in _spec_fields(meta, sid):
            if pf.get("transform") != "identity":
                continue
            src = id_to_name.get(int(pf.get("source-id", -1)))
            if src is not None:
                all_ident_sources.add(src)
            if src is None or type_by_name.get(src) not in _CONST_WIRE_TYPES:
                continue
            m[src] = pf["name"]
        per_spec[sid] = m

    def _refuse_or_none():
        # conservative fall-back direction depends on provenance
        # (r11 review finding): a NATIVE table's files contain the
        # identity source columns, so "read them from the files" is
        # correct; a converted/migrated table's referenced files LACK
        # them, and falling back would silently NULL-fill — the exact
        # misread the r10 refusals prevented.  Batch scans, the
        # format facade, and the streaming tails all plan through
        # here, so one refusal covers every surface.
        if injection_required:
            raise ValueError(
                "converted/migrated table needs partition-constant "
                "injection, but no consistent identity-constant plan "
                "exists (evolved/mixed specs, an unsupported partition "
                "source type, or manifest tuples missing the key) — "
                "rewrite_data_files first, or read through a snapshot "
                "that predates the evolution"
            )
        return None

    maps = list(per_spec.values())
    const_cols = sorted(
        c
        for c in set.intersection(*(set(m) for m in maps))
        # the partition-record key must agree across specs
        if len({m[c] for m in maps}) == 1
    ) if maps else []
    if injection_required and (all_ident_sources - set(const_cols)):
        # SOME identity source column cannot be served as a constant
        # (non-wire type / cross-spec disagreement) — the files don't
        # contain it either; a partial plan would NULL that column
        return _refuse_or_none()
    if not const_cols:
        return _refuse_or_none() if all_ident_sources else None
    pf_name = {c: maps[0][c] for c in const_cols}
    files: dict[str, dict] = {}
    for rec in data:
        part = rec.get("partition") or {}
        if any(pf_name[c] not in part for c in const_cols):
            # conservative: read the columns from files (native), or
            # refuse (converted/migrated — see _refuse_or_none)
            return _refuse_or_none()
        b = os.path.basename(urllib.parse.unquote(rec["path"]))
        if b in files:
            if not injection_required:
                # a native table's files DO carry the identity columns
                # (injection is only a pruning optimization here) — a
                # foreign writer's basename collision must not turn a
                # previously-fine plain read into an error (ADVICE r10):
                # fall back to reading the columns from the files
                return None
            # converted/migrated provenance: the referenced files LACK
            # the identity columns, so constants are the ONLY correct
            # source and a collision would inject the WRONG ones —
            # refuse like the delete-attribution paths
            raise ValueError(
                "cannot inject partition constants: duplicate data "
                "file basenames on a converted/migrated table — "
                "rewrite_data_files first"
            )
        conv = _const_typed if typed else _const_wire
        files[b] = {
            c: conv(part[pf_name[c]], type_by_name[c])
            for c in const_cols
        }
    return const_cols, files


def _plan_scan(
    spark: SparkSession,
    spark_schema: StructType,
    data: list[dict],
    deletes: list[dict],
    res: dict | None = None,
    eq_deletes: list[dict] | None = None,
    schema_json: dict | None = None,
    keep_file: bool = False,
    keep_pos: bool = False,
    meta: dict | None = None,
) -> DataFrame:
    """``keep_file`` retains the ``_ice_file`` basename column in the
    output — the MERGE rewrite-set planner attributes matched rows to
    the files that must be rewritten through it; ``keep_pos`` also
    retains ``_ice_pos`` (the changelog reader joins position-delete
    deltas on both)."""
    if not data:
        out = spark.createDataFrame([], spark_schema)
        if keep_file:
            out = out.withColumn("_ice_file", F.lit(None).cast("string"))
        if keep_pos:
            out = out.withColumn("_ice_pos", F.lit(None).cast("long"))
        return out
    files = sorted({r["path"] for r in data})
    inject = (
        _identity_const_plan(meta, schema_json, data)
        if meta is not None and schema_json is not None
        else None
    )
    # r11 (VERDICT r10 item #6): the renamed-column union now serves
    # identity constants too (build() joins the broadcast basename→
    # constants map on top of _resolved_union), so the r10 refusal on
    # renamed converted/migrated tables is LIFTED — id-less foreign
    # files resolve data columns through the unambiguous history
    # name→id map and partition columns from manifest metadata.

    def build(want_tags: bool) -> DataFrame:
        tags = (
            [("_ice_file", "file_name"), ("_ice_pos", "row_index")]
            if want_tags
            else None
        )
        if res is not None:
            if inject is None:
                return _resolved_union(spark, files, res, tags)
            # renamed table over converted/migrated (or pruning-
            # eligible) identity partitions: the union NULL-fills the
            # partition columns (the files lack them and carry no
            # ids), so overwrite them from the broadcast basename→
            # constants map — the same §Column Projection service as
            # the unrenamed single-scan branch below (r11, VERDICT
            # r10 item #6)
            import pandas as pd

            const_cols, cmap = inject
            utags = [("_ice_file", "file_name")] + (
                [("_ice_pos", "row_index")] if want_tags else []
            )
            out = _resolved_union(spark, files, res, utags)
            types_ = {f.name: f.dataType for f in spark_schema.fields}
            pmap = spark.createDataFrame(
                pd.DataFrame(
                    sorted(
                        (b, *[vals[c] for c in const_cols])
                        for b, vals in cmap.items()
                    ),
                    columns=["_ice_file"]
                    + [f"_ice_const_{i}" for i in range(len(const_cols))],
                ),
                ", ".join(
                    ["_ice_file string"]
                    + [
                        f"_ice_const_{i} string"
                        for i in range(len(const_cols))
                    ]
                ),
            )
            joined = out.join(F.broadcast(pmap), "_ice_file")
            sel = []
            for f in spark_schema.fields:
                if f.name in const_cols:
                    i = const_cols.index(f.name)
                    sel.append(
                        F.col(f"_ice_const_{i}")
                        .cast(types_[f.name])
                        .alias(f.name)
                    )
                else:
                    sel.append(F.col(f.name))
            if want_tags:
                sel += [F.col("_ice_file"), F.col("_ice_pos")]
            return joined.select(*sel)
        if inject is not None:
            # identity-partition sources come from the manifest's
            # partition metadata (spec §Column Projection): ONE
            # FileScan over the remaining columns + a broadcast
            # basename→constants map join, keyed on the scan's
            # deterministic ``_metadata.file_name`` so data-column
            # pushdown survives — same shape as the Delta reader's
            # single-scan partition injection.
            import pandas as pd

            const_cols, cmap = inject
            scan_schema = StructType(
                [f for f in spark_schema.fields if f.name not in const_cols]
            )
            types_ = {f.name: f.dataType for f in spark_schema.fields}
            df = spark.read.schema(scan_schema).parquet(*files)
            extra = [F.col("_metadata.file_name").alias("_ice_file")]
            if want_tags:
                extra.append(
                    F.col("_metadata.row_index").alias("_ice_pos")
                )
            df = df.select("*", *extra)
            pmap = spark.createDataFrame(
                pd.DataFrame(
                    sorted(
                        (b, *[vals[c] for c in const_cols])
                        for b, vals in cmap.items()
                    ),
                    columns=["_ice_file", *const_cols],
                ),
                ", ".join(
                    ["_ice_file string"]
                    + [f"`{c}` string" for c in const_cols]
                ),
            )
            joined = df.join(F.broadcast(pmap), "_ice_file")
            out_cols = [
                F.col(c).cast(types_[c]).alias(c)
                if c in const_cols
                else F.col(c)
                for c in [f.name for f in spark_schema.fields]
            ]
            if want_tags:
                out_cols += [F.col("_ice_file"), F.col("_ice_pos")]
            return joined.select(*out_cols)
        df = spark.read.schema(spark_schema).parquet(*files)
        if want_tags:
            df = df.select(
                "*",
                F.col("_metadata.file_name").alias("_ice_file"),
                F.col("_metadata.row_index").alias("_ice_pos"),
            )
        return df

    min_seq = min(r["seq"] for r in data)
    live_deletes = [d for d in deletes if d["seq"] >= min_seq]
    # equality deletes gate STRICTLY: a delete at sequence S removes
    # matching rows only from data files with data sequence < S (the
    # spec's rule that lets an upsert's own appended rows survive the
    # delete committed alongside them)
    live_eq = [d for d in (eq_deletes or []) if d["seq"] > min_seq]
    if not live_deletes and not live_eq:
        if keep_file or keep_pos:
            out = build(True)
            if not keep_file:
                out = out.drop("_ice_file")
            if not keep_pos:
                out = out.drop("_ice_pos")
            return out
        return build(False)
    # Basenames key both joins (full paths differ between the writer's
    # URI form and the local scan's); a collision would misattribute
    # deletes — refuse, like the Delta DV path.
    base_seq: dict[str, int] = {}
    for r in data:
        b = os.path.basename(urllib.parse.unquote(r["path"]))
        if b in base_seq:
            raise ValueError(
                "cannot apply deletes: duplicate data file basenames"
            )
        base_seq[b] = r["seq"]
    tagged = build(True)
    if live_deletes:
        del_rows = _pos_kill_rows(spark, live_deletes, base_seq)
        # No forced broadcast on the delete rows: position-delete files
        # are DATA-sized at scale (unlike the planning-sized seq maps
        # inside the helper) — AQE picks broadcast when they happen to
        # be small.
        tagged = tagged.join(del_rows, ["_ice_file", "_ice_pos"], "left_anti")
    if live_eq:
        tagged = _apply_eq_deletes(
            spark, tagged, live_eq, data, base_seq, res, schema_json
        )
    drop = []
    if not keep_file:
        drop.append("_ice_file")
    if not keep_pos:
        drop.append("_ice_pos")
    return tagged.drop(*drop) if drop else tagged


def _pos_kill_rows(
    spark: SparkSession, live_deletes: list[dict], base_seq: dict[str, int]
) -> DataFrame:
    """``(_ice_file, _ice_pos)`` rows the position-delete files KILL,
    sequence-gated (a delete applies to files whose data sequence <=
    the delete's) and basename-keyed — the scan subtraction in
    :func:`_plan_scan` and the DV materialization in
    ``convert_iceberg_to_delta`` (sources/delta.py) share this.
    Delete rows name their target file as a full URI; normalize to
    basename.  The scan of delete files is DISTRIBUTED — at scale
    positional-delete files are data-sized, never driver state."""
    import pandas as pd

    dseq = spark.createDataFrame(
        pd.DataFrame(
            sorted(
                (os.path.basename(urllib.parse.unquote(d["path"])), d["seq"])
                for d in live_deletes
            ),
            columns=["_ice_dfile", "_ice_dseq"],
        ),
        "_ice_dfile string, _ice_dseq long",
    )
    dmap = spark.createDataFrame(
        pd.DataFrame(
            sorted(base_seq.items()), columns=["_ice_file", "_ice_seq"]
        ),
        "_ice_file string, _ice_seq long",
    )
    dfiles = sorted({d["path"] for d in live_deletes})
    return (
        spark.read.schema("file_path string, pos long").parquet(*dfiles)
        .withColumn(
            "_ice_dfile",
            F.element_at(F.split(F.col("_metadata.file_name"), "/"), -1),
        )
        .join(F.broadcast(dseq), "_ice_dfile")
        .withColumn(
            "_ice_file",
            F.url_decode(F.element_at(F.split(F.col("file_path"), "/"), -1)),
        )
        .join(F.broadcast(dmap), "_ice_file")
        .filter(F.col("_ice_dseq") >= F.col("_ice_seq"))
        .select("_ice_file", F.col("pos").alias("_ice_pos"))
    )


def _apply_eq_deletes(
    spark: SparkSession,
    tagged: DataFrame,
    live_eq: list[dict],
    data: list[dict],
    base_seq: dict[str, int],
    res: dict | None,
    schema_json: dict | None,
    return_killed: bool = False,
) -> DataFrame:
    """Subtract equality-delete rows (content=2, the merge-on-read
    DELETE shape Flink CDC writes) from a tagged scan: one null-safe
    left-anti join per distinct ``equality_ids`` set, on the delete's
    equality columns, gated by data-file sequence STRICTLY below the
    delete's and scoped to the delete file's partition (a delete
    written under a partitioned spec applies only to its own
    partition; one written unpartitioned applies globally — per the
    spec's scoping rule, which keeps a partition-local delete from
    over-deleting equal keys elsewhere).

    ``return_killed=True`` inverts the join: return the rows the
    deletes KILL (semi-join per group, deduped on the scan tags) —
    what the changelog reader emits as row-level deletes."""
    if res is not None:
        raise ValueError(
            "equality deletes on a renamed-column table are not supported "
            "by this reader (install iceberg-spark to read this table)"
        )
    if schema_json is None:
        raise ValueError("equality deletes need the table schema to resolve")
    import pandas as pd

    by_id = {int(f["id"]): f for f in schema_json["fields"]}
    spark_fields = {
        sf.name: sf for sf in _schema_to_spark(schema_json).fields
    }

    def pjson(p: dict | None) -> str | None:
        return (
            json.dumps(p, sort_keys=True, default=str) if p else None
        )

    smap = spark.createDataFrame(
        pd.DataFrame(
            sorted(
                (
                    os.path.basename(urllib.parse.unquote(r["path"])),
                    r["seq"],
                    pjson(r.get("partition")),
                )
                for r in data
            ),
            columns=["_ice_file", "_ice_seq", "_ice_part"],
        ),
        "_ice_file string, _ice_seq long, _ice_part string",
    )
    tagged = tagged.join(F.broadcast(smap), "_ice_file")
    killed = None
    groups: dict[tuple, list[dict]] = {}
    for d in live_eq:
        groups.setdefault(tuple(sorted(d["equality_ids"])), []).append(d)
    for ids, recs in sorted(groups.items()):
        cols = []
        for fid in ids:
            f = by_id.get(fid)
            if f is None or not isinstance(f.get("type"), str):
                raise ValueError(
                    f"equality delete on unresolvable/nested field id {fid} "
                    "is not supported by this reader"
                )
            cols.append(f["name"])
        sub_schema = StructType([spark_fields[c] for c in cols])
        dmeta = spark.createDataFrame(
            pd.DataFrame(
                sorted(
                    (
                        os.path.basename(urllib.parse.unquote(d["path"])),
                        d["seq"],
                        pjson(d.get("partition")),
                    )
                    for d in recs
                ),
                columns=["_eq_dfile", "_eq_dseq", "_eq_dpart"],
            ),
            "_eq_dfile string, _eq_dseq long, _eq_dpart string",
        )
        dfiles = sorted({d["path"] for d in recs})
        # Delete rows scan DISTRIBUTED (a CDC stream's delete files are
        # data-sized); AQE broadcasts them when they happen to be small.
        dr = (
            spark.read.schema(sub_schema).parquet(*dfiles)
            .withColumn(
                "_eq_dfile",
                F.element_at(F.split(F.col("_metadata.file_name"), "/"), -1),
            )
            .join(F.broadcast(dmeta), "_eq_dfile")
            .select(
                *[F.col(c).alias(f"_eq_{c}") for c in cols],
                "_eq_dseq",
                "_eq_dpart",
            )
        )
        cond = (F.col("_eq_dseq") > F.col("_ice_seq")) & (
            F.col("_eq_dpart").isNull()
            | (F.col("_eq_dpart") == F.col("_ice_part"))
        )
        for c in cols:
            # null-safe: a delete row's NULL key matches NULL data
            # values, per the spec's IS-NOT-DISTINCT-FROM semantics
            cond = cond & F.col(c).eqNullSafe(F.col(f"_eq_{c}"))
        if return_killed:
            hit = tagged.join(dr, cond, "left_semi")
            killed = hit if killed is None else killed.unionByName(hit)
        else:
            tagged = tagged.join(dr, cond, "left_anti")
    if return_killed:
        if killed is None:
            killed = tagged.limit(0)
        return killed.dropDuplicates(["_ice_file", "_ice_pos"]).drop(
            "_ice_seq", "_ice_part"
        )
    return tagged.drop("_ice_seq", "_ice_part")


def _prune_partition_filter(
    meta: dict, schema_json: dict, data: list[dict], partition_filter: dict
) -> list[dict]:
    """Planning-time file pruning through HIDDEN partitioning: filters
    name SOURCE columns; each spec field sourced from a filtered
    column gets the filter values pushed through its transform
    (identity/bucket/truncate/year/month/day/hour) and compared
    against the file's manifest partition value.  Unevaluable
    combinations keep the file — pruning is an optimization, never a
    correctness lever.  Shared by :func:`read_iceberg` and the
    partition-scoped :func:`rewrite_data_files`."""
    id_to_name = {int(f["id"]): f["name"] for f in schema_json["fields"]}
    type_by_name = {f["name"]: f["type"] for f in schema_json["fields"]}
    kept = []
    for rec in data:
        fields = _spec_fields(meta, rec["spec_id"])
        ok = True
        for c, want in partition_filter.items():
            wants = (
                list(want)
                if isinstance(want, (set, list, tuple))
                else [want]
            )
            for pf in fields:
                sid = pf.get("source-id")
                src = (
                    id_to_name.get(int(sid)) if sid is not None
                    else (pf["name"] if pf.get("transform") == "identity"
                          else None)
                )
                if src != c or pf["name"] not in rec["partition"]:
                    continue
                try:
                    twant = {
                        _apply_transform(
                            pf.get("transform", "identity"),
                            w,
                            type_by_name.get(c),
                        )
                        for w in wants
                    }
                except _Unprunable:
                    continue  # keep — can't evaluate this transform
                have = rec["partition"].get(pf["name"])
                allowed = {
                    None if t is None else str(t) for t in twant
                }
                if (None if have is None else str(have)) not in allowed:
                    ok = False
                    break
            if not ok:
                break
        if ok:
            kept.append(rec)
    return kept


def read_iceberg_range(
    spark: SparkSession, path: str, column: str, lo, hi,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Stats-skipping range read ``lo <= column <= hi``: files whose
    manifest lower/upper bounds PROVABLY miss the range are never
    scanned (metrics filtering, the Iceberg analogue of the Delta
    connector's ``prune_files``); files without usable bounds are
    conservatively kept, and the row filter always applies."""
    meta = _load_metadata(path)
    schema_json = _current_schema(meta)
    field = next(
        (f for f in schema_json["fields"] if f["name"] == column), None
    )
    if field is None:
        raise ValueError(f"no such column: {column}")
    fid, ftype = int(field["id"]), field["type"]
    spark_schema = _schema_to_spark(schema_json)
    snap = _snapshot_by_id(meta, snapshot_id)
    if snap is None:
        return spark.createDataFrame([], spark_schema)
    data, deletes, eq_deletes = _manifest_entries(path, meta, snap)
    kept = []
    for rec in data:
        prunable = False
        if isinstance(ftype, str):
            mn = _sv_decode(ftype, (rec["lower"] or {}).get(fid))
            mx = _sv_decode(ftype, (rec["upper"] or {}).get(fid))
            if mn is not None and mx is not None:
                try:
                    prunable = mx < lo or mn > hi
                except TypeError:
                    prunable = False
        if not prunable:
            kept.append(rec)
    out = _plan_scan(
        spark, spark_schema, kept, deletes, _resolution(meta),
        eq_deletes=eq_deletes, schema_json=schema_json, meta=meta,
    )
    return out.filter((F.col(column) >= F.lit(lo)) & (F.col(column) <= F.lit(hi)))


def read_iceberg_changes(
    spark: SparkSession,
    path: str,
    starting_snapshot_id: int | None = None,
    ending_snapshot_id: int | None = None,
) -> DataFrame:
    """Row-level changelog between snapshots (iceberg-spark's
    ``create_changelog_view``): output = table columns +
    ``_change_type`` ('insert' | 'delete') + ``_snapshot_id``.
    ``starting_snapshot_id`` is EXCLUSIVE (None = from genesis),
    ``ending_snapshot_id`` inclusive (None = current).  Per snapshot,
    in sequence order:

    - data files ADDED → their rows as inserts, with the snapshot's
      own deletes applied — an upsert's NET effect streams, dead-on-
      arrival rows stay silent;
    - data files REMOVED → their rows AT THE PREVIOUS snapshot
      (previous deletes applied) as deletes;
    - NEW position-delete files → exactly the newly-dead rows of
      still-active files as deletes (previously-dead positions were
      already subtracted, so an overlapping foreign delete file
      cannot double-emit);
    - NEW equality-delete files → the rows they kill (null-safe
      match, strict sequence gate, partition scope) as deletes.

    A copy-on-write rewrite therefore surfaces file-granularly
    (delete+insert pairs), the same contract as the Delta change feed
    without cdc files; merge-on-read deletes surface row-level.
    Expired starting snapshots refuse with a clear error.  (r7.)"""
    meta = _load_metadata(path)
    schema_json = _current_schema(meta)
    spark_schema = _schema_to_spark(schema_json)
    res = _resolution(meta)
    snaps = sorted(
        meta.get("snapshots") or [],
        key=lambda s: (s.get("sequence-number", 0), s.get("timestamp-ms", 0)),
    )
    ids = [int(s["snapshot-id"]) for s in snaps]

    def _index(sid, label):
        try:
            return ids.index(int(sid))
        except ValueError:
            raise ValueError(
                f"{label} snapshot {sid} is not in the snapshot log "
                "(expired?) — the changelog for this range is "
                "unreconstructable"
            ) from None

    lo = 0 if starting_snapshot_id is None else _index(
        starting_snapshot_id, "starting") + 1
    hi = len(snaps) if ending_snapshot_id is None else _index(
        ending_snapshot_id, "ending") + 1
    ct = F.lit(None)
    empty = (
        spark.createDataFrame([], spark_schema)
        .withColumn("_change_type", F.lit(None).cast("string"))
        .withColumn("_snapshot_id", F.lit(None).cast("long"))
    )
    del ct
    if lo >= hi:
        return empty
    if lo == 0:
        prev_data, prev_del, prev_eq = [], [], []
    else:
        prev_data, prev_del, prev_eq = _manifest_entries(
            path, meta, snaps[lo - 1]
        )
    import pandas as pd

    out = None
    for i in range(lo, hi):
        cur = snaps[i]
        cur_data, cur_del, cur_eq = _manifest_entries(path, meta, cur)
        prev_paths = {r["path"] for r in prev_data}
        cur_paths = {r["path"] for r in cur_data}
        added = [r for r in cur_data if r["path"] not in prev_paths]
        removed = [r for r in prev_data if r["path"] not in cur_paths]
        survivors = [r for r in prev_data if r["path"] in cur_paths]
        new_pos = [
            d for d in cur_del
            if d["path"] not in {x["path"] for x in prev_del}
        ]
        new_eq = [
            d for d in cur_eq
            if d["path"] not in {x["path"] for x in prev_eq}
        ]
        parts: list[DataFrame] = []
        if added:
            parts.append(
                _plan_scan(
                    spark, spark_schema, added, cur_del, res,
                    eq_deletes=cur_eq, schema_json=schema_json, meta=meta,
                ).withColumn("_change_type", F.lit("insert"))
            )
        if removed:
            parts.append(
                _plan_scan(
                    spark, spark_schema, removed, prev_del, res,
                    eq_deletes=prev_eq, schema_json=schema_json, meta=meta,
                ).withColumn("_change_type", F.lit("delete"))
            )
        if new_pos and survivors:
            tagged = _plan_scan(
                spark, spark_schema, survivors, prev_del, res,
                eq_deletes=prev_eq, schema_json=schema_json, meta=meta,
                keep_file=True, keep_pos=True,
            )
            dseq = spark.createDataFrame(
                pd.DataFrame(
                    sorted(
                        (os.path.basename(urllib.parse.unquote(d["path"])),
                         d["seq"])
                        for d in new_pos
                    ),
                    columns=["_ice_dfile", "_ice_dseq"],
                ),
                "_ice_dfile string, _ice_dseq long",
            )
            smap = spark.createDataFrame(
                pd.DataFrame(
                    sorted(
                        (os.path.basename(urllib.parse.unquote(r["path"])),
                         r["seq"])
                        for r in survivors
                    ),
                    columns=["_ice_file", "_ice_seq"],
                ),
                "_ice_file string, _ice_seq long",
            )
            dfiles = sorted({d["path"] for d in new_pos})
            del_rows = (
                spark.read.schema("file_path string, pos long")
                .parquet(*dfiles)
                .withColumn(
                    "_ice_dfile",
                    F.element_at(
                        F.split(F.col("_metadata.file_name"), "/"), -1
                    ),
                )
                .join(F.broadcast(dseq), "_ice_dfile")
                .withColumn(
                    "_ice_file",
                    F.url_decode(
                        F.element_at(F.split(F.col("file_path"), "/"), -1)
                    ),
                )
                .join(F.broadcast(smap), "_ice_file")
                .filter(F.col("_ice_dseq") >= F.col("_ice_seq"))
                .select("_ice_file", F.col("pos").alias("_ice_pos"))
            )
            parts.append(
                tagged.join(del_rows, ["_ice_file", "_ice_pos"], "left_semi")
                .drop("_ice_file", "_ice_pos")
                .withColumn("_change_type", F.lit("delete"))
            )
        if new_eq and survivors:
            tagged = _plan_scan(
                spark, spark_schema, survivors, prev_del, res,
                eq_deletes=prev_eq, schema_json=schema_json, meta=meta,
                keep_file=True, keep_pos=True,
            )
            base_seq = {
                os.path.basename(urllib.parse.unquote(r["path"])): r["seq"]
                for r in survivors
            }
            parts.append(
                _apply_eq_deletes(
                    spark, tagged, new_eq, survivors, base_seq, res,
                    schema_json, return_killed=True,
                )
                .drop("_ice_file", "_ice_pos")
                .withColumn("_change_type", F.lit("delete"))
            )
        lit_s = F.lit(int(cur["snapshot-id"])).cast("long")
        for p in parts:
            p = p.withColumn("_snapshot_id", lit_s)
            out = p if out is None else out.unionByName(p)
        prev_data, prev_del, prev_eq = cur_data, cur_del, cur_eq
    return out if out is not None else empty


def history_iceberg(spark: SparkSession, path: str) -> list[dict]:
    """Snapshot history, oldest first: (snapshot-id, sequence-number,
    timestamp-ms, operation)."""
    meta = _load_metadata(path)
    out = []
    for s in meta.get("snapshots") or []:
        out.append(
            {
                "snapshot_id": s["snapshot-id"],
                "sequence_number": s.get("sequence-number", 0),
                "timestamp_ms": s.get("timestamp-ms"),
                "operation": (s.get("summary") or {}).get("operation"),
            }
        )
    return sorted(out, key=lambda r: (r["sequence_number"], r["timestamp_ms"] or 0))


# ------------------------------------------------------------------ writer


def _file_stats(
    fpath: str, schema_json: dict
) -> tuple[int, list | None, list | None]:
    """(row_count, lower_bounds, upper_bounds) from the already-written
    parquet footer — bounds in the k/v-record-array encoding, keyed by
    field id.  Best-effort: no stats is always legal."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(fpath).metadata
    except Exception:  # noqa: BLE001 — stats are an optimization
        return 0, None, None
    ids = {f["name"]: (int(f["id"]), f["type"]) for f in schema_json["fields"]}
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            s = col.statistics
            if s is None or not s.has_min_max:
                continue
            name = col.path_in_schema
            if name not in ids or not isinstance(ids[name][1], str):
                continue
            try:
                lo, hi = s.min, s.max
            except Exception:  # noqa: BLE001 — e.g. pyarrow cannot
                continue  # extract decimal statistics; stats optional
            if isinstance(lo, bytes):
                continue
            if name not in mins or lo < mins[name]:  # type: ignore[operator]
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:  # type: ignore[operator]
                maxs[name] = hi
    lower = []
    upper = []
    for name, v in mins.items():
        fid, ftype = ids[name]
        b = _sv_encode(ftype, v)
        if b is not None:
            lower.append({"key": fid, "value": b})
    for name, v in maxs.items():
        fid, ftype = ids[name]
        b = _sv_encode(ftype, v)
        if b is not None:
            upper.append({"key": fid, "value": b})
    return md.num_rows, lower or None, upper or None


def _typed_part_value(ice_type: str, raw: str | None):
    """Type a partition path segment (Spark's partitionBy directory
    name) into the manifest's avro PHYSICAL form: the avro schema
    (``_avro_prim``) spells date as int epoch-days and timestamp as
    long epoch-micros, so the ISO strings Spark writes into directory
    names must convert here (previously they rode through as strings
    and the avro encoder crashed — date/timestamp identity partitions
    were unwritable)."""
    import datetime as _dt

    if raw is None:
        return None
    if ice_type == "int":
        return int(raw)
    if ice_type == "long":
        return int(raw)
    if ice_type in ("float", "double"):
        return float(raw)
    if ice_type == "boolean":
        return raw == "true"
    if ice_type == "date":
        return (_dt.date.fromisoformat(raw) - _dt.date(1970, 1, 1)).days
    if ice_type in ("timestamp", "timestamptz"):
        ts = _dt.datetime.fromisoformat(raw)
        if ts.tzinfo is not None:
            ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        delta = ts - _dt.datetime(1970, 1, 1)
        return (
            (delta.days * 86_400 + delta.seconds) * 1_000_000
            + delta.microseconds
        )
    return str(raw)


_PARAM_TRANSFORM_RE = re.compile(
    r"^\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*$"
)
_UNARY_TRANSFORM_RE = re.compile(
    r"^\s*(year|month|day|days|hour|hours)\s*\(\s*(\w+)\s*\)\s*$"
)
#: partition-value type per transform (identity/truncate keep the
#: source type; the temporal + bucket transforms yield int ordinals)
_INT_VALUED = {"year", "month", "day", "hour"}


def _parse_partition_by(
    partition_by: list[str], schema_json: dict
) -> list[dict]:
    """Parse iceberg-spark-style partition expressions — plain column
    names (identity) or ``bucket(N, col)`` / ``truncate(W, col)`` /
    ``year|month|day|hour(col)`` — into spec-field dicts
    {name, transform, source, source-id, ptype}.  Field names follow
    the java convention (``col_bucket``, ``col_trunc``, ``col_day``…)
    so iceberg-spark reads the layout it expects."""
    by_name = {f["name"]: f for f in schema_json["fields"]}

    def src(col: str) -> dict:
        f = by_name.get(col)
        if f is None or not isinstance(f.get("type"), str):
            raise ValueError(
                f"cannot partition by {col!r}: not a top-level primitive "
                "column"
            )
        return f

    out: list[dict] = []
    for expr in partition_by:
        m = _PARAM_TRANSFORM_RE.match(expr)
        if m:
            kind, n, col = m.group(1), int(m.group(2)), m.group(3)
            f = src(col)
            if kind == "bucket":
                if f["type"] not in (
                    "int", "long", "string", "date", "timestamp",
                    "timestamptz",
                ):
                    raise ValueError(
                        f"bucket writes support int/long/string/date/"
                        f"timestamp sources, not {f['type']} ({col})"
                    )
                out.append({
                    "name": f"{col}_bucket", "transform": f"bucket[{n}]",
                    "source": col, "source-id": int(f["id"]),
                    "ptype": "int", "stype": f["type"],
                })
            else:
                if f["type"] not in ("int", "long", "string"):
                    raise ValueError(
                        f"truncate writes support int/long/string sources, "
                        f"not {f['type']} ({col})"
                    )
                out.append({
                    "name": f"{col}_trunc", "transform": f"truncate[{n}]",
                    "source": col, "source-id": int(f["id"]),
                    "ptype": f["type"], "stype": f["type"],
                })
            continue
        m = _UNARY_TRANSFORM_RE.match(expr)
        if m:
            kind, col = m.group(1).rstrip("s"), m.group(2)
            f = src(col)
            if f["type"] not in ("date", "timestamp", "timestamptz"):
                raise ValueError(
                    f"{kind}() needs a date/timestamp source, not "
                    f"{f['type']} ({col})"
                )
            if kind == "hour" and f["type"] == "date":
                raise ValueError("hour(date) is spec-invalid")
            out.append({
                "name": f"{col}_{kind}", "transform": kind,
                "source": col, "source-id": int(f["id"]),
                "ptype": "int", "stype": f["type"],
            })
            continue
        f = src(expr.strip())
        out.append({
            "name": f["name"], "transform": "identity",
            "source": f["name"], "source-id": int(f["id"]),
            "ptype": f["type"], "stype": f["type"],
        })
    names = [pf["name"] for pf in out]
    if len(set(names)) != len(names):
        raise ValueError(
            f"duplicate partition field names in spec: {names} "
            "(two transforms of the same column with the same kind?)"
        )
    return out


def _spec_from_meta(
    meta: dict, schema_json: dict, spec_id: int | None = None
) -> list[dict]:
    """A partition spec (default unless ``spec_id`` given) as
    parsed-spec dicts (the in-repo currency for staging/manifest
    writing)."""
    by_id = {int(f["id"]): f for f in schema_json["fields"]}
    out = []
    sid = meta.get("default-spec-id", 0) if spec_id is None else spec_id
    for pf in _spec_fields(meta, sid):
        t = pf.get("transform", "identity")
        f = by_id.get(int(pf.get("source-id", -1)))
        if f is None:
            raise ValueError(
                f"partition field {pf.get('name')!r} sources an unknown "
                "column id — cannot stage writes for this spec"
            )
        if t == "identity" or t.startswith("truncate["):
            ptype = f["type"]
        elif t.startswith("bucket[") or t in _INT_VALUED:
            ptype = "int"
        else:
            raise ValueError(
                f"cannot write under partition transform {t!r}"
            )
        if t.startswith("bucket[") and f["type"] not in (
            "int", "long", "string", "date", "timestamp", "timestamptz",
        ):
            raise ValueError(
                f"cannot stage writes for bucket over {f['type']} source"
            )
        out.append({
            "name": pf["name"], "transform": t, "source": f["name"],
            "source-id": int(f["id"]), "ptype": ptype,
            "stype": f["type"],
        })
    return out


def _bucket_udf(n: int, src_type: str):
    """Arrow-batched bucket transform for WRITES: murmur3_x86_32 seed
    0 over the spec's single-value serialization.  int/long vectorize
    in numpy (8-byte input = exactly two block rounds, branch-free);
    strings hash per element inside the batch."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if src_type in ("int", "long", "date", "timestamp", "timestamptz"):

        def bucket_long(s):
            import numpy as np

            # spec serialization: dates hash as epoch DAYS, timestamps
            # as epoch MICROS, both as 8-byte little-endian longs
            if src_type == "date":
                iv = (
                    pd.to_datetime(s)
                    .values.astype("datetime64[D]")
                    .astype("int64")
                )
            elif src_type in ("timestamp", "timestamptz"):
                iv = (
                    pd.to_datetime(s)
                    .values.astype("datetime64[us]")
                    .astype("int64")
                )
            else:
                iv = s.to_numpy(dtype="int64", na_value=0)
            v = iv.view("uint64")
            c1 = np.uint32(0xCC9E2D51)
            c2 = np.uint32(0x1B873593)

            def mix(h, k):
                k = (k * c1).astype("uint32")
                k = (k << np.uint32(15)) | (k >> np.uint32(17))
                k = (k * c2).astype("uint32")
                h = h ^ k
                h = (h << np.uint32(13)) | (h >> np.uint32(19))
                return (h * np.uint32(5) + np.uint32(0xE6546B64)).astype(
                    "uint32"
                )

            h = np.zeros(len(v), dtype="uint32")
            h = mix(h, (v & np.uint64(0xFFFFFFFF)).astype("uint32"))
            h = mix(h, (v >> np.uint64(32)).astype("uint32"))
            h = h ^ np.uint32(8)
            h = h ^ (h >> np.uint32(16))
            h = (h * np.uint32(0x85EBCA6B)).astype("uint32")
            h = h ^ (h >> np.uint32(13))
            h = (h * np.uint32(0xC2B2AE35)).astype("uint32")
            h = h ^ (h >> np.uint32(16))
            out = ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n)).astype(
                "int32"
            )
            res = pd.Series(out).astype("Int32")
            res[s.isna()] = None
            return res

        # real class objects in the annotations: pandas is imported
        # locally, so string hints ('pd.Series') would not resolve in
        # pyspark's get_type_hints pass
        bucket_long.__annotations__ = {"s": pd.Series, "return": pd.Series}
        return pandas_udf(bucket_long, "int")

    def bucket_str(s):
        return pd.Series(
            [
                None
                if x is None
                else (_murmur3_32(x.encode("utf-8")) & 0x7FFFFFFF) % n
                for x in s
            ],
            dtype="Int32",
        )

    bucket_str.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(bucket_str, "int")


def _partition_value_col(pf: dict):
    """Spark Column computing one partition field's VALUE from its
    source column — JVM-side builtins for everything except bucket
    (which needs seed-0 murmur3, Arrow-batched)."""
    c, t = pf["source"], pf["transform"]
    if t == "identity":
        return F.col(c)
    if t.startswith("truncate["):
        w = int(t[len("truncate["):-1])
        if pf["ptype"] == "string":
            return F.substring(F.col(c), 1, w)
        return (F.col(c) - F.pmod(F.col(c), F.lit(w))).cast(
            "int" if pf["ptype"] == "int" else "long"
        )
    if t == "year":
        return (F.year(F.col(c)) - F.lit(1970)).cast("int")
    if t == "month":
        return (
            (F.year(F.col(c)) - F.lit(1970)) * F.lit(12)
            + F.month(F.col(c)) - F.lit(1)
        ).cast("int")
    if t == "day":
        return F.datediff(F.col(c).cast("date"), F.lit("1970-01-01")).cast(
            "int"
        )
    if t == "hour":
        # session is UTC; cast-to-long yields epoch seconds, floor-div
        # (not `div`) keeps pre-1970 hours correct
        return F.floor(F.col(c).cast("long") / F.lit(3600)).cast("int")
    if t.startswith("bucket["):
        n = int(t[len("bucket["):-1])
        return _bucket_udf(n, pf["stype"])(F.col(c))
    raise ValueError(f"cannot write under partition transform {t!r}")


def _type_has_required(t) -> bool:
    """Does an Iceberg type JSON contain any required slot BELOW its
    own top level (struct field, list element, map value)?  Map keys
    are always required by spec but unrepresentable as NULL in Spark's
    MapType, so they need no guard."""
    if not isinstance(t, dict):
        return False
    k = t.get("type")
    if k == "struct":
        return any(
            f.get("required") or _type_has_required(f.get("type"))
            for f in t.get("fields") or []
        )
    if k == "list":
        return bool(t.get("element-required")) or _type_has_required(
            t.get("element")
        )
    if k == "map":
        return bool(t.get("value-required")) or _type_has_required(
            t.get("value")
        )
    return False


def _req_violation(col, t):
    """Boolean Column: true when some required slot nested under
    ``col`` (typed ``t``, which satisfies :func:`_type_has_required`)
    holds NULL.  A NULL *container* is not itself a violation here —
    its own required-ness is checked one level up — so every struct
    probe is gated on the parent being present, and ``F.exists`` over
    a NULL array/map returns NULL, coalesced to false by the caller."""
    preds = []
    k = t.get("type")
    if k == "struct":
        for f in t.get("fields") or []:
            child = col.getField(f["name"])
            if f.get("required"):
                preds.append(col.isNotNull() & child.isNull())
            if _type_has_required(f.get("type")):
                preds.append(_req_violation(child, f["type"]))
    elif k == "list":

        def _elem(x):
            es = []
            if t.get("element-required"):
                es.append(x.isNull())
            if _type_has_required(t.get("element")):
                es.append(_req_violation(x, t["element"]))
            return reduce(lambda a, b: a | b, es)

        preds.append(F.exists(col, _elem))
    elif k == "map":

        def _val(v):
            vs = []
            if t.get("value-required"):
                vs.append(v.isNull())
            if _type_has_required(t.get("value")):
                vs.append(_req_violation(v, t["value"]))
            return reduce(lambda a, b: a | b, vs)

        preds.append(F.exists(F.map_values(col), _val))
    return F.coalesce(
        reduce(lambda a, b: a | b, preds), F.lit(False)
    )


def _required_guard(df: DataFrame, schema_json: dict) -> DataFrame:
    """Enforce the schema's ``required`` (non-null) fields at WRITE
    time: Spark types every file-source read nullable, so refusing
    nullable write columns would refuse every read→transform→write
    round-trip — instead a NULL reaching a required column fails the
    write job (the Delta connector's AssertNotNull pattern).  A data
    file holding NULL in a required field would be spec-corrupt for
    every Iceberg reader; this keeps it unwritable (r7).  Required
    slots NESTED in struct/list/map types are enforced too via
    recursive NULL probes (ADVICE r7) — previously only top-level
    fields were guarded."""
    by_name = {
        f["name"]: f for f in schema_json.get("fields") or []
    }
    out_cols = []
    guarded = False
    for f in df.schema.fields:
        sf = by_name.get(f.name)
        expr = F.col(f.name)
        if sf is not None:
            viol = None
            if sf.get("required") and f.nullable:
                viol = expr.isNull()
            if _type_has_required(sf.get("type")):
                nested = _req_violation(expr, sf["type"])
                viol = nested if viol is None else (viol | nested)
            if viol is not None:
                guarded = True
                expr = (
                    F.when(
                        viol,
                        F.raise_error(
                            F.lit(
                                "NULL value for required column "
                                f"{f.name!r} or a required field "
                                "nested in it (iceberg schema "
                                "enforcement)"
                            )
                        ).cast(f.dataType),
                    )
                    .otherwise(F.col(f.name))
                )
        out_cols.append(expr.alias(f.name))
    if not guarded:
        return df
    return df.select(*out_cols)


def _stamp_field_ids(df: DataFrame, schema_json: dict) -> DataFrame:
    """Stamp parquet field ids from the table schema into the written
    files (spec requirement for writers; what makes rename-safe
    id-based resolution possible).  Top-level ids ride alias metadata;
    nested ids ride a same-type cast to the metadata-bearing struct
    type — a plain ``.to()`` gets collapsed away for already-matching
    flat columns and loses the metadata."""
    from pyspark.sql.types import ArrayType, MapType

    ice_by_name = {f["name"]: f for f in schema_json["fields"]}
    stamped = []
    for sf in df.schema.fields:
        ice_f = ice_by_name.get(sf.name)
        if ice_f is None:
            stamped.append(F.col(sf.name))
            continue
        col = F.col(sf.name)
        if isinstance(sf.dataType, (StructType, ArrayType, MapType)):
            col = col.cast(_inject_field_ids(sf.dataType, ice_f["type"]))
        stamped.append(
            col.alias(sf.name, metadata={"parquet.field.id": int(ice_f["id"])})
        )
    return df.select(*stamped)


def _stage_data_files(
    df: DataFrame, path: str, part_spec: list[dict], schema_json: dict
) -> list[dict]:
    """Distributed stage of ``df`` into ``data/`` and return one
    data_file record per written parquet.  Iceberg data files CONTAIN
    their partition SOURCE columns (unlike Hive/Delta layouts), so the
    partition VALUES — the source pushed through the spec's transform,
    identity included — ride shadow columns for the directory layout
    and the originals stay in the files.  Hidden partitioning: the
    transform evaluation is the writer's job, JVM-side builtins for
    everything except bucket (Arrow-batched seed-0 murmur3)."""
    staging = os.path.join(path, f"_stage-{uuid.uuid4().hex[:12]}")
    w = _stamp_field_ids(_required_guard(df, schema_json), schema_json)
    for pf in part_spec:
        w = w.withColumn(f"_ice_p_{pf['name']}", _partition_value_col(pf))
    writer = w.write.mode("errorifexists")
    if part_spec:
        writer = writer.partitionBy(
            *[f"_ice_p_{pf['name']}" for pf in part_spec]
        )
    writer.parquet(staging)
    ptypes = {pf["name"]: pf["ptype"] for pf in part_spec}
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)
    out: list[dict] = []
    for root, _dirs, fnames in sorted(os.walk(staging)):
        rel = os.path.relpath(root, staging)
        pvals: dict[str, object] = {}
        ok = True
        for seg in [] if rel == "." else rel.split(os.sep):
            k, _, v = seg.partition("=")
            k = k.removeprefix("_ice_p_")
            raw = None if v == "__HIVE_DEFAULT_PARTITION__" else urllib.parse.unquote(v)
            try:
                pvals[k] = _typed_part_value(ptypes.get(k, "string"), raw)
            except (TypeError, ValueError):
                ok = False
        if not ok:
            raise ValueError(f"cannot type partition path segment under {root}")
        for f in sorted(fnames):
            if not f.endswith(".parquet"):
                continue
            name = f"{uuid.uuid4().hex[:8]}-{f}"
            dst = os.path.join(data_dir, name)
            os.replace(os.path.join(root, f), dst)
            n, lower, upper = _file_stats(dst, schema_json)
            out.append(
                {
                    "content": 0,
                    "file_path": dst,
                    "file_format": "PARQUET",
                    "partition": {
                        pf["name"]: pvals.get(pf["name"])
                        for pf in part_spec
                    },
                    "record_count": n,
                    "file_size_in_bytes": os.path.getsize(dst),
                    "lower_bounds": lower,
                    "upper_bounds": upper,
                }
            )
    shutil.rmtree(staging, ignore_errors=True)
    return out


def _norm_part_spec(
    part_fields, schema_json: dict
) -> list[dict]:
    """Normalize the two partition-spec currencies — legacy
    ``(name, type)`` tuples (identity, source looked up by name) and
    the parsed-spec dicts — to parsed-spec dicts."""
    out = []
    for pf in part_fields:
        if isinstance(pf, dict):
            out.append(pf)
            continue
        n, t = pf
        out.append({
            "name": n, "transform": "identity", "source": n,
            "source-id": next(
                int(f["id"]) for f in schema_json["fields"]
                if f["name"] == n
            ),
            "ptype": t, "stype": t,
        })
    return out


def _write_manifest(
    path: str, entries: list[dict], part_fields,
    snapshot_id: int, content: str, schema_json: dict, spec_id: int = 0,
) -> dict:
    """Write one manifest avro; returns its manifest_file record for
    the manifest list (sequence numbers patched in by the committer).
    ``part_fields``: parsed-spec dicts or legacy (name, type) tuples."""
    spec = _norm_part_spec(part_fields, schema_json)
    os.makedirs(_meta_dir(path), exist_ok=True)
    name = os.path.join(_meta_dir(path), f"m-{uuid.uuid4().hex}.avro")
    write_avro_file(
        name,
        _manifest_entry_schema([(pf["name"], pf["ptype"]) for pf in spec]),
        entries,
        metadata={
            "schema": json.dumps(schema_json),
            "partition-spec": json.dumps(
                [
                    {"name": pf["name"], "transform": pf["transform"],
                     "source-id": pf["source-id"], "field-id": 1000 + i}
                    for i, pf in enumerate(spec)
                ]
            ),
            "partition-spec-id": str(spec_id),
            "format-version": "2",
            "content": content,
        },
    )
    added_rows = sum(
        e["data_file"]["record_count"] for e in entries if e["status"] == 1
    )
    existing_rows = sum(
        e["data_file"]["record_count"] for e in entries if e["status"] == 0
    )
    return {
        "manifest_path": name,
        "manifest_length": os.path.getsize(name),
        "partition_spec_id": spec_id,
        "content": 0 if content == "data" else 1,
        "sequence_number": 0,  # patched by the committer
        "min_sequence_number": 0,
        "added_snapshot_id": snapshot_id,
        "added_files_count": sum(1 for e in entries if e["status"] == 1),
        "existing_files_count": sum(1 for e in entries if e["status"] == 0),
        "deleted_files_count": sum(1 for e in entries if e["status"] == 2),
        "added_rows_count": added_rows,
        "existing_rows_count": existing_rows,
        "deleted_rows_count": 0,
    }


def _commit_snapshot(
    path: str,
    base_meta: dict | None,
    new_manifests: list[dict],
    carry_manifests: list[dict],
    operation: str,
    schema_json: dict | None = None,
    part_spec: list[dict] | None = None,
    branch: str | None = None,
    properties: dict | None = None,
    schemas_json: list[dict] | None = None,
    last_column_id: int | None = None,
) -> int:
    """Commit one snapshot: write the manifest list, then claim the
    next metadata version with ``os.link`` put-if-absent (the same
    optimistic-concurrency shape as the Delta connector's log) and
    atomically repoint ``version-hint.text``.  ``properties`` seeds
    the table properties on a FIRST commit (ignored otherwise).
    ``schemas_json`` (first commit only) seeds a FULL schema history
    — each entry carries its ``schema-id``, the LAST is current; the
    column-mapped Delta conversion uses this to record the physical-
    name era schema 0 under the logical current schema 1, so id-less
    referenced files resolve through the name→id history map.
    ``last_column_id`` overrides the top-level max when the history
    allocated nested/structural ids past it."""
    now = int(time.time() * 1000)
    os.makedirs(_meta_dir(path), exist_ok=True)
    if base_meta is None:
        if schema_json is None:
            raise ValueError("first commit needs a schema")
        fields = [
            {
                "name": pf["name"],
                "transform": pf["transform"],
                "source-id": pf["source-id"],
                "field-id": 1000 + i,
            }
            for i, pf in enumerate(part_spec or [])
        ]
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": path,
            "last-sequence-number": 0,
            "last-updated-ms": now,
            "last-column-id": (
                last_column_id
                if last_column_id is not None
                else max(
                    [int(f["id"]) for f in schema_json["fields"]] or [0]
                )
            ),
            "schemas": (
                schemas_json
                if schemas_json is not None
                else [
                    {"schema-id": 0, "type": "struct",
                     "fields": schema_json["fields"]}
                ]
            ),
            "current-schema-id": (
                int(schemas_json[-1]["schema-id"])
                if schemas_json is not None
                else 0
            ),
            "partition-specs": [{"spec-id": 0, "fields": fields}],
            "default-spec-id": 0,
            "last-partition-id": 999 + len(fields),
            "sort-orders": [{"order-id": 0, "fields": []}],
            "default-sort-order-id": 0,
            "properties": dict(properties or {}),
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        version = 1
    else:
        meta = json.loads(json.dumps(base_meta))  # deep copy
        # claim exactly base+1: if someone committed after our load,
        # the os.link below hits their file and raises — never rebase
        # a write onto state it did not read
        version = int(meta.pop("__file_version__", 0)) or (
            max(_metadata_versions(path))
        )
        version += 1
    seq = int(meta.get("last-sequence-number", 0)) + 1
    sid = uuid.uuid4().int >> 76  # positive, fits a long
    for m in new_manifests:
        m["sequence_number"] = seq
        m["min_sequence_number"] = seq
        m["added_snapshot_id"] = sid
    ml_name = os.path.join(
        _meta_dir(path), f"snap-{sid}-1-{uuid.uuid4().hex}.avro"
    )
    write_avro_file(
        ml_name,
        _MANIFEST_LIST_SCHEMA,
        new_manifests + carry_manifests,
        metadata={"format-version": "2"},
    )
    snap = {
        "snapshot-id": sid,
        "sequence-number": seq,
        "timestamp-ms": now,
        "summary": {"operation": operation},
        "manifest-list": ml_name,
        "schema-id": meta.get("current-schema-id", 0),
    }
    if branch is not None:
        # branch commit: parent is the BRANCH head (fork from main on
        # first write), the ref moves, main's current-snapshot-id and
        # snapshot-log stay untouched — readers of the table see
        # nothing until fast_forward_iceberg publishes the branch
        # (the write-audit-publish pattern)
        refs = dict(meta.get("refs") or {})
        prev = refs.get(branch)
        parent = (
            int(prev["snapshot-id"]) if prev
            else meta.get("current-snapshot-id")
        )
        if parent not in (None, -1):
            snap["parent-snapshot-id"] = parent
        meta["snapshots"] = list(meta.get("snapshots") or []) + [snap]
        refs[branch] = {"snapshot-id": sid, "type": "branch"}
        meta["refs"] = refs
    else:
        if meta.get("current-snapshot-id") not in (None, -1):
            snap["parent-snapshot-id"] = meta["current-snapshot-id"]
        meta["snapshots"] = list(meta.get("snapshots") or []) + [snap]
        meta["current-snapshot-id"] = sid
        meta["snapshot-log"] = list(meta.get("snapshot-log") or []) + [
            {"timestamp-ms": now, "snapshot-id": sid}
        ]
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now
    _claim_metadata(path, meta, version)
    return version


class CommitConflict(RuntimeError):
    """A concurrent writer claimed the metadata version this commit
    computed.  Snapshot-dependent operations (upsert, merge, delete,
    compaction, evolution) surface it to the caller — they read a
    snapshot and cannot be rebased blindly; ``write_iceberg`` appends
    auto-rebase onto the winner instead (see its retry loop)."""


def _claim_metadata(path: str, meta: dict, version: int) -> None:
    """Claim exactly metadata version N with ``os.link`` put-if-absent
    (concurrent committers conflict loudly, never rebase silently),
    then atomically repoint ``version-hint.text``."""
    final = os.path.join(_meta_dir(path), f"v{version}.metadata.json")
    tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    try:
        os.link(tmp, final)  # put-if-absent: version claims are exclusive
    except FileExistsError as e:
        raise CommitConflict(
            f"iceberg commit conflict at version {version} ({path}) — "
            "a concurrent writer won; re-read the table and retry the "
            "operation"
        ) from e
    finally:
        os.unlink(tmp)
    hint = os.path.join(_meta_dir(path), "version-hint.text")
    htmp = hint + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(htmp, "w") as fh:
        fh.write(str(version))
    os.replace(htmp, hint)


def evolve_iceberg(
    path: str,
    renames: dict[str, str] | None = None,
    add_columns: list[tuple[str, str]] | None = None,
    drop_columns: list[str] | None = None,
    retype_columns: dict[str, str] | None = None,
) -> int:
    """Metadata-only schema evolution commit — the Iceberg core value
    proposition (spec §Schema Evolution: renames keep the field id,
    adds allocate fresh ids from ``last-column-id``, and NO data file
    is touched): a new schema entry is appended to ``schemas``,
    ``current-schema-id`` moves, and a new metadata version is claimed
    with the same put-if-absent commit as snapshots.

    ``renames``: {old_name: new_name} over top-level columns.
    ``add_columns``: [(name, iceberg_primitive_type)] — added columns
    are optional and read as NULL from pre-existing files.
    ``drop_columns``: names removed from the current schema — data
    files keep the bytes (reads stop selecting the column), and the
    freed NAME must not be re-added in the SAME commit (the id-reuse
    ambiguity that id-less legacy files cannot resolve).
    ``retype_columns`` (r9, VERDICT r8 item #5): {name: new_type},
    names referring to the POST-rename schema (retypes apply after
    renames within the commit), restricted to the spec's LEGAL
    promotions — int→long, float→double, decimal(P,S)→decimal(P',S)
    with P' ≥ P; anything else refuses.  Old files read back through the footer-branch
    machinery at their physical width and cast (exact by
    construction).  Partition SOURCE columns refuse (manifest
    partition records and bound serializations spell the old width).

    Renaming or dropping a partition SOURCE column is refused (the
    spec field name in partition specs and the manifest partition keys
    spell the old name; a half-renamed table would misplan appends).
    Reads after a rename resolve old files by parquet field id — see
    the schema-evolution-reads section."""
    renames = dict(renames or {})
    add_columns = list(add_columns or [])
    drop_columns = list(drop_columns or [])
    retype_columns = dict(retype_columns or {})
    if not (renames or add_columns or drop_columns or retype_columns):
        raise ValueError("evolve_iceberg: nothing to do")
    meta = _load_metadata(path)
    cur = _current_schema(meta)
    fields = json.loads(json.dumps(cur["fields"]))  # deep copy
    names = {f["name"] for f in fields}
    spec_sources = {
        int(f["source-id"])
        for f in _spec_fields(meta, meta.get("default-spec-id", 0))
    }
    surviving = names - set(renames)
    for old, new in renames.items():
        if old not in names:
            raise ValueError(f"rename: no such column {old!r}")
        if new in surviving or list(renames.values()).count(new) > 1:
            raise ValueError(f"rename: target name {new!r} collides")
    for d in drop_columns:
        if d not in names:
            raise ValueError(f"drop: no such column {d!r}")
        if d in renames:
            raise ValueError(f"drop: {d!r} is also being renamed")
    for f in fields:
        if f["name"] in renames:
            if int(f["id"]) in spec_sources:
                raise ValueError(
                    f"rename: {f['name']!r} is a partition source column "
                    "(refused — partition specs and manifest keys spell "
                    "the old name)"
                )
            f["name"] = renames[f["name"]]
    for f in fields:
        if f["name"] in drop_columns and int(f["id"]) in spec_sources:
            raise ValueError(
                f"drop: {f['name']!r} is a partition source column "
                "(refused)"
            )
    fields = [f for f in fields if f["name"] not in drop_columns]
    if not fields:
        raise ValueError("drop: cannot drop every column")
    post_names = {f["name"] for f in fields}
    for name, _t in add_columns:
        if name in drop_columns:
            raise ValueError(
                f"add: {name!r} was dropped in this same commit — "
                "re-adding a just-freed name creates the id-reuse "
                "ambiguity id-less legacy files cannot resolve"
            )
    last_id = int(
        meta.get("last-column-id")
        or max(int(f["id"]) for f in fields)
    )
    for name, ice_type in add_columns:
        if name in post_names:
            raise ValueError(f"add: column {name!r} already exists")
        _ice_to_spark(ice_type)  # validate the type spells something real
        last_id += 1
        fields.append(
            {"id": last_id, "name": name, "required": False, "type": ice_type}
        )
        post_names.add(name)
    for name, new_t in retype_columns.items():
        fld = next((f for f in fields if f["name"] == name), None)
        if fld is None:
            raise ValueError(f"retype: no such column {name!r}")
        _ice_to_spark(new_t)  # must spell a real type
        if fld["type"] == new_t:
            raise ValueError(f"retype: {name!r} is already {new_t}")
        if not _promotable(fld["type"], new_t):
            raise ValueError(
                f"retype: {fld['type']} → {new_t} on {name!r} is not a "
                "legal promotion (spec allows int→long, float→double, "
                "and decimal precision widening at fixed scale)"
            )
        if int(fld["id"]) in spec_sources:
            raise ValueError(
                f"retype: {name!r} is a partition source column "
                "(refused — manifest partition records and bound "
                "serializations spell the old width)"
            )
        fld["type"] = new_t
    prior = meta.get("schemas") or [
        {"schema-id": cur.get("schema-id", 0), "type": "struct",
         "fields": cur["fields"]}
    ]
    new_sid = max(int(s.get("schema-id", 0)) for s in prior) + 1
    meta["schemas"] = list(prior) + [
        {"schema-id": new_sid, "type": "struct", "fields": fields}
    ]
    meta["current-schema-id"] = new_sid
    meta["last-column-id"] = last_id
    meta["last-updated-ms"] = int(time.time() * 1000)
    version = int(meta.pop("__file_version__")) + 1
    _claim_metadata(path, meta, version)
    return version


def set_properties_iceberg(path: str, props: dict[str, str]) -> int:
    """Properties-only metadata commit: merge ``props`` into the table
    properties and claim the next metadata version WITHOUT a new
    snapshot — the iceberg-spark ``ALTER TABLE SET TBLPROPERTIES``
    shape (a pure metadata.json rewrite; time travel, sequence
    numbers, and every manifest are untouched).  Used by
    :func:`merge_iceberg` to advance a ``txn.<app_id>`` watermark when
    a replayed-exactly-once micro-batch nets ZERO row changes — the
    alternative (skipping the commit) leaves the watermark behind and
    every checkpoint replay re-commits its side effects (ADVICE r8)."""
    if not props:
        raise ValueError("set_properties_iceberg: nothing to set")
    meta = _load_metadata(path)
    merged = dict(meta.get("properties") or {})
    merged.update({str(k): str(v) for k, v in props.items()})
    meta["properties"] = merged
    meta["last-updated-ms"] = int(time.time() * 1000)
    version = int(meta.pop("__file_version__")) + 1
    _claim_metadata(path, meta, version)
    return version


def evolve_spec_iceberg(path: str, partition_by: list[str]) -> int:
    """Metadata-only PARTITION SPEC evolution (spec §Partition
    Evolution — Iceberg's other headline trick): append a new spec
    built from iceberg-spark-style expressions, move
    ``default-spec-id``, touch NO data file.  Files written before
    the change keep their own spec — reads prune each file under the
    spec it was written with, appends stage under the new one, and
    ``rewrite_data_files`` migrates old-spec files into the new
    layout as a side effect of compaction.  Partition field ids are
    reused when the same (source, transform) pair existed in a prior
    spec, otherwise allocated past ``last-partition-id`` (the spec's
    cross-spec uniqueness rule)."""
    meta = _load_metadata(path)
    schema_json = _current_schema(meta)
    parsed = _parse_partition_by(partition_by, schema_json)
    specs = meta.get("partition-specs")
    if not specs:
        raise ValueError("metadata has no partition-specs to evolve")
    cur = _spec_fields(meta, meta.get("default-spec-id", 0))
    if [(f.get("name"), f.get("transform")) for f in cur] == [
        (p["name"], p["transform"]) for p in parsed
    ]:
        raise ValueError("evolve_spec_iceberg: spec unchanged")
    existing_ids: dict[tuple[int, str], int] = {}
    for sp in specs:
        for f in sp.get("fields") or []:
            existing_ids[
                (int(f["source-id"]), f.get("transform", "identity"))
            ] = int(f["field-id"])
    last_pid = int(meta.get("last-partition-id") or 999)
    fields = []
    for pf in parsed:
        key = (pf["source-id"], pf["transform"])
        fid = existing_ids.get(key)
        if fid is None:
            last_pid += 1
            fid = last_pid
        fields.append({
            "name": pf["name"], "transform": pf["transform"],
            "source-id": pf["source-id"], "field-id": fid,
        })
    new_sid = max(int(sp.get("spec-id", 0)) for sp in specs) + 1
    meta["partition-specs"] = list(specs) + [
        {"spec-id": new_sid, "fields": fields}
    ]
    meta["default-spec-id"] = new_sid
    meta["last-partition-id"] = last_pid
    meta["last-updated-ms"] = int(time.time() * 1000)
    version = int(meta.pop("__file_version__")) + 1
    _claim_metadata(path, meta, version)
    return version


def tag_iceberg(
    path: str, name: str, snapshot_id: int | None = None,
    ref_type: str = "tag",
) -> int:
    """Create/move a named ref (spec §References): ``tag`` pins a
    snapshot immutably-by-convention (audit/reproducibility — "train
    run X read THIS state"), ``branch`` is a movable head.  Metadata-
    only commit; :func:`read_iceberg` resolves ``ref=`` through it and
    :func:`expire_snapshots` never reclaims a ref'd snapshot."""
    if ref_type not in ("tag", "branch"):
        raise ValueError(f"ref_type must be tag|branch, not {ref_type!r}")
    meta = _load_metadata(path)
    sid = (
        int(snapshot_id)
        if snapshot_id is not None
        else meta.get("current-snapshot-id")
    )
    if sid is None or not any(
        s["snapshot-id"] == sid for s in meta.get("snapshots") or []
    ):
        raise ValueError(f"snapshot {sid} not in table history")
    refs = dict(meta.get("refs") or {})
    refs[name] = {"snapshot-id": sid, "type": ref_type}
    meta["refs"] = refs
    meta["last-updated-ms"] = int(time.time() * 1000)
    version = int(meta.pop("__file_version__")) + 1
    _claim_metadata(path, meta, version)
    return version


def drop_ref_iceberg(path: str, name: str) -> int:
    """Remove a named ref (metadata-only); its snapshot becomes
    expirable again."""
    meta = _load_metadata(path)
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise ValueError(f"no such ref: {name!r}")
    del refs[name]
    meta["refs"] = refs
    meta["last-updated-ms"] = int(time.time() * 1000)
    version = int(meta.pop("__file_version__")) + 1
    _claim_metadata(path, meta, version)
    return version


def fast_forward_iceberg(path: str, branch: str) -> int:
    """PUBLISH a branch: fast-forward main's current snapshot to the
    branch head (iceberg-spark's ``fast_forward`` procedure — the
    final step of write-audit-publish).  Refuses when main has moved
    since the branch forked (the head no longer descends from
    current), so a publish never silently drops concurrent commits."""
    meta = _load_metadata(path)
    refs = meta.get("refs") or {}
    r = refs.get(branch)
    if r is None or r.get("type") != "branch":
        raise ValueError(f"no such branch: {branch!r}")
    head = int(r["snapshot-id"])
    cur = meta.get("current-snapshot-id")
    by_id = {
        s["snapshot-id"]: s for s in meta.get("snapshots") or []
    }
    node, ok = head, cur in (None, -1)
    while node is not None and not ok:
        if node == cur:
            ok = True
            break
        node = by_id.get(node, {}).get("parent-snapshot-id")
    if not ok:
        raise ValueError(
            f"cannot fast-forward: main moved since {branch!r} forked "
            "(rebase the branch or merge manually)"
        )
    meta["current-snapshot-id"] = head
    meta["last-updated-ms"] = int(time.time() * 1000)
    meta["snapshot-log"] = list(meta.get("snapshot-log") or []) + [
        {"timestamp-ms": meta["last-updated-ms"], "snapshot-id": head}
    ]
    version = int(meta.pop("__file_version__")) + 1
    _claim_metadata(path, meta, version)
    return version


def rollback_iceberg(path: str, snapshot_id: int) -> int:
    """iceberg-spark's ``rollback_to_snapshot`` procedure (r9):
    metadata-only commit moving ``current-snapshot-id`` BACK to an
    ANCESTOR of the current snapshot — no snapshot is created or
    removed (contrast Delta's RESTORE, which re-adds files in a new
    commit), history is preserved, and the rolled-past snapshots stay
    time-travelable until :func:`expire_snapshots` reclaims them.
    The next write commits with the rollback target as its parent, so
    the abandoned suffix becomes a dead branch of the snapshot DAG.
    Refuses a target that is not an ancestor (that operation is
    ``set_current_snapshot`` in iceberg-spark — a different, history-
    rewriting intent this engine keeps separate on purpose)."""
    meta = _load_metadata(path)
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    sid = int(snapshot_id)
    if sid not in by_id:
        raise ValueError(f"snapshot {sid} not in table history")
    cur = meta.get("current-snapshot-id")
    if cur in (None, -1):
        raise ValueError("cannot roll back a table with no current snapshot")
    if sid == cur:
        raise ValueError(f"snapshot {sid} is already current")
    node = by_id.get(cur, {}).get("parent-snapshot-id")
    ok = False
    while node is not None:
        if node == sid:
            ok = True
            break
        node = by_id.get(node, {}).get("parent-snapshot-id")
    if not ok:
        raise ValueError(
            f"snapshot {sid} is not an ancestor of the current snapshot "
            f"{cur} — rollback_to_snapshot only rewinds the main line"
        )
    meta["current-snapshot-id"] = sid
    meta["last-updated-ms"] = int(time.time() * 1000)
    meta["snapshot-log"] = list(meta.get("snapshot-log") or []) + [
        {"timestamp-ms": meta["last-updated-ms"], "snapshot-id": sid}
    ]
    version = int(meta.pop("__file_version__")) + 1
    _claim_metadata(path, meta, version)
    return version


def _carry_manifests(
    path: str, meta: dict, snapshot_id: int | None = None
) -> list[dict]:
    """A snapshot's manifest_file records (current unless
    ``snapshot_id`` given), re-read from its manifest list so an
    append/delete carries them forward unchanged (sequence numbers
    included — inheritance must keep working)."""
    snap = _snapshot_by_id(meta, snapshot_id)
    if snap is None:
        return []
    location = meta.get("location") or path
    _, manifests = read_avro_file(_resolve(snap["manifest-list"], path, location))
    return manifests


def write_iceberg(
    df: DataFrame,
    path: str,
    mode: str = "error",
    partition_by: list[str] | None = None,
    branch: str | None = None,
) -> int:
    """Write ``df`` as an Iceberg v2 table; returns the committed
    metadata version.  ``mode``: ``error`` (create), ``append``,
    ``overwrite`` (new snapshot referencing only the new manifest —
    prior snapshots stay time-travelable).  ``partition_by`` entries
    are iceberg-spark-style expressions: plain column names
    (identity), ``bucket(N, col)``, ``truncate(W, col)``,
    ``year|month|day|hour(col)`` — HIDDEN partitioning, the writer
    computes the transform values (the reader prunes through them;
    see ``_apply_transform``)."""
    partition_by = list(partition_by or [])
    if mode not in ("error", "append", "overwrite"):
        raise ValueError(f"unknown mode: {mode}")
    exists = bool(_metadata_versions(path))
    if exists and mode == "error":
        raise FileExistsError(f"iceberg table already exists at {path}")
    if branch is not None and not exists:
        raise ValueError("cannot create a table on a branch")
    if not exists:
        ids = iter(range(1, 10_000))
        ice = _spark_to_ice(df.schema, lambda: next(ids))
        schema_json = {"schema-id": 0, "type": "struct", "fields": ice["fields"]}
        base_meta = None
        carry: list[dict] = []
        part_spec = _parse_partition_by(partition_by, schema_json)
    else:
        base_meta = _load_metadata(path)
        schema_json = _current_schema(base_meta)
        declared = _schema_to_spark(schema_json)
        got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        want = {f.name: f.dataType.simpleString() for f in declared.fields}
        if got != want:
            raise ValueError(
                f"schema mismatch: table declares {want}, write has {got}"
            )
        part_spec = _spec_from_meta(base_meta, schema_json)
        passed = _parse_partition_by(partition_by, schema_json)
        if [(p["name"], p["transform"]) for p in passed] != [
            (p["name"], p["transform"]) for p in part_spec
        ]:
            raise ValueError(
                f"partitioning mismatch: table is partitioned by "
                f"{[(p['name'], p['transform']) for p in part_spec]}, "
                f"write passed {partition_by}"
            )
        if mode == "overwrite":
            carry = []
        elif branch is not None and branch in (base_meta.get("refs") or {}):
            # append extends the BRANCH head, not main
            carry = _carry_manifests(
                path, base_meta,
                int(base_meta["refs"][branch]["snapshot-id"]),
            )
        else:
            carry = _carry_manifests(path, base_meta)
    os.makedirs(path, exist_ok=True)
    part_fields = part_spec
    files = _stage_data_files(df, path, part_spec, schema_json)
    entries = [
        {
            "status": 1,  # ADDED — sequence numbers inherit
            "snapshot_id": None,
            "sequence_number": None,
            "file_sequence_number": None,
            "data_file": f,
        }
        for f in files
    ]
    manifest = _write_manifest(
        path, entries, part_fields, 0, "data", schema_json,
        spec_id=0 if base_meta is None else int(
            base_meta.get("default-spec-id", 0)
        ),
    )
    operation = (
        "append" if mode == "append" else
        ("append" if not exists else "overwrite")
    )
    # Optimistic-concurrency commit (VERDICT r6 item #3): an APPEND
    # read nothing, so a lost version race is reconcilable — reload the
    # metadata, refuse if the schema or partition spec moved (the
    # write's validation is stale then), recompute the carried
    # manifests against the winner's snapshot set, re-commit.  The
    # staged data manifest file is version-agnostic (sequence numbers
    # inherit at commit), so only the manifest LIST is rewritten per
    # attempt; a retried attempt's list becomes an expire-reclaimable
    # orphan.  Overwrites and mutations surface CommitConflict
    # deterministically instead.
    if mode != "append" or base_meta is None:
        return _commit_snapshot(
            path, base_meta, [manifest], carry, operation,
            schema_json=schema_json, part_spec=part_spec, branch=branch,
        )
    last_seen = int(base_meta.get("__file_version__") or 0)
    for _attempt in range(5):
        try:
            return _commit_snapshot(
                path, base_meta, [manifest], carry, "append",
                schema_json=schema_json, part_spec=part_spec, branch=branch,
            )
        except CommitConflict as conflict:
            try:
                fresh = _load_metadata(path)
                fresh_schema = _current_schema(fresh)
            except Exception:  # noqa: BLE001 — winner unreadable
                raise conflict from None  # cannot reconcile, surface it
            fresh_v = int(fresh.get("__file_version__") or 0)
            if fresh_v <= last_seen:
                # the next slot is claimed by something that is not
                # readable table metadata (junk/partial claim) — there
                # is no winner to rebase onto
                raise conflict from None
            last_seen = fresh_v
            if json.dumps(fresh_schema["fields"], sort_keys=True) != (
                json.dumps(schema_json["fields"], sort_keys=True)
            ):
                raise CommitConflict(
                    "concurrent schema evolution while this append was "
                    "in flight — re-validate the write and retry"
                ) from None
            fresh_spec = _spec_from_meta(fresh, fresh_schema)
            if [(p["name"], p["transform"]) for p in fresh_spec] != [
                (p["name"], p["transform"]) for p in part_spec
            ]:
                raise CommitConflict(
                    "concurrent partition-spec evolution while this "
                    "append was in flight — re-validate the write and "
                    "retry"
                ) from None
            if branch is not None and branch in (fresh.get("refs") or {}):
                carry = _carry_manifests(
                    path, fresh,
                    int(fresh["refs"][branch]["snapshot-id"]),
                )
            else:
                carry = _carry_manifests(path, fresh)
            base_meta = fresh
    raise CommitConflict(
        "append lost the commit race 5 times — the table is under "
        "write contention this writer cannot keep up with"
    )


def _stage_pos_delete(
    spark: SparkSession, path: str, hits, subdir: str = "data"
) -> list[dict]:
    """Stage the matched (file_path, pos) rows as sorted parquet
    position-delete file(s); returns their data_file records (empty
    when nothing matched).  ``subdir`` places them — the UniForm
    generator uses ``metadata`` so ``vacuum_delta``'s tree walk (which
    skips that directory) can never reclaim Iceberg-owned deletes."""
    ddir = os.path.join(path, subdir)
    os.makedirs(ddir, exist_ok=True)
    staging = os.path.join(path, f"_stage-{uuid.uuid4().hex[:12]}")
    hits.orderBy("file_path", "pos").coalesce(1).write.mode(
        "errorifexists"
    ).parquet(staging)
    parts = [
        f for f in sorted(os.listdir(staging)) if f.endswith(".parquet")
    ]
    del_files: list[dict] = []
    for f in parts:
        dst = os.path.join(ddir, f"delete-{uuid.uuid4().hex[:8]}-{f}")
        os.replace(os.path.join(staging, f), dst)
        import pyarrow.parquet as pq

        n = pq.ParquetFile(dst).metadata.num_rows
        if n == 0:
            os.unlink(dst)
            continue
        del_files.append(
            {
                "content": 1,  # position deletes
                "file_path": dst,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": n,
                "file_size_in_bytes": os.path.getsize(dst),
                "lower_bounds": None,
                "upper_bounds": None,
            }
        )
    shutil.rmtree(staging, ignore_errors=True)
    return del_files


def _delete_manifest(
    path: str, del_files: list[dict], schema_json: dict
) -> dict:
    entries = [
        {
            "status": 1,
            "snapshot_id": None,
            "sequence_number": None,
            "file_sequence_number": None,
            "data_file": f,
        }
        for f in del_files
    ]
    return _write_manifest(path, entries, [], 0, "deletes", schema_json)


def delete_iceberg_rows(spark: SparkSession, path: str, condition) -> int:
    """Merge-on-read DELETE: write positional delete files (parquet
    ``(file_path, pos)`` rows, sorted, one per affected data-file
    group) plus a delete manifest (content=1), carrying every data
    manifest forward untouched — no data file is rewritten, the
    Iceberg v2 answer to the same problem Delta solves with deletion
    vectors."""
    meta = _load_metadata(path)
    schema_json = _current_schema(meta)
    spark_schema = _schema_to_spark(schema_json)
    snap = _snapshot_by_id(meta, None)
    if snap is None:
        return max(_metadata_versions(path))
    data, _deletes, _eq = _manifest_entries(path, meta, snap)
    if not data:
        return max(_metadata_versions(path))
    files = sorted({r["path"] for r in data})
    res = _resolution(meta)
    inject = (
        _identity_const_plan(meta, schema_json, data)
        if res is None
        else None
    )
    if res is None and inject is None:
        scan = spark.read.schema(spark_schema).parquet(*files)
        hits = scan.filter(condition).select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.row_index").alias("pos"),
        )
    elif res is None:
        # identity-partition constants (converted tables' files LACK
        # the columns; a raw scan would NULL them and a partition-
        # column condition would silently match nothing): scan through
        # _plan_scan's injection, then map basenames back to full
        # paths for the delete rows
        import pandas as pd

        tagged = _plan_scan(
            spark, spark_schema, data, [], None,
            schema_json=schema_json, keep_file=True, keep_pos=True,
            meta=meta,
        )
        full = spark.createDataFrame(
            pd.DataFrame(
                sorted(
                    (
                        os.path.basename(urllib.parse.unquote(p)),
                        urllib.parse.unquote(p),
                    )
                    for p in files
                ),
                columns=["_ice_file", "file_path"],
            ),
            "_ice_file string, file_path string",
        )
        hits = (
            tagged.filter(condition)
            .join(F.broadcast(full), "_ice_file")
            .select("file_path", F.col("_ice_pos").alias("pos"))
        )
    else:
        # renamed table: the condition names CURRENT columns — a
        # by-name scan would silently miss rows in pre-rename files
        tagged = _resolved_union(
            spark, files, res,
            [("file_path", "file_path"), ("pos", "row_index")],
        )
        hits = tagged.filter(condition).select("file_path", "pos")
    del_files = _stage_pos_delete(spark, path, hits)
    if not del_files:
        return max(_metadata_versions(path))
    manifest = _delete_manifest(path, del_files, schema_json)
    carry = _carry_manifests(path, meta)
    return _commit_snapshot(path, meta, [manifest], carry, "delete")


def delete_by_key_iceberg(
    spark: SparkSession, path: str, keys: DataFrame
) -> int:
    """Merge-on-read DELETE BY KEY via an equality delete file
    (content=2): stage the distinct ``keys`` rows as parquet, commit a
    delete manifest carrying their ``equality_ids``, done.  Cost is
    O(keys) — NO data file is read or rewritten, which is the whole
    point of equality deletes: a 100 TB table absorbs a point delete
    without touching the table (``delete_iceberg_rows`` must SCAN to
    find positions; this path is why CDC writers like Flink use
    equality deletes).  Readers subtract matching rows via the strict
    sequence gate — only data committed BEFORE this delete is
    affected, so a later re-insert of the same key survives.
    ``keys``'s columns must be a subset of the table's top-level
    columns with exactly the declared types."""
    meta = _load_metadata(path)
    schema_json = _current_schema(meta)
    by_name = {f["name"]: f for f in schema_json["fields"]}
    cols = list(keys.columns)
    if not cols:
        raise ValueError("delete_by_key_iceberg needs at least one key column")
    eq_ids = []
    for c in cols:
        f = by_name.get(c)
        if f is None:
            raise ValueError(f"no such column: {c}")
        if not isinstance(f.get("type"), str):
            raise ValueError(
                f"equality delete on nested column {c!r} is not supported"
            )
        eq_ids.append(int(f["id"]))
    declared = {
        c: _ice_to_spark(by_name[c]["type"]).simpleString() for c in cols
    }
    got = {sf.name: sf.dataType.simpleString() for sf in keys.schema.fields}
    if declared != got:
        raise ValueError(
            f"key schema mismatch: table declares {declared}, keys have {got}"
        )
    snap = _snapshot_by_id(meta, None)
    if snap is None:
        return max(_metadata_versions(path))
    ddir = os.path.join(path, "data")
    os.makedirs(ddir, exist_ok=True)
    staging = os.path.join(path, f"_stage-{uuid.uuid4().hex[:12]}")
    # distinct: duplicate delete rows are legal but pure waste; sorted
    # within partitions so the file carries tight column bounds
    _stamp_field_ids(
        keys.distinct().sortWithinPartitions(*cols), schema_json
    ).write.mode("errorifexists").parquet(staging)
    del_files: list[dict] = []
    for fname in sorted(os.listdir(staging)):
        if not fname.endswith(".parquet"):
            continue
        dst = os.path.join(ddir, f"eq-delete-{uuid.uuid4().hex[:8]}-{fname}")
        os.replace(os.path.join(staging, fname), dst)
        n, lower, upper = _file_stats(dst, schema_json)
        if n == 0:
            os.unlink(dst)
            continue
        del_files.append(
            {
                "content": 2,  # equality deletes
                "file_path": dst,
                "file_format": "PARQUET",
                "partition": {},  # unpartitioned spec — applies globally
                "record_count": n,
                "file_size_in_bytes": os.path.getsize(dst),
                "lower_bounds": lower,
                "upper_bounds": upper,
                "equality_ids": eq_ids,
            }
        )
    shutil.rmtree(staging, ignore_errors=True)
    if not del_files:
        return max(_metadata_versions(path))
    manifest = _delete_manifest(path, del_files, schema_json)
    carry = _carry_manifests(path, meta)
    return _commit_snapshot(path, meta, [manifest], carry, "delete")


def upsert_iceberg(
    spark: SparkSession, path: str, source: DataFrame, on: list[str]
) -> int:
    """Merge-on-read UPSERT in ONE snapshot: position-delete every
    target row whose ``on``-key appears in ``source``, and append the
    full ``source`` as new data files — the delete manifest and the
    data manifest commit together, so readers see the old row version
    or the new one, never both and never neither.  No existing data
    file is rewritten; cost is O(source + matched positions), the
    merge-on-read complement to the Delta connector's copy-on-write
    ``merge_delta``.  The deletes carry the same sequence number as
    the new data and reference only PRE-EXISTING files by path, so
    sequence-number gating keeps the appended rows unshadowed."""
    meta = _load_metadata(path)
    schema_json = _current_schema(meta)
    spark_schema = _schema_to_spark(schema_json)
    declared = {f.name: f.dataType.simpleString() for f in spark_schema.fields}
    got = {f.name: f.dataType.simpleString() for f in source.schema.fields}
    if declared != got:
        raise ValueError(
            f"schema mismatch: table declares {declared}, upsert has {got}"
        )
    snap = _snapshot_by_id(meta, None)
    if snap is None:
        raise ValueError("cannot upsert into a table with no snapshot")
    # existing equality deletes are safe under upsert: re-deleting an
    # already-eq-deleted position is a no-op, and the appended rows'
    # new (higher) data sequence escapes every prior delete's strict gate
    data, _deletes, _eq = _manifest_entries(path, meta, snap)
    part_spec = _spec_from_meta(meta, schema_json)
    part_fields = part_spec
    new_manifests: list[dict] = []
    if data:
        files = sorted({r["path"] for r in data})
        res = _resolution(meta)
        if res is None:
            scan = spark.read.schema(spark_schema).parquet(*files)
            # project the _metadata pseudo-column BEFORE joining — it
            # only resolves directly against the scan relation
            tagged = scan.select(
                "*",
                F.col("_metadata.file_path").alias("file_path"),
                F.col("_metadata.row_index").alias("pos"),
            )
        else:
            # renamed table: resolve pre-rename files by field id
            tagged = _resolved_union(
                spark, files, res,
                [("file_path", "file_path"), ("pos", "row_index")],
            )
        hits = tagged.join(source.select(*on), on, "left_semi").select(
            "file_path", "pos"
        )
        del_files = _stage_pos_delete(spark, path, hits)
        if del_files:
            new_manifests.append(
                _delete_manifest(path, del_files, schema_json)
            )
    staged = _stage_data_files(source, path, part_spec, schema_json)
    entries = [
        {
            "status": 1,
            "snapshot_id": None,
            "sequence_number": None,
            "file_sequence_number": None,
            "data_file": f,
        }
        for f in staged
    ]
    new_manifests.append(
        _write_manifest(
            path, entries, part_fields, 0, "data", schema_json,
            spec_id=int(meta.get("default-spec-id", 0)),
        )
    )
    carry = _carry_manifests(path, meta)
    return _commit_snapshot(path, meta, new_manifests, carry, "overwrite")


# ------------------------------------------------------------------ query


def scan_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-format lake roundtrip over the full v2 surface this
    connector implements: create (metadata JSON + manifest list +
    manifest Avro + identity-partitioned data files) → append snapshot
    → merge-on-read positional DELETE (delete manifest + parquet
    delete file, no data file rewritten) → read of the current
    snapshot.  The read must replay snapshot → manifest list →
    manifests, apply the positional deletes with sequence-number
    gating, and aggregate; the oracle recomputes the surviving
    aggregate straight from the fixture, so a mis-applied delete, a
    lost append, or a wrong manifest replay all fail the hash compare.

    (BASELINE.json:7 names "Delta/Iceberg connectors"; the reference
    repo has no table-format code at all — this is mandate surface,
    like sources/delta.py.)"""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"iceberg_orders_{os.path.basename(sf_dir.rstrip('/'))}")
    # Gate on the FINAL expected state (3 snapshots ending in delete) —
    # a partial in-process setup rebuilds from a clean slate, same
    # policy as scan_delta (ADVICE r5).
    complete = False
    try:
        ops = [h["operation"] for h in history_iceberg(spark, path)]
        complete = ops == ["append", "append", "delete"]
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 7 == 0),
            path,
            mode="error",
            partition_by=["o_orderpriority"],
        )
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 7 == 1),
            path,
            mode="append",
            partition_by=["o_orderpriority"],
        )
        delete_iceberg_rows(spark, path, F.col("o_orderkey") % 21 == 0)
    back = read_iceberg(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


scan_iceberg = query(
    "b_scan_iceberg",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price
    FROM orders
    WHERE (o_orderkey % 7 = 0 OR o_orderkey % 7 = 1)
      AND o_orderkey % 21 <> 0
    GROUP BY o_orderpriority
    """,
)(scan_iceberg)


def scan_iceberg_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPSERT on the Iceberg format: target = keys ≡0
    (mod 3); one ``upsert_iceberg`` call position-deletes the matched
    rows (keys ≡0 mod 6, price +1000) and appends them with the new
    keys ≡1 (mod 3) in a single snapshot.  The oracle recomputes the
    merged state arithmetically — a shadowed insert, an unapplied
    delete, or a double-counted update all fail the hash compare.
    (The Iceberg twin of ``b_lake_delta_merge``; r6.)"""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"iceberg_upsert_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = False
    try:
        ops = [h["operation"] for h in history_iceberg(spark, path)]
        complete = ops == ["append", "overwrite"]
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 3 == 0), path, mode="error"
        )
        source = orders.filter(F.col("o_orderkey") % 6 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        ).unionByName(orders.filter(F.col("o_orderkey") % 3 == 1))
        upsert_iceberg(spark, path, source, on=["o_orderkey"])
    back = read_iceberg(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


scan_iceberg_upsert = query(
    "b_lake_iceberg_upsert",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum(
               "CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice + 1000 "
               "ELSE o_totalprice END"
           )} AS total_price
    FROM orders
    WHERE o_orderkey % 3 = 0 OR o_orderkey % 3 = 1
    GROUP BY o_orderpriority
    """,
)(scan_iceberg_upsert)


def scan_iceberg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE with CONDITIONAL clauses on the Iceberg
    format: target = keys ≡0 (mod 3) with a PRE-EXISTING positional
    delete on keys ≡0 (mod 30) folded by the rewrite; source = keys
    ≡0 (mod 6) (price +1000) plus new keys ≡1 (mod 3).  First-match-
    wins: ``WHEN MATCHED AND t.o_orderkey % 12 = 0 UPDATE *``, then
    unconditional ``WHEN MATCHED DELETE`` (≡6 mod 12), then INSERT —
    one overwrite snapshot.  A resurrected position-deleted row, a
    mis-ordered clause, or a lost insert all fail the hash compare.
    (VERDICT r6 item #5 — Iceberg MERGE parity; r7.)"""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"iceberg_merge_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = False
    try:
        ops = [h["operation"] for h in history_iceberg(spark, path)]
        complete = ops == ["append", "delete", "overwrite"]
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        # DETERMINISTIC LAYOUT (r12, VERDICT r10 #1a rule): pin the
        # fixture's file count + row order so they inherit neither the
        # session's parallelism nor the input dir's file layout (the
        # bench's multi-slice input otherwise fanned this table to one
        # file per slice and every read paid a per-file plan for each).
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 3 == 0)
            .repartition(2, "o_orderkey")
            .sortWithinPartitions("o_orderkey"),
            path, mode="error",
        )
        delete_iceberg_rows(spark, path, F.col("o_orderkey") % 30 == 0)
        source = orders.filter(F.col("o_orderkey") % 6 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        ).unionByName(orders.filter(F.col("o_orderkey") % 3 == 1))
        merge_iceberg(
            spark, path, source, on=["o_orderkey"],
            clauses=[
                {"when": "matched", "action": "update",
                 "condition": "t.o_orderkey % 12 = 0"},
                {"when": "matched", "action": "delete"},
                {"when": "not_matched", "action": "insert"},
            ],
        )
    back = read_iceberg(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


# Oracle: matched = LIVE keys ≡0 (mod 6) (the ≡0 (mod 30) rows were
# position-deleted first, so a dead ≡0 (mod 6) key is NOT matched —
# its source row INSERTS fresh).  Updated = live ∧ %12=0 (+1000);
# deleted = live ∧ %12=6; inserts = %3=1 keys plus the source rows
# whose keys were dead (≡0 mod 30 ∧ ≡0 mod 6 ⇔ ≡0 mod 30).
scan_iceberg_merge = query(
    "b_lake_iceberg_merge",
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
)(scan_iceberg_merge)


def scan_iceberg_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ MERGE (``merge_iceberg(strategy="mor")``, r8 —
    VERDICT r7 item #4): the exact clause lifecycle of
    ``b_lake_iceberg_merge`` — pre-existing positional delete folded,
    conditional UPDATE, first-match-wins DELETE, INSERT — but NO data
    file rewrites: touched rows stage as position-delete files,
    postimages + inserts append, one overwrite snapshot.  The read
    back must apply BOTH delete generations (the old one on original
    files, the merge's on top) with sequence gating keeping the
    appended postimages alive.  Same oracle as the COW twin — the two
    strategies are semantically indistinguishable; only the cost
    model differs (commit ∝ changed rows; pytest pins that no
    original data file was removed)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(
        f"iceberg_merge_mor_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    complete = False
    try:
        ops = [h["operation"] for h in history_iceberg(spark, path)]
        complete = ops == ["append", "delete", "overwrite"]
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        # DETERMINISTIC LAYOUT (r12, VERDICT r10 #1a rule): pin the
        # fixture's file count + row order so they inherit neither the
        # session's parallelism nor the input dir's file layout (the
        # bench's multi-slice input otherwise fanned this table to one
        # file per slice and every read paid a per-file plan for each).
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 3 == 0)
            .repartition(2, "o_orderkey")
            .sortWithinPartitions("o_orderkey"),
            path, mode="error",
        )
        delete_iceberg_rows(spark, path, F.col("o_orderkey") % 30 == 0)
        source = orders.filter(F.col("o_orderkey") % 6 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        ).unionByName(orders.filter(F.col("o_orderkey") % 3 == 1))
        merge_iceberg(
            spark, path, source, on=["o_orderkey"],
            clauses=[
                {"when": "matched", "action": "update",
                 "condition": "t.o_orderkey % 12 = 0"},
                {"when": "matched", "action": "delete"},
                {"when": "not_matched", "action": "insert"},
            ],
            strategy="mor",
        )
    back = read_iceberg(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


# Oracle: identical to b_lake_iceberg_merge — merge-on-read and
# copy-on-write must produce the same table state.
scan_iceberg_merge_mor = query(
    "b_lake_iceberg_merge_mor",
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
)(scan_iceberg_merge_mor)


def scan_iceberg_eqdelete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality-delete lifecycle end-to-end: create (keys ≡0 mod 4) →
    ``delete_by_key_iceberg`` on keys ≡0 (mod 8) — an O(keys)
    content=2 commit that reads NO data file — → re-append those keys
    at price+500.  The read must subtract by equality with the STRICT
    sequence gate (the re-appended rows are NEWER than the delete and
    must survive) and null-safe key matching; the oracle reconstructs
    the final state arithmetically, so an over-applied delete (gate
    not strict), an under-applied one (eq join missed), or a lost
    re-append all fail the hash compare.  (The merge-on-read DELETE
    shape Flink CDC writes; r6.)"""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"iceberg_eqdel_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = False
    try:
        ops = [h["operation"] for h in history_iceberg(spark, path)]
        complete = ops == ["append", "delete", "append"]
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 4 == 0), path, mode="error"
        )
        delete_by_key_iceberg(
            spark, path,
            orders.filter(F.col("o_orderkey") % 8 == 0)
            .select("o_orderkey"),
        )
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 8 == 0).withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(500.0)
            ),
            path,
            mode="append",
        )
    back = read_iceberg(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


scan_iceberg_eqdelete = query(
    "b_lake_iceberg_eqdelete",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum(
               "CASE WHEN o_orderkey % 8 = 0 THEN o_totalprice + 500 "
               "ELSE o_totalprice END"
           )} AS total_price
    FROM orders
    WHERE o_orderkey % 4 = 0
    GROUP BY o_orderpriority
    """,
)(scan_iceberg_eqdelete)


def scan_iceberg_hidden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden partitioning end-to-end: create with
    ``partition_by=["bucket(8, o_custkey)"]`` (the writer computes
    murmur3 seed-0 buckets and records the transform in the spec) →
    read with a ``partition_filter`` on the SOURCE column (the
    planner pushes the filter values through the spec's transform to
    prune files) → row filter → aggregate.  Pruning is conservative
    by design, so the oracle catches exactly the fatal direction: if
    the writer's numpy bucket and the reader's pure-Python bucket
    ever disagree, the needed file is pruned away and rows go
    missing from the hash compare.  (r6.)"""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    keys = [1, 2, 4, 5, 7]
    path = _scratch(f"iceberg_hidden_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = False
    try:
        meta = _load_metadata(path)
        sf = _spec_fields(meta, meta.get("default-spec-id", 0))
        ops = [h["operation"] for h in history_iceberg(spark, path)]
        complete = ops == ["append"] and bool(sf) and (
            sf[0].get("transform") == "bucket[8]"
        )
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_iceberg(
            orders, path, mode="error",
            partition_by=["bucket(8, o_custkey)"],
        )
    back = read_iceberg(
        spark, path, partition_filter={"o_custkey": keys}
    ).filter(F.col("o_custkey").isin(keys))
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


scan_iceberg_hidden = query(
    "b_lake_iceberg_hidden",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price
    FROM orders
    WHERE o_custkey IN (1, 2, 4, 5, 7)
    GROUP BY o_orderpriority
    """,
)(scan_iceberg_hidden)


def scan_iceberg_specevolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution end-to-end: create identity-partitioned
    on o_orderpriority (keys ≡0 mod 5) → ``evolve_spec_iceberg`` to
    ``bucket(8, o_custkey)`` (metadata-only) → append keys ≡1 (mod 5)
    under the NEW spec → read with a partition_filter on o_custkey +
    row filter.  The pre-evolution files have no bucket field and must
    be conservatively KEPT (their rows pass the row filter); the
    post-evolution files prune by bucket.  A reader that pruned
    old-spec files under the new spec (or vice versa) loses rows and
    fails the hash compare.  (r6.)"""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    keys = [1, 2, 4, 5, 7]
    path = _scratch(
        f"iceberg_specevolve_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    complete = False
    try:
        meta = _load_metadata(path)
        sf = _spec_fields(meta, meta.get("default-spec-id", 0))
        ops = [h["operation"] for h in history_iceberg(spark, path)]
        complete = ops == ["append", "append"] and bool(sf) and (
            sf[0].get("transform") == "bucket[8]"
        )
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 5 == 0), path, mode="error",
            partition_by=["o_orderpriority"],
        )
        evolve_spec_iceberg(path, ["bucket(8, o_custkey)"])
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 5 == 1), path,
            mode="append", partition_by=["bucket(8, o_custkey)"],
        )
    back = read_iceberg(
        spark, path, partition_filter={"o_custkey": keys}
    ).filter(F.col("o_custkey").isin(keys))
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


scan_iceberg_specevolve = query(
    "b_lake_iceberg_specevolve",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price
    FROM orders
    WHERE (o_orderkey % 5 = 0 OR o_orderkey % 5 = 1)
      AND o_custkey IN (1, 2, 4, 5, 7)
    GROUP BY o_orderpriority
    """,
)(scan_iceberg_specevolve)


def scan_iceberg_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-ref time travel end-to-end: create (keys ≡0 mod 6) →
    ``tag_iceberg("pre-overwrite")`` → OVERWRITE with keys ≡1 (mod 6)
    → read ``ref="pre-overwrite"``.  The live table holds only the
    overwrite; the tag must still resolve the ORIGINAL snapshot (and
    by the expiry-pin rule would survive ``expire_snapshots``), so the
    oracle is the pre-overwrite subset — a tag resolving to the wrong
    snapshot, or ref resolution falling through to current state,
    flips the aggregate entirely.  (spec §References; r6.)"""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"iceberg_tag_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = False
    try:
        meta = _load_metadata(path)
        ops = [h["operation"] for h in history_iceberg(spark, path)]
        complete = ops == ["append", "overwrite"] and "pre-overwrite" in (
            meta.get("refs") or {}
        )
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 6 == 0), path, mode="error"
        )
        tag_iceberg(path, "pre-overwrite")
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 6 == 1), path,
            mode="overwrite",
        )
    back = read_iceberg(spark, path, ref="pre-overwrite")
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


scan_iceberg_tag = query(
    "b_lake_iceberg_tag",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price
    FROM orders
    WHERE o_orderkey % 6 = 0
    GROUP BY o_orderpriority
    """,
)(scan_iceberg_tag)


def scan_iceberg_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution end-to-end: create → ``evolve_iceberg``
    (metadata-only RENAME ``o_totalprice``→``price_total`` + ADD
    ``bonus``, zero data files touched) → append under the NEW schema
    (new files spell the new name and carry the bonus column) → read.
    The read must resolve the pre-evolution files by parquet field id
    (they spell the OLD column name), serve NULL bonus for them, and
    union both spellings under the current schema.  The oracle
    reconstructs the final state arithmetically from the fixture
    (``bonus = o_totalprice / 64`` is an exact binary halving chain,
    bit-stable across engines), so a mis-resolved rename, a lost
    pre-evolution file, or a bonus leaking into old rows all fail the
    hash compare.  (The Iceberg twin of ``b_lake_delta_cmap``; r6.)"""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"iceberg_evolve_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = False
    try:
        ops = [h["operation"] for h in history_iceberg(spark, path)]
        cur = {
            f["name"] for f in _current_schema(_load_metadata(path))["fields"]
        }
        complete = ops == ["append", "append"] and cur == {
            "o_orderkey", "o_orderpriority", "price_total", "bonus"
        }
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 9 == 0), path, mode="error"
        )
        evolve_iceberg(
            path,
            renames={"o_totalprice": "price_total"},
            add_columns=[("bonus", "double")],
        )
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 9 == 1)
            .withColumnRenamed("o_totalprice", "price_total")
            .withColumn("bonus", F.col("price_total") / F.lit(64.0)),
            path,
            mode="append",
        )
    back = read_iceberg(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("price_total").alias("price_total_sum"),
        money_sum(F.coalesce(F.col("bonus"), F.lit(0.0))).alias("bonus_sum"),
    )


scan_iceberg_evolve = query(
    "b_lake_iceberg_evolve",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS price_total_sum,
           {sql_money_sum(
               "CASE WHEN o_orderkey % 9 = 1 THEN o_totalprice / 64 "
               "ELSE 0.0 END"
           )} AS bonus_sum
    FROM orders
    WHERE o_orderkey % 9 = 0 OR o_orderkey % 9 = 1
    GROUP BY o_orderpriority
    """,
)(scan_iceberg_evolve)


def scan_iceberg_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rollback_to_snapshot end-to-end (r9): era-1 append → era-2
    append → ROLLBACK to era-1 (metadata-only; era-2 becomes a dead
    DAG branch, still time-travelable) → era-3 append on the rewound
    line → read.  Final state must be era-1 ∪ era-3 with era-2's rows
    GONE — a rollback that failed to move the head, or a post-
    rollback append that parented on the abandoned suffix, both leak
    era-2 rows and fail the hash compare."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(
        f"iceberg_rollback_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    complete = False
    try:
        meta = _load_metadata(path)
        by_id = {
            s["snapshot-id"]: s for s in meta.get("snapshots") or []
        }
        cur = by_id.get(meta.get("current-snapshot-id")) or {}
        complete = (
            len(by_id) == 3
            and (by_id.get(cur.get("parent-snapshot-id")) or {}).get(
                "parent-snapshot-id"
            ) is None
        )
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 9 == 2), path, mode="error"
        )                                                   # snap 1
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 9 == 5), path, mode="append"
        )                                                   # snap 2
        rollback_iceberg(
            path, history_iceberg(spark, path)[0]["snapshot_id"]
        )
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 9 == 7), path, mode="append"
        )                                                   # snap 3
    back = read_iceberg(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


scan_iceberg_rollback = query(
    "b_lake_iceberg_rollback",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price
    FROM orders
    WHERE o_orderkey % 9 = 2 OR o_orderkey % 9 = 7
    GROUP BY o_orderpriority
    """,
)(scan_iceberg_rollback)


def scan_iceberg_retype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema TYPE-promotion evolution end-to-end (r9, VERDICT r8 item
    #5): create with int columns → ``evolve_iceberg(retype_columns=
    {int→long})`` (metadata-only, spec §Schema Evolution) → append
    values ONLY a long can hold → read across both eras.  The
    pre-promotion files physically store int32; the reader must serve
    them at their file width and cast (the footer-branch machinery),
    never misread 4-byte values as 8-byte.  The oracle rebuilds both
    eras arithmetically — a truncated wide value, a misdecoded narrow
    file, or a lost era all fail the hash compare."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"iceberg_retype_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = False
    try:
        ops = [h["operation"] for h in history_iceberg(spark, path)]
        types = {
            f["name"]: f["type"]
            for f in _current_schema(_load_metadata(path))["fields"]
        }
        complete = ops == ["append", "append"] and types.get(
            "k"
        ) == "long" and types.get("cents") == "long"
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        era1 = orders.filter(F.col("o_orderkey") % 7 == 0).select(
            F.col("o_orderpriority"),
            F.col("o_orderkey").cast("int").alias("k"),
            F.round(F.col("o_totalprice") * 100).cast("int").alias("cents"),
        )
        write_iceberg(era1, path, mode="error")
        evolve_iceberg(path, retype_columns={"k": "long", "cents": "long"})
        era2 = orders.filter(F.col("o_orderkey") % 7 == 1).select(
            F.col("o_orderpriority"),
            (F.col("o_orderkey") + F.lit(4_000_000_000)).alias("k"),
            (
                F.round(F.col("o_totalprice") * 100).cast("long")
                + F.lit(10_000_000_000)
            ).alias("cents"),
        )
        write_iceberg(era2, path, mode="append")
    back = read_iceberg(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("cents").cast("long").alias("cents_sum"),
        F.max("k").alias("k_max"),
    )


scan_iceberg_retype = query(
    "b_lake_iceberg_retype",
    """
    WITH era1 AS (
      SELECT o_orderpriority,
             CAST(CAST(o_orderkey AS INTEGER) AS BIGINT) AS k,
             CAST(CAST(round(o_totalprice * 100) AS INTEGER) AS BIGINT)
               AS cents
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    era2 AS (
      SELECT o_orderpriority,
             o_orderkey + 4000000000 AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) + 10000000000
               AS cents
      FROM orders WHERE o_orderkey % 7 = 1
    ),
    u AS (SELECT * FROM era1 UNION ALL SELECT * FROM era2)
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS cents_sum, max(k) AS k_max
    FROM u GROUP BY o_orderpriority
    """,
)(scan_iceberg_retype)


# ------------------------------------------------------------- maintenance


def rewrite_data_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_filter: dict | None = None,
) -> dict:
    """Compaction (the iceberg-spark ``rewrite_data_files`` action):
    within each partition, groups of small data files — and any file a
    position or equality delete applies to — are read merge-on-read
    and rewritten into ~``target_file_bytes`` files.  The new snapshot
    carries one ADDED manifest (the rewritten files), one EXISTING
    manifest (the untouched files, their original sequence numbers
    explicit so delete gating keeps working), and the delete manifests
    unchanged (delete rows naming compacted files become inert — their
    targets left the snapshot; equality deletes stop covering the
    rewrites by the strict sequence gate, their subtraction having
    been FOLDED into the rewritten rows).  Row content is unchanged;
    this is the read-debt payoff for merge-on-read deletes and the
    small-file cure for append-heavy tables.

    ``partition_filter`` scopes the pass (iceberg-spark's
    ``rewrite_data_files(where => ...)`` partition-predicate gesture —
    compact only today's partition): filters name SOURCE columns
    pushed through the spec transforms exactly like the read-time
    pruning; out-of-scope files ride as EXISTING entries untouched.
    At 100 TB a maintenance pass that cannot scope to the recent
    partitions re-reads the whole table for nothing.

    Returns {"version", "files_before", "files_after",
    "partitions_compacted"}; nothing to compact commits nothing."""
    meta = _load_metadata(path)
    schema_json = _current_schema(meta)
    spark_schema = _schema_to_spark(schema_json)
    snap = _snapshot_by_id(meta, None)
    if snap is None:
        return {"version": max(_metadata_versions(path)), "files_before": 0,
                "files_after": 0, "partitions_compacted": 0}
    data, deletes, eq_deletes = _manifest_entries(path, meta, snap)
    deleted_targets = set()
    for d in deletes:
        # which data files do the position deletes name?  read just the
        # file_path column of the (planning-sized-per-file) delete files
        import pyarrow.parquet as pq

        try:
            t = pq.read_table(d["path"], columns=["file_path"])
            deleted_targets |= {
                os.path.basename(urllib.parse.unquote(p))
                for p in t.column("file_path").to_pylist()
            }
        except Exception:  # noqa: BLE001 — unreadable -> treat none targeted
            pass
    in_scope: set[int] | None = None
    if partition_filter:
        in_scope = {
            id(r)
            for r in _prune_partition_filter(
                meta, schema_json, data, partition_filter
            )
        }
    by_part: dict[tuple, list[dict]] = {}
    part_spec = _spec_from_meta(meta, schema_json)
    part_names = [pf["name"] for pf in part_spec]
    for rec in data:
        key = tuple(rec["partition"].get(c) for c in part_names)
        by_part.setdefault(key, []).append(rec)
    compact: list[dict] = []
    kept: list[dict] = []
    n_parts = 0
    for key, recs in sorted(by_part.items(), key=lambda kv: str(kv[0])):
        import os as _os

        if in_scope is not None:
            out = [r for r in recs if id(r) not in in_scope]
            recs = [r for r in recs if id(r) in in_scope]
            kept.extend(out)
            if not recs:
                continue
        small = [r for r in recs if _file_size(r, path) < target_file_bytes]
        dv_hit = [
            r for r in recs
            if _os.path.basename(urllib.parse.unquote(r["path"])) in deleted_targets
        ]
        # files an equality delete may apply to (strict seq gate +
        # partition scope) carry read-time subtraction cost — compact
        # them so the fold pays that debt off
        eq_hit = [
            r for r in recs
            if any(
                d["seq"] > r["seq"]
                and (not d.get("partition") or d["partition"] == r["partition"])
                for d in eq_deletes
            )
        ]
        group = sorted(
            {
                id(r): r
                for r in (small if len(small) > 1 else []) + dv_hit + eq_hit
            }.values(),
            key=lambda r: r["path"],
        )
        if not group:
            kept.extend(recs)
            continue
        n_parts += 1
        compact.extend(group)
        kept.extend(r for r in recs if r not in group)
    if not compact:
        return {"version": max(_metadata_versions(path)), "files_before": 0,
                "files_after": 0, "partitions_compacted": 0}
    part_fields = part_spec
    # merge-on-read scan of the compaction group: positional AND
    # equality deletes fold into the rewritten rows.  The rewritten
    # files take the commit's NEW (higher) sequence number, so the
    # carried eq-delete manifests stop applying to them by the strict
    # gate — exactly the fold semantics; the kept EXISTING files keep
    # their original sequence numbers and stay covered.
    rows = _plan_scan(
        spark, spark_schema, compact, deletes, _resolution(meta),
        eq_deletes=eq_deletes, schema_json=schema_json, meta=meta,
    )
    total = sum(_file_size(r, path) for r in compact)
    n_out = max(1, -(-total // target_file_bytes))
    staged = _stage_data_files(
        rows.coalesce(n_out), path, part_spec, schema_json
    )
    added_entries = [
        {"status": 1, "snapshot_id": None, "sequence_number": None,
         "file_sequence_number": None, "data_file": f}
        for f in staged
    ]
    new_manifests = [
        _write_manifest(
            path, added_entries, part_fields, 0, "data", schema_json,
            spec_id=int(meta.get("default-spec-id", 0)),
        )
    ]
    new_manifests.extend(_existing_manifests(path, meta, kept, schema_json))
    # carry ONLY the delete manifests (data manifests are replaced by
    # the ADDED + EXISTING pair above)
    carry = [
        m for m in _carry_manifests(path, meta) if int(m.get("content") or 0) == 1
    ]
    v = _commit_snapshot(path, meta, new_manifests, carry, "replace")
    return {"version": v, "files_before": len(compact),
            "files_after": len(staged), "partitions_compacted": n_parts}


def _file_size(rec: dict, path: str) -> int:
    try:
        return os.path.getsize(rec["path"])
    except OSError:
        return 0


def _existing_manifests(
    path: str, meta: dict, kept: list[dict], schema_json: dict
) -> list[dict]:
    """EXISTING-status data manifests for untouched files — one per
    the spec id each file was WRITTEN with (writing an old-spec file's
    partition dict through the new spec's record schema would null
    its values), with sequence numbers explicit so delete gating keeps
    working.  Shared by rewrite_data_files and merge_iceberg."""
    out: list[dict] = []
    by_spec: dict[int, list[dict]] = {}
    for r in kept:
        by_spec.setdefault(int(r["spec_id"]), []).append(r)
    for sid, recs in sorted(by_spec.items()):
        kept_entries = [
            {
                "status": 0,  # EXISTING: sequence numbers stay explicit
                "snapshot_id": None,
                "sequence_number": r["seq"],
                "file_sequence_number": r["seq"],
                "data_file": {
                    "content": 0,
                    "file_path": r["path"],
                    "file_format": "PARQUET",
                    "partition": r["partition"],
                    "record_count": r["record_count"],
                    "file_size_in_bytes": _file_size(r, path),
                    "lower_bounds": (
                        [{"key": k, "value": v}
                         for k, v in sorted(r["lower"].items())]
                        if r["lower"] else None
                    ),
                    "upper_bounds": (
                        [{"key": k, "value": v}
                         for k, v in sorted(r["upper"].items())]
                        if r["upper"] else None
                    ),
                },
            }
            for r in recs
        ]
        out.append(
            _write_manifest(
                path, kept_entries,
                _spec_from_meta(meta, schema_json, spec_id=sid),
                0, "data", schema_json, spec_id=sid,
            )
        )
    return out


def _existing_delete_manifests(
    path: str, meta: dict, recs: list[dict], schema_json: dict
) -> list[dict]:
    """EXISTING-status DELETE manifests for carried-forward delete
    files (equality deletes a position-delete rewrite must not touch)
    — per written spec id, sequence numbers explicit so the strict
    gates keep working; the content=2 ``equality_ids`` ride along."""
    out: list[dict] = []
    # group by (spec_id, has-partition-scope): a GLOBAL equality
    # delete's manifest has an EMPTY partition record even when the
    # manifest's spec_id names a partitioned spec (that's how
    # delete_by_key_iceberg writes them) — re-serializing it under the
    # spec's record schema would decode back as {col: None}, silently
    # partition-scoping the delete to nothing (over-resurrection).
    by_spec: dict[tuple[int, bool], list[dict]] = {}
    for r in recs:
        scoped = bool(r.get("partition"))
        by_spec.setdefault((int(r["spec_id"]), scoped), []).append(r)
    for (sid, scoped), rs in sorted(by_spec.items()):
        spec = (
            _spec_from_meta(meta, schema_json, spec_id=sid) if scoped else []
        )
        entries = [
            {
                "status": 0,
                "snapshot_id": None,
                "sequence_number": r["seq"],
                "file_sequence_number": r["seq"],
                "data_file": {
                    "content": 2,
                    "file_path": r["path"],
                    "file_format": "PARQUET",
                    "partition": r["partition"] if scoped else {},
                    "record_count": r["record_count"],
                    "file_size_in_bytes": _file_size(r, path),
                    "lower_bounds": (
                        [{"key": k, "value": v}
                         for k, v in sorted(r["lower"].items())]
                        if r["lower"] else None
                    ),
                    "upper_bounds": (
                        [{"key": k, "value": v}
                         for k, v in sorted(r["upper"].items())]
                        if r["upper"] else None
                    ),
                    "equality_ids": list(r["equality_ids"]),
                },
            }
            for r in sorted(rs, key=lambda r: r["path"])
        ]
        out.append(
            _write_manifest(
                path, entries, spec, 0, "deletes", schema_json,
                spec_id=sid,
            )
        )
    return out


def rewrite_position_delete_files(spark: SparkSession, path: str) -> dict:
    """Position-delete maintenance (iceberg-spark's
    ``rewrite_position_delete_files`` action — the compaction this
    connector's streaming residency gate points at): consolidate the
    current snapshot's position-delete files into ONE sorted file and
    DROP DANGLING rows (deletes naming data files no longer in the
    snapshot — what ``rewrite_data_files`` leaves behind after folding
    their targets).  Row content of the table is UNCHANGED by
    construction: surviving delete rows name the same (file, pos)
    targets.

    Sequencing safety: a position delete's target is EXPLICIT, so
    re-committing the surviving rows at the new snapshot's (higher)
    sequence number cannot widen their scope — uuid data-file names
    make a same-name later file impossible.  EQUALITY deletes are the
    opposite (their scope IS the sequence gate), so they carry forward
    untouched with their original sequence numbers via EXISTING-status
    manifests and this action never rewrites them.

    Scale shape: the delete rows scan + dangling filter + rewrite run
    DISTRIBUTED (delete files are data-sized on a CDC-heavy table);
    only O(files) names reach the driver.  Returns {"version",
    "delete_files_before", "delete_files_after", "dangling_dropped"};
    fewer than two position-delete files and nothing dangling commits
    nothing."""
    import pandas as pd

    meta = _load_metadata(path)
    schema_json = _current_schema(meta)
    snap = _snapshot_by_id(meta, None)
    noop = {
        "version": max(_metadata_versions(path)),
        "delete_files_before": 0, "delete_files_after": 0,
        "dangling_dropped": 0,
    }
    if snap is None:
        return noop
    data, deletes, eq_deletes = _manifest_entries(path, meta, snap)
    if not deletes:
        return noop
    live = sorted(
        {os.path.basename(urllib.parse.unquote(r["path"])) for r in data}
    )
    dfiles = sorted({d["path"] for d in deletes})
    rows = spark.read.schema("file_path string, pos long").parquet(*dfiles)
    live_df = spark.createDataFrame(
        pd.DataFrame(live, columns=["_b"]), "_b string"
    )
    tagged = rows.withColumn(
        "_b", F.url_decode(F.element_at(F.split(F.col("file_path"), "/"), -1))
    )
    kept = tagged.join(F.broadcast(live_df), "_b", "left_semi").drop("_b")
    total = rows.count()
    surviving = kept.count()
    dangling = total - surviving
    if len(deletes) <= 1 and dangling == 0:
        return {**noop, "delete_files_before": len(deletes),
                "delete_files_after": len(deletes)}
    del_files = _stage_pos_delete(spark, path, kept)
    new_manifests: list[dict] = []
    if del_files:
        new_manifests.append(_delete_manifest(path, del_files, schema_json))
    if eq_deletes:
        new_manifests.extend(
            _existing_delete_manifests(path, meta, eq_deletes, schema_json)
        )
    # carry ONLY the data manifests (every delete manifest is replaced
    # by the consolidated + eq-EXISTING pair above)
    carry = [
        m for m in _carry_manifests(path, meta)
        if int(m.get("content") or 0) == 0
    ]
    v = _commit_snapshot(path, meta, new_manifests, carry, "replace")
    return {
        "version": v,
        "delete_files_before": len(deletes),
        "delete_files_after": len(del_files),
        "dangling_dropped": int(dangling),
    }


def last_txn_version_iceberg(
    spark: SparkSession, path: str, app_id: str
) -> int:
    """Highest ``txn`` watermark committed for ``app_id`` via
    :func:`merge_iceberg`'s ``txn=`` parameter, or -1.  Stored as
    table property ``txn.<app_id>`` so it survives snapshot expiry —
    a restarted streaming writer reads this to know which
    micro-batches already landed (the Delta connector's
    :func:`~.delta.last_txn_version` twin)."""
    meta = _load_metadata(path)
    return int((meta.get("properties") or {}).get(f"txn.{app_id}", -1))


def merge_iceberg(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: list[str],
    clauses: list[dict] | tuple | None = None,
    txn: tuple[str, int] | None = None,
    strategy: str = "cow",
) -> dict:
    """MERGE in ONE snapshot with the shared clause surface (see
    ``sources/merge_clauses.py``: conditional WHEN MATCHED
    UPDATE/DELETE, WHEN NOT MATCHED INSERT, WHEN NOT MATCHED BY
    SOURCE — first matching clause wins, delta-spark semantics), under
    either write strategy iceberg-spark exposes as the
    ``write.merge.mode`` table property:

    - ``strategy="cow"`` (default, copy-on-write): hit files rewrite;
    - ``strategy="mor"`` (merge-on-read, r8 — VERDICT r7 item #4): NO
      data file rewrites.  Touched rows (update or delete clauses —
      an update is delete + re-insert) stage as POSITION-DELETE files,
      update postimages + inserts append as new data files, and one
      ``overwrite`` snapshot publishes the delete manifest + data
      manifest while every existing manifest carries forward
      untouched.  Commit cost ∝ changed rows, not hit-file bytes —
      the 100 TB path when updates touch a small fraction of a large
      file; readers pay the delete-application debt until
      ``rewrite_data_files`` folds it.

    Cost model (iceberg-spark's copy-on-write MERGE): only the data
    files containing rows a matched clause may rewrite — or rows a
    by-source clause actually hits — are rewritten.  The rewrite scan
    is merge-on-read, so existing POSITION and EQUALITY deletes FOLD
    into the rewritten rows exactly as ``rewrite_data_files`` folds
    them: the new files take the commit's higher data sequence (prior
    equality deletes stop covering them by the strict gate), position
    deletes naming the replaced files become inert, and the untouched
    files ride along as EXISTING manifest entries with their original
    sequence numbers so every carried delete keeps applying to them.
    One ``overwrite`` snapshot publishes added + existing data
    manifests and the carried delete manifests together.

    Contrast with :func:`upsert_iceberg` (merge-on-read: position-
    delete + append, no rewrite): MERGE pays the rewrite now and
    leaves no read debt; upsert defers the cost to readers until
    compaction.  ``source`` must match the table schema exactly and
    be UNIQUE on ``on``.  Returns {"version", "updated", "deleted",
    "inserted"}.  (VERDICT r6 item #5; r7.)

    ``txn=(app_id, version)`` gives the merge the same replayed-
    micro-batch idempotence as Delta's ``txn`` action: the high-water
    mark persists as table property ``txn.<app_id>`` (the pattern
    Flink's Iceberg sink uses via its max-committed-checkpoint-id
    summary — a property survives snapshot EXPIRY, which a summary
    does not), and a merge whose version is not greater than the
    stored mark skips without committing (r8, VERDICT item #3)."""
    from .merge_clauses import (
        DEFAULT_CLAUSES,
        bysource_hit_condition,
        check_clauses,
        pin,
        plan_merge,
        plan_merge_mor,
    )

    if strategy not in ("cow", "mor"):
        raise ValueError(f"unknown merge strategy {strategy!r}")
    meta = _load_metadata(path)
    if txn is not None and int(txn[1]) <= int(
        (meta.get("properties") or {}).get(f"txn.{txn[0]}", -1)
    ):
        return {
            "version": max(_metadata_versions(path)), "updated": 0,
            "deleted": 0, "inserted": 0, "skipped": True,
        }
    schema_json = _current_schema(meta)
    spark_schema = _schema_to_spark(schema_json)
    declared = {f.name: f.dataType.simpleString() for f in spark_schema.fields}
    got = {f.name: f.dataType.simpleString() for f in source.schema.fields}
    if declared != got:
        raise ValueError(
            f"schema mismatch: table declares {declared}, merge has {got}"
        )
    snap = _snapshot_by_id(meta, None)
    if snap is None:
        raise ValueError("cannot merge into a table with no snapshot")
    cols = [f.name for f in spark_schema.fields]
    types = {f.name: f.dataType for f in spark_schema.fields}
    clauses = [dict(c) for c in (clauses or DEFAULT_CLAUSES)]
    check_clauses(clauses, cols)
    # Materialize the merge source ONCE (r11 optimization, guide §5):
    # the planning below executes it repeatedly (dup check, key-bounds
    # aggregate, clause counts, insert count, staging writes), and in
    # the CDC-replication path its lineage roots in the Python-
    # DataSource stream read — a JVM→Python→JVM hop per re-execution.
    # Mirrors merge_delta; delta-spark materializes its merge source
    # for the same reason.
    source = pin(source)
    matched_cl = [c for c in clauses if c["when"] == "matched"]
    # ONE pass over the checkpointed source for BOTH the duplicate-key
    # check and the manifest-prune key bounds (r12, VERDICT r11 item
    # #4; same fold as merge_delta): max group multiplicity and
    # per-key min/max in a single aggregate.  Bounds are computed for
    # every key column here; the pruning below still only consults the
    # primitive-typed ones.
    b = (
        source.groupBy(*on)
        .agg(F.count("*").alias("_mg_n"))
        .agg(
            F.max("_mg_n").alias("_mg_dup"),
            *[
                a
                for i, c in enumerate(on)
                for a in (
                    F.min(c).alias(f"_lo{i}"), F.max(c).alias(f"_hi{i}")
                )
            ],
        )
        .first()
    )
    if (b["_mg_dup"] or 0) > 1:
        raise ValueError(
            f"merge source has duplicate keys on {on} — a target row "
            "would match more than one source row"
        )
    data, deletes, eq_deletes = _manifest_entries(path, meta, snap)
    res = _resolution(meta)
    part_spec = _spec_from_meta(meta, schema_json)
    # LIVE rows (merge-on-read applied) tagged with their file — dead
    # rows must neither count as matched nor resurrect in a rewrite
    live = _plan_scan(
        spark, spark_schema, data, deletes, res,
        eq_deletes=eq_deletes, schema_json=schema_json, keep_file=True,
        meta=meta,
    )
    # manifest-bounds-prune the matched-candidate set (metrics
    # filtering, like read_iceberg_range): files whose lower/upper
    # provably miss the source's key range on ANY key column cannot
    # hold a match (the equality must hold on every key
    # simultaneously), so composite keys conjoin per-column bounds
    # (r8); boundless files / non-primitive key types are
    # conservatively kept.  COW scans the survivors for hit-file
    # discovery; MOR scans them for touched-row planning.
    cand = data
    if data and matched_cl:
        # (bounds come from the combined dup+bounds aggregate above —
        # indexed by the key's position in ``on``)
        key_fields = [
            (i, f)
            for i, c in enumerate(on)
            for f in schema_json["fields"]
            if f["name"] == c and isinstance(f["type"], str)
        ]
        if key_fields:
            kept_recs = []
            for rec in data:
                prunable = False
                for i, f in key_fields:
                    lo, hi = b[f"_lo{i}"], b[f"_hi{i}"]
                    if lo is None:
                        continue
                    fid, ftype = int(f["id"]), f["type"]
                    mn = _sv_decode(ftype, (rec["lower"] or {}).get(fid))
                    mx = _sv_decode(ftype, (rec["upper"] or {}).get(fid))
                    if mn is not None and mx is not None:
                        try:
                            if mx < lo or mn > hi:
                                prunable = True
                                break
                        except TypeError:
                            pass
                if not prunable:
                    kept_recs.append(rec)
            cand = kept_recs
    bysrc_cond = bysource_hit_condition(clauses)
    if strategy == "mor":
        # merge-on-read: no hit-FILE discovery at all — plan the
        # touched ROWS directly over the pruned candidate scan (a
        # by-source clause must see every live row, so it widens the
        # scan back to the full table), stage them as position
        # deletes, and append postimages + inserts.  plan_merge_mor
        # eagerly materializes the clause-hit wide frame and the
        # insert frame on the executors (r11/r12 — bounded by CHANGED
        # rows, the MOR commit contract); the only driver-side data is
        # its O(#clauses) census collect and the O(files) path map.
        scan_recs = data if bysrc_cond is not None else (
            cand if matched_cl else []
        )
        tagged = _plan_scan(
            spark, spark_schema, scan_recs, deletes, res,
            eq_deletes=eq_deletes, schema_json=schema_json, meta=meta,
            keep_file=True, keep_pos=True,
        )
        touched, new_rows, stats = plan_merge_mor(
            tagged, source, on, clauses, cols, types, live.select(*on),
            ["_ice_file", "_ice_pos"],
        )
        if not (stats["updated"] or stats["deleted"] or stats["inserted"]):
            # zero-change merge still ADVANCES a txn watermark, as a
            # properties-only commit (no snapshot): a deletes-only
            # replication batch otherwise never records itself and
            # replays its equality delete on every restart (ADVICE r8)
            v = max(_metadata_versions(path))
            if txn is not None:
                v = set_properties_iceberg(
                    path, {f"txn.{txn[0]}": str(int(txn[1]))}
                )
            return {"version": v, **stats}
        new_manifests: list[dict] = []
        if stats["updated"] or stats["deleted"]:
            # position deletes name files by FULL path; the tags carry
            # basenames — resolve through a broadcast map bounded by
            # the scanned-file count (metadata-scale)
            path_map = spark.createDataFrame(
                [
                    (os.path.basename(urllib.parse.unquote(r["path"])),
                     r["path"])
                    for r in scan_recs
                ],
                "_ice_file string, file_path string",
            )
            hits = touched.join(
                F.broadcast(path_map), "_ice_file"
            ).select("file_path", F.col("_ice_pos").alias("pos"))
            del_files = _stage_pos_delete(spark, path, hits)
            if del_files:
                new_manifests.append(
                    _delete_manifest(path, del_files, schema_json)
                )
        staged = _stage_data_files(new_rows, path, part_spec, schema_json)
        if staged:
            new_manifests.append(
                _write_manifest(
                    path,
                    [
                        {
                            "status": 1,
                            "snapshot_id": None,
                            "sequence_number": None,
                            "file_sequence_number": None,
                            "data_file": f,
                        }
                        for f in staged
                    ],
                    part_spec, 0, "data", schema_json,
                    spec_id=int(meta.get("default-spec-id", 0)),
                )
            )
        # EVERY existing manifest carries forward untouched — the new
        # deletes reference old files by path at the new sequence, the
        # appended rows' higher data sequence escapes every prior
        # delete's gate (same shape as upsert_iceberg)
        carry = _carry_manifests(path, meta)
        if txn is not None:
            props = dict(meta.get("properties") or {})
            props[f"txn.{txn[0]}"] = str(int(txn[1]))
            meta["properties"] = props
        v = _commit_snapshot(path, meta, new_manifests, carry, "overwrite")
        return {"version": v, **stats}
    # matched-hit and by-source-hit discovery UNIONED into one collect
    # (r12, item #4 — same shape as merge_delta's)
    hit_probes = []
    if data and matched_cl:
        cand_live = (
            live
            if len(cand) == len(data)
            else _plan_scan(
                spark, spark_schema, cand, deletes, res,
                eq_deletes=eq_deletes, schema_json=schema_json, meta=meta,
                keep_file=True,
            )
        )
        hit_probes.append(
            cand_live.join(source.select(*on), on, "left_semi").select(
                "_ice_file"
            )
        )
    if data and bysrc_cond is not None:
        hit_probes.append(
            live.alias("t")
            .join(source.select(*on), on, "left_anti")
            .filter(bysrc_cond)
            .select("_ice_file")
        )
    hit_names: set[str] = set()
    if hit_probes:
        probe = hit_probes[0]
        for p in hit_probes[1:]:
            probe = probe.unionByName(p)
        hit_names = {
            r["_ice_file"]
            for r in probe.distinct().collect()
            # bounded by the table's active-file count
        }
    hit = [
        r for r in data
        if os.path.basename(urllib.parse.unquote(r["path"])) in hit_names
    ]
    kept = [
        r for r in data
        if os.path.basename(urllib.parse.unquote(r["path"])) not in hit_names
    ]
    hit_rows = _plan_scan(
        spark, spark_schema, hit, deletes, res,
        eq_deletes=eq_deletes, schema_json=schema_json, meta=meta,
    )
    new_data, stats = plan_merge(
        hit_rows, source, on, clauses, cols, types, live.select(*on)
    )
    if not hit and stats["inserted"] == 0:
        # same watermark discipline as the MOR early-return above
        v = max(_metadata_versions(path))
        if txn is not None:
            v = set_properties_iceberg(
                path, {f"txn.{txn[0]}": str(int(txn[1]))}
            )
        return {"version": v, **stats}
    staged = _stage_data_files(new_data, path, part_spec, schema_json)
    new_manifests: list[dict] = []
    if staged:
        added_entries = [
            {
                "status": 1,
                "snapshot_id": None,
                "sequence_number": None,
                "file_sequence_number": None,
                "data_file": f,
            }
            for f in staged
        ]
        new_manifests.append(
            _write_manifest(
                path, added_entries, part_spec, 0, "data", schema_json,
                spec_id=int(meta.get("default-spec-id", 0)),
            )
        )
    new_manifests.extend(_existing_manifests(path, meta, kept, schema_json))
    # carry ONLY the delete manifests: data manifests are replaced by
    # the ADDED + EXISTING pair, and the carried deletes stay correct
    # for the kept files while going inert for the rewritten ones
    carry = [
        m for m in _carry_manifests(path, meta)
        if int(m.get("content") or 0) == 1
    ]
    if txn is not None:
        # advance the watermark IN the committing metadata version —
        # same atomicity as Delta's txn action riding the commit
        props = dict(meta.get("properties") or {})
        props[f"txn.{txn[0]}"] = str(int(txn[1]))
        meta["properties"] = props
    v = _commit_snapshot(path, meta, new_manifests, carry, "overwrite")
    return {"version": v, **stats}


def expire_snapshots(
    spark: SparkSession, path: str, keep_last: int = 1
) -> dict:
    """Snapshot expiration + orphan reclamation (the iceberg-spark
    ``expire_snapshots`` action): drop all but the last ``keep_last``
    snapshots from the metadata (the current one always survives),
    then physically delete every data/delete file and manifest no
    REMAINING snapshot references.  Time travel to expired snapshots
    stops working — the documented contract; readers of live state
    are unaffected because deletion is reference-driven, never
    age-driven."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    meta = _load_metadata(path)
    snaps = sorted(
        meta.get("snapshots") or [],
        key=lambda s: (s.get("sequence-number", 0), s.get("timestamp-ms", 0)),
    )
    cur = meta.get("current-snapshot-id")
    keep = {s["snapshot-id"] for s in snaps[-keep_last:]} | ({cur} if cur else set())
    # named refs PIN their snapshots — a tag exists to survive expiry
    keep |= {
        int(r["snapshot-id"]) for r in (meta.get("refs") or {}).values()
    }
    dropped = [s for s in snaps if s["snapshot-id"] not in keep]
    if not dropped:
        return {"version": max(_metadata_versions(path)), "expired": 0,
                "files_deleted": 0}
    location = meta.get("location") or path
    # referenced set across SURVIVING snapshots
    live_files: set[str] = set()
    live_manifests: set[str] = set()
    live_mls: set[str] = set()
    for s in snaps:
        if s["snapshot-id"] not in keep:
            continue
        ml = _resolve(s["manifest-list"], path, location)
        live_mls.add(os.path.abspath(ml))
        _, manifests = read_avro_file(ml)
        for mf in manifests:
            mp = _resolve(mf["manifest_path"], path, location)
            live_manifests.add(os.path.abspath(mp))
            _, entries = read_avro_file(mp)
            for e in entries:
                if int(e.get("status") or 0) == 2:
                    continue
                live_files.add(
                    os.path.abspath(
                        _resolve(e["data_file"]["file_path"], path, location)
                    )
                )
    # new metadata version with the surviving snapshots only
    meta2 = json.loads(json.dumps(meta))
    version = int(meta2.pop("__file_version__")) + 1
    meta2["snapshots"] = [s for s in snaps if s["snapshot-id"] in keep]
    keep_ids = {s["snapshot-id"] for s in meta2["snapshots"]}
    meta2["snapshot-log"] = [
        e for e in meta2.get("snapshot-log") or [] if e["snapshot-id"] in keep_ids
    ]
    final = os.path.join(_meta_dir(path), f"v{version}.metadata.json")
    tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(meta2, fh)
    try:
        os.link(tmp, final)
    except FileExistsError as e:
        raise CommitConflict(
            f"iceberg commit conflict at version {version} ({path}) — "
            "a concurrent writer won; re-read the table and retry"
        ) from e
    finally:
        os.unlink(tmp)
    hint = os.path.join(_meta_dir(path), "version-hint.text")
    htmp = hint + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(htmp, "w") as fh:
        fh.write(str(version))
    os.replace(htmp, hint)
    # reclaim: files under data/ and avro under metadata/ that no
    # surviving snapshot references
    n_del = 0
    ddir = os.path.join(path, "data")
    if os.path.isdir(ddir):
        for root, _dirs, files in os.walk(ddir):
            for f in files:
                full = os.path.abspath(os.path.join(root, f))
                if f.endswith(".parquet") and full not in live_files:
                    os.unlink(full)
                    n_del += 1
    for f in os.listdir(_meta_dir(path)):
        full = os.path.abspath(os.path.join(_meta_dir(path), f))
        if f.endswith(".avro") and full not in live_manifests | live_mls:
            os.unlink(full)
            n_del += 1
    return {"version": version, "expired": len(dropped), "files_deleted": n_del}


@query(
    "b_lake_iceberg_changes",
    f"""
    SELECT 'insert' AS change_type, CAST(1 AS BIGINT) AS step,
           count(*) AS n, {sql_money_sum('o_totalprice')} AS total_price
    FROM orders WHERE o_orderkey % 5 = 0
    UNION ALL
    SELECT 'insert', 2, count(*), {sql_money_sum('o_totalprice')}
    FROM orders WHERE o_orderkey % 5 = 1
    UNION ALL
    SELECT 'delete', 3, count(*), {sql_money_sum('o_totalprice')}
    FROM orders WHERE o_orderkey % 10 = 1
    UNION ALL
    SELECT 'delete', 4, count(*), {sql_money_sum('o_totalprice')}
    FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT 'insert', 4, count(*), {sql_money_sum('o_totalprice + 500')}
    FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT 'delete', 5, count(*), {sql_money_sum('o_totalprice')}
    FROM orders WHERE o_orderkey % 20 = 5
    """,
)
def scan_iceberg_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog read over a full merge-on-read history (r7):
    create (keys ≡0 mod 5) → append (≡1 mod 5) → positional DELETE
    (≡1 mod 10) → single-snapshot UPSERT (+500 on ≡0 mod 10: its net
    effect must stream as delete(old)+insert(new), never the carried
    rows) → EQUALITY delete by key (≡5 mod 20).
    ``read_iceberg_changes`` replays the whole log; snapshot ids map
    to history ordinals via a 5-row broadcast join so the oracle can
    pin every change group arithmetically — an over-emitted carried row,
    a missed equality kill, or a double-counted overlap all fail the
    hash compare."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(f"iceberg_changes_{os.path.basename(sf_dir.rstrip('/'))}")
    complete = False
    try:
        ops = [h["operation"] for h in history_iceberg(spark, path)]
        complete = ops == [
            "append", "append", "delete", "overwrite", "delete",
        ]
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 5 == 0).coalesce(1),
            path, mode="error",
        )
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 5 == 1).coalesce(1),
            path, mode="append",
        )
        delete_iceberg_rows(spark, path, F.col("o_orderkey") % 10 == 1)
        upsert_iceberg(
            spark, path,
            orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(500.0)
            ),
            on=["o_orderkey"],
        )
        delete_by_key_iceberg(
            spark, path,
            orders.filter(F.col("o_orderkey") % 20 == 5)
            .select("o_orderkey"),
        )
    steps = [
        (int(h["snapshot_id"]), i + 1)
        for i, h in enumerate(history_iceberg(spark, path))
    ]
    smap = spark.createDataFrame(steps, "_snapshot_id long, step long")
    return (
        read_iceberg_changes(spark, path)
        .join(F.broadcast(smap), "_snapshot_id")
        .groupBy(F.col("_change_type").alias("change_type"), "step")
        .agg(
            F.count("*").alias("n"),
            money_sum("o_totalprice").alias("total_price"),
        )
    )


# ------------------------------------------------- WAP / expire / compact ids


def scan_iceberg_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (r9): era-1 on main → era-2 staged on an
    ``audit`` BRANCH (main's readers untouched) → audit gate runs a
    real expectation against the branch read (no non-positive prices,
    non-empty) → ``fast_forward`` publishes the branch head to main
    atomically.  This is iceberg-spark's WAP workflow (the
    ``spark.wap.branch`` + ``fast_forward`` procedure pair).  A write
    that leaked to main before publish, a gate that read main instead
    of the branch, or a fast-forward that dropped era-1 all fail the
    hash compare; the main-stays-clean half is pinned in pytest
    (tests/test_iceberg.py)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(
        f"iceberg_wap_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    complete = False
    try:
        meta = _load_metadata(path)
        refs = meta.get("refs") or {}
        complete = (
            refs.get("audit", {}).get("type") == "branch"
            and int(refs["audit"]["snapshot-id"])
            == meta.get("current-snapshot-id")
            and len(meta.get("snapshots") or []) == 2
        )
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 6 == 0), path, mode="error"
        )                                                   # era 1, main
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 6 == 1),
            path, mode="append", branch="audit",
        )                                                   # era 2, staged
        staged = read_iceberg(spark, path, ref="audit")
        bad = staged.filter(
            (F.col("o_totalprice") <= 0) | F.col("o_orderkey").isNull()
        ).limit(1).count()                                  # audit gate:
        if bad or staged.limit(1).count() == 0:             # bounded probe,
            raise ValueError("WAP audit failed; not publishing")  # 0/1 rows
        fast_forward_iceberg(path, "audit")                 # publish
    back = read_iceberg(spark, path)                        # main, post-publish
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


scan_iceberg_wap = query(
    "b_lake_iceberg_wap",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price
    FROM orders
    WHERE o_orderkey % 6 = 0 OR o_orderkey % 6 = 1
    GROUP BY o_orderpriority
    """,
)(scan_iceberg_wap)


def scan_iceberg_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot expiration end-to-end (r9): three append eras + a tag
    pinning era-2 → ``expire_snapshots(keep_last=1)`` → read.  The
    current snapshot must read the full three-era union (expiry is
    reference-driven, never row-destructive), the tag-pinned snapshot
    must SURVIVE (named refs pin), and every data/manifest file no
    surviving snapshot references must be physically gone — the
    ``orphaned`` column counts on-disk data files minus live-reachable
    ones and hashes against the oracle's literal 0, so a reclaim that
    deleted a LIVE file (read breaks), skipped a dead one (orphaned
    > 0), or dropped the pinned ref all fail."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(
        f"iceberg_expire_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    complete = False
    try:
        meta = _load_metadata(path)
        refs = meta.get("refs") or {}
        complete = (
            len(meta.get("snapshots") or []) == 2  # era-3 head + tagged era-2
            and refs.get("pin-era2", {}).get("type") == "tag"
        )
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 11 == 0), path, mode="error"
        )                                                   # era 1 (expires)
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 11 == 1), path, mode="append"
        )                                                   # era 2 (tag-pinned)
        tag_iceberg(path, "pin-era2")
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 11 == 2), path, mode="append"
        )                                                   # era 3 (current)
        expire_snapshots(spark, path, keep_last=1)
    # live-reachable data files across ALL surviving snapshots
    meta = _load_metadata(path)
    live: set[str] = set()
    for s in meta.get("snapshots") or []:
        data, _d, _e = _manifest_entries(path, meta, s)
        live |= {os.path.basename(r["path"]) for r in data}
    ddir = os.path.join(path, "data")
    on_disk = {
        f for f in (os.listdir(ddir) if os.path.isdir(ddir) else [])
        if f.endswith(".parquet")
    }
    orphaned = len(on_disk - live)
    back = read_iceberg(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    ).withColumn("orphaned", F.lit(int(orphaned)).cast("long"))


scan_iceberg_expire = query(
    "b_lake_iceberg_expire",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price,
           CAST(0 AS BIGINT) AS orphaned
    FROM orders
    WHERE o_orderkey % 11 IN (0, 1, 2)
    GROUP BY o_orderpriority
    """,
)(scan_iceberg_expire)


def scan_iceberg_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rewrite_data_files`` compaction end-to-end (r9): three
    multi-file appends (the small-file problem) → a positional DELETE
    and an equality DELETE (merge-on-read debt) → compaction that
    FOLDS both delete kinds into the rewritten files → read.  The
    ``compacted`` column pins the physical outcome (active data-file
    count collapsed to ≤ 2) while the content hash proves the fold
    changed no surviving row — a compaction that resurrected a deleted
    row, dropped a live one, or failed to shrink the file count all
    fail.  At 100 TB this is the read-debt payoff for MOR deletes;
    commit cost rides the compaction group, never table size."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(
        f"iceberg_compact_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    complete = False
    try:
        meta = _load_metadata(path)
        ops = [
            (s.get("summary") or {}).get("operation")
            for s in meta.get("snapshots") or []
        ]
        complete = ops.count("replace") == 1
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 8 == 0).repartition(4),
            path, mode="error",
        )
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 8 == 1).repartition(4),
            path, mode="append",
        )
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 8 == 2).repartition(4),
            path, mode="append",
        )                                                   # 12 small files
        delete_iceberg_rows(
            spark, path, F.col("o_orderkey") % 16 == 0
        )                                                   # positional MOR
        delete_by_key_iceberg(
            spark, path,
            orders.filter(F.col("o_orderkey") % 16 == 9)
            .select("o_orderkey"),
        )                                                   # equality MOR
        rewrite_data_files(spark, path)
    meta = _load_metadata(path)
    snap = _snapshot_by_id(meta, None)
    data, _d, _e = _manifest_entries(path, meta, snap)
    back = read_iceberg(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    ).withColumn(
        "compacted", F.lit(int(len(data) <= 2)).cast("long")
    )


scan_iceberg_compact = query(
    "b_lake_iceberg_compact",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price,
           CAST(1 AS BIGINT) AS compacted
    FROM orders
    WHERE (o_orderkey % 8 = 0 AND o_orderkey % 16 <> 0)
       OR (o_orderkey % 8 = 1 AND o_orderkey % 16 <> 9)
       OR o_orderkey % 8 = 2
    GROUP BY o_orderpriority
    """,
)(scan_iceberg_compact)


# ---------------------------------------------------------- metadata tables


def read_iceberg_meta(
    spark: SparkSession, path: str, table: str = "files"
) -> DataFrame:
    """Iceberg METADATA TABLES (iceberg-spark's ``SELECT * FROM
    tbl.files / .partitions / .snapshots / .history / .refs``) as
    DataFrames — the introspection surface operators (compaction
    targeting, small-file monitoring, snapshot auditing) build on.

    - ``files``: one row per live data file of the current snapshot —
      file path, partition (JSON string of the spec tuple), record
      count, sequence number, spec id.
    - ``partitions``: files grouped by partition tuple — file count +
      summed record count (what ``rewrite_data_files`` consults to
      find compaction debt).
    - ``snapshots``: snapshot id, parent, sequence number, committed
      timestamp, operation.
    - ``history``: the snapshot-log (made_current_at, snapshot_id) —
      every head movement incl. rollbacks/fast-forwards.
    - ``refs``: name, type (branch|tag), pinned snapshot id.

    All five relations are METADATA-sized: ``snapshots``/``history``/
    ``refs`` are O(snapshots); ``files``/``partitions`` are O(active
    files) — the same planning-sized bound every commit path in this
    connector already holds driver-side (at extreme file counts the
    manifest read itself distributes; documented switch, same bound)."""
    meta = _load_metadata(path)
    if table == "snapshots":
        rows = [
            (
                int(s["snapshot-id"]),
                (None if s.get("parent-snapshot-id") is None
                 else int(s["parent-snapshot-id"])),
                int(s.get("sequence-number", 0)),
                (None if s.get("timestamp-ms") is None
                 else int(s["timestamp-ms"])),
                (s.get("summary") or {}).get("operation"),
            )
            for s in meta.get("snapshots") or []
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, parent_id long, sequence_number long, "
            "committed_at_ms long, operation string",
        )
    if table == "history":
        rows = [
            (int(e["timestamp-ms"]), int(e["snapshot-id"]))
            for e in meta.get("snapshot-log") or []
        ]
        return spark.createDataFrame(
            rows, "made_current_at_ms long, snapshot_id long"
        )
    if table == "refs":
        rows = [
            (name, r.get("type"), int(r["snapshot-id"]))
            for name, r in sorted((meta.get("refs") or {}).items())
        ]
        return spark.createDataFrame(
            rows, "name string, type string, snapshot_id long"
        )
    if table in ("files", "partitions"):
        snap = _snapshot_by_id(meta, None)
        if snap is None:
            data = []
        else:
            data, _d, _e = _manifest_entries(path, meta, snap)
        schema_json = _current_schema(meta)
        part_names = [
            pf["name"] for pf in _spec_from_meta(meta, schema_json)
        ]
        rows = [
            (
                rec["path"],
                json.dumps(
                    {c: rec["partition"].get(c) for c in part_names},
                    sort_keys=True,
                ),
                int(rec.get("record_count") or 0),
                int(rec.get("seq") or 0),
                int(rec.get("spec_id") or 0),
            )
            for rec in data
        ]
        files = spark.createDataFrame(
            rows,
            "file_path string, partition string, record_count long, "
            "sequence_number long, spec_id long",
        )
        if table == "files":
            return files
        return files.groupBy("partition").agg(
            F.count("*").alias("file_count"),
            F.sum("record_count").cast("long").alias("record_count"),
        )
    raise ValueError(
        f"unknown metadata table {table!r} "
        "(files|partitions|snapshots|history|refs)"
    )


def scan_iceberg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-tables surface end-to-end (r9): a PARTITIONED table
    (identity on o_orderpriority) built with two single-file-per-
    partition appends, introspected through ``read_iceberg_meta``:
    the ``partitions`` relation (per-partition file count + manifest
    record counts) joined with the snapshot count.  The oracle
    recomputes record counts from the fixture — a manifest that
    under/over-counted records, lost a partition tuple, or a
    partitions rollup that double-counted files all fail the hash;
    file_count pins the write path's one-file-per-partition-per-append
    layout and n_snapshots the two-commit history."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(
        f"iceberg_meta_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    complete = False
    try:
        meta = _load_metadata(path)
        complete = len(meta.get("snapshots") or []) == 2
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 10 == 3).coalesce(1),
            path, mode="error", partition_by=["o_orderpriority"],
        )
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 10 == 6).coalesce(1),
            path, mode="append", partition_by=["o_orderpriority"],
        )
    parts = read_iceberg_meta(spark, path, "partitions")
    n_snaps = read_iceberg_meta(spark, path, "snapshots").count()
    return parts.select(
        F.get_json_object("partition", "$.o_orderpriority").alias(
            "o_orderpriority"
        ),
        "file_count",
        "record_count",
    ).withColumn("n_snapshots", F.lit(int(n_snaps)).cast("long"))


scan_iceberg_meta = query(
    "b_lake_iceberg_meta",
    """
    SELECT o_orderpriority,
           CAST(2 AS BIGINT) AS file_count,
           CAST(count(*) AS BIGINT) AS record_count,
           CAST(2 AS BIGINT) AS n_snapshots
    FROM orders
    WHERE o_orderkey % 10 IN (3, 6)
    GROUP BY o_orderpriority
    """,
)(scan_iceberg_meta)


# ----------------------------------------------------- delta -> iceberg


def _delta_wire_to_physical(value: str | None, ice_type: str):
    """One Delta partition-value wire string (PROTOCOL.md "Partition
    Value Serialization": lowercase booleans, ISO dates,
    ``yyyy-MM-dd HH:mm:ss[.SSSSSS]`` timestamps) → the manifest's avro
    PHYSICAL form (bool, int epoch-days, long epoch-micros) — the
    inverse of ``_const_wire`` / delta.py's
    ``_ice_partition_to_delta_str``."""
    import datetime as _dt

    if value is None:
        return None
    if ice_type == "boolean":
        return value == "true"
    if ice_type in ("int", "long"):
        return int(value)
    if ice_type in ("float", "double"):
        return float(value)
    if ice_type == "date":
        return (
            _dt.date.fromisoformat(value) - _dt.date(1970, 1, 1)
        ).days
    if ice_type in ("timestamp", "timestamptz"):
        ts = _dt.datetime.fromisoformat(value)
        if ts.tzinfo is not None:
            ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        delta = ts - _dt.datetime(1970, 1, 1)
        return (
            (delta.days * 86_400 + delta.seconds) * 1_000_000
            + delta.microseconds
        )
    return str(value)


def _delta_mapped_ice_fields(
    sj: dict,
) -> tuple[list[dict], list[dict], int]:
    """Delta column-mapping schemaString → ``(physical-named iceberg
    fields, logical-named iceberg fields, last_column_id)``: every
    struct field's Iceberg id IS its ``delta.columnMapping.id`` (so
    id-mode parquet footers, which stamp that id, resolve by field id
    unchanged), and the structural ids Iceberg additionally requires
    (list element / map key+value) are allocated past the mapping's
    max in one traversal shared by both outputs — matching positions
    carry matching ids, which is the invariant the name→id history
    resolution rests on (Delta column-mapping spec: PROTOCOL.md
    §Column Mapping; Iceberg spec §Schemas)."""
    PHYS = "delta.columnMapping.physicalName"
    CID = "delta.columnMapping.id"

    def max_id(tj) -> int:
        if isinstance(tj, dict) and tj.get("type") == "struct":
            m = 0
            for f in tj["fields"]:
                fid = int((f.get("metadata") or {}).get(CID) or 0)
                m = max(m, fid, max_id(f["type"]))
            return m
        if isinstance(tj, dict) and tj.get("type") == "array":
            return max_id(tj["elementType"])
        if isinstance(tj, dict) and tj.get("type") == "map":
            return max(max_id(tj["keyType"]), max_id(tj["valueType"]))
        return 0

    counter = [max_id(sj)]

    def alloc() -> int:
        counter[0] += 1
        return counter[0]

    def conv_type(tj) -> tuple:
        if isinstance(tj, dict) and tj.get("type") == "struct":
            pairs = [conv_field(f) for f in tj["fields"]]
            return (
                {"type": "struct", "fields": [p for p, _ in pairs]},
                {"type": "struct", "fields": [l for _, l in pairs]},
            )
        if isinstance(tj, dict) and tj.get("type") == "array":
            eid = alloc()
            ep, el = conv_type(tj["elementType"])
            req = not tj.get("containsNull", True)
            return (
                {"type": "list", "element-id": eid,
                 "element-required": req, "element": ep},
                {"type": "list", "element-id": eid,
                 "element-required": req, "element": el},
            )
        if isinstance(tj, dict) and tj.get("type") == "map":
            kid, vid = alloc(), alloc()
            kp, kl = conv_type(tj["keyType"])
            vp, vl = conv_type(tj["valueType"])
            req = not tj.get("valueContainsNull", True)
            return (
                {"type": "map", "key-id": kid, "value-id": vid,
                 "key": kp, "value-required": req, "value": vp},
                {"type": "map", "key-id": kid, "value-id": vid,
                 "key": kl, "value-required": req, "value": vl},
            )
        from pyspark.sql.types import StructType as _ST

        dt = _ST.fromJson(
            {"type": "struct",
             "fields": [{"name": "x", "type": tj, "nullable": True,
                         "metadata": {}}]}
        ).fields[0].dataType
        p = _spark_to_ice(dt, alloc)  # primitive: never allocates
        return (p, p)

    def conv_field(fj: dict) -> tuple:
        md = fj.get("metadata") or {}
        if CID not in md:
            raise ValueError(
                f"column-mapped delta field {fj['name']!r} carries no "
                "delta.columnMapping.id — cannot convert"
            )
        tp, tl = conv_type(fj["type"])
        base = {
            "id": int(md[CID]),
            "required": not fj.get("nullable", True),
        }
        return (
            {**base, "name": md.get(PHYS, fj["name"]), "type": tp},
            {**base, "name": fj["name"], "type": tl},
        )

    pairs = [conv_field(f) for f in sj["fields"]]
    return [p for p, _ in pairs], [l for _, l in pairs], counter[0]


def convert_delta_to_iceberg(spark: SparkSession, src: str, dst: str) -> int:
    """Thin public wrapper over :func:`_delta_commit_to_iceberg` —
    see that docstring for the full conversion contract."""
    if _metadata_versions(dst):
        raise FileExistsError(f"iceberg table already exists at {dst}")
    return _delta_commit_to_iceberg(spark, src, dst)


def _delta_commit_to_iceberg(
    spark: SparkSession,
    src: str,
    dst: str,
    base_meta: dict | None = None,
    delete_subdir: str = "data",
) -> int:
    """Zero-copy Delta→Iceberg conversion — the reverse of
    ``convert_iceberg_to_delta`` (sources/delta.py), completing the
    round trip: commit an Iceberg v1-metadata table at ``dst`` whose
    single ADDED manifest references the Delta table's active parquet
    by absolute path.  No bytes move; the converted table then lives a
    normal Iceberg life (appends/deletes/tags/branches land under
    ``dst``) while the Delta source keeps its own log and history.

    DELETION-VECTOR-carrying snapshots convert too (r11, VERDICT r10
    item #4): Iceberg cannot reference Delta's DV encoding, but it
    does not need to — each file's vector MATERIALIZES as Iceberg
    position-delete rows (content=1 parquet, ``(file_path, pos)``)
    in the SAME v1 commit, decoded executor-side from the shipped
    descriptors (the Delta reader's own ``_dv_relation``), still zero
    data-file copies.  Same-sequence gating makes them apply: the
    reader's rule is delete-seq >= data-seq.  COLUMN-MAPPED tables
    convert too (r11, closing the family's last gate): the metadata
    records a physical-name era schema 0 under the logical current
    schema 1 with SHARED field ids, so name-mode id-less files
    resolve through the unambiguous history name→id map and id-mode
    files by their stamped parquet field id (== the mapping id ==
    the Iceberg field id); only nested physical/logical divergence
    and genuinely ambiguous names refuse.  PARTITIONED Delta tables convert
    (r10, VERDICT r9 item #4): the log's ``partitionColumns`` become
    an IDENTITY partition spec and each add's ``partitionValues``
    the file's manifest partition tuple.  Delta data files do NOT
    contain their partition columns, but the Iceberg spec doesn't
    require them to — §Column Projection says readers serve
    identity-transform source columns from partition metadata (the
    migrated-Hive-table rule), which ``_plan_scan``'s constants
    injection implements; the table property ``converted-from-delta``
    marks the provenance so the one remaining unsupported corner
    (renamed-column reads, whose by-field-id union can't inject)
    refuses loudly.  The referenced files carry no parquet field ids,
    which is exactly the connector's id-less legacy-file read path
    (resolved through the unambiguous history name→id map); files
    written Iceberg-side afterwards are id-stamped as usual, and the
    mixed table reads through the same branch machinery (pinned in
    pytest)."""
    from .delta import _snapshot as _delta_snapshot
    from .delta import _table_version as _delta_table_version

    if _delta_table_version(src) is None:
        raise FileNotFoundError(f"no delta log at {src}")
    snap, _latest = _delta_snapshot(spark, src)
    md = snap.metadata or {}
    cmap_mode = (md.get("configuration") or {}).get(
        "delta.columnMapping.mode"
    )
    if cmap_mode not in (None, "", "none", "name", "id"):
        raise ValueError(
            f"unsupported delta.columnMapping.mode {cmap_mode!r}"
        )
    import urllib.parse as _up

    dv_map: dict[str, dict] = {}
    basenames: set[str] = set()
    for rel, a in snap.files.items():
        b = os.path.basename(_up.unquote(rel))
        if b in basenames:
            # DV positions and partition tuples key by basename below;
            # a collision would misattribute them — refuse loudly
            raise ValueError(
                "cannot convert: duplicate data file basenames in the "
                "delta snapshot"
            )
        basenames.add(b)
        dv = a.get("deletionVector")
        if dv and int(dv.get("cardinality") or 0) != 0:
            dv_map[b] = dv
    from pyspark.sql.types import StructType as _ST

    sj = json.loads(md["schemaString"])
    schemas_json: list[dict] | None = None
    last_column_id: int | None = None
    l2p: dict[str, str] = {}
    if cmap_mode in ("name", "id"):
        # COLUMN-MAPPED tables convert (r11, closing the r10 refusal):
        # the files spell PHYSICAL names, so the Iceberg metadata
        # records TWO schemas sharing field ids — schema 0 under the
        # physical names (the era the referenced files belong to),
        # schema 1 (current) under the logical names.  Reads then go
        # through the same machinery as any renamed-history table:
        # id-less name-mode files resolve via the unambiguous history
        # name→id map; id-mode files carry parquet field ids equal to
        # delta.columnMapping.id, which IS the Iceberg field id here.
        phys_fields, log_fields, last_column_id = (
            _delta_mapped_ice_fields(sj)
        )
        if any(
            p["type"] != l["type"]
            for p, l in zip(phys_fields, log_fields)
        ):
            # a NESTED physical/logical divergence cannot be served by
            # the top-level name→id resolution — refuse, never misread
            raise ValueError(
                "cannot convert: nested fields of this column-mapped "
                "delta table have physical names differing from their "
                "logical names — rewrite unmapped first"
            )
        if cmap_mode == "name":
            # id-less files resolve BY NAME through history: any name
            # serving two field ids would be ambiguous at read time
            name_ids: dict[str, set[int]] = {}
            for flist in (phys_fields, log_fields):
                for f in flist:
                    name_ids.setdefault(f["name"], set()).add(f["id"])
            dup = sorted(
                n for n, fids in name_ids.items() if len(fids) > 1
            )
            if dup:
                raise ValueError(
                    "cannot convert: column names serve multiple "
                    f"mapped field ids across physical/logical forms "
                    f"({dup}) — id-less files would be ambiguous"
                )
        if phys_fields == log_fields:  # mapped but never renamed
            schema_json = {
                "schema-id": 0, "type": "struct", "fields": log_fields
            }
        else:
            schemas_json = [
                {"schema-id": 0, "type": "struct", "fields": phys_fields},
                {"schema-id": 1, "type": "struct", "fields": log_fields},
            ]
            schema_json = schemas_json[1]
        l2p = {
            f["name"]: (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName", f["name"]
            )
            for f in sj["fields"]
        }
    else:
        spark_schema = _ST.fromJson(sj)
        ids = iter(range(1, 10_000))
        ice = _spark_to_ice(spark_schema, lambda: next(ids))
        schema_json = {
            "schema-id": 0, "type": "struct", "fields": ice["fields"]
        }
    part_cols = list(md.get("partitionColumns") or [])
    by_name = {f["name"]: f for f in schema_json["fields"]}
    part_spec: list[dict] = []
    for c in part_cols:
        f = by_name.get(c)
        if f is None or not isinstance(f.get("type"), str):
            raise ValueError(
                f"cannot convert: partition column {c!r} is missing or "
                "non-primitive in the schema"
            )
        if f["type"] not in _CONST_WIRE_TYPES:
            raise ValueError(
                f"cannot convert partition column {c!r} of type "
                f"{f['type']!r}: no identity-constant injection for it — "
                "rewrite unpartitioned first"
            )
        part_spec.append({
            "name": c, "transform": "identity", "source": c,
            "source-id": int(f["id"]), "ptype": f["type"],
            "stype": f["type"],
        })
    if base_meta is not None:
        # UniForm REFRESH: reconcile this delta snapshot's schema with
        # the existing iceberg history IN the base metadata — a schema
        # the history has not seen yet is APPENDED (same ids for
        # unchanged fields: sequential allocation is prefix-stable for
        # delta's append-at-end evolution, and mapped tables reuse the
        # mapping ids outright), current-schema-id moves to it, and a
        # partition-spec change refuses (a respec'd table needs a
        # fresh enable, not a silent spec swap).
        existing = list(base_meta.get("schemas") or [])
        sid_max = max(
            (int(s["schema-id"]) for s in existing), default=-1
        )
        cur_sid = None
        for cand in (schemas_json or [schema_json]):
            hit = next(
                (s for s in existing if s["fields"] == cand["fields"]),
                None,
            )
            if hit is None:
                sid_max += 1
                hit = {
                    "schema-id": sid_max,
                    "type": "struct",
                    "fields": cand["fields"],
                }
                existing.append(hit)
            cur_sid = int(hit["schema-id"])
        base_meta["schemas"] = existing
        base_meta["current-schema-id"] = cur_sid
        base_meta["last-column-id"] = max(
            int(base_meta.get("last-column-id") or 0),
            last_column_id
            if last_column_id is not None
            else max(
                [int(f["id"]) for f in schema_json["fields"]] or [0]
            ),
        )
        dsid = int(base_meta.get("default-spec-id", 0))
        base_spec = next(
            (
                s
                for s in base_meta.get("partition-specs") or []
                if int(s.get("spec-id", 0)) == dsid
            ),
            {},
        ).get("fields") or []
        if [
            (f["name"], f["transform"], int(f["source-id"]))
            for f in base_spec
        ] != [
            (pf["name"], pf["transform"], int(pf["source-id"]))
            for pf in part_spec
        ]:
            raise ValueError(
                "delta partitioning changed since UniForm was enabled "
                "— drop the iceberg metadata and re-enable"
            )
    import urllib.parse as _up

    import pyarrow.parquet as _pq

    data_files: list[dict] = []
    for rel in sorted(snap.files):
        ap = os.path.abspath(os.path.join(src, _up.unquote(rel)))
        pvals = snap.partition_values(rel)
        data_files.append(
            {
                "content": 0,
                "file_path": ap,
                "file_format": "PARQUET",
                "partition": {
                    # the delta log keys partitionValues by STORED
                    # (physical on mapped tables) name; the manifest
                    # tuple keys by the spec field's logical name
                    pf["name"]: _delta_wire_to_physical(
                        pvals.get(l2p.get(pf["name"], pf["name"])),
                        pf["ptype"],
                    )
                    for pf in part_spec
                },
                "record_count": _pq.ParquetFile(ap).metadata.num_rows,
                "file_size_in_bytes": os.path.getsize(ap),
                # bounds omitted (conservative keep): the delta footer
                # stats key by NAME, iceberg bounds by FIELD ID — a
                # wrong mapping would mis-prune, absence never does
                "lower_bounds": None,
                "upper_bounds": None,
            }
        )
    os.makedirs(dst, exist_ok=True)
    entries = [
        {
            "status": 1,
            "snapshot_id": None,
            "sequence_number": None,
            "file_sequence_number": None,
            "data_file": f,
        }
        for f in data_files
    ]
    manifests = [
        _write_manifest(
            dst, entries, part_spec, 0, "data", schema_json, spec_id=0
        )
    ]
    if dv_map:
        # materialize the deletion vectors as position-delete files in
        # the same v1 commit: decode executor-side from the shipped
        # descriptors ((basename, pos) relation), map basenames back
        # to the absolute referenced paths, stage sorted parquet —
        # zero data-file copies, and the same-sequence commit makes
        # the reader's delete-seq >= data-seq gate apply them
        import pandas as _pd

        from .delta import _dv_relation

        abs_of = sorted(
            (
                os.path.basename(_up.unquote(rel)),
                os.path.abspath(os.path.join(src, _up.unquote(rel))),
            )
            for rel in snap.files
        )
        amap = spark.createDataFrame(
            _pd.DataFrame(abs_of, columns=["_dl_file", "file_path"]),
            "_dl_file string, file_path string",
        )
        hits = (
            _dv_relation(spark, src, dv_map)
            .join(F.broadcast(amap), "_dl_file")
            .select("file_path", F.col("_dl_dv_pos").alias("pos"))
        )
        del_files = _stage_pos_delete(
            spark, dst, hits, subdir=delete_subdir
        )
        if del_files:
            manifests.append(
                _delete_manifest(dst, del_files, schema_json)
            )
    return _commit_snapshot(
        dst, base_meta, manifests, [],
        "append" if base_meta is None else "replace",
        schema_json=schema_json, part_spec=part_spec,
        properties=(
            {"converted-from-delta": "true"} if part_spec else None
        ),
        schemas_json=schemas_json,
        last_column_id=last_column_id,
    )


def enable_uniform_iceberg(spark: SparkSession, path: str) -> int:
    """Delta UniForm (universal format), re-expressed from the public
    feature description (delta.io: *Universal Format* — one copy of
    the data, readable through BOTH protocols): generate Iceberg
    metadata INSIDE the Delta table's own directory, referencing the
    same parquet data files the Delta log references.  ``metadata/``
    (the Iceberg side) sits next to ``_delta_log/``; neither reader
    ever lists the other's directory, so ``read_delta(path)`` and
    ``read_iceberg(path)`` serve the same rows from the same bytes.

    Contract (matching the upstream feature):

    - Delta stays the WRITE path; the Iceberg side is a read protocol.
      Mutating the table through an Iceberg writer is out of contract
      (the Delta log would never see it).
    - The Iceberg snapshot is pinned to the Delta version it was
      generated from — call :func:`refresh_uniform_iceberg` after
      Delta commits to re-point it (upstream regenerates
      asynchronously post-commit; here the call is explicit).
    - Deletion vectors materialize as Iceberg position-delete files
      under ``metadata/`` — a directory ``vacuum_delta`` skips — so a
      vacuum can never reclaim Iceberg-owned delete files.  The
      inverse hazard is the shallow-clone one: a vacuum after an
      OPTIMIZE/overwrite reclaims parquet a STALE Iceberg snapshot
      may still reference — refresh before vacuuming, the same
      dependent-reader contract ``clone_delta`` documents.

    All the conversion machinery is shared with
    :func:`convert_delta_to_iceberg` (column-mapped schema history,
    identity-partition constants provenance, DV materialization)."""
    if _metadata_versions(path):
        raise FileExistsError(
            f"iceberg metadata already exists at {path} — "
            "refresh_uniform_iceberg re-points it after delta commits"
        )
    return _delta_commit_to_iceberg(
        spark, path, path, delete_subdir="metadata"
    )


def refresh_uniform_iceberg(spark: SparkSession, path: str) -> int:
    """Re-point the UniForm Iceberg metadata at the CURRENT Delta
    snapshot (see :func:`enable_uniform_iceberg`): one new Iceberg
    snapshot whose manifests list the Delta version's live files and
    freshly-materialized DV position-deletes.  Schema evolution since
    the last refresh APPENDS to the Iceberg schema history (ids are
    prefix-stable for Delta's append-at-end evolution and identical
    for mapped tables, so old snapshots keep resolving); a partition
    respec refuses toward re-enabling."""
    if not _metadata_versions(path):
        raise FileNotFoundError(
            f"no uniform iceberg metadata at {path} — "
            "enable_uniform_iceberg first"
        )
    return _delta_commit_to_iceberg(
        spark, path, path,
        base_meta=_load_metadata(path),
        delete_subdir="metadata",
    )


def scan_lake_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniForm end-to-end (r11): a partitioned Delta table → enable
    UniForm (Iceberg metadata in the same directory) → a Delta-side
    era ON TOP (append + merge-on-read DV DELETE) → refresh → read the
    SAME directory as ICEBERG and aggregate.  The oracle recomputes
    the post-era aggregate from the fixture, so a stale pinned
    snapshot (refresh not re-pointing), a resurrected DV-deleted row
    (delete files lost or mis-gated), or a partition value served
    wrong through the provenance injection all fail the hash.  The
    Delta-side read equality and the vacuum-safety of the
    metadata-dir delete files are pytest-pinned
    (tests/test_iceberg.py)."""
    from .delta import (
        _table_version as _dtv,
        delete_where_delta,
        write_delta,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch(
        f"uniform_delta_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    # complete = delta at version 2 (create/append/delete) AND the
    # iceberg side at metadata v2 (enable + refresh) — a crash between
    # the delta era and the refresh rebuilds from a clean slate
    if not (_dtv(path) == 2 and len(_metadata_versions(path)) >= 2):
        shutil.rmtree(path, ignore_errors=True)
        write_delta(
            orders.filter(F.col("o_orderkey") % 11 == 3)
            .repartition(2, "o_orderkey")
            .sortWithinPartitions("o_orderkey"),
            path, mode="error", partition_by=["o_orderpriority"],
        )
        enable_uniform_iceberg(spark, path)
        write_delta(
            orders.filter(F.col("o_orderkey") % 11 == 8)
            .repartition(2, "o_orderkey")
            .sortWithinPartitions("o_orderkey"),
            path, mode="append", partition_by=["o_orderpriority"],
        )
        delete_where_delta(spark, path, F.col("o_orderkey") % 33 == 3)
        refresh_uniform_iceberg(spark, path)
    back = read_iceberg(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


scan_lake_uniform = query(
    "b_lake_uniform",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price
    FROM orders
    WHERE (o_orderkey % 11 = 3 AND o_orderkey % 33 <> 3)
       OR o_orderkey % 11 = 8
    GROUP BY o_orderpriority
    """,
)(scan_lake_uniform)


def scan_lake_convert_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta→Iceberg zero-copy conversion end-to-end (r9; fixture
    widened to a PARTITIONED source in r10, VERDICT r9 item #4): a
    Delta table (two appends, partitioned by o_orderpriority) →
    ``convert_delta_to_iceberg`` (v1 metadata + one manifest whose
    identity partition tuples come from the Delta log's
    partitionValues, referencing the Delta parquet in place) → an
    ICEBERG-side append era (id-stamped files that CONTAIN the
    partition column, joining the id-less referenced ones that DON'T
    — the read serves the latter from partition metadata via the
    constants injection) → read as Iceberg, grouped on the injected
    column.  Widened in r11 (VERDICT r10 item #4): the Delta source
    carries a merge-on-read DELETE (deletion vectors) before
    conversion, so the commit also materializes position-delete files
    — the oracle recomputes the subtracted aggregate, and a resurrected
    DV-deleted row, a mis-gated position delete, or a dropped file all
    fail the hash.  Refusal gates (column mapping) and
    source-untouched are pytest-pinned (tests/test_iceberg.py)."""
    from .delta import delete_where_delta, write_delta

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    src = _scratch(
        f"convert_delta_part_src_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    dst = _scratch(
        f"convert_ice_part_dst_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    complete = False
    try:
        meta = _load_metadata(dst)
        complete = len(meta.get("snapshots") or []) == 2
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(dst, ignore_errors=True)
        write_delta(
            orders.filter(F.col("o_orderkey") % 9 == 7), src, mode="error",
            partition_by=["o_orderpriority"],
        )
        write_delta(
            orders.filter(F.col("o_orderkey") % 9 == 8), src, mode="append",
            partition_by=["o_orderpriority"],
        )
        delete_where_delta(spark, src, F.col("o_orderkey") % 18 == 7)
        convert_delta_to_iceberg(spark, src, dst)
        write_iceberg(
            orders.filter(F.col("o_orderkey") % 9 == 0),
            dst, mode="append", partition_by=["o_orderpriority"],
        )                                                   # iceberg era
    back = read_iceberg(spark, dst)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum("o_totalprice").alias("total_price"),
    )


scan_lake_convert_reverse = query(
    "b_lake_convert_reverse",
    f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_money_sum('o_totalprice')} AS total_price
    FROM orders
    WHERE o_orderkey % 9 IN (7, 8, 0) AND o_orderkey % 18 <> 7
    GROUP BY o_orderpriority
    """,
)(scan_lake_convert_reverse)
