"""Catalog: generic entity CRUD + audit log (SURVEY.md §2 Tier A).

The reference's three Lambdas (source-system / target-system /
data-asset, ``lambda/aws-dl-fmwrk-*-api/lambda_function.py``) are one
copy-pasted template — a diff modulo entity name shows zero
differences (SURVEY.md §0 fact 1).  This module is that template
implemented ONCE, parameterized by entity type:

- ``create/read/update/delete`` per entity table (the reference's
  stub bodies ``# API logic here``, ``lambda_function.py:61-64``,
  given real semantics);
- UPDATE is conditional — only-if-exists, like the reference's
  DynamoDB ``ConditionExpression="attribute_exists(aws_request_id)"``
  (``lambda_function.py:39``); updating a missing id is a no-op that
  reports ``matched=0``, never an upsert;
- every call appends an audit row (``insert_event_to_dynamoDb``,
  ``lambda_function.py:6-54`` — the ONLY implemented data operation
  in the reference), including reads (:86);
- the audit schema fixes the reference's two latent landmines
  (SURVEY.md §1.2): ``"modified ts"`` (attribute name with a space)
  becomes ``modified_ts: timestamp``, and ``status`` — a DynamoDB
  reserved word the reference's UpdateExpression would crash on —
  is a plain string column here.

Storage: one Delta table per entity type, plus the audit table, under
a warehouse directory (the reference provisions one S3 bucket per
source system, ``cft/sourceSystem.yaml:20-27``; a Spark warehouse uses
one PATH per table).  Every table is read and written through the
dependency-free Delta connector in :mod:`.sources.delta` — the same
open format the engine's execution core reads, interoperable with
delta-spark readers and time-travelable with ``version_as_of``.
Every entity mutation is one conditional commit (the engine's
``ConditionExpression``): collect the rows at a pinned version, check
the call in Python, and overwrite only on top of the version read
(``write_delta(read_version=)``) — a rival commit in between is a
conflict that re-reads and re-checks, never a lost row.  Audit
flushes are appends; the A2 point update is one copy-on-write
``update_delta`` commit that rewrites only the files holding matched
rows.

Every audit record carries ``catalog_backend`` (always ``"deltalog"``)
so correctness rows show which storage path served the call.

Catalog tables are ENTITY metadata — hundreds to thousands of rows at
any real deployment (they scale with registered systems, not with
data volume), so a single-file overwrite commit is the right cost
model (and a driver collect the right check); the 100 TB concerns
live in the lake tables the catalog points at.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field
from typing import ClassVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .sources.delta import (CommitConflict, _table_version, read_delta,
                            update_delta, write_delta)
from .sources.readers import empty_frame

ENTITY_TYPES = ("source_system", "target_system", "data_asset")


def _session_key(spark: SparkSession) -> tuple[str, int]:
    """Stable per-SparkContext memo key.  ``id(spark)`` is unsafe: a
    garbage-collected session's id can be REUSED by a new session,
    silently inheriting the stale memo entry (ADVICE r2).
    applicationId + startTime survive the Python wrapper's lifetime
    and never collide across contexts."""
    sc = spark.sparkContext
    return (sc.applicationId, sc.startTime)


def _local_df(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    """Driver-local rows (tuples or dicts) → DataFrame via pandas +
    Arrow.  ``createDataFrame`` on a plain Python list takes the
    pickled-RDD path: it parallelizes even a 25-row list into
    defaultParallelism partitions and starts a Python worker per core
    just to materialize it (~9 s of startup per call on local[32]).
    The Arrow path converts on the driver and lands JVM-side."""
    import pandas as pd

    if not rows:
        return empty_frame(spark, schema)
    cols = [f.name for f in schema.fields]
    pdf = pd.DataFrame(list(rows), columns=None if isinstance(rows[0], dict) else cols)
    if isinstance(rows[0], dict):
        pdf = pdf.reindex(columns=cols)
    return spark.createDataFrame(pdf, schema)

ENTITY_SCHEMA = StructType(
    [
        StructField("entity_id", LongType(), False),
        StructField("name", StringType(), True),
        StructField("attrs", StringType(), True),  # JSON payload passthrough
        StructField("status", StringType(), True),
    ]
)

# §1.2 audit record, landmines fixed (modified_ts, plain status).
AUDIT_SCHEMA = StructType(
    [
        StructField("aws_request_id", StringType(), False),
        StructField("method_name", StringType(), False),
        StructField("log_group_name", StringType(), True),
        StructField("log_stream_name", StringType(), True),
        StructField("function_name", StringType(), True),
        StructField("query_string", StringType(), True),
        StructField("payload", StringType(), True),
        StructField("api_call_type", StringType(), True),
        StructField("modified_ts", TimestampType(), True),
        StructField("status", StringType(), True),
        # which storage path served this call (VERDICT r3: correctness
        # rows must show the path that ran, not assume it)
        StructField("catalog_backend", StringType(), True),
    ]
)


def _is_table(d: str) -> bool:
    return os.path.isdir(os.path.join(d, "_delta_log"))


def _retry(attempt):
    """Run ``attempt`` (read, check, commit) again while a rival
    writer wins its commit race — 5 tries, ``write_delta``'s own bound
    for a rebasing append — then raise."""
    for _ in range(5):
        try:
            return attempt()
        except (CommitConflict, FileExistsError) as e:
            lost = e
    raise CommitConflict("lost the commit race 5 times") from lost


@dataclass
class Catalog:
    """A warehouse-backed entity catalog with an audit log, every
    table a Delta table written through :mod:`..sources.delta`
    (a delta-spark reader can open the warehouse, and vice versa).
    The batch mutators own the logic, each a change committed by
    :meth:`_mutate`; ``create``/``update``/``delete`` are their
    one-id calls, mapping the result to 200/409/404."""

    spark: SparkSession
    warehouse: str
    config: "GlobalConfig | None" = None  # fm_prefix-scoped table names when set
    _audit_rows: list = field(default_factory=list)

    #: storage path recorded in every audit row's ``catalog_backend``
    backend: ClassVar[str] = "deltalog"

    # ------------------------------------------------------------ paths

    def _name(self, table: str) -> str:
        """Table directory name; with a GlobalConfig it is scoped as
        ``{fm_prefix}.{table}`` — the engine-side analogue of the
        reference's prefix-derived bucket names
        (``config/globalConfig.json:3`` → ``cft/sourceSystem.yaml``)."""
        return self.config.table_name(table) if self.config else table

    def _table_dir(self, entity_type: str) -> str:
        if entity_type not in ENTITY_TYPES:
            raise ValueError(f"unknown entity type: {entity_type}")
        return os.path.join(self.warehouse, self._name(entity_type))

    def _audit_dir(self) -> str:
        return os.path.join(self.warehouse, self._name("api_events"))

    # ------------------------------------------------------------ io

    def load(self, entity_type: str) -> DataFrame:
        d = self._table_dir(entity_type)
        if not _is_table(d):
            return empty_frame(self.spark, ENTITY_SCHEMA)
        return read_delta(self.spark, d)

    def _mutate(self, entity_type: str, change):
        """The one conditional commit under every entity mutator:
        ``change({entity_id: row dict}) -> (new_rows | None, result)``
        runs on the rows at a pinned version; ``new_rows`` replace the
        table in one single-file overwrite on top of that version
        (``None`` commits nothing).  Returns ``result``."""
        d = self._table_dir(entity_type)

        def attempt():
            v = _table_version(d)
            rows = {} if v is None else {
                r["entity_id"]: r.asDict()
                for r in read_delta(self.spark, d, version_as_of=v).collect()
            }
            new_rows, result = change(rows)
            if new_rows is not None:
                write_delta(
                    _local_df(self.spark, new_rows, ENTITY_SCHEMA).coalesce(1),
                    d, mode="error" if v is None else "overwrite",
                    read_version=v,
                )
            return result

        return _retry(attempt)

    # ------------------------------------------------------------ audit (A1)

    def _audit(self, method_name: str, payload: str | None, status: str = "success",
               request_id: str | None = None) -> str:
        """Append one audit record per API call — the engine's
        ``insert_event_to_dynamoDb`` (``lambda_function.py:6-54``).
        Buffered and flushed as appends; ``api_call_type`` is
        "synchronous" at every call site, like every reference call
        site (:58)."""
        rid = request_id or f"req-{uuid.uuid4().hex[:12]}"
        self._audit_rows.append(
            {
                "aws_request_id": rid,
                "method_name": method_name,
                "log_group_name": "engine",
                "log_stream_name": "engine",
                "function_name": method_name.split("/")[0],
                "query_string": None,
                "payload": payload,
                "api_call_type": "synchronous",
                "modified_ts": None,  # stamped at flush
                "status": status,
                "catalog_backend": self.backend,
            }
        )
        return rid

    def flush_audit(self) -> None:
        if not self._audit_rows:
            return
        df = _local_df(self.spark, self._audit_rows, AUDIT_SCHEMA).withColumn(
            "modified_ts", F.current_timestamp()
        )
        d = self._audit_dir()
        # the first flush creates the table: version 0 carries
        # protocol+metaData
        write_delta(df.coalesce(1), d, mode="append" if _is_table(d) else "error")
        self._audit_rows = []

    def audit_log(self) -> DataFrame:
        d = self._audit_dir()
        pending = (
            _local_df(self.spark, self._audit_rows, AUDIT_SCHEMA)
            if self._audit_rows
            else empty_frame(self.spark, AUDIT_SCHEMA)
        )
        if _is_table(d):
            return read_delta(self.spark, d).unionByName(pending)
        return pending

    def update_event_status(self, request_id: str, method_name: str,
                            new_status: str) -> int:
        """A2: conditional point update — set status ONLY IF the
        (request_id, method_name) row exists; returns matched count.
        The reference's ``ConditionExpression`` semantics
        (``lambda_function.py:34-44``).  Flushed rows are updated by
        one copy-on-write ``update_delta`` commit that rewrites ONLY
        the files holding matched rows — O(files-with-matches) on the
        unbounded audit table (VERDICT r5) — and commits nothing on a
        miss; a concurrent flush that wins the commit race re-runs the
        update (:func:`_retry`).  History stays readable via
        ``version_as_of``."""
        matched = 0
        for r in self._audit_rows:
            if r["aws_request_id"] == request_id and r["method_name"] == method_name:
                r["status"] = new_status
                matched += 1
        d = self._audit_dir()
        if _is_table(d):
            cond = (F.col("aws_request_id") == request_id) & (
                F.col("method_name") == method_name
            )
            matched += _retry(
                lambda: update_delta(self.spark, d, cond, {"status": new_status})[1]
            )
        return matched

    # ------------------------------------------------------------ CRUD (A6-A9)

    def create(self, entity_type: str, entity_id: int, name: str,
               attrs: str | None = None) -> dict:
        """A6: register an entity; also provisions its storage prefix —
        the engine's analogue of the per-source-system bucket
        (``cft/sourceSystem.yaml:20-27``)."""
        if self.create_many(entity_type, [(entity_id, name, attrs)])["created"]:
            return {"statusCode": 200, "body": f"{entity_type} {entity_id} created"}
        return {"statusCode": 409, "body": f"{entity_type} {entity_id} exists"}

    def create_many(self, entity_type: str, rows: list[tuple[int, str, str | None]]) -> dict:
        """Batch registration: one check + ONE table write for N
        entities.  An id already registered — or repeated earlier in
        the same batch — is a conflict; the first occurrence wins.
        Audit still records one row per entity, like N reference
        calls."""

        def change(cur):
            fresh, dups = [], []
            for r in rows:
                if r[0] in cur:
                    dups.append(r)
                else:
                    fresh.append(r)
                    cur[r[0]] = {"entity_id": r[0], "name": r[1],
                                 "attrs": r[2], "status": "active"}
            return (list(cur.values()) if fresh else None), (fresh, dups)

        fresh, dups = self._mutate(entity_type, change)
        for i, _, a in fresh:
            self._audit(f"{entity_type}/create", a)
            if entity_type == "source_system":
                os.makedirs(
                    os.path.join(self.warehouse, "lake", str(i), "init"),
                    exist_ok=True,
                )
        for _, _, a in dups:
            self._audit(f"{entity_type}/create", a, status="failure")
        return {"statusCode": 200, "created": len(fresh), "conflicts": len(dups)}

    def update_where(self, entity_type: str, entity_ids: list[int], *,
                     status: str | None = None, name: str | None = None,
                     attrs: str | None = None) -> dict:
        """Batch conditional update: one write for N ids; ids that
        don't exist are reported unmatched and NOT created (A2)."""
        values = {c: v for c, v in (("name", name), ("attrs", attrs),
                                    ("status", status)) if v is not None}

        def change(cur):
            hit = {i for i in entity_ids if i in cur}
            for i in hit:
                cur[i].update(values)
            return (list(cur.values()) if hit else None), hit

        matched = self._mutate(entity_type, change)
        for i in entity_ids:
            self._audit(
                f"{entity_type}/update",
                str(i),
                status="success" if i in matched else "failure",
            )
        return {"statusCode": 200, "matched": len(matched),
                "unmatched": len(set(entity_ids) - matched)}

    def delete_where(self, entity_type: str, entity_ids: list[int]) -> dict:
        """Batch deregistration, one write — none when no id matched."""

        def change(cur):
            hit = {i for i in entity_ids if i in cur}
            keep = [r for i, r in cur.items() if i not in hit]
            return (keep if hit else None), hit

        matched = self._mutate(entity_type, change)
        for i in entity_ids:
            self._audit(
                f"{entity_type}/delete",
                str(i),
                status="success" if i in matched else "failure",
            )
        return {"statusCode": 200, "matched": len(matched)}

    def read(self, entity_type: str, entity_id: int) -> DataFrame:
        """A7: point lookup (predicate pushdown reaches the parquet
        scan).  Audited like every reference call, including reads
        (``lambda_function.py:86``)."""
        self._audit(f"{entity_type}/read", str(entity_id))
        return self.load(entity_type).filter(F.col("entity_id") == entity_id)

    def update(self, entity_type: str, entity_id: int, *, name: str | None = None,
               attrs: str | None = None, status: str | None = None) -> dict:
        """A8: conditional update — mutate ONLY IF the id exists (A2
        semantics applied to entities); a missing id reports 404,
        matched=0, and writes nothing."""
        matched = self.update_where(entity_type, [entity_id], name=name,
                                    attrs=attrs, status=status)["matched"]
        return {"statusCode": 200 if matched else 404, "matched": matched}

    def delete(self, entity_type: str, entity_id: int) -> dict:
        """A9: deregister; a missing id reports 404 and writes
        nothing."""
        matched = self.delete_where(entity_type, [entity_id])["matched"]
        return {"statusCode": 200 if matched else 404, "matched": matched}
