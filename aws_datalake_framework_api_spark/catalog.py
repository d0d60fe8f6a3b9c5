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
Entity mutations are full-table overwrite commits (readers see old or
new, never a torn state); audit flushes are append commits; the A2
point update is one copy-on-write ``update_delta`` commit that
rewrites only the files holding matched rows.

Every audit record carries ``catalog_backend`` (always ``"deltalog"``)
so correctness rows show which storage path served the call.

Catalog tables are ENTITY metadata — hundreds to thousands of rows at
any real deployment (they scale with registered systems, not with
data volume), so a single-file overwrite commit is the right cost
model; the 100 TB concerns live in the lake tables the catalog
points at.
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

from .sources.delta import read_delta, update_delta, write_delta

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
        return spark.createDataFrame([], schema)
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


def _write(df: DataFrame, d: str, mode: str) -> None:
    """One Delta commit of ``df`` as a single file.  The first write
    uses mode "error" so version 0 carries protocol+metaData.  Safe to
    overwrite from a plan that reads this same table: data files are
    immutable (tombstoned, never deleted)."""
    write_delta(df.coalesce(1), d, mode=mode if _is_table(d) else "error")


@dataclass
class Catalog:
    """A warehouse-backed entity catalog with an audit log, every
    table a Delta table written through :mod:`..sources.delta`
    (a delta-spark reader can open the warehouse, and vice versa)."""

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
            return self.spark.createDataFrame([], ENTITY_SCHEMA)
        return read_delta(self.spark, d)

    def _overwrite(self, entity_type: str, df: DataFrame) -> None:
        """Full-table replace as one transactional overwrite commit."""
        _write(df, self._table_dir(entity_type), "overwrite")

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
        _write(df, self._audit_dir(), "append")
        self._audit_rows = []

    def audit_log(self) -> DataFrame:
        d = self._audit_dir()
        pending = (
            _local_df(self.spark, self._audit_rows, AUDIT_SCHEMA)
            if self._audit_rows
            else self.spark.createDataFrame([], AUDIT_SCHEMA)
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
        miss.  History stays readable via ``version_as_of``."""
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
            matched += update_delta(self.spark, d, cond, {"status": new_status})[1]
        return matched

    # ------------------------------------------------------------ CRUD (A6-A9)

    def create(self, entity_type: str, entity_id: int, name: str,
               attrs: str | None = None) -> dict:
        """A6: register an entity; also provisions its storage prefix —
        the engine's analogue of the per-source-system bucket
        (``cft/sourceSystem.yaml:20-27``)."""
        existing = self.load(entity_type)
        if existing.filter(F.col("entity_id") == entity_id).count() > 0:
            self._audit(f"{entity_type}/create", attrs, status="failure")
            return {"statusCode": 409, "body": f"{entity_type} {entity_id} exists"}
        row = _local_df(
            self.spark, [(entity_id, name, attrs, "active")], ENTITY_SCHEMA
        )
        self._overwrite(entity_type, existing.unionByName(row))
        if entity_type == "source_system":
            os.makedirs(
                os.path.join(self.warehouse, "lake", str(entity_id), "init"),
                exist_ok=True,
            )
        self._audit(f"{entity_type}/create", attrs)
        return {"statusCode": 200, "body": f"{entity_type} {entity_id} created"}

    def create_many(self, entity_type: str, rows: list[tuple[int, str, str | None]]) -> dict:
        """Batch registration: one validation pass + ONE table write
        for N entities (the per-call path would be N full
        read-modify-write cycles — at catalog scale that's latency,
        not correctness, but bulk onboarding is a real API).  Audit
        still records one row per entity, like N reference calls."""
        existing = self.load(entity_type)
        new_ids = {r[0] for r in rows}
        dups = {
            r["entity_id"]
            for r in existing.filter(F.col("entity_id").isin(list(new_ids)))
            .select("entity_id")
            .collect()
        }
        fresh = [r for r in rows if r[0] not in dups]
        if fresh:
            batch = _local_df(
                self.spark, [(i, n, a, "active") for i, n, a in fresh], ENTITY_SCHEMA
            )
            self._overwrite(entity_type, existing.unionByName(batch))
        for i, _, a in fresh:
            self._audit(f"{entity_type}/create", a)
            if entity_type == "source_system":
                os.makedirs(
                    os.path.join(self.warehouse, "lake", str(i), "init"),
                    exist_ok=True,
                )
        for r in rows:
            if r[0] in dups:
                self._audit(f"{entity_type}/create", r[2], status="failure")
        return {"statusCode": 200, "created": len(fresh), "conflicts": len(dups)}

    def update_where(self, entity_type: str, entity_ids: list[int], *,
                     status: str | None = None, name: str | None = None) -> dict:
        """Batch conditional update: one write for N ids; ids that
        don't exist are reported unmatched and NOT created (A2)."""
        existing = self.load(entity_type)
        matched_ids = {
            r["entity_id"]
            for r in existing.filter(F.col("entity_id").isin(entity_ids))
            .select("entity_id")
            .collect()
        }
        if matched_ids:
            hit = F.col("entity_id").isin(list(matched_ids))
            updated = existing
            for col, val in (("name", name), ("status", status)):
                if val is not None:
                    updated = updated.withColumn(
                        col, F.when(hit, F.lit(val)).otherwise(F.col(col))
                    )
            self._overwrite(entity_type, updated)
        for i in entity_ids:
            self._audit(
                f"{entity_type}/update",
                str(i),
                status="success" if i in matched_ids else "failure",
            )
        return {"statusCode": 200, "matched": len(matched_ids),
                "unmatched": len(set(entity_ids) - matched_ids)}

    def delete_where(self, entity_type: str, entity_ids: list[int]) -> dict:
        """Batch deregistration (anti-join rewrite), one write — none
        when no id matched."""
        existing = self.load(entity_type)
        matched = {
            r["entity_id"]
            for r in existing.filter(F.col("entity_id").isin(entity_ids))
            .select("entity_id")
            .collect()
        }
        if matched:
            self._overwrite(
                entity_type,
                existing.filter(~F.col("entity_id").isin(entity_ids)),
            )
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
        semantics applied to entities); a missing id reports
        matched=0 and writes nothing."""
        existing = self.load(entity_type)
        matched = existing.filter(F.col("entity_id") == entity_id).count()
        if matched == 0:
            self._audit(f"{entity_type}/update", str(entity_id), status="failure")
            return {"statusCode": 404, "matched": 0}
        hit = F.col("entity_id") == entity_id
        updated = existing
        for col, val in (("name", name), ("attrs", attrs), ("status", status)):
            if val is not None:
                updated = updated.withColumn(
                    col, F.when(hit, F.lit(val)).otherwise(F.col(col))
                )
        self._overwrite(entity_type, updated)
        self._audit(f"{entity_type}/update", str(entity_id))
        return {"statusCode": 200, "matched": matched}

    def delete(self, entity_type: str, entity_id: int) -> dict:
        """A9: deregister — anti-join rewrite of ``DELETE FROM``; a
        missing id reports 404 and writes nothing."""
        existing = self.load(entity_type)
        matched = existing.filter(F.col("entity_id") == entity_id).count()
        if matched:
            self._overwrite(
                entity_type,
                existing.filter(F.col("entity_id") != entity_id),
            )
        self._audit(
            f"{entity_type}/delete",
            str(entity_id),
            status="success" if matched else "failure",
        )
        return {"statusCode": 200 if matched else 404, "matched": matched}
