"""``lake_cdc``: the ingestion path, with its catalog bookkeeping.

Setup builds a change-data-feed Delta table of seeded ``orders`` in
key-ordered files, an empty Iceberg replica, and a catalog (the
default ``Catalog(spark, warehouse)`` backend) in which the pipeline
registers its data asset.  Each round then:

1. registers the batch's target system and reads and updates the
   data asset, all through ``api.dispatch``;
2. merges a seeded change batch into the Delta table with
   ``merge_delta`` (update / delete / insert clauses; updates favour
   the newest keys);
3. drains the batch into the replica with ``run_replication``
   (equality deletes plus a merge-on-read merge);
4. reads one key range from each table;
5. marks one audit row reviewed (``Catalog.update_event_status``),
   deregisters the target system and flushes the audit buffer
   (``Catalog.flush_audit``);
6. every ``MAINT_EVERY`` rounds, runs maintenance: ``optimize_delta``
   and ``vacuum_delta`` on the source, ``rewrite_data_files`` and
   ``expire_snapshots`` on the replica.

Every read and every API answer is checked against the benchmark's
own Python model; at run end source, replica and model must be
hash-equal, the entity tables must equal the model, and the audit
table must hold one row per API call, with the statuses the model
expects."""

from __future__ import annotations

import os
import random
import time
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa

from perfbench import check, datagen
from perfbench.metrics import median, tail_rule

#: rows in the source table at start
N_ROWS = 2_000
#: rows in one change batch: 60% updates, 20% deletes, 20% inserts
BATCH = 100
#: maintenance runs in every MAINT_EVERY-th round (round 0 is the warm-up)
MAINT_EVERY = 2
#: id of the pipeline's data asset in the catalog
ASSET_ID = 1
KEY = "o_orderkey"
CLAUSES = [
    {"when": "matched", "action": "update", "condition": "s.o_totalprice >= 0"},
    {"when": "matched", "action": "delete"},
    {"when": "not_matched", "action": "insert", "condition": "s.o_totalprice >= 0"},
]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_COLS = ["o_orderkey", "o_orderpriority", "o_totalprice"]
_SCHEMA = "o_orderkey long, o_orderpriority string, o_totalprice double"
#: op types that are one catalog call
CATALOG_OPS = ("api_create", "api_read", "api_update", "api_delete",
               "update_event_status", "flush_audit")


def dir_files(paths: list[str]) -> dict[str, int]:
    out = {}
    for root in paths:
        for d, _sub, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


def added_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    return sum(max(0, s - before.get(p, 0)) for p, s in after.items())


class LakeCdc:
    spark_conf: dict[str, str] = {}

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.rng = random.Random(seed)
        self.model: dict[int, tuple[str, float]] = {}
        self.next_key = N_ROWS
        self.round = 0
        self.src = self.replica = self.ckpt = ""
        self.rows: pa.Table | None = None
        self.catalog = None
        #: the catalog's entity rows, by (entity type, id)
        self.entities: dict[tuple[str, int], dict] = {}
        #: audit rows the catalog must hold, by (method_name, status)
        self.audit: Counter = Counter()
        #: flushed audit rows read back after the warm-up: request id -> (method, status)
        self.audit_rows: dict[str, tuple[str, str]] = {}
        self.freshness_ms: list[float] = []
        self.rounds_s: list[float] = []
        #: bytes written while timed, by "lake" (the two tables) and "catalog"
        self.written = {"lake": 0, "catalog": 0}
        self.seen: dict[str, dict[str, int]] | None = None
        self.user_bytes = 0
        self.files: dict[str, list[int]] = {}
        self.detail: dict = {"drains": 0}

    # ------------------------------------------------------------ setup

    def generate(self) -> None:
        """The seeded starting rows of ``orders`` and the model of them."""
        rng = np.random.default_rng(self.seed)
        prio = np.asarray(_PRIORITIES, dtype=object)[rng.integers(0, 5, N_ROWS)]
        self.rows = pa.table({
            "o_orderkey": np.arange(N_ROWS, dtype=np.int64),
            "o_orderpriority": pa.array(prio, pa.string()),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, N_ROWS), 2),
        })
        self.model = {k: (p, v) for k, p, v in zip(*(c.to_pylist() for c in self.rows.columns))}

    def build(self, spark) -> None:
        """Source Delta table with the change feed on, empty Iceberg
        replica, empty catalog."""
        from aws_datalake_framework_api_spark.catalog import Catalog
        from aws_datalake_framework_api_spark.sources.delta import (
            alter_table_properties_delta,
            write_delta,
        )
        from aws_datalake_framework_api_spark.sources.iceberg import write_iceberg

        d = os.path.join(self.work, "lake")
        self.src, self.replica = os.path.join(d, "orders_delta"), os.path.join(d, "orders_iceberg")
        self.ckpt = os.path.join(d, "ckpt")
        # the Arrow path slices the frame in row order, one slice per
        # core: one key-ordered file per slice, no shuffle
        df = spark.createDataFrame(self.rows.to_pandas(), _SCHEMA)
        write_delta(df, self.src, mode="error")
        alter_table_properties_delta(spark, self.src, {"delta.enableChangeDataFeed": "true"})
        write_iceberg(df.limit(0).coalesce(1), self.replica, mode="error")
        self.catalog = Catalog(spark, os.path.join(self.work, "catalog"))
        self.detail["catalog_backend"] = self.catalog.backend

    def warmup(self, spark, rec) -> None:
        """Register the data asset (the catalog's first, slowest
        create), check the API's refusals, then round 0, untimed: the
        first drain copies the whole table."""
        self._api_call(rec, "data_asset", "create", ASSET_ID)
        self._api_call(rec, "data_asset", "create", ASSET_ID)  # 409
        self._api_call(rec, "target_system", "read", ASSET_ID)  # 404
        self._api_call(rec, "target_system", "update", ASSET_ID)  # 404
        with rec.op("flush_audit", "write"):
            self.catalog.flush_audit()
        rows = self.catalog.audit_log().select("aws_request_id", "method_name", "status").collect()
        self.audit_rows = {rid: (m, s) for rid, m, s in rows}
        self.run_round(spark, rec)

    # ------------------------------------------------------------ the round

    def timed(self, spark, rec, seconds: float) -> None:
        """Whole rounds; a new round starts only while under ``seconds``."""
        self.seen = {"lake": dir_files(self.table_dirs()), "catalog": dir_files([self.catalog.warehouse])}
        self.user_bytes = 0
        self.freshness_ms = []
        t0 = time.time()
        while time.time() - t0 < seconds:
            r0 = time.time()
            self.run_round(spark, rec)
            self.rounds_s.append(time.time() - r0)
        self.seen = None

    def run_round(self, spark, rec) -> None:
        from aws_datalake_framework_api_spark.sources.delta import merge_delta
        from aws_datalake_framework_api_spark.streaming.replicate import run_replication

        target = self.round + 1
        self._api_call(rec, "target_system", "create", target)
        self._api_call(rec, "data_asset", "read", ASSET_ID)
        self._api_call(rec, "data_asset", "update", ASSET_ID)

        rows = self._batch()
        if self.seen is not None:
            self.user_bytes += datagen.parquet_bytes(pa.table(list(zip(*rows)), names=_COLS))
        # pandas + Arrow: a plain list would take the pickled-RDD path
        src_df = spark.createDataFrame(pd.DataFrame(rows, columns=_COLS), _SCHEMA)
        t_merge = time.time()
        with rec.op("merge_delta", "write") as merged:
            with rec.span("sources.delta.merge_delta"):
                merge_delta(spark, self.src, src_df, [KEY], clauses=CLAUSES)
        self._apply(rows)
        self._track()
        self.detail["drains"] += 1
        with rec.op("run_replication", "write") as replicated:
            with rec.span("streaming.replicate.run_replication"):
                run_replication(spark, self.src, self.replica, [KEY], self.ckpt)
        if merged["ok"] and replicated["ok"]:
            self.freshness_ms.append((time.time() - t_merge) * 1000.0)
        self._track()
        lo = self.rng.randrange(0, self.next_key)
        hi = lo + self.next_key // 50
        self._range_read(spark, rec, "delta", lo, hi)
        self._range_read(spark, rec, "iceberg", lo, hi)
        if rec.trace and rec.phase == "timed":
            self._file_counts(spark, lo, hi)

        self._review_audit_row(rec)
        self._api_call(rec, "target_system", "delete", target)
        with rec.op("flush_audit", "write"):
            with rec.span("catalog.flush_audit"):
                self.catalog.flush_audit()
        self._track()
        if self.round % MAINT_EVERY == MAINT_EVERY - 1:
            self._maintenance(spark, rec)
            self._track()
        self.round += 1

    def _batch(self) -> list[tuple[int, str, float]]:
        live = sorted(self.model)
        n_upd, n_del = int(BATCH * 0.6), int(BATCH * 0.2)
        n_ins = BATCH - n_upd - n_del
        upd: set[int] = set()
        while len(upd) < n_upd:  # recency skew: most keys near the newest
            upd.add(live[max(0, len(live) - 1 - int(abs(self.rng.gauss(0, len(live) * 0.1))))])
        dels: set[int] = set()
        while len(dels) < n_del:
            k = live[self.rng.randrange(len(live))]
            if k not in upd:
                dels.add(k)
        rows = [(k, self.rng.choice(_PRIORITIES), round(self.rng.uniform(1000, 500_000), 2))
                for k in sorted(upd)]
        rows += [(k, "5-LOW", -1.0) for k in sorted(dels)]
        for _ in range(n_ins):
            rows.append((self.next_key, self.rng.choice(_PRIORITIES),
                         round(self.rng.uniform(1000, 500_000), 2)))
            self.next_key += 1
        return rows

    def _apply(self, rows) -> None:
        for k, prio, price in rows:
            if price >= 0:
                self.model[k] = (prio, price)
            else:
                self.model.pop(k, None)

    def _track(self) -> None:
        """While timed: add the bytes of files created or grown since
        the last look.  Called after each writing op, so files a later
        vacuum or expiry removes are still counted."""
        if self.seen is None:
            return
        for key, dirs in (("lake", self.table_dirs()), ("catalog", [self.catalog.warehouse])):
            now = dir_files(dirs)
            self.written[key] += added_bytes(self.seen[key], now)
            self.seen[key] = now

    def _range_read(self, spark, rec, fmt: str, lo: int, hi: int) -> None:
        from aws_datalake_framework_api_spark.sources.delta import read_delta_range
        from aws_datalake_framework_api_spark.sources.iceberg import read_iceberg_range

        with rec.op(f"read_{fmt}", "read") as r:
            with rec.span(f"sources.{fmt}.read_{fmt}_range"):
                if fmt == "delta":
                    df = read_delta_range(spark, self.src, KEY, lo, hi)
                else:
                    df = read_iceberg_range(spark, self.replica, KEY, lo, hi)
            with rec.span(f"sources.{fmt}.scan"):
                got = sorted(tuple(x) for x in df.collect())
            want = sorted((k, *v) for k, v in self.model.items() if lo <= k <= hi)
            if got != want:
                r["ok"] = False
                r["error"] = f"{fmt} range [{lo},{hi}]: {len(got)} rows, model has {len(want)}"

    def _file_counts(self, spark, lo: int, hi: int) -> None:
        """Traced runs: the table shape the range reads just saw, read
        from the tables' metadata before maintenance compacts them."""
        from aws_datalake_framework_api_spark.sources.delta import prune_files
        from aws_datalake_framework_api_spark.sources.iceberg import read_iceberg_meta

        kept, skipped = prune_files(spark, self.src, KEY, lo, hi)
        iceberg_files = read_iceberg_meta(spark, self.replica, "files").count()
        for name, n in (("scan.delta.files_in_snapshot", len(kept) + len(skipped)),
                        ("scan.delta.files_kept", len(kept)),
                        ("sources.iceberg.data_files", iceberg_files),
                        ("scan.iceberg.files_in_snapshot", iceberg_files)):
            self.files.setdefault(name, []).append(n)

    def _maintenance(self, spark, rec) -> None:
        """One op: compact and vacuum the source, compact the replica
        and expire its old snapshots."""
        from aws_datalake_framework_api_spark.sources.delta import optimize_delta, vacuum_delta
        from aws_datalake_framework_api_spark.sources.iceberg import (
            expire_snapshots,
            rewrite_data_files,
        )

        with rec.op("maintenance", "maint"):
            with rec.span("sources.delta.optimize_delta"):
                optimize_delta(spark, self.src)
            with rec.span("sources.delta.vacuum_delta"):
                vacuum_delta(spark, self.src, retention_ms=0, force=True)
            before = dir_files([self.replica])
            with rec.span("sources.iceberg.rewrite_data_files"):
                rewrite_data_files(spark, self.replica)
            self.detail["rewrite_bytes"] = self.detail.get("rewrite_bytes", 0) + added_bytes(
                before, dir_files([self.replica]))
            with rec.span("sources.iceberg.expire_snapshots"):
                expire_snapshots(spark, self.replica, keep_last=1)

    # ------------------------------------------------------------ catalog

    def _api_call(self, rec, et: str, method: str, eid: int) -> None:
        from aws_datalake_framework_api_spark import api

        payload = {"entity_id": eid, "name": f"{et}-{eid}-r{self.round}", "attrs": None}
        with rec.op(f"api_{method}", "read" if method == "read" else "write") as r:
            with rec.span(f"api.dispatch.{method}"):
                got = api.dispatch(self.catalog, f"/{et}/{method}", payload, tasktype=method)
            want, status = self._api_model(et, method, eid, payload)
            self.audit[(f"{et}/{method}", status)] += 1
            if got != want:
                r["ok"] = False
                r["error"] = f"{et}/{method} {eid}: got {str(got)[:200]}, model {str(want)[:200]}"
        self._track()

    def _api_model(self, et: str, method: str, eid: int, payload: dict) -> tuple[dict, str]:
        """The API's answer and the status of the audit row it appends."""
        key = (et, eid)
        row = self.entities.get(key)
        if method == "create":
            if row is not None:
                return {"statusCode": 409, "body": f"{et} {eid} exists"}, "failure"
            self.entities[key] = {"entity_id": eid, "name": payload["name"], "attrs": None,
                                  "status": "active"}
            return {"statusCode": 200, "body": f"{et} {eid} created"}, "success"
        if method == "read":
            return {"statusCode": 200 if row else 404, "body": [dict(row)] if row else []}, "success"
        if row is None:
            return {"statusCode": 404, "matched": 0}, "failure"
        if method == "update":
            row["name"] = payload["name"]
        else:
            del self.entities[key]
        return {"statusCode": 200, "matched": 1}, "success"

    def _review_audit_row(self, rec) -> None:
        """Set the status of one flushed audit row, chosen by the seed."""
        rid = self.rng.choice(sorted(self.audit_rows))
        method, old = self.audit_rows[rid]
        new = f"reviewed-r{self.round}"
        with rec.op("update_event_status", "write") as r:
            with rec.span("catalog.update_event_status"):
                matched = self.catalog.update_event_status(rid, method, new)
            if matched != 1:
                r["ok"] = False
                r["error"] = f"update_event_status({rid}) matched {matched}, model 1"
        self.audit_rows[rid] = (method, new)
        self.audit[(method, old)] -= 1
        self.audit[(method, new)] += 1
        self._track()

    # ------------------------------------------------------------ end of run

    def final_check(self, spark, rec) -> None:
        from aws_datalake_framework_api_spark.catalog import ENTITY_TYPES
        from aws_datalake_framework_api_spark.sources.delta import read_delta
        from aws_datalake_framework_api_spark.sources.iceberg import read_iceberg

        want = check.value_hash(_COLS, [(k, *v) for k, v in self.model.items()])
        for fmt, read in (("delta", lambda: read_delta(spark, self.src)),
                          ("iceberg", lambda: read_iceberg(spark, self.replica))):
            with rec.op(f"check_{fmt}", "read") as r:
                rows = [tuple(x) for x in read().select(*_COLS).collect()]
                if check.value_hash(_COLS, rows) != want:
                    r["ok"] = False
                    r["error"] = f"{fmt} table != model ({len(rows)} rows, model {len(self.model)})"
        with rec.op("check_audit", "read") as r:
            rows = self.catalog.audit_log().select("method_name", "status").collect()
            got = Counter(tuple(x) for x in rows)
            calls = sum(n for (m, _s), n in self.audit.items())
            if got != +self.audit:
                r["ok"] = False
                r["error"] = (f"audit table: {len(rows)} rows for {calls} calls; by (method, status) "
                              f"{dict(got)}, model {dict(+self.audit)}")
        with rec.op("check_entities", "read") as r:
            got = {(et, x["entity_id"]): x.asDict() for et in ENTITY_TYPES
                   for x in self.catalog.load(et).collect()}
            if got != self.entities:
                r["ok"] = False
                r["error"] = f"entity tables: {len(got)} rows, model {len(self.entities)}"

    def end_metrics(self, spark, trace: bool, timed_ops: list[dict]) -> dict:
        """Space on disk against the live rows, and table-shape counts
        read from outside (traced runs add the Spark-side ones)."""
        live = self.live_bytes()
        sizes = {fmt: sum(dir_files([d]).values()) for fmt, d in
                 (("delta", self.src), ("iceberg", self.replica))}
        self.detail["space_amp"] = sum(sizes.values()) / (2 * live)
        self.detail["space_amp_by_table"] = {k: v / live for k, v in sizes.items()}
        cat_writes = sum(o["type"] in CATALOG_OPS and o["kind"] == "write" for o in timed_ops)
        out = {
            "sources.delta.log_entries": sum(
                f.endswith(".json") for f in os.listdir(os.path.join(self.src, "_delta_log"))),
            "sources.iceberg.rewrite_bytes": self.detail.get("rewrite_bytes", 0),
            "catalog.table_files": len(dir_files([self.catalog.warehouse])),
            "catalog.bytes_written_per_call": self.written["catalog"] / max(1, cat_writes),
        }
        # median over the timed rounds of what each range read saw
        out.update({name: median(v) for name, v in self.files.items()})
        return out

    def workload_metrics(self, timed_ops: list[dict]) -> dict:
        out = {"space_amp": self.detail["space_amp"]}
        if self.user_bytes:
            out["write_amp"] = self.written["lake"] / self.user_bytes
        if self.freshness_ms:
            tail, pct, n = tail_rule(self.freshness_ms)
            out.update({
                "freshness_p50_ms": median(self.freshness_ms),
                "freshness_tail_ms": tail,
                "freshness_tail_pct": pct,
                "freshness_samples": n,
            })
        return out

    def first_pass_ratio(self) -> float:
        return self.rounds_s[0] / median(self.rounds_s)

    def table_dirs(self) -> list[str]:
        return [self.src, self.replica]

    def live_bytes(self) -> int:
        rows = sorted((k, *v) for k, v in self.model.items())
        return datagen.parquet_bytes(pa.table(list(zip(*rows)), names=_COLS))
