"""``lake_query``: analyst queries over the seeded tables.

Timed passes over a fixed set of registry ids, each ending in a
``noop`` sink; the seed shuffles the id order in every pass.  The
warm-up runs at the timed layout: one pass collects every result and
checks it against the id's DuckDB ``ORACLE`` twin on the same input,
and ``WARM_PASSES`` more run exactly as the timed passes.  Ids without an oracle
are checked by row count and value hash across passes.  No commit
path is touched."""

from __future__ import annotations

import os
import random
import time

from perfbench import check, datagen, host
from perfbench.metrics import geomean, median

#: Registry ids timed in every pass: a shuffled aggregate under AQE
#: (``operators``) and IVF vector kNN (``llm``; its scoring runs in
#: pandas batches across the JVM-Python boundary; no oracle).
IDS = (
    "b_agg_q1",
    "b_llm_knn_ivf",
)
#: input scale: 15 000 orders, ~60 000 lineitems
SF = 0.01
#: timed passes per run at least: CPU and latency are taken over the
#: same amount of work however fast the host runs at the moment
MIN_PASSES = 6
#: untimed passes run exactly as the timed ones, after the checked pass
WARM_PASSES = 3


class LakeQuery:
    #: one file per scan task, as in the headline bench's split layout
    spark_conf = {"spark.sql.files.openCostInBytes": str(128 * 1024 * 1024)}

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.rng = random.Random(seed)
        self.data_dir = ""
        self.hashes: dict[str, tuple[int, str]] = {}
        self.passes: list[float] = []
        self.detail: dict = {}

    def generate(self) -> None:
        """Generate the tables and write them in the split layout."""
        self.data_dir = os.path.join(self.work, "data")
        self.detail["layout_files"] = datagen.write_split_layout(
            datagen.generate(self.seed, SF), self.data_dir, max(64, 2 * host.cpu_count()))

    def build(self, spark) -> None:
        """Nothing: the queries read the generated files directly."""

    def warmup(self, spark, rec) -> None:
        """Collect every id once at the timed layout and check it, then
        run ``WARM_PASSES`` untimed passes exactly as the timed ones."""
        import duckdb

        from aws_datalake_framework_api_spark.queries_all import ORACLE, QUERIES

        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet/*.parquet')"
            )
        modes = {}
        for qid in IDS:
            with rec.op(qid, "read") as r:
                df = QUERIES[qid](spark, self.data_dir)
                rows = [tuple(x) for x in df.collect()]
                if qid in ORACLE:
                    res = con.execute(ORACLE[qid])
                    want = res.fetchall()
                    mode, err = check.compare(df.columns, rows, [c[0] for c in res.description], want)
                else:
                    mode, err = "rows+hash", None
                    self.hashes[qid] = (len(rows), check.value_hash(df.columns, rows))
                modes[qid] = mode
                if err:
                    r["ok"] = False
                    r["error"] = err
        con.close()
        self.detail["check_mode"] = modes
        # passes exactly as timed: the JVM's JIT compilation of the noop
        # plans then settles before the first timed pass
        for _ in range(WARM_PASSES):
            for qid in IDS:
                with rec.op(qid, "read"):
                    QUERIES[qid](spark, self.data_dir).write.mode("overwrite").format("noop").save()

    def timed(self, spark, rec, seconds: float) -> None:
        """Whole passes, at least ``MIN_PASSES``; a new pass starts
        only while under ``seconds`` or short of ``MIN_PASSES``."""
        from aws_datalake_framework_api_spark.queries_all import QUERIES

        t0 = time.time()
        while time.time() - t0 < seconds or len(self.passes) < MIN_PASSES:
            order = list(IDS)
            self.rng.shuffle(order)
            p0 = time.time()
            for qid in order:
                with rec.op(qid, "read"):
                    with rec.span("registry.build"):
                        df = QUERIES[qid](spark, self.data_dir)
                    with rec.span("registry.execute"):
                        df.write.mode("overwrite").format("noop").save()
            self.passes.append(time.time() - p0)

    def final_check(self, spark, rec) -> None:
        """Ids without an oracle: same row count and hash as the warm pass."""
        from aws_datalake_framework_api_spark.queries_all import QUERIES

        for qid, (n, h) in self.hashes.items():
            with rec.op(qid, "read") as r:
                df = QUERIES[qid](spark, self.data_dir)
                rows = [tuple(x) for x in df.collect()]
                got = (len(rows), check.value_hash(df.columns, rows))
                if got != (n, h):
                    r["ok"] = False
                    r["error"] = f"{qid}: rows/hash {got[0]}/{got[1][:12]} != warm pass {n}/{h[:12]}"

    def first_pass_ratio(self) -> float:
        return self.passes[0] / median(self.passes)

    def _queries_ms(self, timed_ops: list[dict]) -> dict[str, float]:
        """Per-id median of the timed runs that completed; an id that
        never completed is left out."""
        ms = {q: [o["ms"] for o in timed_ops if o["type"] == q and o["ok"]] for q in IDS}
        return {q: median(v) for q, v in ms.items() if v}

    def end_metrics(self, spark, trace: bool, timed_ops: list[dict]) -> dict:
        """Per-layer metrics only this workload has."""
        return {f"queries.{q}_ms": ms for q, ms in self._queries_ms(timed_ops).items()}

    def workload_metrics(self, timed_ops: list[dict]) -> dict:
        self.detail["passes_s"] = self.passes
        ms = self._queries_ms(timed_ops)
        return {"query_geomean_ms": geomean(list(ms.values()))} if ms else {}
