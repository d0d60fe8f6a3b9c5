"""Scale probes (numbers recorded in SCALE.md).  Each probe times one
mechanism at two input scales, so its cost can be read as flat or
linear in the quantity the mechanism is meant to scale with.

- ``substr``: ExactSubstr span dedup wall at sf0.1 vs the 10x
  salted-replica fixture (build it first: ``python
  tools/gen_scale_fixture.py 10 tmp_scale/sf1``);
- ``pq``: PQ-ADC ANN wall at the same two scales;
- ``clone``: Delta SHALLOW CLONE wall + metadata bytes at 32 vs 320
  source files (zero data bytes either way);
- ``migrate``: add_files migration wall + per-file cost at 1x vs 10x
  file count (the O(files)-metadata claim, zero data bytes either
  way);
- ``posdel``: rewrite_position_delete_files wall at 1x vs 10x
  delete-row volume;
- ``inject``: identity-partition constants injection: partitioned-scan
  wall with the injected plan vs a pre-injection-style full-schema
  scan, plus the bytes-read delta visible in ReadSchema;
- ``convert``: DV-carrying Delta→Iceberg conversion: wall +
  zero-copied-bytes at 1× vs 10× deleted-row volume (the materialized
  position-delete commit must cost O(deleted rows) executor work +
  O(files) driver metadata, never a data-file copy);
- ``eqchunk``: changelog equality-kill chunking: one LARGE single
  eq-delete key file streamed with a small maxEqDeleteRows chunk vs
  one big chunk — identical rows, walls within noise (residency, not
  wall, is what the chunk bounds);
- ``mint``: contiguous identity minting: append wall at 1× vs 10× rows
  (the eager-checkpoint pin + count pass are the added cost; both
  scale linearly with the batch, not the table);
- ``morconv``: MOR Iceberg→Delta conversion: wall at 1× vs 10×
  merge-on-read delete volume (kills plan distributed, one
  executor-side DV bitmap per touched file, zero data-file copies);
- ``uniform``: UniForm enable + refresh: wall at 1× vs 8× file count
  (both are O(files) metadata passes — per-file footer/DV work, never
  data);
- ``codegen``: N rounds of perfbench's lake_cdc workload after its
  warm-up round (default 3): per op the wall time, process-tree CPU,
  Janino compile count and codegen cache entries; per round the CPU of
  the JVM's C1 and C2 compiler threads and the JVM's own JIT
  compilation time.  A steady round that reuses the classes of the
  round before it compiles nothing;
- ``orphans``: N rounds of perfbench's lake_cdc workload after its
  warm-up round (default 6): per maintenance op the files
  ``vacuum_delta`` and ``expire_snapshots`` deleted, and after every
  round the count of files in the source and the replica that no
  Delta version or Iceberg snapshot names (a leak check: a commit
  that lands nothing must leave nothing);
- ``plans``: the optimized logical plan of each native read over
  perfbench's lake_cdc tables (seed 1) after its warm-up round and two
  more (the second drains after the first maintenance, so the replica
  holds live equality deletes): ``read_delta``, ``read_delta_range``, ``read_delta_changes``,
  ``read_iceberg``, ``read_iceberg_range`` (equality deletes live) and
  the catalog's ``read_delta``.  Expression ids, the work directory,
  random file-name suffixes and the connectors' tag column names are
  normalized, so the output of
  two checkouts diffs to their plan changes;
- ``facade``: the Python DataSource ids ``b_scan_delta_fmt``,
  ``b_scan_iceberg_fmt`` and ``b_lake_delta_cdf_fmt`` at sf0.1, N calls
  each (default 5) after one warm call: median, min and max of wall
  time and of process-tree CPU (this process, the JVM and its Python
  workers);
- ``merge``: copy-on-write ``merge_iceberg``, ``read_iceberg_changes``,
  Delta CDF DELETE staging and the merge-on-read merge's commit bytes
  at sf0.1 / 10x / 30x (``tmp_scale/sf1``, ``tmp_scale/sf3``): walls
  bounded by hit files and changed rows, not table size;
- ``dv``: ``read_delta`` wall as the deleted-row count grows 1% → 10%
  → 30% of a fixed-size table (executor-side deletion-vector decode);
- ``smoke``: the scale-critical registry ids at sf0.1 and at the 10x
  fixture (``smoke [sf1_dir]``, default ``tmp_scale/sf1``), with their
  wall-time ratios.

Usage: python tools/scale_probes.py <probe>|all
       python tools/scale_probes.py codegen|orphans|facade [rounds]
       python tools/scale_probes.py smoke [sf1_dir]
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_datalake_framework_api_spark.session import DEFAULT_SF_DIR  # noqa: E402

SF01 = DEFAULT_SF_DIR  # sf0.1 unless SPARK_GRAFT_SF_DIR names another
SF10X = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tmp_scale", "sf1",
)


def _timed(fn, *a) -> float:
    fn(*a).write.mode("overwrite").format("noop").save()  # warm
    t0 = time.time()
    fn(*a).write.mode("overwrite").format("noop").save()
    return time.time() - t0


def probe_substr(spark) -> None:
    from aws_datalake_framework_api_spark.llm.substr import llm_dedup_substr

    for label, d in (("sf0.1", SF01), ("10x", SF10X)):
        print(f"substr {label}: {_timed(llm_dedup_substr, spark, d):.2f}s")


def probe_pq(spark) -> None:
    from aws_datalake_framework_api_spark.llm.similarity import llm_knn_pq

    for label, d in (("sf0.1", SF01), ("10x", SF10X)):
        print(f"pq {label}: {_timed(llm_knn_pq, spark, d):.2f}s")


def probe_clone(spark) -> None:
    import tempfile

    from pyspark.sql import functions as F  # noqa: F401

    from aws_datalake_framework_api_spark.sources.delta import (
        clone_delta,
        read_delta,
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.readers import load_table

    orders = load_table(spark, SF01, "orders")

    def du(p: str) -> int:
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(p)
            for f in fs
        )

    base = tempfile.mkdtemp(prefix="clone_probe_")
    try:
        for nfiles in (32, 320):
            src = os.path.join(base, f"src_{nfiles}")
            dst = os.path.join(base, f"dst_{nfiles}")
            write_delta(orders.repartition(nfiles), src, mode="error")
            t0 = time.time()
            clone_delta(spark, src, dst)
            dt = time.time() - t0
            ok = read_delta(spark, dst).count() == orders.count()
            print(
                f"clone files={nfiles} wall={dt * 1000:.1f}ms "
                f"src={du(src) // 1024}K dst_meta={du(dst) // 1024}K "
                f"rows_match={ok}"
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def probe_migrate(spark) -> None:
    from pyspark.sql import functions as F

    from aws_datalake_framework_api_spark.sources.migrate import (
        add_files_iceberg,
    )
    from aws_datalake_framework_api_spark.sources.readers import load_table

    orders = load_table(spark, SF01, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    for label, parts in (("32f", 32), ("320f", 320)):
        src = tempfile.mkdtemp(prefix="probe_mig_src_")
        dst = tempfile.mkdtemp(prefix="probe_mig_dst_") + "/t"
        shutil.rmtree(src, ignore_errors=True)
        orders.repartition(parts // 5).write.partitionBy(
            "o_orderpriority"
        ).parquet(src)
        n = sum(
            1
            for _r, _d, fs in os.walk(src)
            for f in fs
            if f.endswith(".parquet")
        )
        t0 = time.time()
        add_files_iceberg(spark, src, dst)
        wall = time.time() - t0
        meta_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(os.path.join(dst, "metadata"))
            for f in fs
        )
        print(
            f"add_files {label}: {n} files, {wall:.2f}s "
            f"({1000*wall/n:.1f} ms/file), metadata {meta_bytes/1024:.0f} KB"
        )
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(os.path.dirname(dst), ignore_errors=True)


def probe_posdel(spark) -> None:
    from pyspark.sql import functions as F

    from aws_datalake_framework_api_spark.sources.iceberg import (
        delete_iceberg_rows,
        rewrite_position_delete_files,
        write_iceberg,
    )
    from aws_datalake_framework_api_spark.sources.readers import load_table

    orders = load_table(spark, SF01, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    for label, mod in (("1x(~15k rows)", 10), ("10x(~150k rows)", 1)):
        t = tempfile.mkdtemp(prefix="probe_posdel_") + "/t"
        write_iceberg(orders.repartition(8), t, mode="error")
        # fragment the delete state across 5 commits
        for i in range(5):
            delete_iceberg_rows(
                spark, t,
                (F.col("o_orderkey") % 50 == i) if mod == 1
                else (F.col("o_orderkey") % 500 == i),
            )
        t0 = time.time()
        res = rewrite_position_delete_files(spark, t)
        wall = time.time() - t0
        print(f"rewrite_posdel {label}: {res} in {wall:.2f}s")
        shutil.rmtree(os.path.dirname(t), ignore_errors=True)


def probe_inject(spark) -> None:
    from pyspark.sql import functions as F

    from aws_datalake_framework_api_spark.sources.iceberg import (
        read_iceberg,
        write_iceberg,
    )
    from aws_datalake_framework_api_spark.sources.readers import load_table

    lineitem = load_table(spark, SF01, "lineitem")
    t = tempfile.mkdtemp(prefix="probe_inject_") + "/t"
    write_iceberg(
        lineitem.repartition(16), t, mode="error",
        partition_by=["l_returnflag"],
    )

    def agg():
        return (
            read_iceberg(spark, t)
            .filter(F.col("l_quantity") > 25)
            .groupBy("l_returnflag")
            .agg(F.sum("l_extendedprice"))
        )

    agg().write.mode("overwrite").format("noop").save()  # warm
    t0 = time.time()
    for _ in range(3):
        agg().write.mode("overwrite").format("noop").save()
    print(f"injected partitioned scan+agg x3: {time.time()-t0:.2f}s")
    plan = agg()._jdf.queryExecution().executedPlan().toString()
    rs = [ln.strip() for ln in plan.splitlines() if "ReadSchema" in ln]
    print("ReadSchema:", rs[:1])
    shutil.rmtree(os.path.dirname(t), ignore_errors=True)


def probe_convert(spark) -> None:
    from pyspark.sql import functions as F

    from aws_datalake_framework_api_spark.sources.delta import (
        delete_where_delta,
        read_delta,
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        convert_delta_to_iceberg,
        read_iceberg,
    )
    from aws_datalake_framework_api_spark.sources.readers import load_table

    orders = load_table(spark, SF01, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    for label, mod in (("~15k dv rows", 10), ("~150k dv rows", 1)):
        base = tempfile.mkdtemp(prefix="probe_conv_")
        src, dst = base + "/d", base + "/i"
        write_delta(
            orders.repartition(4, "o_orderkey"), src, mode="error",
            partition_by=["o_orderpriority"],
        )
        _v, n_del = delete_where_delta(
            spark, src, (F.col("o_orderkey") % (2 * mod)) == 0
        )
        t0 = time.time()
        convert_delta_to_iceberg(spark, src, dst)
        wall = time.time() - t0
        copied = [
            f
            for f in os.listdir(os.path.join(dst, "data"))
            if f.endswith(".parquet") and "delete-" not in f
        ]
        n_ice = read_iceberg(spark, dst).count()
        n_delta = read_delta(spark, src).count()
        print(
            f"convert_dv {label}: {n_del} deleted rows materialized, "
            f"{wall:.2f}s, copied data files: {len(copied)}, "
            f"rows match: {n_ice == n_delta}"
        )
        shutil.rmtree(base, ignore_errors=True)


def probe_eqchunk(spark) -> None:
    from aws_datalake_framework_api_spark.sources.iceberg import (
        delete_by_key_iceberg,
        write_iceberg,
    )
    from aws_datalake_framework_api_spark.sources.readers import load_table
    from aws_datalake_framework_api_spark.streaming.iceberg_source import (
        register as ice_register,
    )

    ice_register(spark)
    orders = load_table(spark, SF01, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="probe_eq_")
    t = base + "/t"
    write_iceberg(orders.coalesce(2), t, mode="error")
    # ONE big equality-delete key file: every 3rd order (~50k keys)
    from pyspark.sql import functions as F

    keys = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey"
    )
    n_keys = keys.count()
    delete_by_key_iceberg(spark, t, keys.coalesce(1))
    results = {}
    for label, chunk in (("chunk=4k", "4096"), ("chunk=1M", "1000000")):
        out, ckpt = base + f"/o_{chunk}", base + f"/c_{chunk}"
        t0 = time.time()
        q = (
            spark.readStream.format("iceberg_stream")
            .option("readChangeFeed", "true")
            .option("maxEqDeleteRows", chunk)
            .option("startingPos", "1")
            .load(t)
            .writeStream.trigger(availableNow=True)
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        wall = time.time() - t0
        n = spark.read.parquet(out).count()
        results[label] = (wall, n)
        print(
            f"eqchunk {label}: single {n_keys}-key file, "
            f"{n} change rows, {wall:.2f}s"
        )
    (w4, n4), (w1m, n1m) = results["chunk=4k"], results["chunk=1M"]
    print(
        f"eqchunk rows identical: {n4 == n1m}; "
        f"small-chunk wall ratio {w4 / w1m:.2f}x"
    )
    shutil.rmtree(base, ignore_errors=True)


def probe_mint(spark) -> None:
    from aws_datalake_framework_api_spark.sources.delta import (
        create_identity_delta,
        read_delta,
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.readers import load_table

    orders = load_table(spark, SF01, "orders").select(
        F.col("o_orderpriority").alias("name"),
        F.col("o_totalprice").alias("v"),
    )
    n_total = orders.count()
    for label, frac in (("15k rows", 10), ("150k rows", 1)):
        base = tempfile.mkdtemp(prefix="probe_mint_")
        path = base + "/t"
        from pyspark.sql import functions as F2

        batch = orders.filter(
            (F2.monotonically_increasing_id() % frac) == 0
        ) if frac > 1 else orders
        create_identity_delta(
            spark,
            spark.createDataFrame([("seed", 0.0)], "name string, v double"),
            path, "id", start=1, step=1,
        )
        n = batch.count()
        t0 = time.time()
        write_delta(batch.repartition(8), path, mode="append")
        wall = time.time() - t0
        ids = read_delta(spark, path).agg(
            F2.min("id"), F2.max("id"), F2.count("id")
        ).collect()[0]
        contiguous = int(ids[1]) - int(ids[0]) + 1 == int(ids[2])
        print(
            f"mint {label}: {n} rows appended in {wall:.2f}s, "
            f"id range [{ids[0]}, {ids[1]}], contiguous: {contiguous}"
        )
        shutil.rmtree(base, ignore_errors=True)


from pyspark.sql import functions as F  # noqa: E402  (probe_mint uses it)

def probe_morconv(spark) -> None:
    """Iceberg→Delta conversion of a MOR-carrying snapshot: the DV
    materialization must cost distributed kill-plan work ∝ deleted
    rows + O(touched files) driver metadata — never a data copy."""
    from pyspark.sql import functions as F

    from aws_datalake_framework_api_spark.sources.delta import (
        _snapshot,
        convert_iceberg_to_delta,
        read_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        delete_by_key_iceberg,
        delete_iceberg_rows,
        write_iceberg,
    )
    from aws_datalake_framework_api_spark.sources.readers import load_table

    orders = load_table(spark, SF01, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    for label, posmod, eqmod in (("1x", 500, 700), ("10x", 50, 70)):
        base = tempfile.mkdtemp(prefix="probe_morconv_")
        src, dst = base + "/ice", base + "/dl"
        write_iceberg(
            orders.repartition(8), src, mode="error",
            partition_by=["o_orderpriority"],
        )
        delete_iceberg_rows(
            spark, src, F.col("o_orderkey") % posmod == 0
        )
        delete_by_key_iceberg(
            spark, src,
            orders.filter(F.col("o_orderkey") % eqmod == 1).select(
                "o_orderkey"
            ),
        )
        t0 = time.time()
        convert_iceberg_to_delta(spark, src, dst)
        wall = time.time() - t0
        snap, _ = _snapshot(spark, dst)
        dv_files = sum(
            1 for a in snap.files.values() if a.get("deletionVector")
        )
        dv_card = sum(
            int((a.get("deletionVector") or {}).get("cardinality") or 0)
            for a in snap.files.values()
        )
        copied = sum(
            1
            for root, _, fs in os.walk(dst)
            for f in fs
            if f.endswith(".parquet")
        )
        n = read_delta(spark, dst).count()
        print(
            f"[morconv {label}] wall {wall:.2f}s; files_with_dv "
            f"{dv_files}; dv_cardinality {dv_card}; live rows {n}; "
            f"data parquet copied into dst: {copied} (expect 0)"
        )
        shutil.rmtree(base, ignore_errors=True)


def probe_uniform(spark) -> None:
    """UniForm enable + refresh walls at 1× vs 8× file count — both
    O(files) metadata passes (footer row counts + manifest writes),
    zero data bytes."""
    from pyspark.sql import functions as F

    from aws_datalake_framework_api_spark.sources.delta import (
        delete_where_delta,
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        enable_uniform_iceberg,
        read_iceberg,
        refresh_uniform_iceberg,
    )
    from aws_datalake_framework_api_spark.sources.readers import load_table

    orders = load_table(spark, SF01, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    for label, parts in (("1x files", 4), ("8x files", 32)):
        base = tempfile.mkdtemp(prefix="probe_uniform_")
        path = base + "/t"
        write_delta(
            orders.repartition(parts), path, mode="error",
            partition_by=["o_orderpriority"],
        )
        t0 = time.time()
        enable_uniform_iceberg(spark, path)
        w_enable = time.time() - t0
        delete_where_delta(spark, path, F.col("o_orderkey") % 97 == 0)
        t0 = time.time()
        refresh_uniform_iceberg(spark, path)
        w_refresh = time.time() - t0
        n = read_iceberg(spark, path).count()
        print(
            f"[uniform {label}] enable {w_enable:.2f}s; refresh "
            f"(with DV materialization) {w_refresh:.2f}s; iceberg "
            f"rows {n}"
        )
        shutil.rmtree(base, ignore_errors=True)


def _codegen_compiles(spark) -> int:
    """Classes Janino has compiled in this JVM (the count of Spark's
    ``CodegenMetrics`` compilation-time histogram)."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def _codegen_cache_entries(spark) -> int:
    """Entries in ``CodeGenerator``'s compiled-class cache (a private
    field, read by reflection)."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    return field.get(None).size()


def _jit_thread_cpu() -> dict[tuple[str, int], float]:
    """CPU seconds of each live C1 and C2 compiler thread of this
    process's JVM children, keyed by (kind, thread id)."""
    from perfbench import host

    tick = os.sysconf("SC_CLK_TCK")
    out: dict[tuple[str, int], float] = {}
    for pid in host.process_tree()[1:]:
        tasks = f"/proc/{pid}/task"
        try:
            tids = os.listdir(tasks)
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"{tasks}/{tid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            comm = stat[stat.find("(") + 1:stat.rfind(")")]
            if comm[:2] in ("C1", "C2") and "Compiler" in comm:
                f = stat[stat.rfind(")") + 2:].split()
                out[(comm[:2], int(tid))] = (int(f[11]) + int(f[12])) / tick
    return out


def _jit_cpu_delta(before: dict, after: dict) -> dict[str, float]:
    """C1 and C2 thread CPU spent between two ``_jit_thread_cpu``
    readings.  HotSpot retires idle compiler threads; what a thread
    retired in between had spent is not counted."""
    out = {"C1": 0.0, "C2": 0.0}
    for (kind, tid), cpu in after.items():
        out[kind] += cpu - before.get((kind, tid), 0.0)
    return out


def probe_codegen(spark, rounds: int = 3) -> None:
    """Where a lake_cdc round's compilation goes: perfbench's own
    workload (seed 1) runs its warm-up round, then ``rounds`` more;
    each op reports its wall time, process-tree CPU, Janino compile
    count and the codegen cache's entry count after it."""
    from perfbench import host
    from perfbench.tracing import Recorder
    from perfbench.wl_cdc import LakeCdc

    cap = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    jit_mx = spark._jvm.java.lang.management.ManagementFactory \
        .getCompilationMXBean()

    class CompileRecorder(Recorder):
        @contextlib.contextmanager
        def op(self, op_type: str, kind: str):
            t0, cpu0 = time.time(), host.tree_cpu_seconds()
            n0 = _codegen_compiles(spark)
            with super().op(op_type, kind) as rec:
                yield rec
            self.rows.append((
                op_type, time.time() - t0, host.tree_cpu_seconds() - cpu0,
                _codegen_compiles(spark) - n0, _codegen_cache_entries(spark),
                rec["ok"],
            ))

    base = tempfile.mkdtemp(prefix="codegen_probe_")
    try:
        wl = LakeCdc(1, base)
        rec = CompileRecorder(spark, False)
        wl.generate()
        wl.build(spark)
        for r in range(rounds + 1):
            jit0 = _jit_thread_cpu()
            jit_ms0 = jit_mx.getTotalCompilationTime()
            rec.rows = []
            if r == 0:
                wl.warmup(spark, rec)
            else:
                wl.run_round(spark, rec)
            jit = _jit_cpu_delta(jit0, _jit_thread_cpu())
            jit_ms = jit_mx.getTotalCompilationTime() - jit_ms0
            ops = rec.rows
            print(
                f"codegen {'warm-up' if r == 0 else f'round {r}'}: "
                f"{len(ops)} ops, wall {sum(o[1] for o in ops):.2f}s, "
                f"cpu {sum(o[2] for o in ops):.2f}s, "
                f"compiles {sum(o[3] for o in ops)}, "
                f"cache {_codegen_cache_entries(spark)}/{cap}, "
                f"C1 {jit['C1']:.2f}s, C2 {jit['C2']:.2f}s, "
                f"JIT {jit_ms / 1000:.2f}s"
            )
            for name, wall, cpu, n, entries, ok in ops:
                print(
                    f"  {name:<20} wall {wall:6.2f}s  cpu {cpu:6.2f}s  "
                    f"compiles {n:3d}  cache {entries:4d}"
                    f"{'' if ok else '  FAILED'}"
                )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _delta_unnamed(path: str) -> set[str]:
    """Files in a Delta table that no version of its log names."""
    import urllib.parse

    from aws_datalake_framework_api_spark.sources import delta as D

    named = set()
    for v in D._list_versions(path):
        for a in D._version_actions(path, v):
            for kind in ("add", "remove", "cdc"):
                if kind in a:
                    named.add(os.path.join(
                        path, urllib.parse.unquote(a[kind]["path"])
                    ))
                    dv = a[kind].get("deletionVector")
                    if dv and dv.get("storageType") == "u":
                        named.add(D._dv_file_path(path, dv))
    return {
        os.path.join(r, f)
        for r, _dirs, files in os.walk(path)
        if D._LOG not in r.split(os.sep)
        for f in files
    } - named


def _iceberg_unnamed(path: str) -> set[str]:
    """Data, delete and Avro files no snapshot of the table names."""
    from aws_datalake_framework_api_spark.sources import iceberg as I
    from aws_datalake_framework_api_spark.sources.avro_codec import (
        read_avro_file,
    )

    meta = I._load_metadata(path)
    loc = meta.get("location") or path
    named = set()
    for s in meta.get("snapshots") or []:
        ml = I._resolve(s["manifest-list"], path, loc)
        named.add(os.path.abspath(ml))
        for mf in read_avro_file(ml)[1]:
            mp = I._resolve(mf["manifest_path"], path, loc)
            named.add(os.path.abspath(mp))
            named |= {
                os.path.abspath(
                    I._resolve(e["data_file"]["file_path"], path, loc)
                )
                for e in read_avro_file(mp)[1]
            }
    return {
        os.path.abspath(os.path.join(r, f))
        for r, _dirs, files in os.walk(path)
        for f in files
        if not f.endswith(".metadata.json") and f != "version-hint.text"
    } - named


def probe_orphans(spark, rounds: int = 6) -> None:
    """What lake_cdc's maintenance reclaims and what its commits leave:
    perfbench's own workload (seed 1) runs its warm-up round, then
    ``rounds`` more; each maintenance op reports the files
    ``vacuum_delta`` and ``expire_snapshots`` deleted, and each round
    the files of either table that no version or snapshot names."""
    from aws_datalake_framework_api_spark.sources import delta as D
    from aws_datalake_framework_api_spark.sources import iceberg as I
    from perfbench.tracing import Recorder
    from perfbench.wl_cdc import LakeCdc

    deleted: list[str] = []

    def counting(mod, name, key):
        real = getattr(mod, name)

        def wrapper(*a, **kw):
            out = real(*a, **kw)
            deleted.append(f"{name} {out[key]}")
            return out

        return real, wrapper

    patched = [
        (D, "vacuum_delta", *counting(D, "vacuum_delta", "deleted_files")),
        (I, "expire_snapshots",
         *counting(I, "expire_snapshots", "files_deleted")),
    ]
    base = tempfile.mkdtemp(prefix="orphans_probe_")
    try:
        for mod, name, _real, wrapper in patched:
            setattr(mod, name, wrapper)
        wl = LakeCdc(1, base)
        rec = Recorder(spark, False)
        wl.generate()
        wl.build(spark)
        for r in range(rounds + 1):
            deleted.clear()
            if r == 0:
                wl.warmup(spark, rec)
            else:
                wl.run_round(spark, rec)
            print(
                f"orphans {'warm-up' if r == 0 else f'round {r}'}: "
                f"{', '.join(deleted) or 'no maintenance'}; unnamed "
                f"delta {len(_delta_unnamed(wl.src))}, "
                f"iceberg {len(_iceberg_unnamed(wl.replica))}"
            )
    finally:
        for mod, name, real, _wrapper in patched:
            setattr(mod, name, real)
        shutil.rmtree(base, ignore_errors=True)


def _plan_text(df, work: str) -> str:
    import re

    text = df._jdf.queryExecution().optimizedPlan().toString()
    text = text.replace(work, "<work>")
    text = re.sub(r"(?<=-)[0-9a-f]{8,}(?=\.parquet)", "<id>", text)
    text = re.sub(r"_(?:dl|ice|lake)_file\b", "<FILE>", text)
    text = re.sub(r"_(?:dl_dv|ice|lake)_pos\b", "<POS>", text)
    return re.sub(r"#\d+L?", "#", text)


def probe_plans(spark) -> None:
    """The plans lake_cdc's reads run: perfbench's own workload
    (seed 1) runs its warm-up round and two more, then each read's
    optimized logical plan prints under its name."""
    from aws_datalake_framework_api_spark.sources import delta as D
    from aws_datalake_framework_api_spark.sources import iceberg as I
    from perfbench.tracing import Recorder
    from perfbench.wl_cdc import KEY, LakeCdc

    base = tempfile.mkdtemp(prefix="plans_probe_")
    try:
        wl = LakeCdc(1, base)
        rec = Recorder(spark, False)
        wl.generate()
        wl.build(spark)
        wl.warmup(spark, rec)
        wl.run_round(spark, rec)
        wl.run_round(spark, rec)
        latest = D._table_version(wl.src)
        reads = {
            "read_delta": lambda: D.read_delta(spark, wl.src),
            "read_delta_range": lambda: D.read_delta_range(
                spark, wl.src, KEY, 100, 900
            ),
            "read_delta_changes": lambda: D.read_delta_changes(
                spark, wl.src, latest - 2
            ),
            "read_iceberg": lambda: I.read_iceberg(spark, wl.replica),
            "read_iceberg_range": lambda: I.read_iceberg_range(
                spark, wl.replica, KEY, 100, 900
            ),
            "catalog read_delta": lambda: wl.catalog.load("data_asset"),
        }
        for name, read in reads.items():
            print(f"== {name}")
            print(_plan_text(read(), base))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def probe_facade(spark, runs: int = 5) -> None:
    """The format facade's executor reader at sf0.1: each Python
    DataSource id once to warm (fixture, registration, JIT), then
    ``runs`` timed calls, each collecting the id's rows."""
    from aws_datalake_framework_api_spark.queries_all import QUERIES
    from perfbench import host

    for qid in ("b_scan_delta_fmt", "b_scan_iceberg_fmt", "b_lake_delta_cdf_fmt"):
        QUERIES[qid](spark, SF01).collect()  # warm
        walls, cpus = [], []
        for _ in range(runs):
            t0, cpu0 = time.time(), host.tree_cpu_seconds()
            QUERIES[qid](spark, SF01).collect()
            walls.append(time.time() - t0)
            cpus.append(host.tree_cpu_seconds() - cpu0)
        print(
            f"facade {qid}: {runs} runs, "
            + ", ".join(
                f"{label} median {statistics.median(v):.2f}s "
                f"min {min(v):.2f}s max {max(v):.2f}s"
                for label, v in (("wall", walls), ("cpu", cpus))
            )
        )


def wall(fn):
    t0 = time.time()
    out = fn()
    return round(time.time() - t0, 3), out


def _sizes(root: str) -> dict:
    out = {}
    for r, _dirs, fs in os.walk(root):
        for f in fs:
            p = os.path.join(r, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _new_bytes(root: str, before: dict) -> int:
    return sum(s for p, s in _sizes(root).items() if p not in before)


def probe_merge(spark) -> None:
    """The round-7 connector additions: copy-on-write merge_iceberg,
    read_iceberg_changes, and Delta CDF mutation staging — measured at
    sf0.1 / 10x / 30x (tmp_scale fixtures).

    Claims under test:
    - merge_iceberg wall is bounded by HIT files + source, not table size
      (a fixed 1000-key source against growing tables);
    - the changelog read of that merge snapshot is bounded by the
      CHANGED files, not the table;
    - Delta CDF DELETE staging cost rides the deleted-row count (cdc
      files are row-level), not the table;
    - (r8) merge_iceberg(strategy="mor") COMMIT BYTES ride the changed
      rows, not the hit-file bytes: the same fixed-size source merged
      merge-on-read writes a ~constant byte volume across 1x/10x/30x
      while the copy-on-write commit's bytes grow with the hit files."""
    from pyspark.sql import functions as F

    from aws_datalake_framework_api_spark.sources.delta import (
        alter_table_properties_delta,
        delete_where_delta,
        write_delta,
    )
    from aws_datalake_framework_api_spark.sources.iceberg import (
        history_iceberg,
        merge_iceberg,
        read_iceberg_changes,
        write_iceberg,
    )

    dirs = [
        ("sf0.1", SF01),
        ("10x", "tmp_scale/sf1"),
        ("30x", "tmp_scale/sf3"),
    ]
    report = []
    for label, d in dirs:
        if not os.path.isdir(d):
            continue
        tmp = tempfile.mkdtemp(prefix="merge_probe_")
        try:
            orders = (
                spark.read.parquet(os.path.join(d, "orders.parquet"))
                .select("o_orderkey", "o_orderpriority", "o_totalprice")
            )
            n = orders.count()
            ice = os.path.join(tmp, "ice")
            # RANGE layout: a key-clustered source then hits ~1 of the
            # 8 files — the hit-file-bounded cost model under test
            t_build, _ = wall(
                lambda: write_iceberg(
                    orders.repartitionByRange(8, "o_orderkey"), ice,
                    mode="error",
                )
            )
            # fixed-size, key-clustered source: ~1000 updates + 200 inserts
            src = orders.filter(F.col("o_orderkey") <= 4000).dropDuplicates(
                ["o_orderkey"]
            ).limit(1000).withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
            ).unionByName(
                orders.dropDuplicates(["o_orderkey"]).select(
                    (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
                    "o_orderpriority", "o_totalprice",
                ).limit(200)
            )
            src = src.cache()
            src.count()
            pre_cow = _sizes(ice)
            t_merge, out = wall(
                lambda: merge_iceberg(spark, ice, src, on=["o_orderkey"])
            )
            cow_bytes = _new_bytes(ice, pre_cow)
            hist = history_iceberg(spark, ice)
            t_chg, n_chg = wall(
                lambda: read_iceberg_changes(
                    spark, ice, hist[-2]["snapshot_id"],
                    hist[-1]["snapshot_id"],
                ).count()
            )
            # MOR twin on the post-COW table: a second fixed-size
            # key-clustered source — commit bytes must NOT ride the
            # hit-file bytes (r8)
            src2 = orders.filter(
                (F.col("o_orderkey") > 4000) & (F.col("o_orderkey") <= 12000)
            ).dropDuplicates(["o_orderkey"]).limit(1000).withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(2.0)
            ).unionByName(
                orders.dropDuplicates(["o_orderkey"]).select(
                    (F.col("o_orderkey") + 2_000_000_000).alias("o_orderkey"),
                    "o_orderpriority", "o_totalprice",
                ).limit(200)
            ).cache()
            src2.count()
            pre_mor = _sizes(ice)
            t_mor, out_mor = wall(
                lambda: merge_iceberg(
                    spark, ice, src2, on=["o_orderkey"], strategy="mor"
                )
            )
            mor_bytes = _new_bytes(ice, pre_mor)
            # Delta CDF delete: fixed ~1/97 of rows
            dl = os.path.join(tmp, "dl")
            write_delta(orders.repartition(8), dl, mode="error")
            alter_table_properties_delta(
                spark, dl, {"delta.enableChangeDataFeed": "true"}
            )
            t_cdf, _ = wall(
                lambda: delete_where_delta(
                    spark, dl, F.col("o_orderkey") % 97 == 0
                )
            )
            report.append(
                {"label": label, "rows": n, "build_s": t_build,
                 "merge_s": t_merge, "merged": out,
                 "cow_commit_bytes": cow_bytes,
                 "mor_merge_s": t_mor, "mor_merged": out_mor,
                 "mor_commit_bytes": mor_bytes,
                 "changelog_s": t_chg, "changelog_rows": n_chg,
                 "cdf_delete_s": t_cdf}
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(report))


def probe_dv(spark) -> None:
    """DV-read scaling (VERDICT r6 item #2): after moving
    deletion-vector decode + apply executor-side, measure read wall as
    the DELETED-row count grows 1% -> 10% -> 30% of a fixed-size table.

    The r6 measurement (driver-side decode) showed read wall 2.2x/5.6x at
    10x/30x deleted rows.  The claim post-fix: driver memory stays
    O(files) and the decode parallelizes, so the slope flattens."""
    from pyspark.sql import functions as F

    from aws_datalake_framework_api_spark.sources.delta import (
        delete_where_delta,
        read_delta,
        write_delta,
    )

    sf_dir = SF01
    tmp = tempfile.mkdtemp(prefix="dv_probe_")
    path = os.path.join(tmp, "t")
    try:
        li = (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .select("l_orderkey", "l_partkey", "l_quantity")
            .withColumn("rid", F.monotonically_increasing_id())
        )
        n = li.count()
        write_delta(li.repartition(8), path, mode="error")
        # warmup read
        read_delta(spark, path).count()
        out = {"table_rows": n, "steps": []}
        deleted = 0
        # cumulative deletes: ~1%, then to ~10%, then to ~30%
        for label, mod in (("1pct", 100), ("10pct", 10), ("30pct", 3)):
            _, nd = delete_where_delta(
                spark, path, (F.col("rid") % mod) == 0
            )
            deleted += nd
            walls = []
            for _ in range(2):
                t0 = time.time()
                got = read_delta(spark, path).count()
                walls.append(round(time.time() - t0, 3))
            assert got == n - deleted, (got, n, deleted)
            out["steps"].append(
                {"label": label, "deleted_rows": deleted,
                 "read_wall_best": min(walls), "read_walls": walls}
            )
        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


#: The ``smoke`` probe's ids.
SMOKE = [
    # the four scale-critical shapes: LSH-banded dedup, IVF ANN,
    # exact-count stratified sampling, global-sort-free epoch shuffle
    "b_llm_dedup_minhash",
    "b_llm_knn_ivf",
    "b_llm_sample_exact",
    "b_llm_shuffle",
    # round-4 additions: cell-bounded semantic dedup (replicated
    # embeddings make every vector a 10-way exact dup — a worst-case
    # in-cell pair load), iterative BPE training on a 10× vocab, and
    # the zero-shuffle PCA fit+projection
    "b_llm_dedup_semantic",
    "b_llm_bpe_train",
    "b_llm_pca",
    # char-level winnowing fingerprints (HOF md5 k-grams — the heaviest
    # map arithmetic in the repo) — documents only, so it scales with
    # the replicated fixture like the dedup family
    "b_llm_dedup_winnow",
    # Misra-Gries heavy hitters: the claim is that the shuffle is
    # bounded by k (candidates), not |vocab| — at 10× the word stream
    # the candidate recount should scale with the scan, not the vocab
    "b_agg_heavyhitters",
    # round-4 additions over the replicated fact tables:
    # rolling-DAU's claim is distinct-once + ×7 rollup fan-out (never
    # a 7-way raw self-join); corr's is that the pair join runs on
    # rollup-sized data; Q18's is one orderkey partitioning end-to-end
    # through semi-join + 3-way join + rollup; EWMA's is one user_id
    # window shuffle.
    "b_ts_rolling_dau",
    "b_stat_corr",
    "b_sql_q18",
    "b_ts_ewma",
    # later additions: the PPJoin prefix filter vs the naive exact
    # join it replaces (the head-to-head IS the exhibit: both are
    # exact, prefix should scale better), the one-broadcast BM25 scan,
    # degree-ordered triangles, and the term-keyed index build
    "b_llm_dedup_ngram",
    "b_llm_dedup_prefix",
    "b_llm_bm25",
    "b_graph_triangles",
    "b_llm_inverted",
    # r9: DSIR importance resampling — the claim is ONE corpus
    # explode+shuffle shared by all four consumers (ReusedExchange,
    # tests/test_plans.py), so wall should ride the single tokenize
    # pass ~linearly
    "b_llm_dsir",
]


def _smoke_run(spark, sf_dir: str) -> dict[str, tuple[float, int]]:
    from aws_datalake_framework_api_spark.queries_all import QUERIES

    out = {}
    for qid in SMOKE:
        t0 = time.time()
        n = QUERIES[qid](spark, sf_dir).count()
        out[qid] = (round(time.time() - t0, 2), n)
        print(f"  {sf_dir}: {qid} = {out[qid][0]} s ({n} rows)")
    return out


def probe_smoke(spark, sf1: str = SF10X) -> None:
    """10× scale smoke (VERDICT r3 item #8): run the scale-critical LLM
    paths end-to-end at sf0.1 and at the generated 10× fixture, and
    record measured wall-time scaling.

    The claim under test: the plan shapes argued linear in SURVEY §2
    (MinHash banding with bounded bucket fan-out, IVF map-only
    assignment, two-level stratified top-K, no-global-sort shuffle)
    actually scale ~linearly in corpus size, converting "the plan looks
    right at sf0.1" into measured evidence.  Run on a quiet box;
    cross-run noise on this host is documented at ±25% (BASELINE.md),
    so judge ratios accordingly."""
    # warm: run the sf0.1 set once so JIT/codegen warmup doesn't load
    # the small-scale numbers (BASELINE.md measurement note)
    _smoke_run(spark, SF01)
    small = _smoke_run(spark, SF01)
    big = _smoke_run(spark, sf1)
    print(json.dumps({
        "sf0.1": {k: v[0] for k, v in small.items()},
        "sf1": {k: v[0] for k, v in big.items()},
        "ratio_at_10x_data": {
            k: round(big[k][0] / small[k][0], 1) for k in small
        },
        "rows": {k: {"sf0.1": small[k][1], "sf1": big[k][1]} for k in small},
    }))


PROBES = {
    "substr": probe_substr,
    "pq": probe_pq,
    "clone": probe_clone,
    "migrate": probe_migrate,
    "posdel": probe_posdel,
    "inject": probe_inject,
    "convert": probe_convert,
    "eqchunk": probe_eqchunk,
    "mint": probe_mint,
    "morconv": probe_morconv,
    "uniform": probe_uniform,
    "codegen": probe_codegen,
    "orphans": probe_orphans,
    "plans": probe_plans,
    "facade": probe_facade,
    "merge": probe_merge,
    "dv": probe_dv,
    "smoke": probe_smoke,
}


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    if which != "all" and which not in PROBES:
        sys.exit(f"usage: scale_probes.py {'|'.join(PROBES)}|all")
    from aws_datalake_framework_api_spark.session import get_spark

    spark = get_spark("scale-probes")
    for name, probe in PROBES.items():
        if which == name:
            probe(spark, *[int(a) if a.isdigit() else a for a in sys.argv[2:]])
        elif which == "all":
            probe(spark)


if __name__ == "__main__":
    main()
