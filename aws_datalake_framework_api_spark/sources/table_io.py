"""Format-neutral file I/O, the one tagged scan, the one commit loop
and the one key-range pruner under the Delta and Iceberg connectors.

Both formats publish data the same way: Spark writes parquet into a
scratch directory, the part files move under the table's own names,
their footers give row counts and column bounds, and a commit file is
claimed with put-if-absent.  This module holds one copy of each step
(:func:`stage_parquet`, :func:`footer_min_max`, :func:`put_if_absent`),
the one :class:`CommitConflict`, and the one commit loop,
:func:`commit_loop`: claim, rebase or refuse, and unlink what a
refused commit staged.  Range reads and merges in both formats skip
files through the one key-range pruner, :func:`prune_by_bounds`.

Both formats read the same way too: one parquet scan over the live
files, per-file constants (Delta ``partitionValues``, Iceberg
identity-partition values) joined from a broadcast basename map, rows
tagged with their file and position (:data:`FILE`, :data:`POS`), and
the positions a deletion vector or position delete kills removed by
one ``(FILE, POS)`` anti-join.  :func:`scan_files` is that scan and
:func:`basenames` its one rule: rows are keyed on the file's basename,
so two live files sharing one are refused.  :mod:`.delta` and
:mod:`.iceberg` keep only their codecs (Delta ``add``/``cdc`` actions
with JSON stats, ``partitionValues`` and deletion-vector descriptors;
Iceberg ``data_file`` records with binary bounds, identity constants
and sequence-gated deletes) and their claim and rebase steps.

The Python DataSources (``format("delta"|"iceberg"|"delta_stream"|
"iceberg_stream")``) read the same way on the executors: each codec
plans tasks (:class:`FileTask`: files, per-file constants, position
sources and equality-delete key files, each gated to the files it
applies to) and :func:`read_arrow`, the one Arrow-batch reader, turns
each into Arrow record batches of the declared schema.

A file that no commit names is either staged by a writer still in
flight or left by one that crashed.  :data:`ORPHAN_AGE_FLOOR_MS` is
the one age below which maintenance (``vacuum_delta``,
``expire_snapshots``) never reclaims such a file.

``os.link`` assumes a filesystem with atomic link semantics (POSIX,
NFSv4, HDFS-mounted).  On an object store the same guarantee needs an
external put-if-absent coordinator (the LogStore seam delta-spark
requires on S3); a cloud deployment swaps :func:`put_if_absent` and
nothing else changes.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import urllib.parse
import uuid
from typing import Callable, Iterable

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import InputPartition
from pyspark.sql.types import StructType

from .readers import empty_frame


class CommitConflict(RuntimeError):
    """A concurrent writer claimed the version this commit computed.

    Raised by operations that read a snapshot and therefore cannot be
    rebased blindly: Delta DELETE/UPDATE/MERGE/OPTIMIZE/RESTORE and
    ``write_delta(read_version=)``, Iceberg upsert/merge/delete/
    compaction/evolution — delta-spark's winning-commit reconciliation
    likewise fails these and asks the caller to re-run.  Blind appends
    (``write_delta``, ``write_iceberg``) pass :func:`commit_loop` a
    rebase step and land on top of the winner instead, unless the
    winner invalidated them or they lose :data:`COMMIT_ATTEMPTS`
    times."""


#: Claims one commit makes before it gives up (the first claim plus
#: the rebased ones); ``Catalog._retry`` re-runs a whole
#: read-check-commit as often.
COMMIT_ATTEMPTS = 5

#: Minimum age (1 h) of a file that no commit names before
#: maintenance may reclaim it: a younger one may be a concurrent
#: writer's staged file, which its commit is about to name — the race
#: delta-spark guards with retentionDurationCheck and iceberg-spark
#: with ``deleteOrphanFiles(olderThan)``.
ORPHAN_AGE_FLOOR_MS = 3600 * 1000


#: No positions: what :func:`_positions` holds for a file it names none in.
_NO_POS = np.empty(0, np.int64)


#: The tags a scan puts on its rows: the data file's basename and the
#: row's position in it (the scan's ``_metadata.file_name`` and
#: ``_metadata.row_index``, deterministic outputs, so filters still
#: push into the scan).
FILE, POS = "_lake_file", "_lake_pos"
_METADATA = {FILE: "file_name", POS: "row_index"}


def basenames(paths: Iterable[str]) -> list[str]:
    """The unquoted basename of each data file, in order.  Tags,
    per-file constants and ``(FILE, POS)`` kills key rows on it, so
    two files sharing one would attribute rows to the wrong file:
    raise instead."""
    out = [os.path.basename(urllib.parse.unquote(p)) for p in paths]
    if len(set(out)) != len(out):
        raise ValueError(
            "cannot attribute rows to files: duplicate data file "
            "basenames (rewrite the table's files under unique names)"
        )
    return out


def tag_columns(tags: Iterable[str]) -> list[Column]:
    """The columns of ``tags`` (a subset of :data:`FILE`, :data:`POS`),
    in that order.  Select them on the parquet scan itself, before any
    join: ``_metadata`` resolves only against the scan relation."""
    tags = set(tags)
    return [
        F.col(f"_metadata.{_METADATA[t]}").alias(t)
        for t in (FILE, POS) if t in tags
    ]


def scan_files(
    spark: SparkSession,
    files: list[str],
    schema: StructType,
    consts: tuple[list[str], dict[str, dict]] | None = None,
    kills: DataFrame | None = None,
    tags: Iterable[str] = (),
    read: Callable[[list[str], list[str]], DataFrame] | None = None,
) -> DataFrame:
    """Scan the parquet ``files`` (absolute paths) as ``schema``, plus
    the ``tags`` asked for.  No files gives no rows.

    ``consts`` is ``(cols, {basename: {col: wire string}})``: the
    ``cols`` of ``schema`` served per file from one broadcast map,
    joined on :data:`FILE` and cast through ``schema``.  ``kills`` is a
    ``(FILE, POS)`` frame of dead rows, removed by one left-anti join;
    the caller decides whether to broadcast it.  ``read(files, tags)``
    returns the files' rows with the ``tags`` selected on the scan
    (:func:`tag_columns`); by default one ``FileScan`` of the columns
    ``consts`` does not serve.  Any use of :data:`FILE` checks
    :func:`basenames`."""
    tags = set(tags)
    cols, cmap = consts or ([], {})
    want = [
        t for t in (FILE, POS)
        if t in tags or kills is not None or (t == FILE and cols)
    ]
    if not files:
        out = empty_frame(spark, schema)
        for t in (FILE, POS):
            if t in tags:
                out = out.withColumn(
                    t, F.lit(None).cast("string" if t == FILE else "long")
                )
        return out
    if FILE in want:
        basenames(files)
    if read is None:
        data = StructType([f for f in schema.fields if f.name not in cols])

        def read(fs: list[str], t: list[str]) -> DataFrame:
            df = spark.read.schema(data).parquet(*fs)
            return df.select("*", *tag_columns(t)) if t else df

    out = read(files, want)
    if cols:
        import pandas as pd

        # Arrow-path createDataFrame: the map is driver-local and tiny
        # next to the scan, and plans as a LocalRelation
        pmap = spark.createDataFrame(
            pd.DataFrame(
                sorted((b, *[v.get(c) for c in cols]) for b, v in cmap.items()),
                columns=[FILE, *cols],
            ),
            ", ".join([f"{FILE} string"] + [f"`{c}` string" for c in cols]),
        )
        # a reader that yields the constant columns too (Iceberg's
        # renamed-column union fills them with NULL) gives them up here
        out = out.drop(*[c for c in cols if c in out.columns])
        out = out.join(F.broadcast(pmap), FILE).select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in cols else F.col(f.name)
                for f in schema.fields
            ],
            *want,
        )
    if kills is not None:
        out = out.join(kills, [FILE, POS], "left_anti")
    drop = [t for t in want if t not in tags]
    return out.drop(*drop) if drop else out


class FileTask(InputPartition):
    """One task of a Python lake DataSource, read by :func:`read_arrow`.
    It carries planning-sized descriptors only:

    - ``files``: ``{"path", "consts"}`` per data file; ``consts`` maps a
      reader column to the wire string (None: NULL) every row of the
      file carries, over the file's own column;
    - ``colmap(file_schema, path)``: the codec's reader → file column
      map for one file (or key file);
    - ``kills`` / ``only``: position sources whose positions are
      removed / the only positions read (None: no restriction).  A
      source is a Delta deletion vector ``{"dv", "root", "files"}`` or
      an Iceberg position-delete file ``{"path", "files"}``;
    - ``eq`` / ``eq_only``: equality-delete key files ``{"path",
      "keys", "files"}`` whose keys kill rows / the only rows kept
      (None: no restriction).

    Every source's ``files`` lists the :func:`basenames` it applies to:
    the codec gates it at planning time, so a source that applies to no
    file of the task is not shipped, and is never opened."""

    def __init__(
        self,
        files: list[dict],
        colmap: Callable,
        kills: list[dict] = (),
        only: list[dict] | None = None,
        eq: list[dict] = (),
        eq_only: list[dict] | None = None,
    ) -> None:
        self.files = files
        self.colmap = colmap
        self.kills = kills
        self.only = only
        self.eq = eq
        self.eq_only = eq_only


def read_arrow(task: FileTask, schema: StructType, chunk: int = 1 << 16):
    """The one executor reader of every Python lake DataSource: yields
    ``pyarrow.RecordBatch``es of ``task``'s rows as ``schema``.

    Per file: one take of the ``only`` positions or one mask of the
    ``kills``, one select-and-rename through ``colmap`` (a column it
    does not resolve is NULL), one repeated array per constant, one
    cast to ``schema``'s Arrow type.  Equality deletes then run over
    the task's rows, one key file at a time and ``chunk`` key rows at a
    time, as NULL-safe membership tests."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    names = basenames(f["path"] for f in task.files)
    dead = _positions(task.kills)
    want = None if task.only is None else _positions(task.only)
    parts, owner = [], []
    for i, (f, b) in enumerate(zip(task.files, names)):
        gone = dead.get(b, _NO_POS)
        if want is not None:
            pick = np.setdiff1d(want.get(b, _NO_POS), gone)
            if not pick.size:
                continue  # nothing to read: the file is never opened
        pf = pq.ParquetFile(f["path"])
        consts = f.get("consts") or {}
        cm = {
            k: c for k, c in task.colmap(pf.schema_arrow, f["path"]).items()
            if k in target.names and k not in consts
        }
        table = pf.read(columns=sorted(set(cm.values())))
        # the row count is kept apart: a table of no columns loses it
        n = pf.metadata.num_rows
        if want is not None:
            pick = pick[pick < n]
            table, n = table.take(pick), pick.size
        elif gone.size:
            keep = np.ones(n, bool)
            keep[gone[gone < n]] = False
            table, n = table.filter(keep), int(keep.sum())
        table = pa.table(
            [
                _const(consts[fld.name], fld.type, n) if fld.name in consts
                else _unit_us(table.column(cm[fld.name])) if fld.name in cm
                else pa.nulls(n, fld.type)
                for fld in target
            ],
            names=target.names,
        ).cast(target)
        if task.eq or task.eq_only is not None:
            parts.append(table)
            owner.append(np.full(n, i))
        else:
            yield from table.to_batches()
    if not parts:
        return
    table, owner = pa.concat_tables(parts), np.concatenate(owner)
    if task.eq:
        keep = ~_eq_hits(table, owner, names, task.eq, task.colmap, chunk)
        table, owner = table.filter(keep), owner[keep]
    if task.eq_only is not None:
        table = table.filter(
            _eq_hits(table, owner, names, task.eq_only, task.colmap, chunk)
        )
    yield from table.to_batches()


def _const(value: str | None, typ, n: int):
    """``n`` copies of one wire string as Arrow type ``typ``.  A
    zone-less timestamp string reads as UTC, the session's zone."""
    import pyarrow as pa

    if value is None:
        return pa.nulls(n, typ)
    arr = pa.array([value], pa.string())
    if pa.types.is_timestamp(typ) and typ.tz is not None:
        with contextlib.suppress(pa.ArrowInvalid):  # a zoned string
            arr = arr.cast(pa.timestamp(typ.unit))  # casts directly
    return pa.repeat(arr.cast(typ)[0], n)


def _unit_us(col):
    """A nanosecond timestamp column truncated to microseconds, Spark's
    unit: the one unsafe cast; every other cast stays safe."""
    import pyarrow as pa

    if pa.types.is_timestamp(col.type) and col.type.unit == "ns":
        return col.cast(pa.timestamp("us", col.type.tz), safe=False)
    return col


def _positions(sources: list[dict] | None) -> dict:
    """Data-file basename → the sorted positions ``sources`` name in it
    (each source limited to its ``files``)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out: dict = {}
    for s in sources or ():
        if "dv" in s:
            from .delta import _load_dv_positions  # delta imports this module

            got = {s["files"][0]: np.asarray(
                _load_dv_positions(s["root"], s["dv"]), np.int64
            )}
        else:
            t = pq.read_table(s["path"], columns=["file_path", "pos"])
            fp = pc.dictionary_encode(t.column("file_path").combine_chunks())
            code = fp.indices.to_numpy()
            pos = t.column("pos").to_numpy()
            base = [
                os.path.basename(urllib.parse.unquote(p))
                for p in fp.dictionary.to_pylist()
            ]
            got = {
                b: pos[np.isin(code, [i for i, x in enumerate(base) if x == b])]
                for b in s["files"]
            }
        for b, p in got.items():
            out[b] = np.union1d(out.get(b, _NO_POS), p)
    return out


def _eq_hits(table, owner, names, deletes, colmap, chunk: int):
    """Which rows of ``table`` (row ``r`` read from file
    ``names[owner[r]]``) an equality-delete key file of ``deletes``
    carries, each key file limited to its ``files``.  Key files are
    read one at a time, ``chunk`` rows at a time."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    hit = np.zeros(table.num_rows, bool)
    for d in sorted(deletes, key=lambda d: (d["keys"], d["path"])):
        rows = np.isin(owner, [i for i, b in enumerate(names) if b in d["files"]])
        rows &= ~hit
        if not rows.any():
            continue
        pf = pq.ParquetFile(d["path"])
        cm = colmap(pf.schema_arrow, d["path"])
        data = [table.column(k) for k in d["keys"]]
        cols = [cm[k] for k in d["keys"] if k in cm]
        # a key file without any key column: every row is the all-NULL key
        batches = (
            pf.iter_batches(batch_size=chunk, columns=cols) if cols
            else [None] if pf.metadata.num_rows else []
        )
        for batch in batches:
            keys = [
                _unit_us(batch.column(cm[k])).cast(c.type) if k in cm
                else pa.nulls(1 if batch is None else batch.num_rows, c.type)
                for k, c in zip(d["keys"], data)
            ]
            hit |= rows & _member(data, keys)
    return hit


def _member(data: list, keys: list):
    """Per row of the ``data`` columns: does some row of the ``keys``
    columns (same types) carry the same composite value?  NULL equals
    NULL.  Each column's values, data and keys together, are
    dictionary-encoded with NULL as one more code, and the codes fold
    column by column into one non-NULL int64 per row (re-encoded after
    each fold, so it stays below the row count squared); membership is
    then one ``is_in`` on the folded codes."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(data[0])
    code = None
    for d, k in zip(data, keys):
        enc = pc.dictionary_encode(
            pa.concat_arrays([*d.chunks, k]), null_encoding="encode"
        )
        idx = enc.indices.cast(pa.int64())
        if code is not None:
            idx = pc.add(pc.multiply(code, len(enc.dictionary)), idx)
        code = pc.dictionary_encode(idx).indices.cast(pa.int64())
    return pc.is_in(code[:n], value_set=code[n:]).to_numpy(zero_copy_only=False)


def commit_loop(
    claim: Callable[[], int],
    staged: Iterable[str],
    rebase: Callable[[], int | None] | None = None,
) -> int:
    """Publish one commit and return its version.  ``claim`` writes
    the commit file with :func:`put_if_absent` and returns the version
    it claimed; it raises ``FileExistsError`` when a rival claimed
    that version first.  ``staged`` lists the files this call wrote
    for the commit and nothing else: a file the commit only references
    is not the call's to delete.

    Without ``rebase`` a lost claim raises :class:`CommitConflict`.
    A blind append passes ``rebase``, which re-reads the winners: it
    raises when they invalidate the write, returns the version of a
    winner that already applied it (txn idempotence), or returns None
    and the loop claims again, at most :data:`COMMIT_ATTEMPTS` times.
    Every exit that publishes nothing (a conflict, an applied txn, the
    attempts spent) unlinks ``staged``.  Any other error from
    ``claim`` leaves them: the claim may have published."""
    try:
        for _attempt in range(COMMIT_ATTEMPTS):
            try:
                return claim()
            except FileExistsError as e:
                if rebase is None:
                    name = os.path.basename(e.filename2 or e.filename or "")
                    raise CommitConflict(
                        f"commit conflict: a concurrent writer claimed "
                        f"{name or 'this version'} first, so this operation "
                        "read a stale snapshot; re-run it against the "
                        "current table state (a retry re-reads it)"
                    ) from e
            won = rebase()
            if won is not None:
                _unlink(staged)
                return won
        raise CommitConflict(
            f"lost the commit race {COMMIT_ATTEMPTS} times — the table is "
            "under write contention this writer cannot keep up with; retry"
        )
    except (CommitConflict, FileExistsError):
        _unlink(staged)
        raise


def _unlink(paths: Iterable[str]) -> None:
    for p in paths:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(p)


def stage_parquet(
    df: DataFrame,
    staging_prefix: str,
    dest_dir: str,
    name: Callable[[int, str], str],
    partition_by: list[str] | tuple[str, ...] = (),
) -> list[tuple[str, dict[str, str | None]]]:
    """Write ``df`` as parquet into a fresh ``{staging_prefix}{hex}``
    directory, move every part file to ``dest_dir/name(i, part_name)``
    (``i`` counts the files in sorted staging order) and return one
    ``(dest_path, partition_values)`` pair per file.  The values are
    the hive ``k=v`` segments of the file's staging subdirectory,
    unquoted, with ``__HIVE_DEFAULT_PARTITION__`` as None.  The staging
    directory is removed in a ``finally``: a write that fails mid-job
    leaves nothing behind in the table."""
    staging = f"{staging_prefix}{uuid.uuid4().hex[:12]}"
    try:
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        os.makedirs(dest_dir, exist_ok=True)
        out: list[tuple[str, dict[str, str | None]]] = []
        for root, _dirs, files in sorted(os.walk(staging)):
            rel = os.path.relpath(root, staging)
            pvals: dict[str, str | None] = {}
            for seg in [] if rel == "." else rel.split(os.sep):
                k, _, v = seg.partition("=")
                pvals[k] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__"
                    else urllib.parse.unquote(v)
                )
            for f in sorted(files):
                if not f.endswith(".parquet"):
                    continue
                dst = os.path.join(dest_dir, name(len(out), f))
                os.replace(os.path.join(root, f), dst)
                out.append((dst, pvals))
        return out
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def footer_min_max(
    fpath: str,
) -> tuple[int, dict[str, object], dict[str, object]] | None:
    """``(num_rows, mins, maxs)`` from an already-written parquet
    footer, the per-row-group statistics folded per column path.
    Columns without min/max, with binary values, or whose statistics
    pyarrow cannot extract (e.g. decimals) are absent; None when the
    footer is unreadable.  Stats are an optimization: callers record
    what is present and treat the rest as unprunable."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(fpath).metadata
    except Exception:  # noqa: BLE001 — stats are an optimization, never fatal
        return None
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
            try:
                lo, hi = s.min, s.max
            except Exception:  # noqa: BLE001 — e.g. pyarrow cannot
                continue  # extract decimal statistics; stats optional
            if isinstance(lo, bytes) or isinstance(hi, bytes):
                continue
            if name not in mins or lo < mins[name]:  # type: ignore[operator]
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:  # type: ignore[operator]
                maxs[name] = hi
    return md.num_rows, mins, maxs


def prune_by_bounds(
    files: Iterable,
    bounds: Callable[[object, str], tuple | None],
    ranges: Iterable[tuple[str, object, object]],
) -> tuple[list, list]:
    """Split ``files`` into ``(kept, skipped)``, both in input order,
    for a read of ``lo <= column <= hi`` on every ``(column, lo, hi)``
    of ``ranges`` (conjoined: a composite key prunes on any column).
    ``bounds(file, column)`` is the format's codec: the file's decoded
    ``(min, max)``, or None.  A file is skipped only when both bounds
    are present and provably miss some range.  A range with a None end
    is ignored, and a bound that does not compare with it (a
    ``TypeError``, e.g. a foreign writer's serialization) keeps the
    file: wrong-to-prune is the only fatal direction."""
    live = [r for r in ranges if r[1] is not None and r[2] is not None]
    kept: list = []
    skipped: list = []
    for f in files:
        miss = any(_misses(bounds(f, c), lo, hi) for c, lo, hi in live)
        (skipped if miss else kept).append(f)
    return kept, skipped


def _misses(b: tuple | None, lo, hi) -> bool:
    mn, mx = b or (None, None)
    try:
        return mn is not None and mx is not None and bool(mx < lo or mn > hi)
    except TypeError:
        return False


def put_if_absent(final: str, text: str) -> None:
    """Publish ``text`` at ``final`` atomically unless ``final`` exists:
    write a temp file beside it and ``os.link`` it to the final name.
    The link fails with ``FileExistsError`` if the name is taken, so
    concurrent writers of one version get exactly one winner; readers
    never see a partial file, and the temp file goes on every exit,
    a failed write (a full disk) included."""
    tmp = os.path.join(os.path.dirname(final), f".tmp-{uuid.uuid4().hex[:12]}")
    try:
        with open(tmp, "w") as fh:
            fh.write(text)
        os.link(tmp, final)
    finally:
        _unlink([tmp])
