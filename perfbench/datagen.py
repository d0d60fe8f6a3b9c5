"""Seeded generator of the engine's input tables.

Produces the ten tables the query registry reads (a TPC-H-shaped star
plus ``events``, ``documents`` and ``embeddings``) with the column
names, types and value domains of the engine's fixtures, from a seed
alone.  Each table is written in the byte-proportional split layout:
a directory ``<table>.parquet`` holding contiguous row slices, one
slice per ~192 KB of single-file parquet, capped at ``max(64, 2 x
cpus)`` slices.  Spark reads the directory as one table; DuckDB reads
``<table>.parquet/*.parquet``.
"""

from __future__ import annotations

import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL"]
_ADJ = ["large", "hot", "blue", "small", "red", "green", "cold", "shiny"]
_NOUN = ["ring", "bolt", "nut", "pipe", "gear", "valve", "screw", "plate"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a the data spark line column order small sort value scan hash slow "
    "group fast batch agg filter big key window row part table stream "
    "merge query join vector customer"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf`` (sf 0.01: 15 000 orders, ~60 000
    lineitems, 10 000 events, 500 documents)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_evt = max(10, int(1_000_000 * sf))
    n_doc = max(10, int(50_000 * sf))
    n_emb = max(10, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pa.table({
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array((nk % 5).astype(np.int32)),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(sk),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.asarray(_ADJ, dtype=object)[rng.integers(0, len(_ADJ), n_part)]
    noun = np.asarray(_NOUN, dtype=object)[rng.integers(0, len(_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2)),
    })

    ok = np.arange(n_ord, dtype=np.int64)
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })

    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, lines)
    n_li = len(l_ok)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_num = (np.arange(n_li) - starts + 1).astype(np.int32)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(l_num),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * _DAY_US),
    })

    n_users = max(2, int(n_evt * 0.015))
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_evt))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_evt).astype(np.int64)),
        "event_type": _pick(rng, _EVENTS, n_evt),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })

    # word soup with planted near-duplicates (an earlier doc with one or
    # two words replaced), so the dedup operators have pairs to find
    docs: list[str] = []
    words = np.asarray(_WORDS, dtype=object)
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.15:
            base = docs[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                base[int(rng.integers(0, len(base)))] = str(words[rng.integers(0, len(words))])
            docs.append(" ".join(base))
        else:
            docs.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 90)))]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(docs),
        "lang": _pick(rng, _LANGS, n_doc),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.asarray([len(d) for d in docs], dtype=np.int64)),
    })

    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return t


def parquet_bytes(table: pa.Table) -> int:
    """Size of ``table`` as one snappy parquet file, the benchmark's
    own encoding of user rows."""
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return buf.tell()


def write_split_layout(tables: dict[str, pa.Table], out_dir: str, max_slices: int) -> int:
    """Write every table as ``<out_dir>/<name>.parquet/part-NNNNN.parquet``
    contiguous row slices; returns the number of files written."""
    files = 0
    for name, tbl in tables.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d)
        n = max(1, min(max_slices, parquet_bytes(tbl) // (192 * 1024), tbl.num_rows))
        per = -(-tbl.num_rows // n)
        for i, off in enumerate(range(0, tbl.num_rows, per)):
            pq.write_table(tbl.slice(off, per), os.path.join(d, f"part-{i:05d}.parquet"),
                           compression="snappy")
            files += 1
    return files
