"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (`oxidsql_spark.sources.TABLES`)
with the column names, types and value domains of the fixture tables
the registry's oracles are written against: a TPC-H-shaped star schema
scaled by ``sf``, an ``events`` stream table, and the fixed-size
``documents`` / ``embeddings`` corpora.  The same seed gives the same
rows, byte for byte.

Each table is written straight into the multi-file layout bench.py
builds (files ~ bytes / per-table target, capped at the core count;
the targets are imported from bench.py, not repeated), so the layout
is rebuilt from scratch on every run and no state outlives it.
"""

from __future__ import annotations

import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "red", "small", "cold", "green", "bright"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a the data spark table column row value key join hash sort merge scan "
    "filter group agg window stream batch query order line part customer "
    "vector big small fast slow"
).split()
N_DOCS = 5000
N_SOURCES = 20
N_EMB = 2000
EMB_DIM = 64
N_LABELS = 10

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _tpch(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li = 4 * n_ord
    i32 = lambda a: pa.array(a, type=pa.int32())  # noqa: E731
    region = pa.table({"r_regionkey": i32(np.arange(5)), "r_name": REGIONS})
    nation = pa.table(
        {
            "n_nationkey": i32(np.arange(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32(np.arange(25) % 5),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(n_part, dtype=np.int64)
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
            "l_linenumber": i32(rng.integers(1, 8, n_li)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n_li) * _DAY_US),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def _events(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(1_000_000 * sf)
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, max(1, int(15_000 * sf)), n, dtype=np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random word sequences over the fixture vocabulary, 10-100 words."""
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    return [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]


def _near_copy(rng: np.random.Generator, text: str) -> str:
    """One or two word substitutions: a near-duplicate of ``text``."""
    w = text.split()
    for _ in range(int(rng.integers(1, 3))):
        w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(w)


def _documents(rng: np.random.Generator) -> pa.Table:
    texts = _doc_texts(rng, N_DOCS)
    # ~1% exact and ~2% near duplicates of earlier documents, so the
    # dedup and clustering heads have pairs to find
    for i in range(100, N_DOCS):
        r = rng.random()
        if r < 0.01:
            texts[i] = texts[int(rng.integers(0, i))]
        elif r < 0.03:
            texts[i] = _near_copy(rng, texts[int(rng.integers(0, i))])
    ids = np.arange(N_DOCS, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": _pick(rng, LANGS, N_DOCS, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, N_EMB)
    x = centers[labels] + rng.normal(0.0, 1.0, (N_EMB, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(N_EMB, dtype=np.int64),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(labels, type=pa.int32()),
        }
    )


def _n_files(tbl: pa.Table, name: str, cpus: int) -> int:
    """bench.py's multifile rule over the single-file parquet size."""
    from bench import DEFAULT_TGT_KB, FILE_TGT_KB

    buf = io.BytesIO()
    pq.write_table(tbl, buf)
    tgt = FILE_TGT_KB.get(name, DEFAULT_TGT_KB)
    return max(1, min(cpus, buf.tell() // (tgt << 10)))


def _write(tbl: pa.Table, out_dir: str, name: str, cpus: int) -> int:
    n = _n_files(tbl, name, cpus)
    tdir = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(tdir)
    step = -(-tbl.num_rows // n)
    for i in range(n):
        pq.write_table(
            tbl.slice(i * step, step), os.path.join(tdir, f"part-{i:05d}.parquet")
        )
    return n


def generate(out_dir: str, seed: int, sf: float, cpus: int, tables=None) -> dict[str, int]:
    """Write the requested tables (default: all) under ``out_dir`` and
    return {table: file count}.  Every table draws from its own stream
    of the seed, so asking for a subset gives the same rows."""
    want = set(tables) if tables else None
    makers = {
        "tpch": lambda r: _tpch(r, sf),
        "events": lambda r: {"events": _events(r, sf)},
        "documents": lambda r: {"documents": _documents(r)},
        "embeddings": lambda r: {"embeddings": _embeddings(r)},
    }
    tpch_names = {"region", "nation", "customer", "supplier", "part", "orders", "lineitem"}
    files: dict[str, int] = {}
    for i, (group, make) in enumerate(makers.items()):
        names = tpch_names if group == "tpch" else {group}
        if want is not None and not names & want:
            continue
        rng = np.random.default_rng([seed, i])
        for name, tbl in make(rng).items():
            if want is None or name in want:
                files[name] = _write(tbl, out_dir, name, cpus)
    return files
