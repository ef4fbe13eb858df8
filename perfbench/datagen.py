"""Seeded synthetic inputs for the lake benchmark.

The tables follow the schemas and value distributions of the package's
test tiers (TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``): one parquet file per table with one row group, so the
scan shapes the operators were tuned for are the ones measured. Row
counts depend only on ``sf``, except lineitem's (one to seven lines per
order, about four on average); values depend only on ``seed``. The same
``(sf, seed)`` always gives byte-identical files, so a generated tier
is cached on disk, keyed by this file's contents, and reused.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
_NEAR_DUP_SHARE = 0.05
_EMB_DIM = 64
_EMB_LABELS = 10


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (the test tiers' sizes)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(5, round(10_000 * sf)),
        "part": max(10, round(200_000 * sf)),
        "orders": max(10, round(1_500_000 * sf)),
        "events": max(100, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng: np.random.Generator, n: int, start: dt.date, end: dt.date) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    keys = np.arange(npart)
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, i64),
            "p_name": names[rng.integers(0, len(names), npart)],
            "p_brand": np.array([f"Brand#{k}" for k in range(1, 26)])[rng.integers(0, 25, npart)],
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    # TPC-H line structure: each order holds lines 1..k (k uniform in
    # 1..7, four on average), so (l_orderkey, l_linenumber) is the key
    # the preview queries order by. Rows are shuffled across orders.
    lines = rng.integers(1, 8, no)
    orderkey = np.repeat(np.arange(no), lines)
    linenumber = np.arange(len(orderkey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    perm = rng.permutation(len(orderkey))
    orderkey, linenumber = orderkey[perm], linenumber[perm]
    nl = len(orderkey)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(orderkey, i64),
            "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(linenumber, i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, ne)).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(15, round(15_000 * sf)), ne), i64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(nd)]
    # Near duplicates: a copy of another document plus one marker word;
    # two copies of the same source are exact duplicates of each other.
    dups = rng.choice(nd, round(nd * _NEAR_DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(nd), dups)
    for d, src in zip(dups, rng.choice(originals, len(dups))):
        texts[d] = texts[src] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(len(_LANGS), nd, p=_LANG_P)],
            "source": [f"src{k % 20}" for k in range(nd)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, nv: int) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (_EMB_LABELS, _EMB_DIM))
    labels = rng.integers(0, _EMB_LABELS, nv)
    vecs = centers[labels] + rng.normal(0.0, 1.0, (nv, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def ensure_tier(root: str, sf: float, seed: int) -> str:
    """Write (once) and return the directory holding the ``(sf, seed)``
    tier. A tier is published by renaming a finished staging directory,
    so a run killed half-way never leaves a partial tier behind."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:8]
    out = os.path.join(root, f"sf{sf:g}_seed{seed}_{version}")
    if os.path.isdir(out):
        return out
    stage = out + ".staging"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(stage, f"{name}.parquet"), row_group_size=len(table))
    os.replace(stage, out)
    return out


def write_tsv(table: pa.Table, path: str, seed: int) -> int:
    """Headered TSV of ``table`` with rows in a seed-chosen order (the
    raw-zone drop the crawler and the ETL job read). Returns its size."""
    order = np.random.default_rng(seed).permutation(len(table))
    pdf = table.take(pa.array(order)).to_pandas()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].dt.strftime("%Y-%m-%d")
    tmp = path + ".tmp"
    pdf.to_csv(tmp, sep="\t", index=False)
    os.replace(tmp, path)
    return os.path.getsize(path)


def split_events(table: pa.Table, n_files: int) -> list[pa.Table]:
    """``events`` cut by time into ``n_files`` consecutive slices (the
    table is sorted by ``ts``), one per scheduled stream drop."""
    bounds = np.linspace(0, len(table), n_files + 1).astype(int)
    return [table.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]
