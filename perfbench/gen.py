"""Seeded input generator for the benchmark.

Writes the ten fixture tables the package reads (schemas: FIXTURES.md)
as one parquet file each, from a seed alone. The star schema and the
events table follow the shape of the sf0.01 fixtures. The documents and
embeddings tables form the dedup corpus: ``N_DOCS`` documents, of which
``NEAR_DUP_RATE`` are near-duplicates of an earlier document and
``EXACT_DUP_RATE`` exact copies. Copies come in clusters of one base and
``COPIES`` copies, each near-duplicate with about ``EDIT_RATE`` of its
words replaced. A copy's embedding is its base's
vector plus small noise. Sizes, rates and cluster sizes do not depend
on the seed, so neither does the number of duplicate pairs, and nor do
the embeddings' class centers and labels; the seed picks the words,
which documents are bases and the values.

Run ``python3 perfbench/gen.py <out_dir> <seed>`` to write one set.
"""

from __future__ import annotations

import os
import sys
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 1200
NEAR_DUP_RATE = 0.20
EXACT_DUP_RATE = 0.02
COPIES = 2
EDIT_RATE = 0.05
DIM = 64
N_EVENTS = 10_000
N_USERS = 150
N_CUSTOMERS = 1_500
N_SUPPLIERS = 100
N_PARTS = 2_000
N_ORDERS = 15_000

# The fixture vocabulary plus generated terms: with 30 words every
# document shares most word bigrams with every other, which no real
# corpus does, so the corpus draws uniformly from 400 terms.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split() + [f"t{i}" for i in range(370)]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _days(rng, start: datetime, end: datetime, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span + 1, n) * 86_400_000_000).astype(
        "timedelta64[us]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _star(rng) -> dict[str, pa.Table]:
    i32 = pa.int32()
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMERS),
            "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMERS),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(N_SUPPLIERS, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIERS).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIERS),
        }),
        "part": pa.table({
            "p_partkey": np.arange(N_PARTS, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(P_ADJ, N_PARTS), rng.choice(P_NOUN, N_PARTS))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PARTS)],
            "p_type": rng.choice(P_TYPES, N_PARTS),
            "p_size": rng.integers(1, 51, N_PARTS).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(N_PARTS) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _days(rng, datetime(1995, 1, 1), datetime(2001, 8, 1), N_ORDERS),
            "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
        }),
    }
    lines = rng.integers(1, 8, N_ORDERS)
    n = int(lines.sum())
    out["lineitem"] = pa.table({
        "l_orderkey": np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, N_PARTS, n),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, n),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, datetime(1995, 1, 2), datetime(2001, 11, 4), n),
    })
    return out


def _events(rng) -> pa.Table:
    start = np.datetime64(datetime(2024, 1, 1), "us")
    span_us = int(timedelta(days=30).total_seconds() * 1_000_000)
    ts = start + np.sort(rng.integers(0, span_us, N_EVENTS)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })


def corpus_plan(rng, n: int) -> np.ndarray:
    """base[i] = the earlier document i copies, or -1 for an original.

    Originals come first in id order so every copy points backwards;
    each base has exactly COPIES copies.
    """
    n_copies = int(round(n * NEAR_DUP_RATE)) + int(round(n * EXACT_DUP_RATE))
    n_orig = n - n_copies
    bases = rng.choice(n_orig, size=-(-n_copies // COPIES), replace=False)
    base = np.full(n, -1, dtype=np.int64)
    base[n_orig:] = bases[np.arange(n_copies) // COPIES]
    return base


def _corpus(rng) -> tuple[pa.Table, pa.Table]:
    n = N_DOCS
    base = corpus_plan(rng, n)
    n_exact = int(round(n * EXACT_DUP_RATE))
    exact = np.zeros(n, dtype=bool)
    exact[n - n_exact:] = True
    vocab = np.array(VOCAB)
    words: list[np.ndarray] = []
    for i in range(n):
        if base[i] < 0:
            words.append(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
        elif exact[i]:
            words.append(words[base[i]].copy())
        else:
            w = words[base[i]].copy()
            hit = rng.random(len(w)) < EDIT_RATE
            w[hit] = vocab[rng.integers(0, len(vocab), int(hit.sum()))]
            words.append(w)
    text = [" ".join(w) for w in words]

    # The class centers and labels do not depend on the seed: they set
    # the k-means cells, and so how many candidates an IVF probe scans.
    labels = (np.arange(n) % 10).astype(np.int32)
    centers = np.random.default_rng(0).normal(0.0, 0.15, (10, DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.12, (n, DIM))
    for i in np.nonzero(base >= 0)[0]:
        labels[i] = labels[base[i]]
        noise = 0.0 if exact[i] else 0.01
        vecs[i] = vecs[base[i]] + rng.normal(0.0, noise, DIM)
    vecs = vecs.astype(np.float32)

    docs = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    emb = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    return docs, emb


def generate(out_dir: str, seed: int) -> None:
    """Write all ten tables for ``seed`` into ``out_dir`` (atomic:
    a partial directory never appears under the final name)."""
    rng = np.random.default_rng(seed)
    tables = _star(rng)
    tables["events"] = _events(rng)
    tables["documents"], tables["embeddings"] = _corpus(rng)
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out_dir)


def ensure(cache_root: str, seed: int) -> str:
    """Cached input directory for ``seed``, generated on first use. The
    key includes a digest of this file, so editing the generator never
    serves inputs an older version wrote."""
    import hashlib

    with open(__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:8]
    path = os.path.join(cache_root, f"seed{seed}-{version}")
    if not os.path.isdir(path):
        os.makedirs(cache_root, exist_ok=True)
        generate(path, seed)
    return path


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
