"""Result checks: a registry key's rows against its DuckDB oracle.

The comparison matches the repository's differential harness: same
column-name set, same row count, and the same order-insensitive
multiset of canonicalized row values.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime
from decimal import Decimal

import duckdb
import numpy as np

from .gen import TABLES


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        return _canon(float(v))
    if isinstance(v, np.ndarray):
        return tuple(_canon(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return v


def canonical(cols: list[str], rows) -> tuple[tuple[str, ...], list[tuple]]:
    """(sorted column names, sorted rows with columns in that order)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(repr(x) for x in t),
    )
    return tuple(cols[i] for i in order), data


def digest(cols: list[str], rows) -> str:
    """Order-insensitive fingerprint of a result, for cheap re-checks
    of later executions against a verified first one."""
    names, data = canonical(cols, rows)
    return hashlib.sha1(repr((names, data)).encode()).hexdigest()


def compare(cols: list[str], rows, con, sql: str) -> str | None:
    """None when the rows equal the oracle's, else a one-line reason."""
    d = con.execute(sql)
    d_cols = [c[0] for c in d.description]
    d_rows = d.fetchall()
    if sorted(cols) != sorted(d_cols):
        return f"columns differ: {sorted(cols)} vs oracle {sorted(d_cols)}"
    if len(rows) != len(d_rows):
        return f"row count differs: {len(rows)} vs oracle {len(d_rows)}"
    a, b = canonical(cols, rows)[1], canonical(d_cols, d_rows)[1]
    if a != b:
        first = next((x, y) for x, y in zip(a, b) if x != y)
        return f"values differ, first: {first}"
    return None


def _duck_round6(x: float) -> float:
    """DuckDB ROUND(double, 6): round half away from zero of x * 1e6."""
    q = x * 1e6
    f = math.floor(q)
    return (f + 1 if q - f >= 0.5 else f) / 1e6


def shingle_jaccard_pairs(texts: dict[int, str], threshold: float) -> list[tuple]:
    """Exact (id_a, id_b, jaccard) pairs over distinct word-trigram
    shingles, id_a < id_b, Jaccard >= threshold, rounded as DuckDB does.

    Same definition as q_dedup_minhash's oracle, evaluated through an
    inverted index: a pair above any positive threshold shares at
    least one shingle, so only pairs that share one are scored. The
    oracle's brute-force pair scan takes minutes at the benchmark's
    corpus size; this takes well under a second.
    """
    from collections import Counter, defaultdict

    sh = {}
    for d, t in texts.items():
        w = t.split(" ")
        if len(w) >= 3:
            sh[d] = {f"{w[i]}_{w[i + 1]}_{w[i + 2]}" for i in range(len(w) - 2)}
    post = defaultdict(list)
    for d in sorted(sh):
        for g in sh[d]:
            post[g].append(d)
    inter: Counter = Counter()
    for ds in post.values():
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                inter[(a, b)] += 1
    out = []
    for (a, b), c in inter.items():
        j = c / (len(sh[a]) + len(sh[b]) - c)
        if j >= threshold:
            out.append((a, b, _duck_round6(j)))
    return out
