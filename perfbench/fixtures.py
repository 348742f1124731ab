"""Deterministic synthetic fixtures for the benchmark.

The engine's queries read ten parquet tables from one directory per
scale factor (``FIXTURES.md``). The benchmark may only read inside its
own checkout, so it generates those tables here, with the schemas and
value distributions of the engine's test fixtures: a TPC-H-ish star
schema, an ``events`` stream table, a ``documents`` corpus with planted
near and exact duplicates, and unit-norm ``embeddings``.

The data depend only on the seed and the scale factor: the same seed
gives the same tables. One parquet file with one row group per table,
as the engine's fixtures have.
"""

from __future__ import annotations

import os
import time

# rows per table at scale factor 1; documents and embeddings have floors
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
FLOOR_ROWS = {"documents": 500, "embeddings": 500}
FIXED_ROWS = {"region": 5, "nation": 25}
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

WORDS = (
    "a the data table row column key value join group agg sort order "
    "filter scan hash merge window stream batch query part line customer "
    "spark vector small big fast slow"
).split()
LANGS = (("en", 0.44), ("fr", 0.14), ("es", 0.14), ("zh", 0.14), ("de", 0.14))
EMBED_DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    """Expected row count of every table at scale factor ``sf``."""
    out = dict(FIXED_ROWS)
    for name, base in BASE_ROWS.items():
        out[name] = max(FLOOR_ROWS.get(name, 0), round(base * sf))
    return out


def tables(sf: float, seed: int) -> dict:
    """Every fixture table at scale factor ``sf`` as a pyarrow Table."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed % 2**63)  # any int seed, negative too
    n = row_counts(sf)

    def money(lo: float, hi: float, size: int):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start: str, end: str, size: int):
        lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
        d = rng.integers(0, (hi - lo).astype(int) + 1, size)
        return (lo + d).astype("datetime64[us]")

    def pick(options, size: int):
        return np.asarray(options, dtype=object)[rng.integers(0, len(options), size)]

    def keys(size: int):
        return np.arange(size, dtype=np.int64)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": keys(c),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": keys(s),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, s),
    })
    p = n["part"]
    adjectives = ["small", "red", "blue", "hot", "cold", "new", "old", "big"]
    nouns = ["anvil", "widget", "bolt", "ring", "gear", "gizmo", "plate", "rod"]
    t["part"] = pa.table({
        "p_partkey": keys(p),
        "p_name": [f"{a} {b}" for a, b in zip(pick(adjectives, p), pick(nouns, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": keys(o),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": pick(["F", "O", "P"], o),
        "o_totalprice": money(1000.0, 500000.0, o),
        "o_orderdate": days("1995-01-01", "2001-08-01", o),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o),
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], li),
        "l_linestatus": pick(["F", "O"], li),
        "l_shipdate": days("1995-01-02", "2001-11-04", li),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    t["events"] = pa.table({
        "event_id": keys(e),
        "ts": start + np.sort(rng.integers(0, span_us, e)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, round(15_000 * sf)), e),
        "event_type": pick(["click", "view", "signup", "purchase", "error"], e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [" ".join(pick(WORDS, int(k))) for k in rng.integers(8, 100, d)]
    # 5% near-duplicates (an earlier document plus one token) and a few
    # exact duplicates, so the dedup queries find real pairs
    for i in range(1, d):
        if i % 20 == 11:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif i % 625 == 312:
            texts[i] = texts[int(rng.integers(0, i))]
    langs, weights = zip(*LANGS)
    t["documents"] = pa.table({
        "doc_id": keys(d),
        "text": texts,
        "lang": np.asarray(langs, dtype=object)[rng.choice(len(langs), d, p=weights)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    m = n["embeddings"]
    vecs = rng.standard_normal((m, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": keys(m),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m).astype(np.int32),
    })
    return t


def check(sf_dir: str, sf: float) -> str | None:
    """None when every table exists with its expected row count, else
    the first discrepancy."""
    import pyarrow.parquet as pq

    for name, want in row_counts(sf).items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            return f"{path} missing"
        got = pq.ParquetFile(path).metadata.num_rows
        if got != want:
            return f"{name}: {got} rows, expected {want}"
    return None


def generate(sf_dir: str, sf: float, seed: int) -> float:
    """Write the fixture for ``seed`` to ``sf_dir`` and check its row
    counts. Returns the seconds spent."""
    import pyarrow.parquet as pq

    t0 = time.perf_counter()
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"), row_group_size=1 << 30)
    problem = check(sf_dir, sf)
    if problem is not None:
        raise RuntimeError(f"generated fixture is incomplete: {problem}")
    return time.perf_counter() - t0
