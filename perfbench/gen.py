"""Seeded input generators for the benchmark.

Every table has the schema and value domains of the engine's sf0.1
test tables (TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), drawn from ``numpy.random.default_rng(seed)``: the
same seed gives byte-identical inputs, and the program under test sees
only the parquet files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts
SIZES = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(start: str, n: int, span: int, rng) -> pa.Array:
    day = np.datetime64(start, "D") + rng.integers(0, span, n)
    return pa.array(day.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(values, n: int, rng, p=None) -> pa.Array:
    return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)])


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(rng) -> dict[str, pa.Table]:
    n = SIZES
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
    }
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(-999.99, 9999.99, c, rng),
        "c_mktsegment": _pick(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"],
            c, rng,
        ),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(-999.99, 9999.99, s, rng),
    })
    p = n["part"]
    adj = ["large", "hot", "blue", "old", "small", "red", "green", "cold"]
    noun = ["ring", "bolt", "plate", "nut", "gear", "pipe", "wire", "cap"]
    out["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [
            f"{adj[a]} {noun[b]}"
            for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
        ],
        "p_brand": pa.array(
            np.char.add("Brand#", rng.integers(1, 26, p).astype(str))
        ),
        "p_type": _pick(
            ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], p, rng
        ),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": _pick(["O", "F", "P"], o, rng),
        "o_totalprice": _money(1000.0, 500_000.0, o, rng),
        "o_orderdate": _days("1995-01-01", o, 2405, rng),
        "o_orderpriority": _pick(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            o, rng,
        ),
    })
    out["lineitem"] = lineitem(rng, n["lineitem"], o, p, s)
    return out


def lineitem(rng, rows: int, orders: int, parts: int, supps: int) -> pa.Table:
    return pa.table({
        "l_orderkey": rng.integers(0, orders, rows),
        "l_partkey": rng.integers(0, parts, rows),
        "l_suppkey": rng.integers(0, supps, rows),
        "l_linenumber": rng.integers(1, 8, rows).astype(np.int32),
        "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
        "l_extendedprice": _money(900.0, 105_000.0, rows, rng),
        "l_discount": rng.integers(0, 11, rows) / 100.0,
        "l_tax": rng.integers(0, 9, rows) / 100.0,
        "l_returnflag": _pick(["N", "R", "A"], rows, rng),
        "l_linestatus": _pick(["F", "O"], rows, rng),
        "l_shipdate": _days("1995-01-02", rows, 2499, rng),
    })


def events(rng) -> pa.Table:
    e = SIZES["events"]
    gaps = rng.exponential(25.9e6, e).astype(np.int64)  # microseconds
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps)
    return pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, e),
        "event_type": _pick(
            ["signup", "purchase", "view", "click", "error"], e, rng
        ),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })


def doc_texts(rng, n: int) -> list[str]:
    """Docs of 10-100 tokens over the 30-word vocabulary. About 97% carry
    a "the" or "a" token, so most pass the curation quality gate."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), lens.sum())
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    return out


def documents(rng) -> pa.Table:
    """The corpus table. Like sf0.1 it plants 8 exact-duplicate pairs and
    ~5% near duplicates (an earlier doc's text plus one ``dup`` token)."""
    n = SIZES["documents"]
    text = doc_texts(rng, n)
    near = rng.choice(np.arange(n // 10, n), n // 20, replace=False)
    for i in near:
        text[i] = text[int(rng.integers(0, i))] + " dup"
    taken = set(near.tolist())
    free = [i for i in range(n) if i not in taken]
    pairs = rng.choice(free, 16, replace=False)
    for a, b in zip(pairs[::2], pairs[1::2]):
        text[b] = text[a]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": _pick(LANGS, n, rng, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def embeddings(rng) -> pa.Table:
    m, dim = SIZES["embeddings"], 64
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, m)
    vec = rng.normal(size=(m, dim)) + 0.5 * centers[label]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def write_tables(out_dir: str, seed: int) -> str:
    """Write every sf0.1-shaped table as ``<out_dir>/<name>.parquet``."""
    rng = np.random.default_rng(seed)
    tables = star_tables(rng)
    tables["events"] = events(rng)
    tables["documents"] = documents(rng)
    tables["embeddings"] = embeddings(rng)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

