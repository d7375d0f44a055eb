"""Seeded synthetic inputs: a TPC-H-shaped star schema, an event log
with JSON properties, a text corpus with planted duplicates and a
clustered embedding table.

Schemas follow the engine's own fixtures (``region`` … ``embeddings``);
values are drawn from ``numpy.random.default_rng(seed)`` so one seed
always yields byte-identical parquet files.  Row counts depend only on
the table sizes passed in, never on the seed, so two seeds give inputs
of the same shape with different values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts per table.  ``lineitem`` is 4 rows per order.
SIZES = {
    "customer": 7_500,
    "supplier": 500,
    "part": 10_000,
    "orders": 75_000,
    "events": 50_000,
    "documents": 2_000,
    "embeddings": 2_000,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query key window row table stream merge data "
    "big vector index plan join shuffle cache lake delta iceberg file "
    "commit log snapshot schema arrow page block split task stage"
).split()
EMBED_DIM = 64
_EPOCH_1992 = np.datetime64("1992-01-01", "D")


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per table: adding a table never shifts
    # the values of another
    return np.random.default_rng([seed, sum(map(ord, table))])


def _days(rng, n, span_days=2555):
    d = _EPOCH_1992 + rng.integers(0, span_days, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _text_col(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def gen_tables(seed: int, sizes: dict | None = None) -> dict[str, pa.Table]:
    """Return every table as a ``pyarrow.Table`` keyed by name."""
    sz = dict(SIZES, **(sizes or {}))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    n = sz["customer"]
    keys = np.arange(n, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": keys,
        "c_name": _text_col("Customer", keys),
        "c_nationkey": r.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(r, n, -999.99, 9999.99),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n)]),
    })
    r = _rng(seed, "supplier")
    n = sz["supplier"]
    keys = np.arange(n, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": keys,
        "s_name": _text_col("Supplier", keys),
        "s_nationkey": r.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(r, n, -999.99, 9999.99),
    })
    r = _rng(seed, "part")
    n = sz["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": pa.array(
            [f"{WORDS[a]} {WORDS[b]}" for a, b in
             r.integers(0, len(WORDS), (n, 2)).tolist()]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(10, 56, n).tolist()]),
        "p_type": pa.array(
            np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
                r.integers(0, 6, n)]
        ),
        "p_size": r.integers(1, 51, n).astype(np.int32),
        "p_retailprice": _money(r, n, 900.0, 2100.0),
    })
    r = _rng(seed, "orders")
    n = sz["orders"]
    okeys = np.arange(n, dtype=np.int64)
    odate = _days(r, n)
    out["orders"] = pa.table({
        "o_orderkey": okeys,
        "o_custkey": r.integers(0, sz["customer"], n).astype(np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n)]),
        "o_totalprice": _money(r, n, 800.0, 450_000.0),
        "o_orderdate": odate,
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n)]),
    })
    r = _rng(seed, "lineitem")
    m = n * 4
    l_ok = np.repeat(okeys, 4)
    ship = np.repeat(odate, 4) + r.integers(1, 122, m).astype("timedelta64[D]")
    qty = r.integers(1, 51, m).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": r.integers(0, sz["part"], m).astype(np.int64),
        "l_suppkey": r.integers(0, sz["supplier"], m).astype(np.int64),
        "l_linenumber": np.tile(np.arange(1, 5, dtype=np.int32), n),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, m), 2),
        "l_discount": np.round(r.integers(0, 11, m) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, m) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, m)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, m)]),
        "l_shipdate": ship,
    })
    r = _rng(seed, "events")
    n = sz["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        r.integers(0, 30 * 86_400_000_000, n)
    ).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(0, 5_000, n).astype(np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n)]),
        "value": _money(r, n, 0.0, 500.0),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n).tolist()]),
    })
    out["documents"] = _documents(_rng(seed, "documents"), sz["documents"])
    out["embeddings"] = _embeddings(_rng(seed, "embeddings"), sz["embeddings"])
    return out


def _documents(r: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; 5% exact copies and 10% near copies
    (two words replaced) of an earlier document, so dedup operators
    find real pairs and clusters."""
    texts: list[str] = []
    for i in range(n):
        roll = r.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[int(r.integers(0, i))])
        elif i > 10 and roll < 0.15:
            words = texts[int(r.integers(0, i))].split()
            for _ in range(2):
                words[int(r.integers(0, len(words)))] = WORDS[int(r.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(r.integers(20, 60))
            texts.append(" ".join(WORDS[j] for j in r.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(["en", "de", "fr", "zh"])[r.integers(0, 4, n)]),
        "source": pa.array([f"src{s}" for s in r.integers(0, 4, n).tolist()]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(r: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors around 8 cluster centres."""
    centres = r.standard_normal((8, EMBED_DIM))
    label = r.integers(0, 8, n)
    vecs = centres[label] + 0.6 * r.standard_normal((n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32)), flat
        ),
        "label": label.astype(np.int32),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str, names=None) -> dict[str, str]:
    """Write each table to ``<out_dir>/<name>.parquet``; return the paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name in names or tables:
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], paths[name])
    return paths
