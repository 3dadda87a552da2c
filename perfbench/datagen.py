"""Seeded inputs for the benchmark workloads.

Every table has the schema of the engine's fixture tables (the TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``), drawn from
one ``numpy`` generator per table so that the same ``(seed, scale)`` always
writes byte-identical parquet files and another seed writes other ones.
Nothing here touches Spark: the engine receives only the files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan a slow agg key "
    "window table merge vector join"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["de", "en", "es", "fr", "zh"]
N_SOURCES = 20
EMBED_DIM = 64

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
ORDERS_START = dt.date(1995, 1, 1)
ORDERS_DAYS = (dt.date(2001, 8, 1) - ORDERS_START).days + 1
SHIP_DAYS = (dt.date(2001, 12, 31) - ORDERS_START).days + 1

# rows per unit of scale factor (sf 0.1 has 150 000 orders, as the fixtures)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_TABLE_SALT = {name: i for i, name in enumerate(sorted(ROWS_PER_SF))}


def rng_for(seed: int, *salt: int) -> np.random.Generator:
    """An independent stream per (seed, purpose)."""
    return np.random.default_rng([seed, *salt])


def n_rows(table: str, sf: float) -> int:
    return max(1, int(round(ROWS_PER_SF[table] * sf)))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _day_ms(start: dt.date, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start.isoformat(), "ms")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("ms"))


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _words(rng, n_docs: int, lo: int, hi: int) -> list[str]:
    lengths = rng.integers(lo, hi + 1, n_docs)
    ids = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.asarray(VOCAB, dtype=object)
    out, pos = [], 0
    for k in lengths:
        out.append(" ".join(vocab[ids[pos:pos + k]]))
        pos += k
    return out


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders, lineitem."""
    n_cust, n_supp = n_rows("customer", sf), n_rows("supplier", sf)
    n_part, n_ord = n_rows("part", sf), n_rows("orders", sf)
    n_li = n_rows("lineitem", sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    r = rng_for(seed, _TABLE_SALT["customer"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust),
    })
    r = rng_for(seed, _TABLE_SALT["supplier"])
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
    })
    r = rng_for(seed, _TABLE_SALT["part"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(r, ["large ring", "hot bolt", "blue ring", "cold gear",
                            "red nut", "small pipe"], n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": _pick(r, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(_money(r, 900.0, 2000.0, n_part)),
    })
    out["orders"] = orders_rows(seed, 0, n_ord, n_cust)
    r = rng_for(seed, _TABLE_SALT["lineitem"])
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(r.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(r.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(r, ["F", "O"], n_li),
        "l_shipdate": _day_ms(ORDERS_START, r.integers(0, SHIP_DAYS, n_li)),
    })
    return out


def ts_literal(d: dt.date) -> str:
    """A SQL timestamp literal for midnight of ``d``."""
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


def order_window(rng, days: int) -> tuple[dt.date, dt.date]:
    """A ``days``-long ``[lo, hi)`` date window inside the orders date range,
    placed by ``rng`` (a ``random.Random``)."""
    lo = ORDERS_START + dt.timedelta(days=rng.randint(0, ORDERS_DAYS - days))
    return lo, lo + dt.timedelta(days=days)


def orders_rows(seed: int, first_key: int, n: int, n_cust: int,
                salt: int = 0) -> pa.Table:
    """``n`` orders with keys ``first_key ..``; ``salt`` gives another batch."""
    r = rng_for(seed, _TABLE_SALT["orders"], salt)
    return pa.table({
        "o_orderkey": pa.array(np.arange(first_key, first_key + n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n)),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(r, 1000.0, 500_000.0, n)),
        "o_orderdate": _day_ms(ORDERS_START, r.integers(0, ORDERS_DAYS, n)),
        "o_orderpriority": _pick(r, PRIORITIES, n),
    })


def events_table(seed: int, sf: float) -> pa.Table:
    n = n_rows("events", sf)
    r = rng_for(seed, _TABLE_SALT["events"])
    span_ns = EVENTS_DAYS * 86_400 * 10**9
    offs = np.sort(r.integers(0, span_ns, n))
    base = np.datetime64(EVENTS_START.isoformat(), "ns")
    value = _money(r, 0.0, 200.0, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(base + offs.astype("timedelta64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(r.integers(0, max(2, n // 50), n)),
        "event_type": _pick(r, EVENT_TYPES, n),
        "value": pa.array(value, mask=r.random(n) < 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def corpus_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """documents + embeddings: random word documents and random vectors.
    No workload queries them; the engine's fixture registration expects
    every fixture table."""
    n_docs = n_rows("documents", sf)
    r = rng_for(seed, _TABLE_SALT["documents"])
    texts = _words(r, n_docs, 10, 100)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(r, LANGS, n_docs),
        "source": pa.array([f"src{s}" for s in r.integers(0, N_SOURCES, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    n_vec = n_rows("embeddings", sf)
    r = rng_for(seed, _TABLE_SALT["embeddings"])
    vecs = r.normal(0.0, 1.0, (n_vec, EMBED_DIM)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 8, n_vec).astype(np.int32)),
    })
    return {"documents": docs, "embeddings": emb}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """``<out_dir>/<name>.parquet`` per table, the fixture directory layout
    the engine's loaders read."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
