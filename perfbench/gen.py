"""Seeded inputs for the benchmark.

``tables`` draws TPC-H-ish tables with the column names and types of the
``sf*`` test data the package is developed against (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings).  Row counts scale linearly with ``sf``; at ``sf=0.1`` they
match the sf0.1 set (about 600,000 lineitem rows).  The same seed gives the same
tables.  ``release_delta`` and the raw-file writers derive further inputs
from them.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "small", "green", "shiny", "red", "cold", "dark", "pale"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a the spark data table query join sort hash scan filter group agg window stream "
    "batch row column key value part line order customer vector fast slow big small "
    "merge index cache shard plan stage task shuffle spill"
).split()
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000
DIM = 64
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


def _strings(fmt: str, keys: np.ndarray) -> pa.Array:
    return pa.array([fmt % k for k in keys.tolist()], pa.string())


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)], pa.string())


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def tables(seed: int, sf: float, names=None) -> dict[str, pa.Table]:
    """The named tables (all by default).  Each table draws from its own
    seeded stream, so a subset has the same rows as the full set."""
    want = set(names or TABLES)
    if "lineitem" in want:
        want.add("orders")
    out: dict[str, pa.Table] = {}
    for i, name in enumerate(TABLES):
        if name in want:
            out[name] = _MAKERS[name](np.random.default_rng([seed, i]), sf, out)
    return out


def _region(rng, sf, done):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)})


def _nation(rng, sf, done):
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def _customer(rng, sf, done):
    n = int(150_000 * sf)
    ck = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": ck,
            "c_name": _strings("Customer#%09d", ck),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n)),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )


def _supplier(rng, sf, done):
    n = int(10_000 * sf)
    sk = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "s_suppkey": sk,
            "s_name": _strings("Supplier#%09d", sk),
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n)),
        }
    )


def _part(rng, sf, done):
    n = int(200_000 * sf)
    pk = np.arange(n, dtype=np.int64)
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n)]
    return pa.table(
        {
            "p_partkey": pk,
            "p_name": pa.array(adj + " " + noun, pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n).tolist()]),
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": _cents(900.0 + (pk % 20_000) / 10.0),
        }
    )


def _orders(rng, sf, done):
    n = int(1_500_000 * sf)
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, int(150_000 * sf), n),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _cents(rng.uniform(1000.0, 450_000.0, n)),
            "o_orderdate": pa.array(EPOCH_1995 + rng.integers(0, 2404, n) * DAY_US, pa.timestamp("us")),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )


def _lineitem(rng, sf, done):
    """One to seven lines per order, numbered from 1, shipped 1-150 days
    after the order date."""
    orders = done["orders"]
    ok = orders["o_orderkey"].to_numpy()
    odate = orders["o_orderdate"].to_numpy()
    lines = rng.integers(1, 8, len(ok))
    lok = np.repeat(ok, lines)
    n = len(lok)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": lok,
            "l_partkey": rng.integers(0, int(200_000 * sf), n),
            "l_suppkey": rng.integers(0, int(10_000 * sf), n),
            "l_linenumber": pa.array((np.arange(n) - starts + 1).astype(np.int32), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _cents(qty * rng.uniform(900.0, 2100.0, n)),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": pa.array(np.repeat(odate, lines) + rng.integers(1, 151, n) * DAY_US, pa.timestamp("us")),
        }
    )


def _events(rng, sf, done):
    n = int(1_000_000 * sf)
    ts = np.sort(rng.integers(0, 90 * DAY_US, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, n // 50), n),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": _cents(rng.uniform(0.0, 200.0, n)),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng, sf, done) -> pa.Table:
    """Word-salad documents; every fifth is a lightly edited copy of an
    earlier original that has not been copied yet, so MinHash-LSH finds
    near-duplicate pairs and every duplicate group is a single pair:
    connected components converge in the same number of rounds whatever the
    seed."""
    n = int(50_000 * sf)
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    uncopied: list[int] = []
    for i in range(n):
        if i >= 10 and i % 5 == 0:
            words = texts[uncopied.pop(int(rng.integers(0, len(uncopied))))].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
        else:
            uncopied.append(i)
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 100)))]))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{i % 5}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, sf, done) -> pa.Table:
    """Unit vectors around ten cluster centres, one label per centre."""
    n = int(20_000 * sf)
    centres = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, n)
    vecs = centres[labels] + 0.6 * rng.normal(size=(n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


_MAKERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def write_tables(tabs: dict[str, pa.Table], out_dir: str, names=None) -> None:
    """One ``<name>.parquet`` file per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names or tabs:
        pq.write_table(tabs[name], os.path.join(out_dir, f"{name}.parquet"))


def release_delta(seed: int, k: int, orders: pa.Table, lineitem: pa.Table, share: float = 0.01):
    """Release ``k``'s changed rows: a seeded ``share`` of orders get a new
    priority and total price, and a seeded ``share`` of lineitem rows a new
    quantity and discount.  Rows are replaced by key; no key is added or
    dropped, so every release has the base release's row counts."""
    rng = np.random.default_rng([seed, k])
    n_o, n_l = orders.num_rows, lineitem.num_rows
    oi = np.sort(rng.choice(n_o, max(1, int(n_o * share)), replace=False))
    od = orders.take(oi)
    od = od.set_column(
        od.schema.get_field_index("o_orderpriority"), "o_orderpriority", _pick(rng, PRIORITIES, len(oi))
    )
    od = od.set_column(
        od.schema.get_field_index("o_totalprice"), "o_totalprice", pa.array(_cents(rng.uniform(1000.0, 450_000.0, len(oi))))
    )
    li = np.sort(rng.choice(n_l, max(1, int(n_l * share)), replace=False))
    ld = lineitem.take(li)
    ld = ld.set_column(
        ld.schema.get_field_index("l_quantity"), "l_quantity", pa.array(rng.integers(1, 51, len(li)).astype(np.float64))
    )
    ld = ld.set_column(
        ld.schema.get_field_index("l_discount"), "l_discount", pa.array(rng.integers(0, 11, len(li)) / 100.0)
    )
    return od, ld
