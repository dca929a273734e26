"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine is made here from ``--seed``:
the ten tables the query registry reads (same names, columns and value
distributions as the engine's ``sf`` test tables), the reference-format
CSV files the batch jobs parse, and the rating events of the streaming
workload.  The engine only ever sees the generated files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
ORDERS_START = np.datetime64("1995-01-01", "D")
ORDERS_SPAN_DAYS = 2404
N_PRODUCTS = 100


def _days(rng: np.random.Generator, n: int) -> np.ndarray:
    d = ORDERS_START + rng.integers(0, ORDERS_SPAN_DAYS, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def taste(rng: np.random.Generator, users: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Products and scores with latent structure: users fall into ten
    taste groups, each favouring a block of ten products it rates higher,
    so ALS finds item neighbours above the 0.6 similarity cut."""
    n = len(users)
    home = rng.random(n) < 0.7
    block = (users % 10) * (N_PRODUCTS // 10)
    products = np.where(
        home, block + rng.integers(0, N_PRODUCTS // 10, n), rng.integers(0, N_PRODUCTS, n)
    )
    scores = np.round(rng.exponential(np.where(home, 80.0, 20.0)), 2)
    return products.astype(np.int32), scores


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """The ``events`` table: time-ordered, uniform users and types, the
    product ``k`` in ``props`` and the ``value`` drawn by ``taste``."""
    ts = EVENTS_START + np.sort(rng.integers(0, EVENTS_SPAN_US, n)).astype(
        "timedelta64[us]"
    )
    users = rng.integers(0, n_users, n).astype(np.int64)
    products, values = taste(rng, users)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": users,
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": values,
            "props": [f'{{"k": {k}}}' for k in products],
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; one in twenty repeats another plus " dup"."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))]
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten registry tables at scale ``sf`` (sf 0.01: 60k lineitem)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    region = pa.table(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _days(rng, n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    l_order = rng.integers(0, n_ord, n_line).astype(np.int64)
    # line numbers count up within each order, as TPC-H's do
    order_ix = np.argsort(l_order, kind="stable")
    sorted_keys = l_order[order_ix]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    run_pos = np.arange(n_line) - np.repeat(starts, np.diff(np.r_[starts, n_line]))
    linenumber = np.empty(n_line, dtype=np.int32)
    linenumber[order_ix] = run_pos + 1
    quantity = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line),
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
        "events": events(rng, int(1_000_000 * sf), max(15, int(15_000 * sf))),
        "documents": documents(rng, n_docs),
        "embeddings": embeddings(rng, n_vecs),
    }


def write_tables(tabs: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, tab in tabs.items():
        pq.write_table(tab, os.path.join(sf_dir, f"{name}.parquet"))


def ratings_from_events(ev: pa.Table) -> dict[str, np.ndarray]:
    """The ``readers.events_as_ratings`` projection, as numpy columns:
    user_id → userId, the ``k`` in props → productId, value → score."""
    props = ev.column("props").to_pylist()
    ts = ev.column("ts").to_numpy().astype("datetime64[s]").astype(np.int64)
    return {
        "userId": ev.column("user_id").to_numpy().astype(np.int32),
        "productId": np.array([int(p[6:-1]) for p in props], dtype=np.int32),
        "score": ev.column("value").to_numpy(),
        "timestamp": ts.astype(np.int32),
    }


def write_reference_csv(seed: int, n_ratings: int, n_users: int, out_dir: str) -> dict:
    """DataLoader inputs in the reference's formats.

    ``ratings.csv``: ``userId,productId,score,timestamp`` lines projected
    from a generated ``events`` table.  ``products.csv``: a seeded
    ``^``-delimited catalog of ``N_PRODUCTS`` products, seven fields each.
    Returns the two paths.
    """
    rng = np.random.default_rng(seed)
    r = ratings_from_events(events(rng, n_ratings, n_users))
    os.makedirs(out_dir, exist_ok=True)
    ratings_csv = os.path.join(out_dir, "ratings.csv")
    with open(ratings_csv, "w") as f:
        for u, p, s, t in zip(r["userId"], r["productId"], r["score"], r["timestamp"]):
            f.write(f"{u},{p},{s!r},{t}\n")
    products_csv = os.path.join(out_dir, "products.csv")
    with open(products_csv, "w") as f:
        for pid in range(N_PRODUCTS):
            cats = sorted(set(rng.integers(0, 12, 3).tolist()))
            tags = sorted(set(rng.integers(0, 40, 4).tolist()))
            f.write(
                f"{pid}^ product {pid} {PART_ADJ[pid % 8]} ^"
                + "|".join(str(100 + c) for c in cats)
                + f"^B{pid:09d}^https://img.example/{pid}.jpg^"
                + "|".join(f"cat-{c}" for c in cats)
                + "^"
                + "|".join(f"tag-{t}" for t in tags)
                + "\n"
            )
    return {"ratings_csv": ratings_csv, "products_csv": products_csv}
