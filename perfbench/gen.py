"""Seeded input generation for the benchmark.

Every input a run reads is made here from the run's seed, so the same
seed gives byte-identical tables, stream files and change batches. The
tables follow the star schema the engine's queries expect (TPC-H-like
dimensions and facts plus ``events``, ``documents`` and ``embeddings``).
Physical types, value ranges and cardinalities copy the engine's current
sf0.01 test files as read from them: all timestamps are naive
``timestamp[us]``; ``events`` has 150 users and exponential values with
mean 50 (98% at or below 200); ``documents`` has 5% near-duplicates that
end in ``dup``, and all texts are distinct. ``FIXTURES.md`` records an
older revision of those files (``events.ts`` in ns, dates in ms, about 20
users at sf0.001), which this module does not follow.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_UTC = datetime.timezone.utc
_EPOCH_1995 = int(datetime.datetime(1995, 1, 1, tzinfo=_UTC).timestamp()) * 1_000_000
EVENTS_T0_US = int(datetime.datetime(2024, 1, 1, tzinfo=_UTC).timestamp()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def orders_table(rng: np.random.Generator, n_orders: int, n_cust: int) -> pa.Table:
    days = rng.integers(0, 2404, n_orders)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _ts(_EPOCH_1995 + days * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))) for _ in range(n)]
    # 5% of the documents are near-duplicates of distinct other documents:
    # their text with the last word replaced by "dup".
    picked = rng.choice(n, 2 * (n // 20), replace=False)
    for dup, orig in zip(picked[: n // 20], picked[n // 20:]):
        texts[dup] = " ".join(texts[orig].split()[:-1] + ["dup"])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.normal(size=(n, EMBED_DIM)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def events_table(
    rng: np.random.Generator, first_id: int, n: int, t0_us: int, span_us: int,
    n_users: int,
) -> pa.Table:
    """``n`` events with ids from ``first_id`` and sorted times spread
    over ``[t0_us, t0_us + span_us)``."""
    ts = t0_us + np.sort(rng.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten catalog tables at scale ``sf`` (0.01 gives 60k
    lineitem rows) under ``out_dir`` as ``<name>.parquet``; returns row
    counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), int(50_000 * sf)
    tables: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                       for _ in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }),
    }
    orders = orders_table(rng, n_orders, n_cust)
    tables["orders"] = orders
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_orders), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    odate = np.repeat(orders.column("o_orderdate").cast(pa.int64()).to_numpy(), lines)
    qty = rng.integers(1, 51, n_li).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(odate + rng.integers(1, 122, n_li) * _DAY_US),
    })
    tables["events"] = events_table(
        rng, 0, n_events, EVENTS_T0_US, 30 * _DAY_US, max(1, int(15_000 * sf))
    )
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_vecs)
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
