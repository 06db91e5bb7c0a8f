"""Seeded input generator for the benchmark.

Writes the ten fixture tables the query registry reads (one parquet
file each, the layout ``sources.tables.load_table`` expects) with the
schemas and value shapes of the project's test fixture: a TPC-H-like
star schema, a time-ordered ``events`` table, a word-soup ``documents``
table with injected near-duplicates and unit-norm ``embeddings`` with a
weak per-label offset. Row counts scale with ``sf`` exactly; the seed
changes the values, never the sizes.

``append_log_round`` is the producer side of the ``stream_ingest``
workload: it appends one events-shaped file to an ``events_log``
directory, visible atomically by rename.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PART_WORDS = (
    ["blue", "cold", "hot", "large", "new", "old", "small"],
    ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"],
)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EMB_DIM = 64
DAY_US = 86_400_000_000
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01 UTC
EVENTS_SPAN_US = 30 * DAY_US
ORDERS_START_US = 788_918_400_000_000  # 1995-01-01 UTC
ORDERS_SPAN_US = 2404 * DAY_US


def table_rows(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (sf0.01 = 10 000 events)."""
    n = lambda base: max(1, round(base * sf))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(500_000),
        "embeddings": n(500_000),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _days(rng, start_us: int, span_us: int, n: int) -> np.ndarray:
    return start_us + rng.integers(0, span_us // DAY_US, n) * DAY_US


def _word_soup(rng, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def make_fixture(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    rows = table_rows(sf)
    os.makedirs(out_dir, exist_ok=True)
    n_users = max(2, round(15_000 * sf))
    n_nation = rows["nation"]
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(n_nation), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n_nation)],
        "n_regionkey": pa.array([i % 5 for i in range(n_nation)], pa.int32()),
    })
    n = rows["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, n_nation, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })
    n = rows["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, n_nation, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = rows["part"]
    adj, noun = PART_WORDS
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [
            f"{adj[a]} {noun[b]}"
            for a, b in zip(rng.integers(0, len(adj), n), rng.integers(0, len(noun), n))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": [
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"][i]
            for i in rng.integers(0, 6, n)
        ],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n) % 1000 / 10.0, 2),
    })
    n_orders = rows["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, rows["customer"], n_orders), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _ts(_days(rng, ORDERS_START_US, ORDERS_SPAN_US, n_orders)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    n = rows["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, rows["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _ts(_days(rng, ORDERS_START_US, ORDERS_SPAN_US + 95 * DAY_US, n)),
    })
    tables["events"] = events_table(rng, rows["events"], n_users, first_id=0)
    n = rows["documents"]
    texts = [_word_soup(rng, k) for k in rng.integers(10, 100, n)]
    # ~5% near-duplicates: a copy of another document plus one token
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n = rows["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.018, (10, EMB_DIM))
    vecs = rng.normal(0.0, 1.0, (n, EMB_DIM)) / np.sqrt(EMB_DIM) + centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


def events_table(rng, n: int, n_users: int, first_id: int, user_map=None) -> pa.Table:
    """``n`` events in time order; ``user_map`` remaps user ids."""
    ts = EVENTS_START_US + np.sort(rng.integers(0, EVENTS_SPAN_US, n))
    users = rng.integers(0, n_users, n)
    if user_map is not None:
        users = user_map[users]
    return pa.table({
        "event_id": pa.array(first_id + np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(users, pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def append_log_round(log_dir: str, round_no: int, table: pa.Table) -> None:
    """Append one file to an events_log topic. The reader orders files by
    name, so the zero-padded round number is the append order; the
    rename makes the whole file visible at once."""
    os.makedirs(log_dir, exist_ok=True)
    tmp = f"{log_dir}/.round-{round_no:06d}.tmp"
    pq.write_table(table, tmp)
    os.rename(tmp, f"{log_dir}/round-{round_no:06d}.parquet")
