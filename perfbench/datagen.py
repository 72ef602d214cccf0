"""Seeded synthetic inputs shaped like the engine's scale-factor tables.

Each table has the column names, parquet types and value distributions the
operators expect (``events`` plays the station feed: ``user_id`` is the
station, ``value`` the bikes available).  The same seed always writes the
same bytes, so a run's inputs are a function of ``--seed`` alone.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_DAYS = 30
EVENT_START = dt.datetime(2024, 1, 1)
DAY_US = 86_400 * 1_000_000
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "fr", "de", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _us(ts: dt.datetime) -> int:
    return int((ts - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def events(rng: np.random.Generator, n: int, n_stations: int) -> pa.Table:
    """``n`` station readings spread uniformly over EVENT_DAYS days, event_id in ts order."""
    ts = np.sort(_us(EVENT_START) + rng.integers(0, EVENT_DAYS * DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_stations, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
        }
    )


def _dates(rng, start: dt.datetime, span_days: int, n: int) -> pa.Array:
    days = rng.integers(0, span_days, n)
    return pa.array(_us(start) + days * DAY_US, pa.timestamp("us"))


def orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
            "o_orderdate": _dates(rng, dt.datetime(1995, 1, 1), 2404, n),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
        }
    )


def lineitem(rng: np.random.Generator, n: int, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_parts, n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
            "l_shipdate": _dates(rng, dt.datetime(1995, 1, 2), 2498, n),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; one in twenty is an earlier document with ``dup`` appended."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    """Unit vectors scattered around ``n_labels`` random centres; ``label`` is the centre."""
    centres = rng.standard_normal((n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    vecs = centres[labels] + rng.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float, names: list[str]) -> None:
    """Write the named tables of scale factor ``sf`` as ``{out_dir}/{name}.parquet``."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_orders = int(1_500_000 * sf)
    builders = {
        "customer": lambda: customer(rng, n_cust),
        "events": lambda: events(rng, int(1_000_000 * sf), n_cust // 10),
        "orders": lambda: orders(rng, n_orders, n_cust),
        "lineitem": lambda: lineitem(
            rng, int(6_000_000 * sf), n_orders, int(200_000 * sf), max(10, int(10_000 * sf))
        ),
        "documents": lambda: documents(rng, 5000 if sf >= 0.1 else 500),
        "embeddings": lambda: embeddings(rng, 2000 if sf >= 0.1 else 500),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        pq.write_table(builders[name](), os.path.join(out_dir, f"{name}.parquet"))


def day_slice(ev: pa.Table, index: int) -> pa.Table:
    """Event-time day ``index`` of the feed, replaying the table in laps.

    Day ``index`` is day ``index % EVENT_DAYS`` of ``ev``, with ``ts`` moved
    forward and ``event_id`` moved up by a whole lap per completed lap, so
    slices stay ordered and ids stay unique across laps.
    """
    lap, day = divmod(index, EVENT_DAYS)
    lo = _us(EVENT_START) + day * DAY_US
    ts = ev.column("ts").cast(pa.int64()).to_numpy()
    rows = ev.filter(pa.array((ts >= lo) & (ts < lo + DAY_US)))
    if lap == 0:
        return rows
    shift_ts = rows.column("ts").cast(pa.int64()).to_numpy() + lap * EVENT_DAYS * DAY_US
    shift_id = rows.column("event_id").to_numpy() + lap * ev.num_rows
    rows = rows.set_column(0, "event_id", pa.array(shift_id))
    return rows.set_column(1, "ts", pa.array(shift_ts, pa.timestamp("us")))
