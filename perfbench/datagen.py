"""Seeded input generator for the benchmark.

Writes the star-schema tables the workloads read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as parquet, with the
same column names, physical types and value shapes as the repo's
synthetic test data: uniform keys, 2-decimal money, 4-decimal net
amounts, TIMESTAMP(MICROS) dates. The same ``(seed, scale)`` always
gives byte-identical values, so a run's inputs follow from its seed.

``scale`` follows the TPC-H convention: 0.01 gives 60,000 lineitems.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

DAY_US = 86_400_000_000
ORDER_EPOCH = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_EPOCH = np.datetime64("2024-01-01", "us")


def _write(path: str, cols: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def dim_sizes(scale: float) -> tuple[int, int, int]:
    """Rows of (customer, supplier, part) at ``scale``."""
    return (
        max(150, int(150_000 * scale)),
        max(10, int(10_000 * scale)),
        max(200, int(200_000 * scale)),
    )


def dimensions(rng, scale: float) -> dict[str, dict]:
    n_cust, n_supp, n_part = dim_sizes(scale)
    nk = np.arange(25, dtype=np.int32)
    pk = np.arange(n_part, dtype=np.int64)
    return {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": nk,
            "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": nk % 5,
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": pk,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        },
    }


def orders(rng, keys: np.ndarray, n_cust: int, day_lo: int, day_hi: int) -> dict:
    n = len(keys)
    days = rng.integers(day_lo, day_hi, n)
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": ORDER_EPOCH + days * DAY_US,
        "o_orderpriority": rng.choice(PRIORITIES, n).tolist(),
    }


def lineitem(rng, orderkeys: np.ndarray, n_part: int, n_supp: int) -> dict:
    n = len(orderkeys)
    return {
        "l_orderkey": orderkeys.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n).tolist(),
        "l_shipdate": ORDER_EPOCH + (rng.integers(1, 2499, n) * DAY_US),
    }


def events(rng, first_id: int, start_us: int, span_us: int, n: int, n_users: int) -> dict:
    ts = np.sort(rng.integers(start_us, start_us + span_us, n))
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": EVENT_EPOCH + ts,
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line merge"
    " order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["de", "en", "en", "es", "fr", "zh"]
EMBED_DIM = 64


def documents(rng, n: int) -> dict:
    text = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(5, 80, n)]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, n).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }


def embeddings(rng, n: int) -> dict:
    vecs = rng.normal(0.0, 0.12, (n, EMBED_DIM)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n, dtype=np.int32),
    }


def star_schema(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table to ``out_dir/<table>.parquet``; returns row counts."""
    rng = np.random.default_rng(seed)
    tables = dimensions(rng, scale)
    n_cust = len(tables["customer"]["c_custkey"])
    n_ord = max(1500, int(1_500_000 * scale))
    tables["orders"] = orders(rng, np.arange(n_ord), n_cust, 0, ORDER_DAYS)
    tables["lineitem"] = lineitem(
        rng,
        rng.integers(0, n_ord, 4 * n_ord),
        len(tables["part"]["p_partkey"]),
        len(tables["supplier"]["s_suppkey"]),
    )
    n_ev = max(1000, int(1_000_000 * scale))
    tables["events"] = events(rng, 0, 0, 30 * DAY_US, n_ev, max(150, n_cust // 10))
    # Not read by the report mix, but catalog.register_views (TPC-H
    # builders) registers every table of the catalog.
    n_doc = max(500, int(50_000 * scale))
    tables["documents"] = documents(rng, n_doc)
    tables["embeddings"] = embeddings(rng, n_doc)
    for name, cols in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"), cols)
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}


INGEST_SCALE = 0.01


def ingest_dimensions(root: str, seed: int) -> None:
    """The dimension tables the ingest workload's reports join to."""
    for name, cols in dimensions(np.random.default_rng([seed, 0]), INGEST_SCALE).items():
        _write(os.path.join(root, f"{name}.parquet"), cols)


class Arrivals:
    """Seeded arrival batches for the ingest workload.

    ``ingest_dimensions`` writes the dimensions first. Each ``next_batch``
    returns the files one cron tick lands: always a new, time-ordered
    events chunk, plus an orders/lineitem batch of one of three kinds —

    - ``extend``: orders for the next period with their lineitems (the
      report's date range grows, so the MERGE inserts a row);
    - ``late``: extra lineitems for orders that already landed (same
      range, more transactions, so the MERGE updates the row);
    - ``redeliver``: an already-landed batch file written again under its
      own name (nothing changes, so the MERGE is a no-op).
    """

    PERIOD_DAYS = 30
    ORDERS_PER_BATCH = 600
    LATE_LINES = 300
    EVENTS_PER_TICK = 1500
    EVENT_SPAN_US = 4 * 3600 * 1_000_000

    def __init__(self, root: str, seed: int):
        self.root = root
        self.rng = np.random.default_rng([seed, 1])
        self.n_cust, self.n_supp, self.n_part = dim_sizes(INGEST_SCALE)
        self.n_orders = 0
        self.n_events = 0
        self.day = 0
        self.event_us = 0
        self.tick = 0
        self.fact_files: list[str] = []  # orders/lineitem batch files, landed

    def _path(self, table: str, name: str) -> str:
        return os.path.join(self.root, f"{table}.parquet", f"{name}.parquet")

    def next_batch(self) -> tuple[str, dict[str, dict]]:
        """Return ``(kind, {path: columns})`` for the next tick; the caller
        lands it by writing every entry."""
        t = self.tick
        self.tick += 1
        kinds = ["extend", "late", "redeliver"]
        kind = "extend" if t < 2 else str(self.rng.choice(kinds, p=[0.5, 0.3, 0.2]))
        files: dict[str, dict] = {}
        if kind == "extend":
            keys = np.arange(self.n_orders, self.n_orders + self.ORDERS_PER_BATCH)
            self.n_orders += len(keys)
            files[self._path("orders", f"b{t:04d}")] = orders(
                self.rng, keys, self.n_cust, self.day, self.day + self.PERIOD_DAYS
            )
            self.day += self.PERIOD_DAYS
            files[self._path("lineitem", f"b{t:04d}")] = lineitem(
                self.rng, self.rng.choice(keys, 4 * len(keys)), self.n_part, self.n_supp
            )
        elif kind == "late":
            files[self._path("lineitem", f"late{t:04d}")] = lineitem(
                self.rng,
                self.rng.integers(0, self.n_orders, self.LATE_LINES),
                self.n_part,
                self.n_supp,
            )
        else:
            path = self.fact_files[int(self.rng.integers(0, len(self.fact_files)))]
            files[path] = pq.read_table(path).to_pydict()
        for p in files:
            if p not in self.fact_files:
                self.fact_files.append(p)
        files[self._path("events", f"e{t:04d}")] = events(
            self.rng,
            self.n_events,
            self.event_us,
            self.EVENT_SPAN_US,
            self.EVENTS_PER_TICK,
            max(150, self.n_cust // 10),
        )
        self.n_events += self.EVENTS_PER_TICK
        self.event_us += self.EVENT_SPAN_US
        return kind, files


def land(files: dict[str, dict]) -> int:
    """Write one tick's batch; returns the bytes landed."""
    total = 0
    for path, cols in files.items():
        # Hidden temp name: Spark's file listing skips dot-files.
        tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
        _write(tmp, cols)
        os.replace(tmp, path)
        total += os.path.getsize(path)
    return total
