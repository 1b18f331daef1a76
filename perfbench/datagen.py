"""Seeded input generators for the benchmark.

Everything the benchmark feeds the package is made here from a seed with
numpy, so the same seed always gives byte-identical inputs and nothing is
read from outside the checkout.

- ``write_tables`` writes the ten catalog tables (TPC-H-style star schema,
  an ``events`` stream, ``documents`` and ``embeddings``) as one parquet file
  each, in the layout ``sources.catalog.load`` reads. Row counts scale
  linearly with ``sf``; ``sf=0.1`` matches the sizes of the repo's sf0.1
  test tables (600k ``lineitem`` rows).
- ``lineitem_arrow`` / ``kv_batch`` make the rows the Delta workloads write.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# query_mix reads one fixed dataset so its expected results can be derived
# once (gen_expected.py) and stored; the run seed only orders the ops.
QUERY_DATA_SEED = 20240101

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PART_ADJ = ("blue", "red", "hot", "new", "large", "small", "cold", "old")
PART_NOUN = ("bolt", "ring", "rod", "plate", "anvil", "gear", "pipe", "nut")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
_EPOCH_2024 = 19723  # days from 1970-01-01 to 2024-01-01


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def lineitem_arrow(
    rng: np.random.Generator, n: int, n_orders: int, n_parts: int, n_supps: int
) -> pa.Table:
    """``n`` lineitem rows whose foreign keys stay inside the given key
    ranges."""
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n),
            "l_partkey": rng.integers(0, n_parts, n),
            "l_suppkey": rng.integers(0, n_supps, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days_ts(_EPOCH_1995 + rng.integers(1, 2500, n)),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        # ~6% near-duplicates of an earlier doc (one word swapped) and a
        # few exact copies, so the dedup and span queries have work to do.
        if i > 20 and rng.random() < 0.06:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.7:
                words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(size=(10, dim))
    x = rng.normal(size=(n, dim)) + 0.5 * centroids[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": labels,
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _EPOCH_2024 * _DAY_US
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)

    def rows(base: int) -> int:  # base = rows at sf1
        return max(10, int(base * sf))

    n_cust, n_supp, n_part = rows(150_000), rows(10_000), rows(200_000)
    n_ord, n_li = rows(1_500_000), rows(6_000_000)
    idx = np.arange
    return {
        "region": pa.table(
            {"r_regionkey": idx(5, dtype=np.int32), "r_name": list(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": idx(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (idx(25) % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": idx(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": idx(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": idx(n_part, dtype=np.int64),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": 900.0 + (idx(n_part) % 1000) / 10.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": idx(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days_ts(_EPOCH_1995 + rng.integers(0, 2405, n_ord)),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": lineitem_arrow(rng, n_li, n_ord, n_part, n_supp),
        "events": _events(rng, rows(1_000_000), 1500),
        "documents": _documents(rng, rows(50_000)),
        "embeddings": _embeddings(rng, rows(20_000)),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every catalog table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def kv_batch(rng: np.random.Generator, start: int, n: int, n_parts: int = 4) -> pa.Table:
    """Rows ``(id, p, v)`` for the maintenance table: ids ``start..start+n``,
    partition ``p = id % n_parts`` and an integer payload ``v``."""
    ids = np.arange(start, start + n, dtype=np.int64)
    return pa.table(
        {
            "id": ids,
            "p": (ids % n_parts).astype(np.int32),
            "v": rng.integers(0, 1000, n).astype(np.int64),
        }
    )
