"""Seeded generators for every input the benchmark feeds the program.

Everything is a pure function of its seed and size: the same seed gives
the same Arrow tables, and writing them with the same writer settings
gives byte-identical files. The shapes mirror the TPC-H-ish star schema
plus the ``events`` / ``documents`` / ``embeddings`` side tables that the
query registry reads (see ``hive_dwrf_spark.tables.TABLE_NAMES``).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream name), so adding a
    stream never shifts the values another stream draws."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, tag])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(values).take(pa.array(rng.integers(0, len(values), n)))


def _days(rng, lo_day: int, span_days: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + (lo_day + rng.integers(0, span_days, n)) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def lineitem(seed: int, n_rows: int, n_orders: int, n_parts: int, n_supps: int) -> pa.Table:
    """Lineitem rows, ordered by ``l_orderkey`` as dbgen emits them (so
    footer and stride statistics on the key are selective)."""
    rng = rng_for(seed, "lineitem")
    orderkey = np.sort(rng.integers(0, n_orders, n_rows))
    qty = rng.integers(1, 51, n_rows).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(orderkey, type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, n_rows), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supps, n_rows), type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_rows), type=pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_rows)),
            "l_discount": pa.array(rng.integers(0, 11, n_rows) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_rows) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_rows),
            "l_linestatus": _pick(rng, ["F", "O"], n_rows),
            "l_shipdate": _days(rng, 1, 2499, n_rows),
        }
    )


def events(seed: int, n_rows: int, n_users: int, first_id: int = 0) -> pa.Table:
    """Click-stream events with strictly increasing ids and timestamps."""
    rng = rng_for(seed, f"events{first_id}")
    gaps = rng.integers(1, 2 * 30 * _DAY_US // max(n_rows, 1) + 2, n_rows)
    ts = _EPOCH_2024 + np.cumsum(gaps) + first_id * 1000
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n_rows), type=pa.int64()),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_rows), type=pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_rows),
            "value": pa.array(np.round(rng.exponential(40.0, n_rows) + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)]),
        }
    )


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document (dedup queries)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 90))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), type=pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.astype(np.float32).ravel()), dim
    ).cast(pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), type=pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, type=pa.int32()),
        }
    )


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten registry tables at scale factor `sf` (lineitem ~6M x sf)."""
    n_cust = max(int(150_000 * sf), 30)
    n_orders = max(int(1_500_000 * sf), 100)
    n_parts = max(int(200_000 * sf), 40)
    n_supps = max(int(10_000 * sf), 10)
    rng = rng_for(seed, "dims")
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(rng.integers(0, 5, 25), type=pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supps), type=pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supps)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supps), type=pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supps)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_parts), type=pa.int64()),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n_parts, 2))
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n_parts)]
                ),
                "p_type": _pick(rng, PART_TYPES, n_parts),
                "p_size": pa.array(rng.integers(1, 51, n_parts), type=pa.int32()),
                "p_retailprice": pa.array(900.0 + rng.integers(0, 1000, n_parts) / 10.0),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders), type=pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), type=pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders)),
                "o_orderdate": _days(rng, 0, 2404, n_orders),
                "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
            }
        ),
    }
    tables["lineitem"] = lineitem(seed, int(6_000_000 * sf), n_orders, n_parts, n_supps)
    tables["events"] = events(seed, int(1_000_000 * sf), max(n_cust // 10, 10))
    tables["documents"] = _documents(rng_for(seed, "documents"), max(int(50_000 * sf), 50))
    tables["embeddings"] = _embeddings(rng_for(seed, "embeddings"), max(int(50_000 * sf), 50))
    return tables


def zipf_ranks(rng: np.random.Generator, n_items: int, size: int, s: float = 1.1) -> np.ndarray:
    """`size` draws of ranks in [0, n_items) with P(rank k) ~ 1/(k+1)^s."""
    weights = 1.0 / np.arange(1, n_items + 1) ** s
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n_items - 1)
