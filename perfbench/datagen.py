"""Seeded generator for the benchmark's input tables.

Writes the ten tables the registry reads (``region`` .. ``embeddings``)
as one parquet file each, with the schemas, value domains and row
counts per scale factor of the engine's test data: a TPC-H-ish star
schema, a time-ordered ``events`` table, a ``documents`` corpus over a
31-word vocabulary with planted near-duplicates, and clustered unit
``embeddings``.  The same seed always yields the same files.
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
DUP_WORD = "dup"
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "green", "hot", "large", "old", "red", "small")
PART_NOUN = ("bolt", "gear", "nut", "pipe", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EMBED_DIM = 64
EMBED_CLUSTERS = 10
SHAPE_SEED = 20240101
DOCUMENTS = 500  # rows of the documents table, at every scale

US_PER_DAY = 86_400_000_000


def _days(start: str, n_days: int, rng, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n) * np.timedelta64(US_PER_DAY, "us")


def _pick(values, rng, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(list(values), dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n: int) -> pa.Table:
    # The corpus shape -- document lengths, languages, sources and which
    # documents are planted duplicates of which -- is fixed; the seed
    # draws the words.  Over a 31-word vocabulary the words still add
    # chance near-duplicate pairs, so dedup loop rounds vary with it.
    shape = np.random.default_rng(SHAPE_SEED)
    lengths = shape.integers(10, 101, n)
    lang = np.asarray(LANGS, dtype=object)[shape.choice(len(LANGS), n, p=LANG_P)]
    near = shape.choice(np.arange(1, n), max(1, n // 20), replace=False)
    near_src = shape.integers(0, n, len(near))
    exact = shape.choice(np.arange(1, n), max(1, n // 500), replace=False)
    exact_src = [int(shape.integers(0, i)) for i in exact]

    vocab = np.asarray(VOCAB, dtype=object)
    words = [list(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # About 5 % near-duplicates (a copy of another document with its
    # last word replaced) and a few exact copies.
    for i, src in zip(near, near_src):
        words[i] = words[src][:-1] + [DUP_WORD]
    for i, src in zip(exact, exact_src):
        words[i] = list(words[src])
    text = [" ".join(w) for w in words]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(text),
            "lang": pa.array(lang),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (EMBED_CLUSTERS, EMBED_DIM))
    centers *= 0.6 / np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, EMBED_CLUSTERS, n).astype(np.int32)
    vecs = centers[label] + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label),
        }
    )


def generate(out_dir: str, seed: int, scale: float) -> dict[str, str]:
    """Write every table under ``out_dir``; return {table: path}."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, round(150_000 * scale))
    n_supp = max(10, round(10_000 * scale))
    n_part = max(20, round(200_000 * scale))
    n_ord = max(100, round(1_500_000 * scale))
    n_line = 4 * n_ord
    n_users = max(5, round(15_000 * scale))
    n_events = max(200, round(1_000_000 * scale))
    n_embed = 500 if scale <= 0.01 else 2000

    nation_ids = np.arange(25, dtype=np.int32)
    quantity = rng.integers(1, 51, n_line).astype(np.float64)
    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * US_PER_DAY, n_events).astype("timedelta64[us]")
    )
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nation_ids),
                "n_name": pa.array([f"NATION_{i}" for i in nation_ids]),
                "n_regionkey": pa.array(nation_ids % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(SEGMENTS, rng, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": pa.array(
                    [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(PART_TYPES, rng, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick("FOP", rng, n_ord),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
                "o_orderdate": pa.array(_days("1995-01-01", 2404, rng, n_ord)),
                "o_orderpriority": _pick(PRIORITIES, rng, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
                "l_quantity": pa.array(quantity),
                "l_extendedprice": pa.array(np.round(quantity * rng.uniform(900.0, 2100.0, n_line), 2)),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                "l_returnflag": _pick("ANR", rng, n_line),
                "l_linestatus": _pick("FO", rng, n_line),
                "l_shipdate": pa.array(_days("1995-01-02", 2499, rng, n_line)),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
                "ts": pa.array(ts),
                "user_id": pa.array(rng.integers(0, n_users, n_events)),
                "event_type": _pick(EVENT_TYPES, rng, n_events),
                "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2))),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
            }
        ),
        "documents": _documents(rng, DOCUMENTS),
        "embeddings": _embeddings(rng, n_embed),
    }
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, tbl in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    return paths

