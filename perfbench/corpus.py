"""Generator for the benchmark corpus.

Writes the ten single-row-group parquet tables the registry reads
(``region nation customer supplier part orders lineitem events
documents embeddings``) with the schemas, value domains and row ratios
of the repository's TPC-H-ish test corpus. Row counts scale linearly
with ``sf`` (lineitem has 6,000,000 x sf rows). Every value comes from
one ``numpy.random.Generator`` seeded with ``seed``, so the same
(seed, sf) always writes the same bytes.

The benchmark always uses ``SEED`` at ``SF``: one corpus on which every
registry entry whose oracle is a query over the corpus agrees with it
(README.md, "Output check"). ``--seed`` orders the calls; it does not
change the data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
EMBED_DIM = 64
N_LABELS = 10
NEAR_DUP_FRAC = 0.05

SEED = 42
SF = 0.01

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words texts of 10-99 words; a NEAR_DUP_FRAC share are an
    earlier document plus one or two trailing ``dup`` tokens, so the
    near-duplicate entries have pairs to find."""
    lengths = rng.integers(10, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    n_dup = int(n * NEAR_DUP_FRAC)
    dup_rows = rng.choice(np.arange(n // 2, n), n_dup, replace=False)
    for row in dup_rows:
        src = int(rng.integers(0, n // 2))
        texts[row] = texts[src] + " dup" * int(rng.integers(1, 3))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_WEIGHTS), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors drawn around N_LABELS weak cluster directions."""
    centers = rng.standard_normal((N_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n)
    vecs = rng.standard_normal((n, EMBED_DIM)) + 1.2 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The corpus as in-memory arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_evt = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = max(2, round(50_000 * sf))
    n_emb = max(N_LABELS, round(50_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array(_names("Customer", n_cust), pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array(_names("Supplier", n_supp), pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            pa.string(),
        ),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()
        ),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1), pa.float64()),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), pa.float64()),
        "o_orderdate": _ts(_EPOCH_1995, rng.integers(0, 2400, n_ord) * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string()),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_line), 2)),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_line), pa.string()),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n_line), pa.string()),
        "l_shipdate": _ts(_EPOCH_1995, (1 + rng.integers(0, 2500, n_line)) * _DAY_US),
    })
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(_EPOCH_2024, np.sort(rng.integers(0, 30 * _DAY_US, n_evt))),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt), pa.string()),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2))),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], pa.string()
        ),
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_corpus(out_dir: str) -> str:
    """Write the benchmark corpus (``SEED`` at ``SF``), every table as
    ``{out_dir}/{name}.parquet`` with one row group like the test
    corpus, and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(SEED, SF).items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
    return out_dir
