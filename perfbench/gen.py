"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes: the same seed
writes byte-identical parquet files. The schemas and value domains follow
the project's analytics tables (TPC-H-style star schema, an ``events``
stream and the LLM-data ``documents`` / ``embeddings`` tables), so the
registered queries and their DuckDB oracles run unchanged on them.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold", "large")
PART_NOUN = ("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated table set (``customers`` etc. scale
    the star schema; ``events`` and ``documents`` are set directly)."""

    customers: int = 1500
    events: int = 10_000
    event_users: int = 150
    documents: int = 500
    embeddings: int = 500


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so resizing one table leaves the
    # others' contents unchanged
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(start: str, end: str, rng: np.random.Generator, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, (hi - lo).astype(np.int64) + 1, n)
    return (lo + days).astype("datetime64[us]")


def events_table(seed: int, n: int, users: int, first_id: int = 0) -> pa.Table:
    rng = _rng(seed, f"events{first_id}")
    ts = np.sort(EVENTS_T0 + rng.integers(0, EVENTS_SPAN_US, n).astype("timedelta64[us]"))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
    })


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(8, 90, n)
    words = np.array(VOCAB)
    return [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]


def documents_table(
    seed: int, n_unique: int, exact_dup_share: float = 0.0, near_dup_share: float = 0.0
) -> tuple[pa.Table, dict[str, int]]:
    """``n_unique`` random documents plus ``exact_dup_share`` and
    ``near_dup_share`` (of ``n_unique``) copies: exact copies repeat a
    text verbatim, near copies replace one word. Rows are shuffled and
    renumbered, so duplicates sit at random ids."""
    rng = _rng(seed, "documents")
    texts = _doc_texts(rng, n_unique)
    n_exact = int(round(n_unique * exact_dup_share))
    n_near = int(round(n_unique * near_dup_share))
    for i in rng.choice(n_unique, n_exact, replace=True):
        texts.append(texts[i])
    for i in rng.choice(n_unique, n_near, replace=True):
        words = texts[i].split(" ")
        words[rng.integers(0, len(words))] = "dup"
        texts.append(" ".join(words))
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    total = len(texts)
    table = pa.table({
        "doc_id": pa.array(np.arange(total), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, total, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, total)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, {"unique": n_unique, "exact_dups": n_exact, "near_dups": n_near}


def embeddings_table(seed: int, n: int, dim: int = 64, clusters: int = 10) -> pa.Table:
    rng = _rng(seed, "embeddings")
    centers = rng.normal(0.0, 0.1, (clusters, dim))
    label = rng.integers(0, clusters, n)
    vecs = (centers[label] + rng.normal(0.0, 0.05, (n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def star_tables(seed: int, customers: int) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders, lineitem with
    the TPC-H ratios (10 orders and 40 line items per customer)."""
    rng = _rng(seed, "star")
    n_supp, n_part = max(customers // 15, 5), max(customers * 4 // 3, 10)
    n_orders, n_lines = customers * 10, customers * 40
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(customers), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
            "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
            "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, customers)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, customers)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(np.array(names)[rng.integers(0, len(names), n_part)]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, customers, n_orders), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n_orders)),
            "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", rng, n_orders),
                                    pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_lines), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, n_lines)),
            "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_lines)]),
            "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", rng, n_lines),
                                   pa.timestamp("us")),
        }),
    }


def write_tables(seed: int, out_dir: str, scale: Scale) -> dict[str, int]:
    """Write the full table set to ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(seed, scale.customers)
    tables["events"] = events_table(seed, scale.events, scale.event_users)
    tables["documents"], _ = documents_table(seed, scale.documents)
    tables["embeddings"] = embeddings_table(seed, scale.embeddings)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def write_documents(seed: int, out_dir: str, n_unique: int, exact_share: float,
                    near_share: float) -> dict[str, int]:
    os.makedirs(out_dir, exist_ok=True)
    table, counts = documents_table(seed, n_unique, exact_share, near_share)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return {**counts, "rows": table.num_rows}


def write_event_files(seed: int, out_dir: str, n_files: int, per_file: int,
                      users: int) -> list[str]:
    """``n_files`` parquet files of ``per_file`` events each (file ``i``
    holds event ids ``i*per_file ...``)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(events_table(seed, per_file, users, first_id=i * per_file), path)
        paths.append(path)
    return paths
