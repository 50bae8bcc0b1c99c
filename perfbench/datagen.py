"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical tables and returns identical arrays. The analytics
tables mirror the schema, row counts and value distributions of the
project's sf0.1 fixture (TPC-H-ish star schema, an events stream, a
short-text corpus with ~5% near duplicates, and clustered unit-norm
embeddings), so every registered query runs on them and its DuckDB
oracle applies.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

# Row counts of the sf0.1 fixture, the scale ``bench.py`` measures by default.
ANALYTICS_ROWS = {
    "customer": 15000,
    "supplier": 1000,
    "part": 20000,
    "orders": 150000,
    "lineitem": 600000,
    "events": 100000,
    "documents": 5000,
    "embeddings": 2000,
}


def clustered_unit_vectors(
    rng: np.random.Generator, n: int, dim: int, n_clusters: int, spread: float = 0.35
) -> tuple[np.ndarray, np.ndarray]:
    """``n`` unit-norm float32 vectors drawn around ``n_clusters``
    Gaussian centres; returns (vectors, cluster label per vector)."""
    centres = rng.normal(size=(n_clusters, dim))
    labels = rng.integers(0, n_clusters, n)
    x = centres[labels] + spread * rng.normal(size=(n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), labels.astype(np.int32)


class VectorMixture:
    """Unit-norm vectors around ``clusters_per_part · n_parts`` Gaussian
    centres, labelled by the nearest of the first ``n_parts`` centres.

    The labels cut through clusters the way an IVF partition cuts a real
    corpus, so a query's neighbours can sit in more than one shard and
    recall depends on how many shards a search probes. With labels equal
    to the generating cluster, every neighbour shares the query's shard
    and one probe already finds them all."""

    def __init__(self, rng: np.random.Generator, dim: int, n_parts: int,
                 clusters_per_part: int = 4, spread: float = 0.35):
        self.centres = rng.normal(size=(n_parts * clusters_per_part, dim))
        anchors = self.centres[:n_parts]
        self.anchors = anchors / np.linalg.norm(anchors, axis=1, keepdims=True)
        self.spread = spread

    def draw(self, rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
        """``n`` float32 vectors and the partition label of each."""
        c = rng.integers(0, len(self.centres), n)
        x = self.centres[c] + self.spread * rng.normal(size=(n, self.centres.shape[1]))
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        return x.astype(np.float32), np.argmax(x @ self.anchors.T, axis=1).astype(np.int32)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < 0.05:
            # near duplicate: an earlier document plus one marker token
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
            continue
        words = rng.choice(VOCAB, int(rng.integers(8, 110)))
        texts.append(" ".join(words)[: int(rng.integers(40, 580))].rstrip())
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def analytics_tables(seed: int, rows: dict[str, int] | None = None) -> dict[str, pa.Table]:
    """The ten tables the registry queries read, generated from ``seed``."""
    n = dict(ANALYTICS_ROWS, **(rows or {}))
    rng = np.random.default_rng(seed)
    ts = pa.timestamp("us")
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": _names("Customer", nc),
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": _names("Supplier", ns),
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000, 500000, no),
            "o_orderdate": pa.array(EPOCH_1995 + rng.integers(0, 2404, no) * DAY_US, ts),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": pa.array(EPOCH_1995 + rng.integers(1, 2499, nl) * DAY_US, ts),
        }
    )
    ne = n["events"]
    month_us = 30 * DAY_US
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(
                EPOCH_2024 + np.sort(rng.integers(0, month_us, ne)), ts
            ),
            # one user per ten customers, as in the fixtures
            "user_id": rng.integers(0, max(nc // 10, 1), ne).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = pa.table(_documents(rng, n["documents"]))
    vecs, labels = clustered_unit_vectors(rng, n["embeddings"], 64, 10)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(len(vecs), dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels,
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
