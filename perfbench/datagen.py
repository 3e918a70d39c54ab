"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the workload slots read (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the schemas and value domains of the frozen test data:
uniform keys, TPC-H-ish categorical domains, a monotone ``events.ts``
over January 2024, documents of 10-99 words drawn uniformly from a
30-word vocabulary of which one in twenty is a near duplicate (another
document's text plus `` dup``), and i.i.d. unit-norm 64-d embeddings.
``perfbench/datacheck.py`` compares these properties against a frozen
data directory.

The relational tables and ``events`` are drawn from ``seed``. The text
and vector corpus (``documents``, ``embeddings``) is drawn from a fixed
seed: its slots hard-code id ranges (history < 300/400, delta < 500/600)
and their DuckDB oracles cost tens of seconds, so one corpus is checked
once per checkout and reused (see ``oracle.py``).
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at scale 1.0 of this generator, which is the frozen
#: data's sf0.01 (lineitem 60k rows).
BASE_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
}
CORPUS_ROWS = 500
#: Of 13 seeds tried, the one whose token-set Jaccard and embedding
#: cosine pair counts sit inside the frozen corpora's range (datacheck).
CORPUS_SEED = 1
#: One document in this many is a near duplicate: another document's
#: text with " dup" appended (a copy of a copy carries it twice).
NEAR_DUP_EVERY = 20

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def relational_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * scale))) for k, v in BASE_ROWS.items()}
    i32 = pa.int32()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    adj = rng.integers(0, len(PART_ADJ), npart)
    noun = rng.integers(0, len(PART_NOUN), npart)
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, nc // 10), ne),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    return out


def corpus_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(CORPUS_SEED)
    n = CORPUS_ROWS
    words = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(VOCAB), k)])
        for k in rng.integers(10, 100, n)
    ]
    for i in np.sort(rng.choice(n, n // NEAR_DUP_EVERY, replace=False)):
        j = (i + rng.integers(1, n)) % n
        texts[i] = texts[j] + " dup"
    docs = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n, DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}


def write_tables(out_dir: Path, seed: int, scale: float = 1.0) -> Path:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    out_dir.mkdir(parents=True, exist_ok=True)
    tables = {**relational_tables(seed, scale), **corpus_tables()}
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return out_dir
