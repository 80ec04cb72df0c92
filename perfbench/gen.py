"""Seeded generator for the benchmark's input tables.

Writes the ten tables the gates read (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet file
each, with the schemas, key ranges and value distributions of the suite's
reference test data: uniform TPC-H-like star schema, a 30-day event stream,
a small-vocabulary document corpus with exactly 5% " dup"-suffixed near
copies, and unit-norm 64-d embeddings with ten weakly clustered labels.
The same (seed, sf) always gives byte-identical tables.  The benchmark
always uses DATA_SEED, so its inputs are the same in every run.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

DAY_US = 86_400 * 1_000_000
DATA_SEED = 0


def _days(start: str, end: str, rng: np.random.Generator, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    # the reference tables store every timestamp as parquet INT64
    # Timestamp(MICROS) (their pandas metadata says datetime64[ns], the
    # in-memory type they were written from), so Spark reads them as
    # timestamps, not as the nanosecond bigints __spark_entry__ converts
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table in memory; one child generator per table keeps
    each table's content independent of the others' sizes."""
    streams = np.random.SeedSequence(seed).spawn(len(TABLES))
    rng = dict(zip(TABLES, (np.random.default_rng(s) for s in streams)))
    n_cust = max(1, int(round(150_000 * sf)))
    n_supp = max(1, int(round(10_000 * sf)))
    n_part = max(1, int(round(200_000 * sf)))
    n_ord = max(1, int(round(1_500_000 * sf)))
    n_line = max(1, int(round(6_000_000 * sf)))
    n_ev = max(1, int(round(1_000_000 * sf)))
    n_users = max(1, int(round(15_000 * sf)))
    n_docs = max(500, int(round(50_000 * sf)))
    n_vecs = max(500, int(round(20_000 * sf)))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = rng["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust),
    })

    r = rng["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
    })

    r = rng["part"]
    keys = np.arange(n_part, dtype=np.int64)
    adj = np.asarray(ADJECTIVES, dtype=object)[r.integers(0, 8, n_part)]
    noun = np.asarray(NOUNS, dtype=object)[r.integers(0, 8, n_part)]
    out["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    })

    r = rng["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(r, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(_days("1995-01-01", "2001-08-01", r, n_ord)),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord),
    })

    r = rng["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(np.round(r.uniform(0.0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(r.uniform(0.0, 0.08, n_line), 2)),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": _ts(_days("1995-01-02", "2001-11-04", r, n_line)),
    })

    r = rng["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + r.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": _pick(r, EVENT_TYPES, n_ev),
        "value": pa.array(np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)], pa.string()),
    })

    r = rng["documents"]
    # fixed shape, seeded content: the word-count multiset and the number of
    # " dup" near copies (5%) are the same for every seed
    words = np.asarray(WORDS, dtype=object)
    lengths = r.permutation(np.resize(np.arange(10, 100), n_docs))
    is_dup = np.zeros(n_docs, dtype=bool)
    is_dup[1 + r.choice(n_docs - 1, n_docs // 20, replace=False)] = True
    texts: list[str] = []
    for i in range(n_docs):
        if is_dup[i]:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[r.integers(0, len(WORDS), int(lengths[i]))]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(r, LANGS, n_docs, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    r = rng["embeddings"]
    labels = r.integers(0, 10, n_vecs)
    centers = r.normal(0.0, 1.0, (10, 64))
    vecs = r.normal(0.0, 1.0, (n_vecs, 64)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return out


def write(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
