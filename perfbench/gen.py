"""Seeded input generator for the benchmark.

Writes the ten tables the query functions read (``documents``,
``embeddings``, ``events`` and the TPC-H-style star schema) as one
parquet file each, with the same schemas as the engine's test data.

Row counts and schemas are fixed for every seed.  A fixed base seed
draws the content; the run seed only picks

- the physical row order of every table,
- which documents are near-duplicates (a copy of another document's
  text with a ``dup`` token appended) and which are exact copies,
- small Gaussian noise on the embedding vectors,

so every seed asks the engine for the same amount of work on different
inputs.

Usage::

    python3 perfbench/gen.py --seed 7 --out /tmp/bench-data
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101

N_DOCS = 600
NEAR_DUP_SHARE = 0.10
EXACT_DUP_SHARE = 0.02
N_VECS = 600
VEC_DIM = 64
N_LABELS = 10
VEC_NOISE = 0.01
N_EVENTS = 10_000
N_USERS = 300
N_CUSTOMERS = 750
N_SUPPLIERS = 50
N_PARTS = 1_000
N_ORDERS = 7_500
N_LINEITEMS = 30_000

SIZES = {
    "documents": N_DOCS,
    "embeddings": N_VECS,
    "events": N_EVENTS,
    "region": 5,
    "nation": 25,
    "customer": N_CUSTOMERS,
    "supplier": N_SUPPLIERS,
    "part": N_PARTS,
    "orders": N_ORDERS,
    "lineitem": N_LINEITEMS,
}

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
SEGMENTS = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
PART_TYPES = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])
STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(base: np.random.Generator, run: np.random.Generator) -> pa.Table:
    lengths = base.integers(10, 101, N_DOCS)
    texts = [" ".join(base.choice(WORDS, size=n)) for n in lengths]
    # The run seed picks which documents copy another one's text.
    n_near = int(N_DOCS * NEAR_DUP_SHARE)
    n_exact = int(N_DOCS * EXACT_DUP_SHARE)
    picked = run.choice(N_DOCS, size=2 * (n_near + n_exact), replace=False)
    copies, sources = picked[: n_near + n_exact], picked[n_near + n_exact :]
    for i, (dst, src) in enumerate(zip(copies, sources)):
        texts[dst] = texts[src] + (" dup" if i < n_near else "")
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(base.choice(LANGS, size=N_DOCS, p=LANG_P)),
            "source": pa.array([f"src{i % 10}" for i in range(N_DOCS)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(base: np.random.Generator, run: np.random.Generator) -> pa.Table:
    labels = base.integers(0, N_LABELS, N_VECS)
    centers = base.standard_normal((N_LABELS, VEC_DIM))
    vecs = base.standard_normal((N_VECS, VEC_DIM)) + 0.6 * centers[labels]
    vecs += VEC_NOISE * run.standard_normal(vecs.shape)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events(base: np.random.Generator) -> pa.Table:
    ts = np.sort(_EPOCH_2024 + base.integers(0, 30 * _US_PER_DAY, N_EVENTS))
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(base.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": pa.array(base.choice(EVENT_TYPES, N_EVENTS)),
            "value": pa.array(_money(base, 0.0, 200.0, N_EVENTS)),
            "props": pa.array([f'{{"k": {k}}}' for k in base.integers(0, 100, N_EVENTS)]),
        }
    )


def _star_schema(base: np.random.Generator) -> dict[str, pa.Table]:
    def days(lo: int, hi: int, n: int) -> pa.Array:
        return _ts(_EPOCH_1995 + base.integers(lo, hi, n) * _US_PER_DAY)

    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMERS)]),
                "c_nationkey": pa.array(base.integers(0, 25, N_CUSTOMERS), pa.int32()),
                "c_acctbal": pa.array(_money(base, -999.99, 9999.99, N_CUSTOMERS)),
                "c_mktsegment": pa.array(base.choice(SEGMENTS, N_CUSTOMERS)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(N_SUPPLIERS), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)]),
                "s_nationkey": pa.array(base.integers(0, 25, N_SUPPLIERS), pa.int32()),
                "s_acctbal": pa.array(_money(base, -999.99, 9999.99, N_SUPPLIERS)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(N_PARTS), pa.int64()),
                "p_name": pa.array(base.choice(part_names, N_PARTS)),
                "p_brand": pa.array([f"Brand#{b}" for b in base.integers(1, 26, N_PARTS)]),
                "p_type": pa.array(base.choice(PART_TYPES, N_PARTS)),
                "p_size": pa.array(base.integers(1, 51, N_PARTS), pa.int32()),
                "p_retailprice": pa.array(np.round(900 + (np.arange(N_PARTS) % 1000) / 10, 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
                "o_custkey": pa.array(base.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
                "o_orderstatus": pa.array(base.choice(STATUSES, N_ORDERS)),
                "o_totalprice": pa.array(_money(base, 1000.0, 500000.0, N_ORDERS)),
                "o_orderdate": days(0, 2405, N_ORDERS),
                "o_orderpriority": pa.array(base.choice(PRIORITIES, N_ORDERS)),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(base.integers(0, N_ORDERS, N_LINEITEMS), pa.int64()),
                "l_partkey": pa.array(base.integers(0, N_PARTS, N_LINEITEMS), pa.int64()),
                "l_suppkey": pa.array(base.integers(0, N_SUPPLIERS, N_LINEITEMS), pa.int64()),
                "l_linenumber": pa.array(base.integers(1, 8, N_LINEITEMS), pa.int32()),
                "l_quantity": pa.array(base.integers(1, 51, N_LINEITEMS).astype(float)),
                "l_extendedprice": pa.array(_money(base, 900.0, 105000.0, N_LINEITEMS)),
                "l_discount": pa.array(base.integers(0, 11, N_LINEITEMS) / 100),
                "l_tax": pa.array(base.integers(0, 9, N_LINEITEMS) / 100),
                "l_returnflag": pa.array(base.choice(np.array(["N", "A", "R"]), N_LINEITEMS)),
                "l_linestatus": pa.array(base.choice(np.array(["O", "F"]), N_LINEITEMS)),
                "l_shipdate": days(1, 2500, N_LINEITEMS),
            }
        ),
    }


def generate(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table for ``seed`` under ``out_dir``; return row counts."""
    base = np.random.default_rng(BASE_SEED)
    run = np.random.default_rng(seed)
    tables = {
        "documents": _documents(base, run),
        "embeddings": _embeddings(base, run),
        "events": _events(base),
        **_star_schema(base),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        if table.num_rows != SIZES[name]:
            raise RuntimeError(f"{name}: {table.num_rows} rows, expected {SIZES[name]}")
        shuffled = table.take(pa.array(run.permutation(table.num_rows)))
        pq.write_table(shuffled, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(generate(args.seed, args.out))


if __name__ == "__main__":
    main()
