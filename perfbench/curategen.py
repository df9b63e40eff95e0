"""Seeded inputs for the curate workload: the four fixture tables its
registry queries read (``documents``, ``embeddings``, ``orders``,
``lineitem``), in the column layout of the engine's fixture tables.

Sizes follow the sf0.01 fixture's corpus (500 documents, 500 64-d
vectors) and a purchase graph of 1,500 customers and 100 suppliers.
Every fifth document is a near-duplicate of an earlier one (a few words
changed), so the dedup and span-removal operators find clusters and
shared windows, as on a crawled corpus.

The seed decides which row gets which value, not how much work there is:
document lengths, cluster sizes and lines per order are fixed multisets
that the seed shuffles, so runs on different seeds time the same amount
of work.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 500
NEAR_DUP_EVERY = 5
N_VECS = 500
DIM = 64
N_LABELS = 10
N_ORDERS = 4000
MAX_LINES_PER_ORDER = 7
N_CUSTOMERS = 1500
N_SUPPLIERS = 100

VOCAB = (
    "a the row key agg scan slow fast table value part hash merge batch "
    "spark sort window data column join small line customer query big "
    "order group stream filter vector"
).split()
LANGS = ("en", "de", "es", "fr", "zh")


def _documents(rng: random.Random) -> pa.Table:
    lengths = [8 + i * 82 // (N_DOCS - 1) for i in range(N_DOCS)]
    rng.shuffle(lengths)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i % NEAR_DUP_EVERY == NEAR_DUP_EVERY - 1:
            words = texts[rng.randrange(i)].split()
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
        else:
            words = [rng.choice(VOCAB) for _ in range(lengths[i])]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in texts],
            "source": [f"src{rng.randrange(20)}" for _ in texts],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: random.Random) -> pa.Table:
    centers = [[rng.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(N_LABELS)]
    labels = [i % N_LABELS for i in range(N_VECS)]
    rng.shuffle(labels)
    vecs = [[c + rng.gauss(0.0, 0.5) for c in centers[lab]] for lab in labels]
    return pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _purchases(rng: random.Random) -> tuple[pa.Table, pa.Table]:
    custkeys = [rng.randint(1, N_CUSTOMERS) for _ in range(N_ORDERS)]
    n_lines = [1 + i % MAX_LINES_PER_ORDER for i in range(N_ORDERS)]
    rng.shuffle(n_lines)
    l_order, l_supp = [], []
    for ok in range(1, N_ORDERS + 1):
        for _ in range(n_lines[ok - 1]):
            l_order.append(ok)
            l_supp.append(rng.randint(1, N_SUPPLIERS))
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(1, N_ORDERS + 1), pa.int64()),
            "o_custkey": pa.array(custkeys, pa.int64()),
        }
    )
    lineitem = pa.table(
        {"l_orderkey": pa.array(l_order, pa.int64()), "l_suppkey": pa.array(l_supp, pa.int64())}
    )
    return orders, lineitem


def write(seed: int, out_dir: str) -> dict[str, int]:
    """Write the four tables as ``out_dir/<name>.parquet``; returns their
    row counts."""
    rng = random.Random(seed)
    orders, lineitem = _purchases(rng)
    tables = {
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
        "orders": orders,
        "lineitem": lineitem,
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
