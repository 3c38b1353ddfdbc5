"""Seeded generator for the synthetic tables the ``ml_queries`` mix reads.

Writes ``part``, ``lineitem``, ``documents`` and ``embeddings`` as one
parquet file each, with the column names, types and value domains of the
synthetic star schema the registry is written against (TESTDATA.md):
2-decimal money columns, day-aligned ship dates, short texts over a small
vocabulary and 64-dimensional float embeddings. The same seed gives the
same bytes.

Row counts scale with ``sf`` the way the reference tables do: at sf=0.01
lineitem has about 60k rows, part 2k, documents and embeddings 500.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "filter group big vector stream"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    """Round to whole cents the way a DECIMAL(…,2) column would hold it."""
    return np.round(x, 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the four tables under ``out_dir``; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 200)
    n_docs = max(int(50_000 * sf), 100)
    n_vecs = max(int(50_000 * sf), 100)

    adj = rng.integers(0, len(ADJECTIVES), n_part)
    noun = rng.integers(0, len(NOUNS), n_part)
    retail = _cents(900.0 + (np.arange(n_part) % 1000) / 10.0)
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": retail,
    })

    # lineitem: 1..7 lines per order, ship dates on whole days from 1995
    n_lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), n_lines)
    starts = np.cumsum(n_lines) - n_lines
    l_num = (np.arange(len(l_order)) - np.repeat(starts, n_lines) + 1).astype(np.int32)
    n_li = len(l_order)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_days = rng.integers(0, 2525, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": l_part.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": pa.array(l_num),
        "l_quantity": qty,
        "l_extendedprice": _cents(qty * retail[l_part]),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1995 + ship_days * _DAY_US),
    })

    # documents: random word strings; every 20th doc is a near-copy of an
    # earlier one (one word swapped) so the dedup operators find pairs
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and i % 20 == 0:
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(src))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    # embeddings: 10 label clusters on the unit sphere plus noise
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(scale=0.6, size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True) * 4.0
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return {"part": n_part, "lineitem": n_li, "documents": n_docs,
            "embeddings": n_vecs}
