"""Seeded input generation for the benchmark.

Every input a workload feeds the engine comes from here and from the
seed alone: the three source tables (written as parquet in the layout
the engine's corpus readers expect), the served reads with their route
mix, hot set and fresh queries, and the JSON import batch.
The engine receives only these generated inputs.

The tables copy the shape and vocabulary of the repository's testdata
(part / embeddings / documents), so every plan the benchmark times is
the plan the registry and the oracle gate run, at a size the benchmark
chooses.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJECTIVES = [
    "large", "small", "hot", "cold", "new", "old", "blue", "red",
    "heavy", "light", "steel", "brass", "round", "flat", "long", "short",
]
NOUNS = [
    "ring", "bolt", "gear", "rod", "plate", "anvil", "gizmo", "widget",
    "valve", "hose", "clamp", "nozzle", "torch", "regulator", "cylinder",
    "gauge",
]
DOC_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
LANGS = ["en", "de", "fr", "es", "zh"]
EMB_DIM = 64
N_LABELS = 10


@dataclass(frozen=True)
class Sizes:
    parts: int
    vectors: int
    docs: int


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input kind, so adding a draw to one
    # kind never shifts another kind's inputs for the same seed
    return np.random.default_rng([seed, sum(map(ord, stream))])


def product_name(rng: np.random.Generator) -> str:
    """Three-word description: two distinct adjectives and a noun."""
    a, b = rng.choice(len(ADJECTIVES), size=2, replace=False)
    return f"{ADJECTIVES[a]} {ADJECTIVES[b]} {NOUNS[rng.integers(len(NOUNS))]}"


def write_tables(seed: int, sizes: Sizes, out_dir: str) -> None:
    """Write part / embeddings / documents parquet under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "part")
    n = sizes.parts
    names, brands = zip(*_part_rows(rng, n))
    part = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": list(names),
        "p_brand": list(brands),
        "p_type": [TYPES[i] for i in rng.integers(len(TYPES), size=n)],
        "p_size": pa.array(rng.integers(1, 51, size=n).astype(np.int32)),
        "p_retailprice": np.round(900.0 + rng.random(n) * 100.0, 1),
    })
    pq.write_table(part, os.path.join(out_dir, "part.parquet"))

    rng = _rng(seed, "embeddings")
    n = sizes.vectors
    centres = rng.standard_normal((N_LABELS, EMB_DIM))
    labels = rng.integers(N_LABELS, size=n)
    vecs = centres[labels] + 0.6 * rng.standard_normal((n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(
            [row for row in vecs.astype(np.float32)],
            type=pa.list_(pa.float32()),
        ),
        "label": pa.array(labels.astype(np.int32)),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))

    rng = _rng(seed, "documents")
    n = sizes.docs
    texts = [
        " ".join(DOC_WORDS[i] for i in rng.integers(
            len(DOC_WORDS), size=int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(len(LANGS), size=n)],
        "source": [f"src{i}" for i in rng.integers(20, size=n)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))


def _part_rows(rng: np.random.Generator, n: int) -> list[tuple[str, str]]:
    return [(product_name(rng), f"Brand#{rng.integers(1, 26)}") for _ in range(n)]


def part_rows(seed: int, sizes: Sizes) -> list[tuple[str, str]]:
    """(p_name, p_brand) per p_partkey, as ``write_tables`` writes them."""
    return _part_rows(_rng(seed, "part"), sizes.parts)


# -- serving requests -----------------------------------------------------

ROUTES = ("dense", "sparse", "hybrid", "fusion", "search")


@dataclass(frozen=True)
class Request:
    route: str          # one of ROUTES
    text: str           # query text (a part number for "fusion")
    row: int            # index of the pool row the text was built from
    hot: bool           # drawn from the hot set (repeats) or fresh


def reads(
    seed: int, names: list[str], part_numbers: list[str], n: int, hot_set: int,
) -> list[Request]:
    """``n`` reads in blocks of ten, in a seeded order: each route twice
    per block, once with a query from a hot set of ``hot_set`` rows
    (repeats) and once with a row not queried before (fresh). Fixed
    composition keeps runs with different seeds comparable; the seed
    picks the rows and the order."""
    rng = _rng(seed, "schedule")
    order = rng.permutation(len(names))
    hot_rows = [int(r) for r in order[:hot_set]]
    fresh = iter(int(r) for r in order[hot_set:])
    block = [(route, hot) for route in ROUTES for hot in (True, False)]
    out: list[Request] = []
    while len(out) < n:
        for j in rng.permutation(len(block)):
            if len(out) == n:
                break
            route, hot = block[int(j)]
            row = hot_rows[int(rng.integers(hot_set))] if hot else next(fresh)
            text = part_numbers[row] if route == "fusion" else names[row]
            out.append(Request(route, text, row, hot))
    return out


# -- imports --------------------------------------------------------------

PRODUCT_FIELDS = [
    "_id", "partNumber_airgas_text", "manufacturerPartNumber_text",
    "shortDescription_airgas_text", "onlinePrice_string",
    "img_270Wx270H_string",
]


def product_doc(pn: str, name: str, price: float) -> dict:
    return {
        "_id": pn,
        "partNumber_airgas_text": pn,
        "manufacturerPartNumber_text": pn[-7:],
        "shortDescription_airgas_text": name,
        "onlinePrice_string": f"{price:.2f}",
        "img_270Wx270H_string": f"/images/{pn}.jpg",
    }


def write_table(path: str, docs: list[dict]) -> None:
    """A product table as the JSON importers write it: one parquet
    file of the product fields."""
    os.makedirs(path, exist_ok=True)
    cols = {f: [d[f] for d in docs] for f in PRODUCT_FIELDS}
    pq.write_table(pa.table(cols), os.path.join(path, "part-00000.parquet"))


def write_import(path: str, docs: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "products.json"), "w", encoding="utf-8") as f:
        json.dump(docs, f)


def import_batch(
    seed: int, base_docs: list[dict], updates: int, inserts: int,
) -> tuple[list[dict], str]:
    """A delta import: ``updates`` repriced documents from ``base_docs``
    and ``inserts`` new ones (a delta import upserts and never deletes).
    Returns the documents and a marker: the batch's first new part
    number."""
    rng = _rng(seed, "import")
    docs = []
    for i in rng.choice(len(base_docs), size=updates, replace=False):
        d = dict(base_docs[int(i)])
        d["onlinePrice_string"] = f"{900.0 + rng.random() * 100.0:.2f}"
        docs.append(d)
    new = [f"NEW{j:07d}" for j in range(inserts)]
    docs += [product_doc(pn, product_name(rng), 950.0) for pn in new]
    return docs, new[0]
