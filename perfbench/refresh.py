"""The cold corpus refresh: the IVF layout and dedup clustering.

Each step starts from released caches (``functions/cache.release_all``
and Spark's own cache), so it pays the full shuffle-heavy and iterative
cost of ``operators/ann``, ``operators/dedup`` and ``sources/layout``
that no warm path reaches.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from vector_search_application_spark.functions import cache
from vector_search_application_spark.operators import ann
from vector_search_application_spark.plans import corpus
from vector_search_application_spark.plans.registry import REGISTRY
from vector_search_application_spark.plans.registry_dedup import (
    EXACT_OFFSET,
    NEAR_OFFSET,
)

# the dedup registry builder the refresh runs: SimHash pairs folded into
# connected components by iterative min-label propagation
COMPONENTS = "dedup_components"


def release(spark) -> None:
    cache.release_all()
    spark.catalog.clearCache()


def build_ivf(spark, data_dir: str, out: str) -> None:
    ann.write_ivf_indexed(corpus.vectors(spark, data_dir), out)


def registry_builder(name: str):
    for d in REGISTRY:
        if d.name == name:
            return d.spark
    raise KeyError(name)


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def layout_ok(path: str, n_vectors: int) -> bool:
    """The written layout, read back, holds every vector once, and its
    centroid table sits beside it."""
    ids = pq.read_table(path, columns=["id"]).column("id").to_pylist()
    cents = pq.read_table(ann.ivf_cents_path(path)).num_rows
    return sorted(ids) == list(range(n_vectors)) and cents > 0


def components_ok(rows, n_docs: int) -> bool:
    """The dedup input (documents 0..n_docs-1, a near copy of every
    tenth and an exact copy of every tenth offset by five) is mapped
    once per document, each to the minimum id of its component: every
    canonical id maps to itself, and an exact copy shares its source's
    component."""
    canon = {r["doc_id"]: r["canonical_id"] for r in rows}
    docs = range(n_docs)
    expected = (
        set(docs)
        | {d + NEAR_OFFSET for d in docs if d % 10 == 0}
        | {d + EXACT_OFFSET for d in docs if d % 10 == 5}
    )
    return (
        len(rows) == len(expected)
        and canon.keys() == expected
        and all(c <= d and canon[c] == c for d, c in canon.items())
        and all(canon[d + EXACT_OFFSET] == canon[d] for d in docs if d % 10 == 5)
    )
