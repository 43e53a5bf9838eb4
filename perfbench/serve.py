"""The served corpus, its HTTP routes and the checks on their answers.

Every request goes through ``http_shim`` to ``api.Engine``. A read's
check uses the corpus row its query was built from.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from urllib.parse import quote

from vector_search_application_spark.api import Engine
from vector_search_application_spark.plans import corpus

import inputs

EXACT_SCORE = 1.0
DENSE_BRANCH = ("dense", "hybrid", "fusion", "search")


@dataclass(frozen=True, order=True)
class Product:
    part_number: str
    name: str
    id: int


def products(seed: int, sizes: inputs.Sizes) -> list[Product]:
    """The served corpus rows that have a description, sorted by part
    number: the pool the served reads draw their queries from.

    Derived from the generated part table by the products contract
    (FIXTURES.md §1, plans/corpus.py): part number = brand without '#'
    upper-cased + the key zero-padded to 7 digits; id = the first 15 hex
    digits of md5("id|" + part number); rows whose key hits the
    description-null rule have no text to query. The checks compare
    response ids against these, so a drift in the engine's derivation
    fails the run."""
    out = []
    for key, (name, brand) in enumerate(inputs.part_rows(seed, sizes)):
        if key % corpus.DESC_NULL_MOD == 7:
            continue
        k = str(key)
        pn = brand.replace("#", "").upper() + (k if len(k) >= 7 else k.zfill(7))
        out.append(Product(pn, name, product_id(pn)))
    return sorted(out)


def product_id(part_number: str) -> int:
    return int(hashlib.md5(f"id|{part_number}".encode()).hexdigest()[:15], 16)


def exact_hit(results: list[dict], pid: int) -> bool:
    """The part is among the results at 1.0 through the exact branch
    (vector hits may tie it at 1.0: a 64-dim hashed embedding of a
    one-token part number can equal a description's)."""
    return any(
        r["id"] == pid and r["score"] == EXACT_SCORE and "exact" in r["search_type"]
        for r in results
    )


def url(base: str, route: str, text: str, trace: int | None = None) -> str:
    q = quote(text)
    path = {
        "dense": f"/api/search/ultra-fast?q={q}&count=10",
        "sparse": f"/api/sparse?query={q}&limit=10",
        "hybrid": f"/api/hybrid?query={q}&limit=10",
        "fusion": f"/api/search/fusion?q={q}&count=10",
        "search": f"/api/search?q={q}&count=10",
    }[route]
    # the shim ignores parameters it does not know; the traced run uses
    # this one to link the server-side span to the client's
    return base + path + (f"&_trace={trace}" if trace is not None else "")


def check_read(route: str, status: int, body: dict, own: Product) -> str:
    """"" when the response is right, else what is wrong. A dense-family
    query built from a row's own text ranks that row first (ties at the
    top score allowed: rows with the same words have the same vector);
    sparse and hybrid return it among the top k; a part-number query
    returns its own part at score 1.0 through the exact branch."""
    results = body.get("results") or []
    if status != 200 or not results:
        return f"{route} {own.part_number}: status {status}, {len(results)} results"
    if route == "fusion":
        ok = exact_hit(results, own.id)
    elif route in ("dense", "search"):
        hit = [r for r in results if r["id"] == own.id]
        ok = bool(hit) and hit[0]["score"] >= max(r["score"] for r in results)
    else:
        ok = any(r["id"] == own.id for r in results)
    return "" if ok else f"{route} {own.name!r} ({own.part_number}): {results[:3]}"


def setup_engine(spark, data_dir: str) -> Engine:
    """Engine construction and the engine's own warm-up, which
    materializes its persisted corpus and indexes."""
    engine = Engine(spark, data_dir)
    engine.optimize()
    return engine


def seed_docs(pool: list[Product], n: int) -> list[dict]:
    return [inputs.product_doc(p.part_number, p.name, 950.0) for p in pool[:n]]
