"""The benchmark's workloads.

``serve``: a fixed number of HTTP reads, one client in a closed loop,
through ``http_shim`` to ``api.Engine``: dense, sparse, hybrid, fusion
(part-number) and ``/api/search`` in equal shares, half of the query
texts from a small hot set and half fresh, so the Engine's embed LRU is
both hit and missed. Per-request plan build, py4j round trips, the shim
and the LRU sit on the blocking path here and nowhere else.

``refresh``: one corpus refresh: a delta import of updated and new
products into the served Engine (whose absorb re-persists the corpus
and rebuilds both indexes), then, each after every cache is released,
the IVF layout build and the connected-components dedup registry
builder. Ingest and the shuffle-heavy, iterative paths of
``operators/ann``, ``operators/dedup`` and ``sources/layout`` dominate;
HTTP and the embed LRU are bypassed.

Each workload returns its end-to-end values, the outcome counts and,
when traced, the per-layer values read from the spans.
"""

from __future__ import annotations

import gc
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from vector_search_application_spark import http_shim
from vector_search_application_spark.functions import embedder
from vector_search_application_spark.operators import bm25
from vector_search_application_spark.sources import json_source

import inputs
import loadgen
import refresh
import serve
from spans import SPARK_COUNTERS, Tracer


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    # name -> (value, n samples)
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def cached_bytes(spark) -> tuple[int, int]:
    """(persisted RDDs, their memory + disk bytes) from the storage info,
    once unreachable RDDs are cleaned: superseded localCheckpoint copies
    are freed by Spark's cleaner only after a garbage collection, at a
    time of its choosing, so collect garbage on both sides and wait
    until two reads agree."""
    sc = spark.sparkContext

    def read() -> tuple[int, int]:
        infos = sc._jsc.sc().getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos)

    gc.collect()
    sc._jvm.System.gc()
    prev = read()
    for _ in range(20):
        time.sleep(0.25)
        cur = read()
        if cur == prev:
            return cur
        prev = cur
    return prev


def spark_totals(spans: list[dict]) -> dict:
    """Sum of the spans' own Spark counters (spans are disjoint in self
    counts, so the sum over any set of spans never double counts)."""
    out = dict.fromkeys(SPARK_COUNTERS, 0)
    for s in spans:
        for k in SPARK_COUNTERS:
            out[k] += s["counters"].get(k, 0)
    return out


def latency_metrics(ms: list[float]) -> dict:
    """p50 and p90 of ``ms``, each with its sample count."""
    return {
        "p50_ms": (quantile(ms, 0.5), len(ms)),
        "p90_ms": (quantile(ms, 0.9), len(ms)),
    }


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    cfg: dict
    seed: int
    work: str
    data_dir: str
    sizes: inputs.Sizes
    clients: int
    phases: dict = field(default_factory=dict)
    _t: float = field(default_factory=time.perf_counter)

    def phase(self, name: str) -> None:
        """Record the seconds since the previous phase mark."""
        now = time.perf_counter()
        self.phases[name] = round(now - self._t, 2)
        self._t = now


def _timed_setup(ctx: Ctx, build) -> tuple[object, list[float]]:
    """Run ``build`` ``setup_reps`` times from released caches; returns
    the last result and every rep's seconds. The first rep also pays
    the JVM's own warm-up, so the median is the set-up a warm process
    repeats."""
    times, out = [], None
    for rep in range(ctx.cfg["setup_reps"]):
        refresh.release(ctx.spark)
        with ctx.tracer.span("setup", rep=rep):
            t0 = time.perf_counter()
            out = build()
            times.append(time.perf_counter() - t0)
    return out, times


# -- serve ----------------------------------------------------------------

# warm-up requests per route before the measured reads: latency keeps
# falling over the first few dozen requests of a fresh process (the
# JVM's JIT compiles the query-planning paths as they repeat)
WARM_PER_ROUTE = 2


def run_serve(ctx: Ctx) -> Result:
    cfg, tr = ctx.cfg["serve"], ctx.tracer
    pool = serve.products(ctx.seed, ctx.sizes)
    # the last rows serve the warm-up only
    n_warm = WARM_PER_ROUTE * len(inputs.ROUTES)
    queries, warm_rows = pool[:-n_warm], pool[-n_warm:]

    ctx.phase("prepare")
    engine, setup_times = _timed_setup(
        ctx, lambda: serve.setup_engine(ctx.spark, ctx.data_dir)
    )
    ctx.phase("setup")
    # requests on queries outside the measured reads: the served
    # engine's first-execution code generation, JIT compilation and
    # lazily built state are paid (and reported) here
    warm = _warm(engine, warm_rows, ctx.clients)
    # garbage of the set-up reps is collected now, not by Spark's
    # cleaner in the middle of the measured requests
    cached_bytes(ctx.spark)
    ctx.phase("warmup")

    reads = inputs.reads(
        ctx.seed, [p.name for p in queries], [p.part_number for p in queries],
        cfg["reads"], cfg["hot_set"],
    )
    server, base = http_shim.serve_background(engine)
    _trace_serving(tr, engine, server)

    def read(req: inputs.Request):
        def call():
            with tr.span("loadgen.request", route=req.route, hot=req.hot) as rec:
                status, body = loadgen.get_json(
                    serve.url(base, req.route, req.text, rec and rec["id"])
                )
            return serve.check_read(req.route, status, body, queries[req.row])
        return call

    try:
        outcomes = loadgen.run_closed([(r, read(r)) for r in reads])
    finally:
        server.shutdown()
        server.server_close()
        tr.unwrap()
    ctx.phase("measure")

    limit = cfg["latency_limit_ms"]
    # a failed read misses the latency limit by definition
    lat = [o.latency_ms if o.ok else max(o.latency_ms, limit) for o in outcomes]
    res = Result(attempted=len(outcomes), failed=sum(not o.ok for o in outcomes))
    _, nbytes = cached_bytes(ctx.spark)
    res.e2e = {
        "setup_s": (_median(setup_times), len(setup_times)),
        **latency_metrics(lat),
        "cached_mb": (nbytes / 2**20, 1),
        "failed_ratio": (res.failed / max(res.attempted, 1), res.attempted),
        "warmup_s": (warm, 1),
    }
    res.notes = {
        "latency_limit_ms": limit,
        "reads_over_limit": sum(x > limit for x in lat),
        "reads_ms": [
            (o.request.route, o.request.hot, round(o.latency_ms)) for o in outcomes
        ],
        "setup_reps_s": setup_times,
        "failures": [o.error for o in outcomes if not o.ok],
    }
    if tr.enabled:
        res.layers = _serve_layers(ctx)
        probe = _bm25_probe(
            ctx.spark, engine,
            [o.request.text for o in outcomes if o.request.route == "sparse"],
        )
        res.layers["bm25.matched_per_probed"] = probe["matched"] / max(probe["probed"], 1)
        res.notes["ratio_bases"] = {"bm25": probe}
    return res


def _warm(engine, rows, clients: int) -> float:
    """Seconds to answer one request per row, each route in turn, all
    due at once through ``clients`` connections."""
    server, base = http_shim.serve_background(engine)
    routes = inputs.ROUTES
    urls = [
        serve.url(base, routes[i % len(routes)],
                  p.part_number if routes[i % len(routes)] == "fusion" else p.name)
        for i, p in enumerate(rows)
    ]
    try:
        t0 = time.perf_counter()
        with ThreadPoolExecutor(clients) as pool:
            list(pool.map(loadgen.get_json, urls))
        return time.perf_counter() - t0
    finally:
        server.shutdown()
        server.server_close()


def _bm25_probe(spark, engine, texts: list[str]) -> dict:
    """Scored (query, doc) rows of the sparse requests against the
    postings rows their terms probe, recomputed through the same BM25
    operator over the engine's postings (traced run only; untimed)."""
    matched = probed = 0
    for text in texts:
        terms = bm25.query_terms(spark, text)
        matched += bm25.bm25_score_terms(engine.sparse_postings, terms).count()
        probed += engine.sparse_postings.join(terms, "term").count()
    return {"matched": matched, "probed": probed}


def _trace_serving(tr: Tracer, engine, server) -> None:
    """Spans around the shim's request handler and the Engine's public
    methods, installed on this server and this engine only."""
    handler = server.RequestHandlerClass

    def link(args, kwargs):
        # the client passes its span id as _trace=<id>
        path = args[0].path
        tag = "_trace="
        if tag in path:
            return int(path.split(tag, 1)[1].split("&", 1)[0])
        return None

    tr.wrap(handler, "do_GET", "http_shim.request", parent_of=link)
    tr.wrap(engine, "search_ultra_fast", "api.dense")
    tr.wrap(engine, "search_fusion", "api.fusion")
    tr.wrap(engine, "search", "api.search")
    tr.wrap(
        engine, "query",
        lambda args, kwargs: f"api.{args[1] if len(args) > 1 else kwargs.get('mode', 'hybrid')}",
    )
    tr.wrap(embedder, "embed_query_postings", "embedder.embed_query_postings")


def _measured_spans(tr: Tracer) -> list[dict]:
    """Every span outside the set-up reps."""
    setup = {s["id"] for r in tr.named("setup") for s in tr.under(r["id"])}
    return [s for s in tr.spans if s["id"] not in setup]


def _serve_layers(ctx: Ctx) -> dict:
    tr = ctx.tracer
    spans = _measured_spans(tr)
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    totals = tr.totals()

    def dur(s):
        return (s["end"] - s["start"]) * 1000.0

    out = {"http_shim.requests": len(tr.named("http_shim.request"))}
    self_ms, py4j = [], {r: [] for r in inputs.ROUTES}
    for c in tr.named("loadgen.request"):
        route = c["attrs"]["route"]
        for h in children.get(c["id"], []):
            api = [a for a in children.get(h["id"], []) if a["name"].startswith("api.")]
            self_ms.append(dur(c) - sum(dur(a) for a in api))
            py4j[route].append(totals[h["id"]]["py4j"])
    out["http_shim.self_ms_p50"] = _median(self_ms)
    api_spans = [s for s in spans if s["name"].startswith("api.")]
    for route in inputs.ROUTES:
        out[f"api.{route}.ms_p50"] = _median(
            [dur(s) for s in api_spans if s["name"] == f"api.{route}"]
        )
    lookups = sum(
        1 for s in api_spans if s["name"][4:] in serve.DENSE_BRANCH
    )
    misses = len(tr.named("embedder.embed_query_postings"))
    out["api.embed_cache.hits"] = lookups - misses
    out["api.embed_cache.misses"] = misses
    for route in inputs.ROUTES:
        out[f"plan.py4j_calls.{route}"] = _median(py4j[route])
    out.update(spark_totals(spans))
    n_rdds, nbytes = cached_bytes(ctx.spark)
    out["cache.persisted_rdds"] = n_rdds
    out["cache.persisted_bytes"] = nbytes
    return out


# -- refresh --------------------------------------------------------------


def run_refresh(ctx: Ctx) -> Result:
    cfg, tr, spark = ctx.cfg["refresh"], ctx.tracer, ctx.spark
    res = Result()
    pool = serve.products(ctx.seed, ctx.sizes)
    seed_docs = serve.seed_docs(pool, cfg["seed_docs"])
    # the import target table, written directly in the importers'
    # parquet layout (a Spark full import here would only add JVM time)
    table_dir = os.path.join(ctx.work, "table")
    inputs.write_table(table_dir, seed_docs)
    delta, marker = inputs.import_batch(
        ctx.seed, seed_docs, cfg["import_updates"], cfg["import_inserts"]
    )
    import_dir = os.path.join(ctx.work, "import")
    inputs.write_import(import_dir, delta)
    layout_dir = os.path.join(ctx.work, "layouts", "ivf")
    ctx.phase("prepare")
    engine, setup_times = _timed_setup(
        ctx, lambda: serve.setup_engine(spark, ctx.data_dir)
    )
    ctx.phase("setup")

    steps: dict[str, float] = {}
    built: dict = {}

    def step(name, fn, check, release=True):
        if release:
            refresh.release(spark)
        with tr.span(name):
            t0 = time.perf_counter()
            result = fn()
            steps[name] = time.perf_counter() - t0
        res.attempted += 1
        if not check(result):
            res.failed += 1
            res.notes.setdefault("failed_checks", []).append(name)

    def ingest():
        # the absorb completes inside import_delta, so the first exact
        # search after it must find the new part number
        engine.import_delta(import_dir, table_dir)
        return [r.asDict() for r in engine.search_fusion(marker).collect()]

    def components():
        # the builder call runs the propagation rounds; the action then
        # executes the final plan: timed apart as plan build
        with tr.span("plan.build"):
            t0 = time.perf_counter()
            df = refresh.registry_builder(refresh.COMPONENTS)(spark, ctx.data_dir)
            built["build_s"] = time.perf_counter() - t0
        with tr.span("execute"):
            return df.collect()

    tr.wrap(engine, "import_delta", "api.import_delta")
    tr.wrap(json_source, "import_delta", "json_source.import_delta")
    step("ingest", ingest,
         lambda rows: serve.exact_hit(rows, serve.product_id(marker)), release=False)
    tr.unwrap()
    # the serving state the absorb re-persisted, read before the cold
    # steps release every cache
    n_rdds, nbytes = cached_bytes(spark)
    step("ann.write_ivf_indexed",
         lambda: refresh.build_ivf(spark, ctx.data_dir, layout_dir),
         lambda _: refresh.layout_ok(layout_dir, ctx.sizes.vectors))
    step("dedup.components", components,
         lambda rows: refresh.components_ok(rows, ctx.sizes.docs))
    ctx.phase("measure")

    # the timed operation is the whole refresh (import, layout, dedup),
    # run once: p50 and p90 are its time
    res.e2e = {
        "setup_s": (_median(setup_times), len(setup_times)),
        **latency_metrics([sum(steps.values()) * 1000]),
        "cached_mb": (nbytes / 2**20, 1),
        "failed_ratio": (res.failed / max(res.attempted, 1), res.attempted),
        "ingest_s": (steps["ingest"], 1),
        "ann_build_s": (steps["ann.write_ivf_indexed"], 1),
        "dedup_s": (steps["dedup.components"], 1),
    }
    res.notes["setup_reps_s"] = setup_times
    if tr.enabled:
        files, size = refresh.dir_stats(layout_dir)
        res.layers = _refresh_layers(ctx, steps, built["build_s"], n_rdds, nbytes)
        res.layers["layout.files_written"] = files
        res.layers["layout.bytes_written"] = size
    return res


def _refresh_layers(ctx: Ctx, steps: dict, build_s: float, n_rdds: int, nbytes: int) -> dict:
    tr = ctx.tracer
    totals = tr.totals()
    spans = _measured_spans(tr)

    def one(name):
        return next(s for s in spans if s["name"] == name)

    def dur_s(s):
        return s["end"] - s["start"]

    api, src = one("api.import_delta"), one("json_source.import_delta")
    out = spark_totals(spans)
    out.update({
        "json_source.import_delta_s": dur_s(src),
        "api.absorb_s": dur_s(api) - dur_s(src),
        "cache.persisted_rdds": n_rdds,
        "cache.persisted_bytes": nbytes,
        "ann.write_ivf_indexed_s": steps["ann.write_ivf_indexed"],
        "dedup.components_s": steps["dedup.components"],
        "dedup.components_jobs": totals[one("dedup.components")["id"]]["spark.jobs"],
        "plan.build_ms.components": build_s * 1000,
        "plan.py4j_calls.components": totals[one("plan.build")["id"]]["py4j"],
    })
    return out


WORKLOADS = {"serve": run_serve, "refresh": run_refresh}
