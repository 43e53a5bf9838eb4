"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 24 --trace 0

Run from the root of a checkout. Builds the workload's inputs from the
seed, starts a Spark session through the engine's own factory, runs the
workload (see workloads.py) and prints:

- a table of every end-to-end metric the workload reports, with unit,
  sample count and regression bound (the bounds of the metrics in
  BENCHMARK.json come from there, the others from config.json);
- with ``--trace 1``, the tracing overhead per end-to-end metric against
  the last untraced run of the same workload in this checkout, and the
  path of the span tree written as JSON;
- as the last line, one JSON object: ``correct``, ``attempted``,
  ``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json
  untraced, its per-layer metrics traced).

Everything the run writes goes under perfbench/.work in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--profile", default="full",
                   help="input sizes and client count, from config.json")
    return p.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout and
    size the session to the host's CPUs."""
    conf = os.path.join(run_dir, "conf")
    tmp = os.path.join(run_dir, "tmp")
    for d in (conf, tmp):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("spark.ui.showConsoleProgress false\n")
        f.write(f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp}\n")
        f.write(f"spark.sql.warehouse.dir {os.path.join(run_dir, 'warehouse')}\n")
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_CONF_DIR": conf,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": "2g",
    })
    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the session launched."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def report(res, gated: list[dict], extra: dict) -> list[str]:
    """One line per end-to-end metric: value, unit, samples, bound, and
    whether BENCHMARK.json gates it."""
    lines = [f"{'metric':<16}{'value':>14}  {'unit':<6}{'n':>6}  {'bound':>6}  gated"]
    for name, (value, n) in res.e2e.items():
        spec = next((m for m in gated if m["name"] == name), None) or extra[name]
        lines.append(
            f"{name:<16}{value:>14.4f}  {spec['unit']:<6}{n:>6}  {spec['bound']:>6}  "
            f"{'yes' if name in {m['name'] for m in gated} else 'no'}"
        )
    return lines


def run(args, cfg: dict, run_dir: str):
    """Generate the inputs, start the session, run the workload, stop
    the session. Returns (result, tracer)."""
    prepare_env(run_dir)
    import inputs
    import workloads
    from spans import Tracer
    from vector_search_application_spark.session import get_spark

    profile = cfg["profiles"][args.profile]
    sizes = inputs.Sizes(profile["parts"], profile["vectors"], profile["docs"])
    data_dir = os.path.join(run_dir, "data")
    inputs.write_tables(args.seed, sizes, data_dir)
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = workloads.Ctx(
            spark=spark, tracer=tracer, cfg=cfg, seed=args.seed,
            work=run_dir, data_dir=data_dir, sizes=sizes,
            clients=min(profile["clients"], len(os.sched_getaffinity(0))),
        )
        try:
            res = workloads.WORKLOADS[args.workload](ctx)
        finally:
            tracer.close()
    finally:
        stop_spark(spark)
    res.notes["session_s"] = session_s
    res.notes["phases_s"] = ctx.phases
    return res, tracer


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "vector_search_application_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        res, tracer = run(args, cfg, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = report(res, spec["end_to_end"], cfg["report"])
    untraced_path = os.path.join(WORK, "untraced", f"{args.workload}.json")
    e2e = {k: v for k, (v, _) in res.e2e.items()}
    if args.trace:
        overhead = {}
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                base = json.load(f)
            overhead = {k: e2e[k] - base[k] for k in e2e if k in base}
        span_path = os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(span_path), exist_ok=True)
        tracer.dump(span_path, {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "end_to_end": e2e,
            "tracing_overhead": overhead, "per_layer": res.layers,
            "notes": res.notes,
        })
        lines.append("tracing overhead (traced - untraced): " + (
            json.dumps({k: round(v, 4) for k, v in overhead.items()})
            if overhead else "no untraced run of this workload in this checkout"
        ))
        lines.append(f"span tree: {os.path.relpath(span_path, ROOT)}")
        # a layer the workload does not reach reports 0 (no requests,
        # no builds); the span tree shows which spans exist
        metrics = {
            m["name"]: {"value": res.layers.get(m["name"], 0), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        os.makedirs(os.path.dirname(untraced_path), exist_ok=True)
        with open(untraced_path, "w") as f:
            json.dump(e2e, f)
        metrics = {
            m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    lines.append("notes: " + json.dumps(res.notes, default=str))
    print("\n".join(lines))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
