"""Engine benchmark: one workload in a fresh process, one JSON line out.

    python3 enginebench/run.py --workload catalog_build --seed 1 --seconds 15 --trace 0

Run from the checkout root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones (see README.md for what each means).
Diagnostics go to standard error. ``--inject-wrong`` corrupts one
checked answer, for the self-test that proves the checks report it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import envpin  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("catalog_build", "ingest_serve")
BENCH_FILE = os.path.join(envpin.ROOT, "BENCHMARK.json")


class Context:
    def __init__(self, args, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = args.seed
        self.seconds = args.seconds
        self.inject_wrong = args.inject_wrong


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong", action="store_true")
    return ap.parse_args(argv)


def start(args, timer):
    """Set-up: session start, a warm-up job and, on the catalog, the
    shared preps its frozen set reads. Returns the session and the
    seconds the preps took."""
    from gcpdatapipelines_spark import session

    envpin.check_engine_from_checkout()
    if timer is not None:
        timer.install()
    spark = session.get_spark("enginebench", extra_conf=envpin.extra_conf())
    spark.range(1_000_000).selectExpr("sum(id)").write.mode("overwrite").format("noop").save()
    prewarm_s = 0.0
    if args.workload == "catalog_build":
        t0 = time.perf_counter()
        workloads.fill_preps(spark)
        prewarm_s = time.perf_counter() - t0
    return spark, prewarm_s


def stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(tr, out, setup: dict) -> dict[str, float]:
    """Per-layer metrics: means over warm passes, ``codegen.cold_*`` from
    the cold pass, set-up layers from set-up, run-level diagnostics."""
    warm = tr.warm or [tr.cold]
    keys = set().union(*warm)

    def mean(key):
        return sum(p.get(key, 0.0) for p in warm) / len(warm)

    m = {k: mean(k) for k in keys}
    calls = m.get("serving.point_query_calls", 0.0)
    step_s = sum(m.get(k, 0.0) for k in ("queries.build_s", "exec.s", "serving.lookup_s"))
    wall = m.get("pass_wall_s", 0.0)
    m.update(setup)
    m.update(out.layers)
    m.update(
        {
            "codegen.cold_compiles": tr.cold.get("codegen.compiles", 0.0),
            "codegen.cold_compile_ms": tr.cold.get("codegen.compile_ms", 0.0),
            "serving.point_query_ms": 1e3 * m.get("serving.point_query_s", 0.0) / calls
            if calls
            else 0.0,
            "serving.point_query_jobs": m.get("serving.point_query_jobs", 0.0) / calls
            if calls
            else 0.0,
            "noise.canary_s": statistics.median(out.canary_s),
            "trace.overhead_s": tr.overhead_s,
            "trace.unattributed_share": max(0.0, 1 - step_s / wall) if wall else 0.0,
        }
    )
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(BENCH_FILE) as fh:
        bench = json.load(fh)
    envpin.pin()
    timer = tracing.LayerTimer() if args.trace else None
    if args.workload == "ingest_serve":
        batches = workloads.prepare_ingest(args.seed)
    else:
        batches = None
        envpin.check_fixture()

    t0 = time.perf_counter()
    spark, prewarm_s = start(args, timer)
    setup_s = time.perf_counter() - t0
    try:
        setup_layers = {}
        tr = tracing.NullTracer()
        if timer is not None:
            setup_layers = {
                "session.get_spark_s": timer.seconds["session.get_spark"],
                "queries.prewarm_s": prewarm_s,
            }
            tr = tracing.Tracer(timer)
            tr.attach(spark)
        ctx = Context(args, spark, tr)
        if batches is None:
            out = workloads.run_catalog(ctx)
        else:
            out = workloads.run_ingest(ctx, batches)
    finally:
        stop(spark)

    if args.trace:
        values = layer_metrics(tr, out, setup_layers)
        specs = bench["per_layer"]
    else:
        values = {"setup_s": setup_s, **workloads.summarize(out)}
        specs = bench["end_to_end"]
    metrics = {
        s["name"]: {"value": float(values.get(s["name"], 0.0)), "unit": s["unit"]}
        for s in specs
    }
    for p in out.problems:
        print(f"enginebench: {p}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
