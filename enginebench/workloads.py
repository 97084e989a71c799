"""The workloads. Each is a closed loop with one client: the next step
starts when the previous one has returned.

Every workload runs a cold pass, then warm passes, and times them with
``time.perf_counter``. Spark work is started through the engine's
public functions only; the benchmark's own Spark calls are the noop
write that executes a catalog frame, the aggregate of a CSV batch, and
the reads it makes to check outputs after the timed window.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import envpin
import ingestgen
import tracing

SETS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_sets.json")
MIN_WARM_PASSES = 6
CANARY_ROWS = 4_000_000


@dataclass
class Outcome:
    """What a workload measured and what it found wrong."""

    cold_pass_s: float = 0.0
    warm_pass_s: list[float] = field(default_factory=list)
    warm_stat: Callable[[list[float]], float] = statistics.median  # see summarize
    op_ms: list[float] = field(default_factory=list)  # one latency per operation
    # ingest: per warm batch, its lookups' latencies; see summarize
    batch_op_ms: list[list[float]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    live_heap_mb: float = 0.0
    canary_s: list[float] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)  # reported when traced

    def end_window(self, spark) -> None:
        """Memory readings taken when the timed window closes."""
        self.live_heap_mb = tracing.live_heap_mb(spark)
        self.layers["storage.cached_mb"] = tracing.cached_mb(spark)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


def canary(spark, out: Outcome) -> None:
    """A fixed calibration job; its time tracks how busy the host is."""
    t0 = time.perf_counter()
    spark.range(0, CANARY_ROWS, 1, 4).selectExpr("sum(hash(id)) AS h").write.mode(
        "overwrite"
    ).format("noop").save()
    out.canary_s.append(time.perf_counter() - t0)


def family(name: str) -> str:
    """Catalog name prefix: ``dedup_exact`` -> dedup, ``q17_x`` -> q."""
    return re.match(r"[a-z]+", name).group(0)


def query_set() -> list[str]:
    with open(SETS_FILE) as fh:
        return json.load(fh)["catalog_build"]


# -- catalog_build -----------------------------------------------------------

# The engine functions that fill the shared preps the frozen set reads:
# graph_pagerank reads the co-purchase edges. prewarm() makes the same
# call, and fills every other prep too (about 29 s on 4 CPUs).
PREPS = ("_copurchase_edges_cached",)


def fill_preps(spark) -> None:
    """Set-up step: fill the shared preps of the frozen set."""
    from gcpdatapipelines_spark import queries as catalog

    for fn in PREPS:
        getattr(catalog, fn)(spark, envpin.FIXTURE).write.mode("overwrite").format(
            "noop"
        ).save()


def run_catalog(ctx) -> Outcome:
    """Passes over the frozen query set, each in an order the seed
    shuffles. A query is built by calling its catalog function and
    executed by a noop write."""
    from gcpdatapipelines_spark import queries as catalog

    spark, tr, sf = ctx.spark, ctx.tracer, envpin.FIXTURE
    names = query_set()
    rng = random.Random(ctx.seed)
    out = Outcome(warm_stat=min)
    last_df = {}
    warm_ms: dict[str, list[float]] = {name: [] for name in names}
    errors: dict[str, str] = {}
    canary(spark, out)
    t_start = time.perf_counter()
    middle_done = False
    n_pass = 0
    while True:
        order = list(names)
        rng.shuffle(order)
        tr.begin_pass()
        t_pass = time.perf_counter()
        untimed = 0.0
        for name in order:
            out.attempted += 1
            fam = family(name)
            try:
                fn = catalog.SPARK_QUERIES[name]
                t0 = time.perf_counter()
                with tr.step("queries.build_s", "queries.build_", f"family.{fam}.build_s"):
                    df = fn(spark, sf)
                t1 = time.perf_counter()
                tr.catalyst(df)
                t2 = time.perf_counter()
                with tr.step("exec.s", "exec.", f"family.{fam}.exec_s"):
                    df.write.mode("overwrite").format("noop").save()
                t3 = time.perf_counter()
            except Exception as exc:  # a failing query counts, the run goes on
                out.fail(f"{name}: {type(exc).__name__}: {exc}"[:300])
                errors.setdefault(name, str(exc))
                continue
            untimed += t2 - t1
            last_df[name] = df
            if n_pass:
                warm_ms[name].append(((t1 - t0) + (t3 - t2)) * 1e3)
        pass_s = time.perf_counter() - t_pass - untimed
        tr.end_pass(cold=n_pass == 0)
        if n_pass == 0:
            out.cold_pass_s = pass_s
        else:
            out.warm_pass_s.append(pass_s)
        n_pass += 1
        elapsed = time.perf_counter() - t_start
        if not middle_done and elapsed >= ctx.seconds / 2:
            canary(spark, out)
            middle_done = True
        if elapsed >= ctx.seconds and n_pass > MIN_WARM_PASSES:
            break
    out.op_ms = [out.warm_stat(v) for v in warm_ms.values() if v]
    out.end_window(spark)
    out.layers["queries.prep_frames"] = len(catalog._PREP_CACHE)
    canary(spark, out)
    check_catalog(ctx, names, last_df, errors, out)
    return out


def check_catalog(ctx, names, last_df, errors, out: Outcome) -> None:
    """Each query's last-pass frame against its DuckDB oracle on the
    same fixture, with the repository's oracle-gate comparison; a query
    without an oracle must return rows."""
    from gcpdatapipelines_spark import queries as catalog
    from tools.check_oracle import compare, duck_con

    con = duck_con(envpin.FIXTURE)
    injected = False
    for name in names:
        if name in errors:
            continue
        try:
            got = last_df[name].toPandas()
            if ctx.inject_wrong and not injected and len(got):
                got = got.iloc[:-1]  # self-test: one result loses a row
                injected = True
            if name in catalog.ORACLE_SQL:
                problems = compare(got, con.sql(catalog.ORACLE_SQL[name]).df())
            else:
                problems = [] if len(got) else ["no rows (rows-only query)"]
        except Exception as exc:
            problems = [f"check raised {type(exc).__name__}: {exc}"]
        if problems:
            out.fail(f"{name}: " + "; ".join(problems)[:300])
    con.close()


# -- ingest_serve ------------------------------------------------------------

N_BATCHES = 8
BATCH_LINES = 100_000
PROBES_PER_BATCH = 5_000
MIN_LOOKUPS = 40


def prepare_ingest(seed: int) -> list[ingestgen.Batch]:
    """Generate the seed's CSV batches (before set-up, untimed)."""
    base = os.path.join(envpin.WORK, "ingest")
    shutil.rmtree(base, ignore_errors=True)
    return [
        ingestgen.make_batch(seed, i, BATCH_LINES, PROBES_PER_BATCH, os.path.join(base, "in"))
        for i in range(N_BATCHES)
    ]


def run_ingest(ctx, batches: list[ingestgen.Batch]) -> Outcome:
    """A fixed number of distinct batches. Each batch is loaded (CSV read
    with rejects, then a raw plus per-neighbourhood fan-out write); the
    batch's share of the time window is then spent on point lookups
    against the aggregate just written."""
    from pyspark.sql import functions as F

    from gcpdatapipelines_spark import io, serving

    spark, tr = ctx.spark, ctx.tracer
    base = os.path.join(envpin.WORK, "ingest")
    out = Outcome()
    rejects = []
    answers = []  # (batch index, probe, answer)
    canary(spark, out)
    t_start = time.perf_counter()
    for i, batch in enumerate(batches):
        raw_path = os.path.join(base, "raw", f"b{i}")
        agg_path = os.path.join(base, "agg", f"b{i}")
        out.attempted += 1
        tr.begin_pass()
        t0 = time.perf_counter()
        try:
            with tr.step("exec.s", "exec."):
                good, bad = io.read_csv_with_rejects(spark, batch.path, ingestgen.SCHEMA)
                agg = good.groupBy(ingestgen.KEY).agg(F.count(F.lit(1)).alias("listings"))
                io.write_fanout(good, raw_path, agg, agg_path)
        except Exception as exc:
            out.fail(f"batch {i}: {type(exc).__name__}: {exc}"[:300])
            tr.end_pass(cold=i == 0)
            continue
        load_s = time.perf_counter() - t0
        if i == 0:
            out.cold_pass_s = load_s
        else:
            out.warm_pass_s.append(load_s)
        rejects.append((i, bad))
        served = spark.read.parquet(agg_path)
        lookup_ms = []
        deadline = t_start + (i + 1) * ctx.seconds / len(batches)
        for j, probe in enumerate(batch.probes):
            if j >= MIN_LOOKUPS and time.perf_counter() >= deadline:
                break
            out.attempted += 1
            t1 = time.perf_counter()
            try:
                with tr.step("serving.lookup_s", "serving.point_query_"):
                    ans = serving.point_query(served, ingestgen.KEY, probe, ingestgen.DEFAULTS)
            except Exception as exc:
                out.fail(f"lookup {probe!r}: {type(exc).__name__}: {exc}"[:300])
                continue
            lookup_ms.append((time.perf_counter() - t1) * 1e3)
            answers.append((i, probe, ans))
        if i:
            out.batch_op_ms.append(lookup_ms)
        tr.end_pass(cold=i == 0)
        if i == len(batches) // 2:
            canary(spark, out)
    out.end_window(spark)
    canary(spark, out)
    check_ingest(ctx, batches, rejects, answers, out)
    raw_files, raw_bytes = written_files(os.path.join(base, "raw"))
    agg_files, agg_bytes = written_files(os.path.join(base, "agg"))
    out.layers |= {
        "io.files_written": (raw_files + agg_files) / len(batches),
        "io.bytes_written": (raw_bytes + agg_bytes) / len(batches),
        "io.rejects": sum(b.rejects for b in batches) / len(batches),
    }
    return out


def written_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a write's output directory."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def check_ingest(ctx, batches, rejects, answers, out: Outcome) -> None:
    """Reject counts, written aggregates and every lookup answer against
    the values the generator computed."""
    spark = ctx.spark
    base = os.path.join(envpin.WORK, "ingest")
    if ctx.inject_wrong and answers:
        i, probe, ans = answers[0]
        answers[0] = (i, probe, {**ans, "listings": ans.get("listings", 0) + 1})
    for i, bad in rejects:
        batch = batches[i]
        n_bad = bad.count()
        if n_bad != batch.rejects:
            out.fail(f"batch {i}: {n_bad} rejects, expected {batch.rejects}")
        agg = {
            r[ingestgen.KEY]: r["listings"]
            for r in spark.read.parquet(os.path.join(base, "agg", f"b{i}")).collect()
        }
        if agg != batch.counts:
            out.fail(f"batch {i}: aggregate differs from the generator's counts")
        n_raw = spark.read.parquet(os.path.join(base, "raw", f"b{i}")).count()
        if n_raw != batch.lines - batch.rejects:
            out.fail(f"batch {i}: {n_raw} raw rows, expected {batch.lines - batch.rejects}")
    wrong = [(i, p, a) for i, p, a in answers if a != batches[i].answer(p)]
    for i, probe, ans in wrong[:5]:
        out.problems.append(f"lookup {probe!r} in batch {i}: got {ans}")
    out.failed += len(wrong)


def summarize(out: Outcome) -> dict[str, float]:
    """The end-to-end metrics every workload reports.

    Warm figures are the best of several: the host's other tenants take
    CPU in bursts that only ever add time, and on the py4j-bound paths
    (catalog builds, one-job lookups) a burst can double a step. The
    best warm pass, the best run of each query, and the lookup
    percentiles of the best warm batch are the ones a burst touched
    least. Ingest loads keep their median, since a load can also run
    fast by chance.

    A figure with no samples, as when every operation failed, reads 0,
    so that such a run still reports ``correct: false``."""
    batches = [b for b in out.batch_op_ms if b]
    if batches:
        p50, p90 = min((_percentile(b, 50), _percentile(b, 90)) for b in batches)
    else:
        p50, p90 = _percentile(out.op_ms, 50), _percentile(out.op_ms, 90)
    return {
        "cold_pass_s": out.cold_pass_s,
        "warm_pass_s": out.warm_stat(out.warm_pass_s) if out.warm_pass_s else 0.0,
        "op_p50_ms": p50,
        "op_p90_ms": p90,
        "live_heap_mb": out.live_heap_mb,
    }


def _percentile(values: list[float], pct: int) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]
