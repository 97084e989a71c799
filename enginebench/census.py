"""Per-query layer census of the whole catalog, the evidence behind the
frozen query set in ``query_sets.json``.

One session, prewarmed, then two passes over every catalog query in
name order. Each query is timed in three steps: build (calling the
query function), Catalyst (forcing ``executedPlan()`` on the built
frame) and exec (a noop write). The second pass is the warm pass the
classes are derived from:

- catalog_build: warm build time > warm exec time;
- catalog_exec:  warm exec time >= 2.5 x warm build time.

It also records which session-scoped shared preps (the engine's
``_PREP_CACHE``) each query reads, and ``select`` freezes the
catalog_build workload's subset of the build class.

Usage (from the checkout root):

    python3 enginebench/census.py > enginebench/census_sf0.1.json
    python3 enginebench/census.py --freeze enginebench/census_sf0.1.json
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import envpin  # noqa: E402

SETS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_sets.json")
PASS_BUDGET_S = 3.0


STEPS = ("build_s", "catalyst_s", "exec_s")


def _total(row: dict) -> float:
    return sum(row[k] for k in STEPS)


def classes(warm: dict) -> tuple[list[str], list[str]]:
    """The census classes of the queries that ran: (build > exec,
    exec >= 2.5 x build), by warm times, in name order."""
    ok = [n for n in sorted(warm) if "error" not in warm[n]]
    return (
        [n for n in ok if warm[n]["build_s"] > warm[n]["exec_s"]],
        [n for n in ok if warm[n]["exec_s"] >= 2.5 * warm[n]["build_s"]],
    )


def _greedy(warm: dict, ranked: list[str]) -> list[str]:
    """Take queries in rank order while the subset's warm time stays
    within PASS_BUDGET_S; a query over a third of the budget is skipped
    so that no single query is most of a pass."""
    chosen, used = [], 0.0
    for name in ranked:
        t = _total(warm[name])
        if t <= PASS_BUDGET_S / 3 and used + t <= PASS_BUDGET_S:
            chosen.append(name)
            used += t
    return sorted(chosen)


# The one shared prep the benchmark's set-up fills (see workloads.PREPS),
# and the cheapest catalog query that runs Python workers (mapInPandas).
# No build-class query starts a Python worker, so that one is added to
# the set from outside the class to keep the exec.python_* metrics live.
SET_UP_PREP = "copurchase"
PYTHON_QUERY = "mm_decode_features"


def select(data: dict) -> dict:
    """The frozen catalog_build set: the census build class ranked by
    build share of warm time, cut to one pass budget. The budget holds,
    in this order:

    - PYTHON_QUERY;
    - the top-ranked class query that reads SET_UP_PREP and no other
      prep (set-up fills that prep, outside the passes);
    - class queries that read no shared prep, greedily.
    """
    warm = data["warm"]
    build_cls, _ = classes(warm)
    ranked = sorted(build_cls, key=lambda n: -warm[n]["build_s"] / _total(warm[n]))
    prep_reader = next(
        n
        for n in ranked
        if warm[n]["preps"] == [SET_UP_PREP] and _total(warm[n]) <= PASS_BUDGET_S / 3
    )
    first = [PYTHON_QUERY, prep_reader]
    rest = [n for n in ranked if not warm[n]["preps"]]
    return {"catalog_build": _greedy(warm, first + rest)}


class PrepReads(dict):
    """The engine's shared-prep cache, recording which preps are read."""

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.seen: set[str] = set()

    def get(self, key, default=None):
        self.seen.add(":".join(str(k) for k in key[2:]))
        return super().get(key, default)


def census() -> dict:
    envpin.pin()
    from gcpdatapipelines_spark import queries as catalog
    from gcpdatapipelines_spark.session import get_spark

    envpin.check_engine_from_checkout()
    spark = get_spark("enginebench-census", extra_conf=envpin.extra_conf())
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sf = envpin.FIXTURE
    reads = PrepReads(catalog._PREP_CACHE)
    catalog._PREP_CACHE = reads
    spark.range(1_000_000).selectExpr("sum(id)").write.mode("overwrite").format("noop").save()
    t0 = time.perf_counter()
    catalog.prewarm(spark, sf)
    prewarm_s = time.perf_counter() - t0

    names = sorted(catalog.SPARK_QUERIES)
    passes = []
    for p in range(2):
        rows = {}
        for name in names:
            fn = catalog.SPARK_QUERIES[name]
            group = f"census-{p}-{name}"
            sc.setJobGroup(group, group)
            reads.seen.clear()
            try:
                t0 = time.perf_counter()
                df = fn(spark, sf)
                t1 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                build_jobs = len(tracker.getJobIdsForGroup(group))
                df.write.mode("overwrite").format("noop").save()
                t3 = time.perf_counter()
                rows[name] = {
                    "build_s": round(t1 - t0, 4),
                    "catalyst_s": round(t2 - t1, 4),
                    "exec_s": round(t3 - t2, 4),
                    "build_jobs": build_jobs,
                    "preps": sorted(reads.seen),
                }
            except Exception as exc:  # one broken query must not end the census
                rows[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            print(p, name, rows[name], file=sys.stderr, flush=True)
        passes.append(rows)
    cold, warm = passes
    ok = [n for n in names if "error" not in warm[n]]
    build_set, exec_set = classes(warm)

    def totals(rows, subset):
        return {k: round(sum(rows[n][k] for n in subset), 2) for k in STEPS}

    summary = {
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "prewarm_s": round(prewarm_s, 2),
        "warm_totals": totals(warm, ok),
        "cold_totals": totals(cold, [n for n in ok if "error" not in cold[n]]),
        "catalog_build": totals(warm, build_set),
        "catalog_exec": totals(warm, exec_set),
        "catalog_build_n": len(build_set),
        "catalog_exec_n": len(exec_set),
        "catalog_build_build_jobs": sum(warm[n]["build_jobs"] for n in build_set),
        "errors": sorted(n for n in names if n not in ok),
    }
    spark.stop()
    return {"summary": summary, "cold": cold, "warm": warm}


def main() -> None:
    if sys.argv[1:2] == ["--freeze"]:
        with open(sys.argv[2]) as fh:
            data = json.load(fh)
        with open(SETS_FILE, "w") as fh:
            json.dump(select(data), fh, indent=1)
            fh.write("\n")
    else:
        print(json.dumps(census(), indent=1))


if __name__ == "__main__":
    main()
