"""Run environment the benchmark pins before the JVM starts.

Every knob the engine reads from the environment is set here, from the
host, so the parent and the child commit run under the same settings
whatever the caller's shell holds. Everything the run writes lands in
``.bench_work/`` under the checkout root.
"""

from __future__ import annotations

import hashlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
FIXTURE = os.path.join(ROOT, "enginebench", "fixture", "sf0.1")


def driver_heap_mb() -> int:
    """A quarter of physical memory, capped at 4 GiB: local[N] runs every
    task inside the driver JVM, and the engine's 48g default does not fit
    a small host."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return min(4096, total_kb // 1024 // 4)


def pin() -> None:
    """Set the engine's environment and make the checkout importable.

    PYTHONPATH must hold the checkout root: Spark's Python workers are
    separate processes that unpickle engine functions by module path."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_heap_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = ROOT
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("OMP_NUM_THREADS", None)
    sys.path.insert(0, ROOT)


def extra_conf() -> dict[str, str]:
    """Session confs the benchmark adds on top of the engine's own."""
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def check_fixture() -> None:
    """Refuse a fixture whose files differ from the checksums listed
    beside it (the seed=42 tables the catalog's oracles are defined on)."""
    sums = FIXTURE + ".sha256"
    with open(sums) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(FIXTURE, name), "rb") as data:
                if hashlib.sha256(data.read()).hexdigest() != digest:
                    raise SystemExit(f"fixture file {name} does not match {sums}")


def check_engine_from_checkout() -> None:
    """Refuse to measure an engine imported from anywhere but this checkout."""
    import gcpdatapipelines_spark

    here = os.path.realpath(os.path.dirname(gcpdatapipelines_spark.__file__))
    if not here.startswith(os.path.realpath(ROOT) + os.sep):
        raise SystemExit(f"engine imported from {here}, not from {ROOT}")
