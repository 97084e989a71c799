"""Self-test of the benchmark's output checks: each workload is run once
with ``--inject-wrong``, which corrupts one checked answer (a catalog
result loses a row; a lookup answer gains a listing). The run must
report ``correct: false`` with at least one failure.

    python3 enginebench/selftest.py [--seconds N]

Exits 0 when every workload reported its injected answer, 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("catalog_build", "ingest_serve")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", default="2")
    args = ap.parse_args()
    ok = True
    for workload in WORKLOADS:
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
            "--seed", "7", "--seconds", args.seconds, "--trace", "0", "--inject-wrong",
        ]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        caught = bool(result) and result["correct"] is False and result["failed"] >= 1
        reported = [ln for ln in proc.stderr.splitlines() if ln.startswith("enginebench: ")]
        print(f"{workload}: {'reported' if caught else 'MISSED'} {result} {reported[:1]}")
        ok &= caught
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
