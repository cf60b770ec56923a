"""Served-path benchmark for BigHouse-Spark.

Starts the server (``serve.py``: the HTTP server and the native-TCP
server on one engine) as its own process, drives one workload against
it from this process, checks every response against a DuckDB
reference, and prints the metrics.

    python3 perfbench/run.py --workload interactive --seed 1 \
        --seconds 10 --trace 0

Run it from the repository root. Inputs are generated from ``--seed``
under ``.bench_build/perfbench``. With ``--trace 0`` the last line
carries the end-to-end metrics; with ``--trace 1`` the server is
started with span recorders and the last line carries the per-layer
metrics. The line before it is a full report: every metric, the
correctness verdict with any mismatching queries, latency percentile
and sample counts, and host noise (CPU steal and load average).
"""

from __future__ import annotations

import argparse
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import drive  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=drive.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # On SIGTERM, unwind through the cleanup that stops the server.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isfile(os.path.join("bighouse_spark", "server.py")):
        print("perfbench: run from the repository root: bighouse_spark/ "
              "not found", file=sys.stderr)
        return 2
    return drive.run(args)


if __name__ == "__main__":
    sys.exit(main())
