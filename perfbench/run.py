"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last line of standard output is the
JSON result: {"correct", "attempted", "failed", "metrics"}; ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json and ``--trace 1`` the
per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import sys

import harness
import pit_materialize
import registry_suite

WORKLOADS = {
    "pit_materialize": pit_materialize.Workload,
    "registry_suite": registry_suite.Workload,
}

if __name__ == "__main__":
    sys.exit(harness.main(WORKLOADS))
